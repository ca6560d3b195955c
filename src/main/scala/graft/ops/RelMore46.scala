package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-6 batch G: modularity scoring, the dedup pipeline funnel, and
  * hash-width sizing. */
object RelMore46 extends KeyModule {

  /** graph-modularity — Newman modularity Q = Σ_c (m_c/m − (d_c/2m)²)
    * for two candidate partitions of the co-purchase part graph
    * (graph-cc-hashmin's edge construction, self-loops excluded):
    * the 4-round hashmin labels (real structure) vs node%8 (the null
    * slicing). Q > 0 means denser-than-chance intra-community edges;
    * the spec asserts the real partition beats the baseline — the
    * acceptance test community detection must pass before its labels
    * drive downstream grouping at scale. All in integer ppm: intra
    * count and the degree-square sum are exact BIGINTs (Σd_c² ≤ 4m²,
    * ×10⁶ fits comfortably; at extreme m stage the division as
    * d_c² div 4m first). Shapes: one edge scan per partition for the
    * intra count (labels broadcast-joined onto both endpoints), one
    * |V|-sized degree aggregate. */
  val graphModularity: Q = (s, d) => withShufflePartitions(s, 8) {
    // r14 opt: base lines + co-purchase pairs from the per-process
    // fixtures (GraphOps.li29Stored / pairs29Stored) instead of a
    // per-rep scan + basket self-join + two distincts
    val li = GraphOps.li29Stored(s, d)
    val pairs = GraphOps.pairs29Stored(s, d).sharedCache()
    val nodes = li.select(col("pk").as("node")).distinct()
    val edgesCc = pairs.select(col("u").as("src"), col("v").as("dst"))
      .union(pairs.select(col("v").as("src"), col("u").as("dst")))
      .union(nodes.select(col("node").as("src"), col("node").as("dst")))
    // IterativeFixpoint.lazyChain: fixed shallow depth (4), step reads
    // its state exactly once — per-round actions would add job overhead
    // for nothing; the single checkpoint after the chain materializes it.
    val labels = graft.functions.IterativeFixpoint.lazyChain(
      nodes.select(col("node"), col("node").as("lbl")), 4) { (lb, _) =>
      edgesCc
        .join(lb.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(min("lbl").as("lbl"))
    }.localCheckpoint()
    val deg = pairs.select(col("u").as("node"))
      .unionAll(pairs.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    def score(name: String, comm: DataFrame): DataFrame = {
      val cu = comm.select(col("node").as("u"), col("c").as("cu"))
      val cv = comm.select(col("node").as("v"), col("c").as("cv"))
      val intra = pairs.join(cu, Seq("u")).join(cv, Seq("v"))
        .agg(count(lit(1)).as("m"),
          sum(when(col("cu") === col("cv"), 1L).otherwise(0L)).as("intra"))
      // left join: isolated nodes (degree 0 — no co-purchase pair) still
      // belong to a community; they add 0 to Σd_c² but count in the
      // partition's community tally, matching count(DISTINCT c)
      val dsq = comm.join(deg, Seq("node"), "left_outer")
        .groupBy("c").agg(sum(coalesce(col("deg"), lit(0L))).as("dc"))
        .agg(count(lit(1)).as("n_communities"), sum(col("dc") * col("dc")).as("sdsq"))
      intra.crossJoin(dsq)
        .select(lit(name).as("partition"), col("n_communities"),
          expr("(intra * 1000000) div m").as("intra_ppm"),
          expr("(sdsq * 1000000) div (4 * m * m)").as("expected_ppm"),
          expr("(intra * 1000000) div m - (sdsq * 1000000) div (4 * m * m)").as("modularity_ppm"))
    }
    val out = score("hashmin4", labels.select(col("node"), col("lbl").as("c")))
      .unionAll(score("mod8", nodes.select(col("node"), (col("node") % 8).as("c"))))
      .sharedCache()
    out.count() // materialize the scoring joins inside the partition scope
    out.orderBy("partition")
  }

  val graphModularitySql: String = {
    val iters = (1 to 4).map { i =>
      s"""l$i AS (
         |  SELECT e.dst AS node, min(p.lbl) AS lbl
         |  FROM edges e JOIN l${i - 1} p ON p.node = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    def score(name: String, comm: String): String =
      s"""SELECT '$name' AS partition,
         |       (SELECT CAST(count(DISTINCT c) AS BIGINT) FROM $comm) AS n_communities,
         |       (st.intra * 1000000) // st.m AS intra_ppm,
         |       (dq.sdsq * 1000000) // (4 * st.m * st.m) AS expected_ppm,
         |       (st.intra * 1000000) // st.m
         |         - (dq.sdsq * 1000000) // (4 * st.m * st.m) AS modularity_ppm
         |FROM (SELECT CAST(count(*) AS BIGINT) AS m,
         |             CAST(sum(CASE WHEN a.c = b.c THEN 1 ELSE 0 END) AS BIGINT) AS intra
         |      FROM pairs p JOIN $comm a ON a.node = p.u JOIN $comm b ON b.node = p.v) st,
         |     (SELECT CAST(sum(dc * dc) AS BIGINT) AS sdsq FROM (
         |        SELECT cm.c, CAST(sum(g.deg) AS BIGINT) AS dc
         |        FROM deg g JOIN $comm cm ON cm.node = g.node GROUP BY cm.c)) dq""".stripMargin
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem WHERE l_orderkey % 29 = 0),
       |pairs AS (SELECT DISTINCT a.pk AS u, b.pk AS v
       |          FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |nodes AS (SELECT DISTINCT pk AS node FROM li),
       |edges AS (SELECT u AS src, v AS dst FROM pairs
       |          UNION SELECT v, u FROM pairs
       |          UNION SELECT node, node FROM nodes),
       |l0 AS (SELECT node, node AS lbl FROM nodes),
       |$iters,
       |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |          SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
       |        GROUP BY node),
       |chash AS (SELECT node, lbl AS c FROM l4),
       |cmod AS (SELECT node, node % 8 AS c FROM nodes)
       |SELECT * FROM (
       |${score("hashmin4", "chash")}
       |UNION ALL
       |${score("mod8", "cmod")}
       |) ORDER BY partition""".stripMargin
  }

  /** dedup-pipeline-funnel — the staged dedup pipeline as ONE audited
    * funnel, cheap stages first (the only order that scales: each
    * stage shrinks the next stage's input): length floor → exact
    * (md5 keep-min) → near-dup (MinHash-LSH candidates, signature
    * estimate ≥ 0.5, greedy keep-lower-id). Per stage: docs in,
    * removed, surviving — the attrition report every corpus release
    * publishes, and the pipeline-composition proof that the dedup
    * kernels (TextDedup) chain correctly: stage N's candidate
    * generation runs ONLY over stage N−1 survivors, so the expensive
    * shingle scan never touches docs a cheap filter already dropped.
    * Greedy near-dup removal (drop the higher id of a confident pair)
    * is the standard one-pass approximation of full clustering —
    * dedup-cluster is the exact companion. */
  val dedupPipelineFunnel: Q = (s, d) => {
    val Seeds = 12
    val docs = documents(s, d)
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      .sharedCache()
    val n0 = docs.agg(count(lit(1)).as("n")).select(col("n"))
    val s1 = docs.filter(col("n_tok") >= 5).sharedCache()
    val s2 = s1.withColumn("h", md5(col("text")))
      .withColumn("keeper", min("doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("text")).sharedCache()
    val shingles = s2
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(expr("transform(sequence(0, size(w) - 3), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))")).as("sh"))
    val hashed = shingles.select(col("doc_id"),
      concat(md5(col("sh")), md5(concat(lit("#"), col("sh")))).as("h"))
    // shared LONG-slot signature builder (r11, see TextDedup.minhashSigFrom):
    // same slot selection/equality, HashAggregate instead of SortAggregate
    val sig = TextDedup.minhashSigFrom(hashed).sharedCache()
    val stackArgs = (0 until Seeds / 3).map { b =>
      s"$b, md5(concat_ws(',', m${3 * b + 1}, m${3 * b + 2}, m${3 * b + 3}))"
    }.mkString(", ")
    val bands = sig.selectExpr("doc_id", s"stack(${Seeds / 3}, $stackArgs) AS (band, bk)")
    val matchExpr = (1 to Seeds).map(j => s"IF(a.m$j = b.m$j, 1, 0)").mkString(" + ")
    val removals = bands.select(col("doc_id").as("doc_a"), col("band"), col("bk"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("bk")), Seq("band", "bk"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .filter(expr(matchExpr) >= Seeds / 2)
      .select(col("doc_b").as("doc_id")).distinct()
    val n1 = s1.agg(count(lit(1)).as("n")).select(col("n"))
    val n2 = s2.agg(count(lit(1)).as("n")).select(col("n"))
    val nRem = removals.agg(count(lit(1)).as("n")).select(col("n"))
    def row(no: Long, name: String, in: DataFrame, out: DataFrame): DataFrame =
      in.crossJoin(out.withColumnRenamed("n", "m"))
        .select(lit(no).as("stage_no"), lit(name).as("stage"),
          col("n").as("docs_in"), (col("n") - col("m")).as("docs_removed"),
          col("m").as("docs_out"))
    val n3 = n2.crossJoin(nRem.withColumnRenamed("n", "r"))
      .select((col("n") - col("r")).as("n"))
    row(1L, "length_floor", n0, n1)
      .unionAll(row(2L, "exact_md5", n1, n2))
      .unionAll(row(3L, "near_dup_minhash", n2, n3))
      .orderBy("stage_no")
  }

  val dedupPipelineFunnelSql: String = {
    val mins = (1 to 12)
      .map(j => s"min(substring(h, ${(j - 1) * 5 + 1}, 5)) AS m$j").mkString(",\n         ")
    val bandSel = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band, md5(m${3 * b + 1} || ',' || m${3 * b + 2} || ',' || m${3 * b + 3}) AS bk FROM sig"
    }.mkString("\n  UNION ALL ")
    val matches = (1 to 12)
      .map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH docs AS (
       |  SELECT doc_id, text, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |s1 AS (SELECT doc_id, text FROM docs WHERE n_tok >= 5),
       |s2 AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |           min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
       |    FROM s1) WHERE doc_id = keeper),
       |words AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM s2
       |  WHERE len(string_split(text, ' ')) >= 3),
       |shingles AS (
       |  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
       |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) t),
       |hashed AS (SELECT doc_id, md5(sh) || md5('#' || sh) AS h FROM shingles),
       |sig AS (SELECT doc_id, $mins FROM hashed GROUP BY doc_id),
       |bands AS (
       |  $bandSel),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
       |removals AS (
       |  SELECT DISTINCT c.doc_b AS doc_id
       |  FROM cand c JOIN sig a ON a.doc_id = c.doc_a JOIN sig b ON b.doc_id = c.doc_b
       |  WHERE ($matches) >= 6),
       |n0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
       |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s1),
       |n2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s2),
       |nr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM removals)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS stage_no, 'length_floor' AS stage,
       |         n0.n AS docs_in, n0.n - n1.n AS docs_removed, n1.n AS docs_out
       |  FROM n0, n1
       |  UNION ALL
       |  SELECT 2, 'exact_md5', n1.n, n1.n - n2.n, n2.n FROM n1, n2
       |  UNION ALL
       |  SELECT 3, 'near_dup_minhash', n2.n, nr.n, n2.n - nr.n FROM n2, nr
       |) ORDER BY stage_no""".stripMargin
  }

  /** dq-hash-width — how short can a content-hash id be? For md5-prefix
    * widths of 4..8 hex chars over the order keys: the id space, the
    * distinct ids actually minted, the keys involved in a collision,
    * and observed vs birthday-expected colliding PAIRS (n(n−1)/2 div
    * 16ʷ). The sizing table consulted before shipping short ids in a
    * URL or a shard name — at 10⁹ keys even 12 hex chars collide, and
    * this measures the curve instead of trusting the formula. ONE scan:
    * a 5-row stack per key feeds one (width, prefix) groupBy; all
    * counts and the expectation are exact BIGINTs. */
  val dqHashWidth: Q = (s, d) => {
    val widths = 4 to 8
    val stackArgs = widths.map(w => s"$w, substring(h, 1, $w)").mkString(", ")
    val pre = orders(s, d).select(md5(col("o_orderkey").cast(StringType)).as("h"))
      .selectExpr(s"stack(${widths.size}, $stackArgs) AS (width, pre)")
    pre.groupBy("width", "pre").agg(count(lit(1)).as("c"))
      .groupBy("width")
      .agg(sum("c").as("n_keys"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_collided_keys"),
        sum(expr("c * (c - 1) div 2")).as("observed_pairs"))
      .select(col("width").cast(LongType).as("width"),
        expr("CAST(power(16, width) AS BIGINT)").as("space"),
        col("n_keys"), col("n_distinct"), col("n_collided_keys"),
        col("observed_pairs"),
        expr("(n_keys * (n_keys - 1) div 2) div CAST(power(16, width) AS BIGINT)").as("expected_pairs"))
      .orderBy("width")
  }

  val dqHashWidthSql: String = {
    val widths = 4 to 8
    val stackSel = widths.map(w =>
      s"SELECT $w AS width, substring(h, 1, $w) AS pre FROM hashes").mkString("\n  UNION ALL ")
    s"""WITH hashes AS (
       |  SELECT md5(CAST(o_orderkey AS VARCHAR)) AS h FROM orders),
       |pre AS (
       |  $stackSel),
       |grouped AS (
       |  SELECT width, pre, CAST(count(*) AS BIGINT) AS c
       |  FROM pre GROUP BY 1, 2)
       |SELECT CAST(width AS BIGINT) AS width,
       |       CAST(power(16, width) AS BIGINT) AS space,
       |       CAST(sum(c) AS BIGINT) AS n_keys,
       |       CAST(count(*) AS BIGINT) AS n_distinct,
       |       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_collided_keys,
       |       CAST(sum(c * (c - 1) // 2) AS BIGINT) AS observed_pairs,
       |       (CAST(sum(c) AS BIGINT) * (CAST(sum(c) AS BIGINT) - 1) // 2)
       |         // CAST(power(16, width) AS BIGINT) AS expected_pairs
       |FROM grouped GROUP BY width ORDER BY width""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("graph-modularity", graphModularity, graphModularitySql),
    Key("dedup-pipeline-funnel", dedupPipelineFunnel, dedupPipelineFunnelSql),
    Key("dq-hash-width", dqHashWidth, dqHashWidthSql))
}
