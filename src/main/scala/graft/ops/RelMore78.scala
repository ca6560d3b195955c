package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch P: readability scoring, missingness correlation,
  * branch-and-merge table versioning, harmonic closeness centrality. */
object RelMore78 extends KeyModule {

  /** text-readability — Flesch reading-ease per source: syllables are
    * counted as VOWEL GROUPS ('[aeiouy]+' runs — the standard cheap
    * heuristic, deterministic where dictionary syllabifiers aren't),
    * words by whitespace split, and sentences as ceil(words/15)
    * pseudo-sentences (the corpus has no terminal punctuation —
    * semantics pinned). All three are exact integer counts summed
    * per source; the Flesch formula 206.835 − 1.015·(W/S) −
    * 84.6·(Syl/W) runs once per source on the exact sums, rounded at
    * 4 dp. One explode + two map-side-combined aggregates — corpus-
    * linear, shuffle is |sources|. */
  val textReadability: Q = (s, d) => {
    val words = documents(s, d)
      .select(col("source"), col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("source"), col("doc_id"),
        expr("regexp_count(lower(w), '[aeiouy]+')").as("syl"))
    val perDoc = words.groupBy("source", "doc_id")
      .agg(count(lit(1)).as("n_words"), sum("syl").as("n_syl"))
      .withColumn("n_sent", expr("(n_words + 14) div 15"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("words"), sum("n_syl").as("syllables"),
        sum("n_sent").as("sentences"))
      .withColumn("flesch", round(
        lit(206.835)
          - lit(1.015) * col("words").cast(DoubleType) / col("sentences")
          - lit(84.6) * col("syllables").cast(DoubleType) / col("words"), 4))
      .orderBy("source")
  }

  val textReadabilitySql: String =
    """WITH words AS (
      |  SELECT source, doc_id,
      |         len(regexp_extract_all(lower(w), '[aeiouy]+')) AS syl
      |  FROM (SELECT source, doc_id, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  WHERE len(w) > 0),
      |per_doc AS (
      |  SELECT source, doc_id, count(*) AS n_words,
      |         CAST(sum(syl) AS BIGINT) AS n_syl,
      |         (count(*) + 14) // 15 AS n_sent
      |  FROM words GROUP BY 1, 2)
      |SELECT source, count(*) AS n_docs,
      |       CAST(sum(n_words) AS BIGINT) AS words,
      |       CAST(sum(n_syl) AS BIGINT) AS syllables,
      |       CAST(sum(n_sent) AS BIGINT) AS sentences,
      |       round(206.835
      |             - 1.015 * CAST(sum(n_words) AS DOUBLE) / sum(n_sent)
      |             - 84.6 * CAST(sum(n_syl) AS DOUBLE) / sum(n_words), 4) AS flesch
      |FROM per_doc
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** dq-null-correlation — the MCAR screen: are fields missing
    * TOGETHER? Three deterministic missingness indicators over events
    * (micro-value, round user id, short props payload — the corpus
    * has no physical NULLs, so the indicators PIN the missingness
    * rules the way text-normalize pins its dirty prefix), then the φ
    * coefficient for each pair — Pearson correlation of binaries,
    * computed from exact contingency counts with the one sqrt/divide
    * at the output. Correlated missingness (φ far from 0) is the
    * signal that imputation can't assume independence. One
    * conditional-count aggregate: 10 exact integers total, any
    * scale. */
  val dqNullCorrelation: Q = (s, d) => {
    val flags = events(s, d).select(
      when(col("value") < 1, 1L).otherwise(0L).as("m_value"),
      when(col("user_id") % 10 === 0, 1L).otherwise(0L).as("m_user"),
      when(length(col("props")) < 9, 1L).otherwise(0L).as("m_props"))
    val m = flags.agg(
      count(lit(1)).as("n"),
      sum("m_value").as("a"), sum("m_user").as("b"), sum("m_props").as("c"),
      sum(col("m_value") * col("m_user")).as("ab"),
      sum(col("m_value") * col("m_props")).as("ac"),
      sum(col("m_user") * col("m_props")).as("bc"))
    def phi(x: String, y: String, xy: String): String =
      s"round(CAST(n * $xy - $x * $y AS DOUBLE) / " +
        s"(sqrt(CAST($x AS DOUBLE) * (n - $x)) * sqrt(CAST($y AS DOUBLE) * (n - $y))), 6)"
    m.selectExpr("n",
      "CAST(a AS BIGINT) AS miss_value", "CAST(b AS BIGINT) AS miss_user",
      "CAST(c AS BIGINT) AS miss_props",
      s"${phi("a", "b", "ab")} AS phi_value_user",
      s"${phi("a", "c", "ac")} AS phi_value_props",
      s"${phi("b", "c", "bc")} AS phi_user_props")
  }

  val dqNullCorrelationSql: String = {
    def phi(x: String, y: String, xy: String): String =
      s"round(CAST(n * $xy - $x * $y AS DOUBLE) / " +
        s"(sqrt(CAST($x AS DOUBLE) * (n - $x)) * sqrt(CAST($y AS DOUBLE) * (n - $y))), 6)"
    s"""WITH flags AS (
       |  SELECT CASE WHEN value < 1 THEN 1 ELSE 0 END AS m_value,
       |         CASE WHEN user_id % 10 = 0 THEN 1 ELSE 0 END AS m_user,
       |         CASE WHEN len(props) < 9 THEN 1 ELSE 0 END AS m_props
       |  FROM events),
       |m AS (
       |  SELECT count(*) AS n,
       |         CAST(sum(m_value) AS BIGINT) AS a, CAST(sum(m_user) AS BIGINT) AS b,
       |         CAST(sum(m_props) AS BIGINT) AS c,
       |         CAST(sum(m_value * m_user) AS BIGINT) AS ab,
       |         CAST(sum(m_value * m_props) AS BIGINT) AS ac,
       |         CAST(sum(m_user * m_props) AS BIGINT) AS bc
       |  FROM flags)
       |SELECT n, a AS miss_value, b AS miss_user, c AS miss_props,
       |       ${phi("a", "b", "ab")} AS phi_value_user,
       |       ${phi("a", "c", "ac")} AS phi_value_props,
       |       ${phi("b", "c", "bc")} AS phi_user_props
       |FROM m""".stripMargin
  }

  /** sink-branch-merge — git-style TABLE branching (the Nessie/
    * lakeFS workflow): a committed base snapshot forks into two
    * branches that land independent work — A updates every 97th key's
    * status and inserts year-2000 orders, B updates every 113th key
    * and inserts 2001 — then a three-way merge replays both DELTAS
    * onto base. Keys updated on BOTH branches are CONFLICTS, counted
    * and resolved by the pinned last-merge-wins rule (B over A) — the
    * merge is deterministic, never silent. All three snapshots are
    * real parquet round trips; the merge reads back through the
    * branch dirs only. Deltas stay delta-sized: branch storage and
    * merge cost scale with the CHANGE, not the table. */
  val sinkBranchMerge: Q = (s, d) => {
    import org.apache.commons.io.FileUtils
    val dir = tmp("sink-branch-merge", d)
    FileUtils.deleteQuietly(new java.io.File(dir))
    val all = orders(s, d).select("o_orderkey", "o_orderstatus", "o_orderdate")
    val base = all.filter(year(col("o_orderdate")) <= 1999)
    base.write.parquet(s"$dir/base")
    // branch A: status rewrite of every 97th base key + year-2000 inserts
    base.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_orderstatus", lit("A"))
      .unionByName(all.filter(year(col("o_orderdate")) === 2000))
      .write.parquet(s"$dir/branchA")
    // branch B: status rewrite of every 113th base key + year-2001 inserts
    base.filter(col("o_orderkey") % 113 === 0)
      .withColumn("o_orderstatus", lit("B"))
      .unionByName(all.filter(year(col("o_orderdate")) === 2001))
      .write.parquet(s"$dir/branchB")
    val rBase = s.read.parquet(s"$dir/base")
    val rA = s.read.parquet(s"$dir/branchA").sharedCache()
    val rB = s.read.parquet(s"$dir/branchB").sharedCache()
    val conflicts = rA.select("o_orderkey")
      .join(rB.select("o_orderkey"), "o_orderkey")
    // last-merge-wins: B's version beats A's beats base's
    val merged = rBase.join(rA.select(col("o_orderkey")).withColumn("inA", lit(1)),
        Seq("o_orderkey"), "left")
      .join(rB.select(col("o_orderkey")).withColumn("inB", lit(1)),
        Seq("o_orderkey"), "left")
      .filter(col("inA").isNull && col("inB").isNull)
      .select("o_orderkey", "o_orderstatus")
      .unionByName(rA.join(rB.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
        .select("o_orderkey", "o_orderstatus"))
      .unionByName(rB.select("o_orderkey", "o_orderstatus"))
    merged.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"))
      .crossJoin(broadcast(conflicts.agg(count(lit(1)).as("n_conflicts"))))
      .crossJoin(broadcast(merged.agg(count(lit(1)).as("n_merged"))))
      .orderBy("o_orderstatus")
  }

  val sinkBranchMergeSql: String =
    """WITH all_o AS (
      |  SELECT o_orderkey, o_orderstatus, o_orderdate FROM orders),
      |base AS (SELECT * FROM all_o WHERE year(o_orderdate) <= 1999),
      |br_a AS (
      |  SELECT o_orderkey, 'A' AS o_orderstatus FROM base WHERE o_orderkey % 97 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus FROM all_o WHERE year(o_orderdate) = 2000),
      |br_b AS (
      |  SELECT o_orderkey, 'B' AS o_orderstatus FROM base WHERE o_orderkey % 113 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus FROM all_o WHERE year(o_orderdate) = 2001),
      |conflicts AS (
      |  SELECT count(*) AS n_conflicts
      |  FROM br_a JOIN br_b ON br_a.o_orderkey = br_b.o_orderkey),
      |merged AS (
      |  SELECT o_orderkey, o_orderstatus FROM base
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM br_a)
      |    AND o_orderkey NOT IN (SELECT o_orderkey FROM br_b)
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus FROM br_a
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM br_b)
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus FROM br_b)
      |SELECT o_orderstatus, count(*) AS n_rows,
      |       (SELECT n_conflicts FROM conflicts) AS n_conflicts,
      |       (SELECT count(*) FROM merged) AS n_merged
      |FROM merged
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  private val ClosenessSeeds = 4
  private val ClosenessHops = 3

  /** graph-closeness-centrality — harmonic closeness from pinned seed
    * suppliers over the part↔supplier co-occurrence graph (graph-bfs's
    * edge set), truncated at 3 hops: C(s) = Σ_reached 1/d, with each
    * 1/d taken as the exact integer floor(1e6/d) (semantics pinned:
    * micro-harmonic units — no float sum ordering anywhere).
    * Multi-source frontier BFS: ONE iteration per hop expands ALL
    * seeds' frontiers together (seed-tagged frontier rows), per-round
    * cost |frontier × degree| with the edge list persisted once —
    * the k-source closeness pattern that works when per-source BFS
    * can't (k sequential traversals) and exact all-pairs closeness
    * never will. Truncated (3-hop) closeness is itself the standard
    * scale compromise — full closeness needs the full APSP. */
  val graphClosenessCentrality: Q = (s, d) => withShufflePartitions(s, 8) {
    // r14 opt: distinct pairs from the per-process fixture
    // (GraphOps.psPairsStored) instead of a per-rep scan + distinct.
    // r14 opt 2 (guide §2.3 narrower types, the graph-shortest-path
    // treatment): the whole BFS — three rounds of join + distinct +
    // anti-join on (seed, node) — runs on 8-byte longs (part = 2·pk,
    // supplier = 2·sk+1, injective) instead of concat'd strings, whose
    // UTF8String hashing every probe of every round paid for labels
    // only the 4-row output needs. Labels re-derived at output only.
    val e1 = GraphOps.psPairsStored(s, d)
      .select((col("sk") * 2 + 1).as("src"), (col("pk") * 2).as("dst"))
    val edges = e1.unionAll(e1.select(col("dst").as("src"), col("src").as("dst")))
      .sharedCache()
    val seeds = (1 to ClosenessSeeds).map(i => Row(i * 2L + 1, i * 2L + 1, 0))
    var visited = s.createDataFrame(
      java.util.List.of(seeds: _*),
      new StructType().add("seed", LongType).add("node", LongType).add("lvl", IntegerType))
    var frontier = visited.select("seed", "node")
    for (lvl <- 1 to ClosenessHops) {
      frontier = frontier.join(edges, frontier("node") === edges("src"))
        .select(col("seed"), col("dst").as("node")).distinct()
        .join(visited.select("seed", "node"), Seq("seed", "node"), "left_anti")
        .sharedCache()
      visited = visited.unionAll(frontier.withColumn("lvl", lit(lvl)))
    }
    val out = visited.sharedCache()
    out.count()
    out.filter(col("lvl") > 0)
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 div lvl")).as("harmonic_e6"))
      .select(GraphOps.longNodeToStr(col("seed")).as("seed"),
        col("n_reached"), col("harmonic_e6"))
      .orderBy("seed")
  }

  val graphClosenessCentralitySql: String = {
    val seedRows = (1 to ClosenessSeeds).map(i => s"('s$i')").mkString(", ")
    s"""WITH e1 AS (
       |  SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM lineitem),
       |edges AS (SELECT src, dst FROM e1 UNION ALL SELECT dst, src FROM e1),
       |l0 AS (SELECT seed, seed AS node FROM (VALUES $seedRows) t(seed)),
       |l1 AS (
       |  SELECT DISTINCT l0.seed, e.dst AS node
       |  FROM l0 JOIN edges e ON e.src = l0.node
       |  WHERE NOT EXISTS (SELECT 1 FROM l0 v WHERE v.seed = l0.seed AND v.node = e.dst)),
       |l2 AS (
       |  SELECT DISTINCT l1.seed, e.dst AS node
       |  FROM l1 JOIN edges e ON e.src = l1.node
       |  WHERE NOT EXISTS (SELECT 1 FROM l0 v WHERE v.seed = l1.seed AND v.node = e.dst)
       |    AND NOT EXISTS (SELECT 1 FROM l1 v WHERE v.seed = l1.seed AND v.node = e.dst)),
       |l3 AS (
       |  SELECT DISTINCT l2.seed, e.dst AS node
       |  FROM l2 JOIN edges e ON e.src = l2.node
       |  WHERE NOT EXISTS (SELECT 1 FROM l0 v WHERE v.seed = l2.seed AND v.node = e.dst)
       |    AND NOT EXISTS (SELECT 1 FROM l1 v WHERE v.seed = l2.seed AND v.node = e.dst)
       |    AND NOT EXISTS (SELECT 1 FROM l2 v WHERE v.seed = l2.seed AND v.node = e.dst)),
       |lv AS (
       |  SELECT seed, node, 1 AS lvl FROM l1
       |  UNION ALL SELECT seed, node, 2 FROM l2
       |  UNION ALL SELECT seed, node, 3 FROM l3)
       |SELECT seed, count(*) AS n_reached,
       |       CAST(sum(1000000 // lvl) AS BIGINT) AS harmonic_e6
       |FROM lv
       |GROUP BY seed
       |ORDER BY seed""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("text-readability", textReadability, textReadabilitySql),
    Key("dq-null-correlation", dqNullCorrelation, dqNullCorrelationSql),
    Key("sink-branch-merge", sinkBranchMerge, sinkBranchMergeSql),
    Key("graph-closeness-centrality", graphClosenessCentrality, graphClosenessCentralitySql))
}
