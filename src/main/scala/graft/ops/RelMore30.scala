package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-5 batch D: the fully-composed IVFADC retrieval index, the
  * inference half of the BPE trainer, and a row-hash table diff.
  */
object RelMore30 extends KeyModule {

  private val NumQueries = 10
  private val NumCells = 8
  private val NProbe = 2
  private val Shortlist = 20
  private val TopK = 5

  /** ann-ivf-adc — the fully-composed production vector index (FAISS's
    * IVFADC): a coarse quantizer prunes the corpus to nprobe=2 cells
    * per query, ADC scores ONLY those candidates from 8-byte PQ codes
    * via a broadcast lookup table, and exact rerank touches just the
    * top-20 shortlist. Three pruning layers compose: cell probe cuts
    * the candidate set to ~nprobe/|cells| of the corpus, ADC makes the
    * surviving scan code-width instead of vector-width, rerank bounds
    * the full-precision work at |Q|·shortlist. Every join is either
    * broadcast (centroids, probe table, LUT) or keyed on the corpus
    * row — no unkeyed pair blowup anywhere. Recall loss comes from two
    * places (missed cells, ADC misranking) and both are measured by
    * the sibling ops (ann-nprobe-curve, ann-adc-rerank's spec). Same
    * determinism discipline as ann-adc-rerank: micro-unit quantized
    * components, per-pair dot products with fixed fold order, floor-
    * quantized scores, id tiebreaks on every rank. */
  val annIvfAdc: Q = (s, d) => {
    graft.functions.DotProduct.register(s)
    val base = embeddings(s, d).select(col("vec_id"), col("label"),
      expr("quantize_lattice_long(embedding, 1000000.0D)").as("xi"))
    val full = base.select(col("vec_id"), col("label"),
      expr("transform(xi, x -> CAST(x AS DOUBLE))").as("xd"))
    // coarse quantizer: cells seeded by the first 8 vectors
    val ccent = full.filter(col("vec_id") < NumCells)
      .select(col("vec_id").as("cell"), col("xd").as("cxd"))
    val cscore = full.crossJoin(broadcast(ccent))
      .select(col("vec_id"), col("cell"),
        expr("dot_product(xd, xd) - 2 * dot_product(xd, cxd) + dot_product(cxd, cxd)").as("cd2"))
    val wCell = Window.partitionBy("vec_id").orderBy(col("cd2").asc, col("cell").asc)
    val assign = cscore.withColumn("rn", row_number().over(wCell))
      .filter(col("rn") === 1).select(col("vec_id"), col("cell"))
    // PQ codebook + codes (label-seeded per-subspace centroids, exact long sums)
    val comp = base.select(col("label"), posexplode(col("xi")).as(Seq("pos", "x")))
      .select(col("label"), (col("pos") / 8).cast(IntegerType).as("sub"),
        (col("pos") % 8).cast(IntegerType).as("dim"), col("x"))
    val cent = comp.groupBy("label", "sub", "dim")
      .agg(sum(col("x")).as("sd"), count(lit(1)).as("n"))
      .groupBy(col("label").as("clabel"), col("sub"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, sd))), s -> CAST(s.sd AS DOUBLE))").as("sv"),
        max(col("n")).as("n"))
      .select(col("clabel"), col("sub"),
        expr("transform(sv, x -> x / CAST(n AS DOUBLE))").as("cv"))
    val subs = base.select(col("vec_id"),
      posexplode(expr("transform(sequence(0, 7), k -> transform(slice(xi, k*8 + 1, 8), x -> CAST(x AS DOUBLE)))"))
        .as(Seq("sub", "vs")))
      .select(col("vec_id"), col("sub").cast(IntegerType).as("sub"), col("vs"))
    val wCode = Window.partitionBy("vec_id", "sub").orderBy(col("dist2").asc, col("clabel").asc)
    val codes = subs.join(broadcast(cent), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("clabel"),
        expr("dot_product(vs, vs) - 2 * dot_product(vs, cv) + dot_product(cv, cv)").as("dist2"))
      .withColumn("rk", row_number().over(wCode)).filter(col("rk") === 1)
      .select(col("vec_id"), col("sub"), col("clabel"))
    // query probes: nprobe nearest cells per query
    val wProbe = Window.partitionBy("vec_id").orderBy(col("cd2").asc, col("cell").asc)
    val qprobe = cscore.filter(col("vec_id") < NumQueries)
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= NProbe)
      .select(col("vec_id").as("query_id"), col("cell"))
    // candidates: corpus rows in a probed cell
    val cand = assign.join(broadcast(qprobe), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("cell"))
    // ADC: LUT per (query, sub, codebook entry), summed over the candidate's code
    val lut = subs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("sub"), col("vs").as("qs"))
      .join(broadcast(cent), Seq("sub"))
      .select(col("query_id"), col("sub"), col("clabel"),
        expr("dot_product(qs, qs) - 2 * dot_product(qs, cv) + dot_product(cv, cv)").as("qd"))
    val adc = cand.join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("query_id", "sub", "clabel"))
      .groupBy("query_id", "vec_id", "cell")
      .agg(floor(sum(col("qd")) / lit(1000000.0)).cast(LongType).as("adc_q"))
    val wShort = Window.partitionBy("query_id").orderBy(col("adc_q").asc, col("vec_id").asc)
    val short = adc.withColumn("rn", row_number().over(wShort))
      .filter(col("rn") <= Shortlist)
    // exact rerank on the shortlist only
    val qfull = full.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("xd").as("qx"))
    val wRank = Window.partitionBy("query_id").orderBy(col("ed_q").asc, col("vec_id").asc)
    short.join(full.select(col("vec_id"), col("xd")), Seq("vec_id"))
      .join(broadcast(qfull), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("cell"), col("adc_q"),
        expr("CAST(floor((dot_product(xd, xd) - 2 * dot_product(xd, qx) + dot_product(qx, qx)) / 1000000) AS BIGINT)").as("ed_q"))
      .withColumn("rank", row_number().over(wRank).cast(IntegerType))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cell"), col("adc_q"), col("ed_q"))
      .orderBy("query_id", "rank")
  }

  val annIvfAdcSql: String =
    s"""WITH base AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xi
       |  FROM embeddings),
       |fullv AS (
       |  SELECT vec_id, label, list_transform(xi, x -> CAST(x AS DOUBLE)) AS xd FROM base),
       |ccent AS (SELECT vec_id AS cell, xd AS cxd FROM fullv WHERE vec_id < $NumCells),
       |cscore AS (
       |  SELECT f.vec_id, c.cell,
       |         list_inner_product(xd, xd) - 2 * list_inner_product(xd, cxd)
       |           + list_inner_product(cxd, cxd) AS cd2
       |  FROM fullv f, ccent c),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cd2, cell) AS rn
       |    FROM cscore) WHERE rn = 1),
       |comp AS (
       |  SELECT label, CAST((pos - 1) // 8 AS INT) AS sub,
       |         CAST((pos - 1) % 8 AS INT) AS dim, x
       |  FROM (SELECT label, unnest(xi) AS x, unnest(range(1, len(xi) + 1)) AS pos FROM base)),
       |cent AS (
       |  SELECT label AS clabel, sub,
       |         list(CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY dim) AS cv
       |  FROM (SELECT label, sub, dim, CAST(sum(x) AS BIGINT) AS sd, count(*) AS n
       |        FROM comp GROUP BY 1, 2, 3)
       |  GROUP BY label, sub),
       |subs AS (
       |  SELECT vec_id, k AS sub,
       |         list_transform(xi[k*8 + 1 : k*8 + 8], x -> CAST(x AS DOUBLE)) AS vs
       |  FROM base, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS k) t),
       |codes AS (
       |  SELECT vec_id, sub, clabel FROM (
       |    SELECT s.vec_id, s.sub, c.clabel,
       |           row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
       |             list_inner_product(vs, vs) - 2 * list_inner_product(vs, cv)
       |               + list_inner_product(cv, cv), c.clabel) AS rk
       |    FROM subs s JOIN cent c ON c.sub = s.sub) WHERE rk = 1),
       |qprobe AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cd2, cell) AS rn
       |    FROM cscore WHERE vec_id < $NumQueries) WHERE rn <= $NProbe),
       |cand AS (
       |  SELECT q.query_id, a.vec_id, a.cell
       |  FROM assign a JOIN qprobe q ON q.cell = a.cell
       |  WHERE q.query_id <> a.vec_id),
       |lut AS (
       |  SELECT s.vec_id AS query_id, s.sub, c.clabel,
       |         list_inner_product(vs, vs) - 2 * list_inner_product(vs, cv)
       |           + list_inner_product(cv, cv) AS qd
       |  FROM subs s JOIN cent c ON c.sub = s.sub
       |  WHERE s.vec_id < $NumQueries),
       |adc AS (
       |  SELECT cd.query_id, cd.vec_id, cd.cell,
       |         CAST(floor(sum(qd) / 1000000.0) AS BIGINT) AS adc_q
       |  FROM cand cd
       |  JOIN codes co ON co.vec_id = cd.vec_id
       |  JOIN lut l ON l.query_id = cd.query_id AND l.sub = co.sub AND l.clabel = co.clabel
       |  GROUP BY 1, 2, 3),
       |short AS (
       |  SELECT query_id, vec_id, cell, adc_q,
       |         row_number() OVER (PARTITION BY query_id ORDER BY adc_q, vec_id) AS rn
       |  FROM adc),
       |rr AS (
       |  SELECT s.query_id, s.vec_id, s.cell, s.adc_q,
       |         CAST(floor((list_inner_product(f.xd, f.xd) - 2 * list_inner_product(f.xd, q.xd)
       |           + list_inner_product(q.xd, q.xd)) / 1000000) AS BIGINT) AS ed_q
       |  FROM short s
       |  JOIN fullv f ON f.vec_id = s.vec_id
       |  JOIN fullv q ON q.vec_id = s.query_id
       |  WHERE s.rn <= $Shortlist),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ed_q, vec_id) AS rank
       |  FROM rr)
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, cell, adc_q, ed_q
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** text-tokenizer-apply — the inference half of text-bpe-merge: train
    * the same 3 merges, apply them in order to the |vocab|-bounded
    * word-frequency table, and report the resulting token vocabulary
    * (top 20 tokens by corpus frequency). Applying merges in TRAINING
    * ORDER by left-to-right literal replacement is exactly how BPE
    * tokenization is specified — and because the merge table is a
    * 1-row broadcast per round, tokenizing 100 TB is |merges| scans of
    * the word table, never of the corpus (real tokenizers compile the
    * merge table into a trie; the dataflow — broadcast artifact, map-
    * only application, vocab-bounded aggregation — is identical). The
    * output is the artifact a data engineer actually inspects: which
    * subwords the corpus promoted, and how much mass they carry. */
  val textTokenizerApply: Q = (s, d) => {
    val words0 = documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word").rlike(s"^[a-z]{2,${RelMore29.BpeMaxWordLen}}$$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(
        concat(lit(" "),
          array_join(expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"), " "),
          lit(" ")).as("toks"),
        col("freq"))
      .groupBy("toks").agg(sum("freq").as("freq"))
    // IterativeFixpoint.eager owns the merge-round lifecycle: each round
    // plans against a constant-size LogicalRDD leaf instead of replaying
    // the corpus explode plus all prior rewrites (lineage replay is
    // quadratic in merge count, fatal at a production ~30k-merge train),
    // prior rounds' checkpoint storage is released as soon as the next
    // round materializes, and the no-plan-growth contract is asserted —
    // the step reads its state TWICE (pair census + rewrite), the
    // eager-discipline criterion per the helper's scaladoc.
    val words = graft.functions.IterativeFixpoint.eager(words0, 3) { (w, _) =>
      val best = w
        .select(col("freq"), expr(
          "transform(sequence(1, size(split(trim(toks), ' ')) - 1), " +
            "i -> struct(element_at(split(trim(toks), ' '), i) AS l, " +
            "element_at(split(trim(toks), ' '), i + 1) AS r))").as("ps"))
        .select(col("freq"), explode(col("ps")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("pair_freq"))
        .orderBy(desc("pair_freq"), col("l"), col("r")).limit(1)
        .select(col("l"), col("r"))
      w.crossJoin(broadcast(best))
        .select(
          expr("replace(toks, ' ' || l || ' ' || r || ' ', ' ' || l || r || ' ')").as("toks"),
          col("freq"))
        .groupBy("toks").agg(sum("freq").as("freq"))
    }
    words
      .select(explode(split(trim(col("toks")), " ")).as("token"), col("freq"))
      .groupBy("token").agg(sum("freq").as("freq"))
      .orderBy(desc("freq"), col("token"))
      .limit(20)
  }

  val textTokenizerApplySql: String = {
    def pairsOf(src: String, out: String): String =
      s"""$out AS (
         |  SELECT tk[i] AS l, tk[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS pair_freq
         |  FROM (SELECT string_split(trim(toks), ' ') AS tk, freq FROM $src),
         |       (SELECT unnest(range(1, ${RelMore29.BpeMaxWordLen})) AS i)
         |  WHERE i + 1 <= len(tk)
         |  GROUP BY 1, 2)""".stripMargin
    val rounds = (1 to 3).map { r =>
      s"""${pairsOf(s"w${r - 1}", s"p$r")},
         |b$r AS (
         |  SELECT l, r FROM p$r ORDER BY pair_freq DESC, l, r LIMIT 1),
         |w$r AS (
         |  SELECT replace(toks, ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' ') AS toks,
         |         CAST(sum(freq) AS BIGINT) AS freq
         |  FROM w${r - 1}, b$r b
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH wf AS (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
       |  WHERE regexp_full_match(word, '[a-z]{2,${RelMore29.BpeMaxWordLen}}')
       |  GROUP BY 1),
       |w0 AS (
       |  SELECT ' ' || array_to_string(
       |           list_transform(range(1, len(word) + 1), i -> word[i:i]), ' ') || ' ' AS toks,
       |         CAST(sum(freq) AS BIGINT) AS freq
       |  FROM wf GROUP BY 1),
       |$rounds
       |SELECT token, CAST(sum(freq) AS BIGINT) AS freq
       |FROM (SELECT unnest(string_split(trim(toks), ' ')) AS token, freq FROM w3)
       |GROUP BY token
       |ORDER BY freq DESC, token
       |LIMIT 20""".stripMargin
  }

  /** dq-table-diff — row-level reconciliation between two versions of a
    * table by PRIMARY-KEY full outer join + row-hash comparison: rows
    * only in A (deleted), only in B (added), in both with different
    * content (changed), identical (same). The diff that answers "what
    * did the pipeline rerun actually change" — per-row, not just
    * aggregate checksums (dq-reconcile-checksum is the cheap first
    * pass; THIS localizes the damage). One key-partitioned join; the
    * row hash collapses wide-row comparison to one column, so the
    * shuffle carries key+hash, never the payload. Hash inputs are
    * pinned to locale-free renderings (BIGINT cents, ISO date string)
    * so both engines hash identical bytes. Version B is derived from A
    * by deterministic mutations (drops, edits, inserts) — the op under
    * test is the diff, not the mutation. */
  val dqTableDiff: Q = (s, d) => {
    val norm = orders(s, d).select(
      col("o_orderkey").as("k"), col("o_custkey"), col("o_orderstatus"),
      col("o_orderpriority"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
      to_date(col("o_orderdate")).cast(StringType).as("ds"))
    def hashed(df: DataFrame) = df.select(col("k"),
      md5(concat_ws("|", col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("cents"), col("ds"))).as("h"))
    val a = hashed(norm)
    val b = hashed(
      norm.filter(col("k") % 101 =!= 0) // deletions
        .withColumn("o_orderstatus",
          when(col("k") % 103 === 0, lit("X")).otherwise(col("o_orderstatus"))) // edits
        .union(norm.filter(col("k") % 109 === 0)
          .withColumn("k", col("k") + lit(1000000000L)))) // inserts
    a.withColumnRenamed("h", "ha").join(b.withColumnRenamed("h", "hb"), Seq("k"), "full_outer")
      .select(col("k"),
        when(col("hb").isNull, "deleted")
          .when(col("ha").isNull, "added")
          .when(col("ha") =!= col("hb"), "changed")
          .otherwise("same").as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), min("k").as("min_key"), max("k").as("max_key"))
      .orderBy("status")
  }

  val dqTableDiffSql: String =
    """WITH norm AS (
      |  SELECT o_orderkey AS k, o_custkey, o_orderstatus, o_orderpriority,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |         CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS ds
      |  FROM orders),
      |a AS (
      |  SELECT k, md5(concat_ws('|', o_custkey, o_orderstatus, o_orderpriority, cents, ds)) AS h
      |  FROM norm),
      |bsrc AS (
      |  SELECT k, o_custkey,
      |         CASE WHEN k % 103 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
      |         o_orderpriority, cents, ds
      |  FROM norm WHERE k % 101 <> 0
      |  UNION ALL
      |  SELECT k + 1000000000, o_custkey, o_orderstatus, o_orderpriority, cents, ds
      |  FROM norm WHERE k % 109 = 0),
      |b AS (
      |  SELECT k, md5(concat_ws('|', o_custkey, o_orderstatus, o_orderpriority, cents, ds)) AS h
      |  FROM bsrc)
      |SELECT status, count(*) AS n, min(k) AS min_key, max(k) AS max_key
      |FROM (
      |  SELECT COALESCE(a.k, b.k) AS k,
      |         CASE WHEN b.h IS NULL THEN 'deleted'
      |              WHEN a.h IS NULL THEN 'added'
      |              WHEN a.h <> b.h THEN 'changed'
      |              ELSE 'same' END AS status
      |  FROM a FULL OUTER JOIN b ON b.k = a.k)
      |GROUP BY status
      |ORDER BY status""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("ann-ivf-adc", annIvfAdc, annIvfAdcSql),
    Key("text-tokenizer-apply", textTokenizerApply, textTokenizerApplySql),
    Key("dq-table-diff", dqTableDiff, dqTableDiffSql))
}
