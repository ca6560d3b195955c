package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-4 continuation batch E: window share analytics, typed JSON
  * struct round-trip, integer-exact TF-IDF term ranking, and product
  * quantization — the 100 TB embedding-store compression step.
  */
object RelMore5 extends KeyModule {

  /** win-share-suite — ratio-to-report analytics: each order's share of
    * its status group, the cumulative share in price order, and
    * cume_dist. Shares are computed in integer micro-units from exact
    * cent sums (floor division — no float summation order anywhere);
    * cume_dist is a single int/int division, identical IEEE both
    * engines. One shuffle on the partition key serves all three
    * windows (same partitioning, Spark plans one Window node chain). */
  val winShareSuite: Q = (s, d) => {
    val cents = (dec2(col("o_totalprice")) * 100).cast(LongType)
    val wAll = Window.partitionBy("o_orderstatus")
    val wOrd = Window.partitionBy("o_orderstatus")
      .orderBy(col("cents").desc, col("o_orderkey"))
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), cents.as("cents"))
      .withColumn("total", sum(col("cents")).over(wAll))
      .withColumn("run", sum(col("cents")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("o_orderkey"), col("o_orderstatus"),
        floor(col("cents") * lit(1000000L) / col("total")).cast(LongType).as("share_micro"),
        floor(col("run") * lit(1000000L) / col("total")).cast(LongType).as("run_share_micro"),
        cume_dist().over(wOrd).as("cume"))
      .orderBy("o_orderkey")
  }

  val winShareSuiteSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders)
      |SELECT o_orderkey, o_orderstatus,
      |       CAST(floor(cents * 1000000 / sum(cents) OVER wall) AS BIGINT) AS share_micro,
      |       CAST(floor(sum(cents) OVER word * 1000000 / sum(cents) OVER wall) AS BIGINT) AS run_share_micro,
      |       cume_dist() OVER word AS cume
      |FROM base
      |WINDOW wall AS (PARTITION BY o_orderstatus),
      |       word AS (PARTITION BY o_orderstatus ORDER BY cents DESC, o_orderkey
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  /** expr-json-struct — typed JSON round-trip: build a JSON document
    * with to_json(struct(...)) including a nested struct and an array,
    * parse it back with from_json under an EXPLICIT schema (never
    * inference — schema drift at 100 TB must fail loudly, not morph
    * columns), and project typed fields out of the parsed struct.
    * Complements expr-json-extract's stringly get_json_object path.
    * The oracle builds the identical document with json_object (both
    * engines emit compact {"k":v} with insertion order) and extracts
    * with typed json casts. */
  val exprJsonStruct: Q = (s, d) => {
    val built = orders(s, d).select(
      col("o_orderkey"),
      to_json(struct(
        col("o_orderkey").as("id"),
        col("o_orderstatus").as("st"),
        struct(col("o_orderpriority").as("p"),
          (col("o_custkey") % 100).as("cmod")).as("meta"),
        array(col("o_custkey"), col("o_custkey") % 7).as("ks"))).as("doc"))
    val schema = DataType.fromDDL(
      "id BIGINT, st STRING, meta STRUCT<p: STRING, cmod: BIGINT>, ks ARRAY<BIGINT>")
    built.select(
      col("o_orderkey"), col("doc"),
      from_json(col("doc"), schema).as("j"))
      .select(col("o_orderkey"), col("doc"),
        col("j.st").as("st"),
        col("j.meta.p").as("meta_p"),
        col("j.meta.cmod").as("meta_cmod"),
        element_at(col("j.ks"), 2).as("k2"))
      .orderBy("o_orderkey")
  }

  val exprJsonStructSql: String =
    """WITH built AS (
      |  SELECT o_orderkey,
      |         CAST(json_object('id', o_orderkey, 'st', o_orderstatus,
      |              'meta', json_object('p', o_orderpriority, 'cmod', o_custkey % 100),
      |              'ks', json_array(o_custkey, o_custkey % 7)) AS VARCHAR) AS doc
      |  FROM orders)
      |SELECT o_orderkey, doc,
      |       json_extract_string(doc, '$.st') AS st,
      |       json_extract_string(doc, '$.meta.p') AS meta_p,
      |       CAST(json_extract(doc, '$.meta.cmod') AS BIGINT) AS meta_cmod,
      |       CAST(json_extract(doc, '$.ks[1]') AS BIGINT) AS k2
      |FROM built
      |ORDER BY o_orderkey""".stripMargin

  /** text-tfidf-topterms — top-5 most characteristic terms per document
    * by tf·(N/df), the LINEAR inverse-document-frequency variant:
    * rank-equivalent scoring stays in exact integer arithmetic
    * (score_micro = ⌊tf·10⁶·N/df⌋), where log-idf would hand the
    * ranking to last-ulp libm differences between engines. Plan: one
    * tf groupBy (doc, word), one df groupBy (word) joined back on the
    * word key — the df table is the only corpus-wide shuffle and is
    * |vocab|-bounded — then a top-5 window per doc. */
  val textTfidfTopterms: Q = (s, d) => {
    val words = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val n = documents(s, d).count()
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = words.select("doc_id", "word").distinct()
      .groupBy("word").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("score_micro"), col("word"))
    tf.join(df, "word")
      .withColumn("score_micro",
        floor(col("tf") * lit(1000000L) * lit(n) / col("df")).cast(LongType))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("doc_id"), col("rk").cast(IntegerType).as("rk"),
        col("word"), col("tf"), col("df"), col("score_micro"))
      .orderBy("doc_id", "rk")
  }

  val textTfidfToptermsSql: String =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |w2 AS (SELECT doc_id, word FROM words WHERE length(word) > 0),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
      |df AS (SELECT word, count(*) AS df
      |       FROM (SELECT DISTINCT doc_id, word FROM w2) GROUP BY word),
      |n AS (SELECT count(*) AS n FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.word, tf.tf, df.df,
      |         CAST(floor(tf.tf * 1000000 * n.n / df.df) AS BIGINT) AS score_micro
      |  FROM tf JOIN df USING (word) CROSS JOIN n),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |            ORDER BY score_micro DESC, word) AS rk
      |  FROM scored)
      |SELECT doc_id, CAST(rk AS INT) AS rk, word, tf, df, score_micro
      |FROM ranked WHERE rk <= 5
      |ORDER BY doc_id, rk""".stripMargin

  /** emb-pq-assign — product quantization, the 100 TB embedding-store
    * compression: the 64-dim space splits into m=8 subspaces of 8 dims;
    * per-subspace codebooks (seeded from the label partition, as in
    * emb-kmeans-assign) assign every vector 8 independent code indices
    * → a 8-byte code replacing 256 bytes of float32 (32×). Output: the
    * code word per vector plus the floor-quantized total reconstruction
    * error Σ min‖x_s − c_s‖². Same determinism discipline as
    * emb-kmeans-assign: micro-unit floor quantization first, exact long
    * centroid sums, one double division, identical fold order. Plan:
    * codebook = one aggregate (labels × 64 cells), broadcast to the
    * corpus; per-vector work is m × |codebook| distance folds with NO
    * shuffle; the final groupBy is per (vec, subspace) winner-take-min
    * via a window on a corpus×8 frame. */
  val embPqAssign: Q = (s, d) => {
    graft.functions.DotProduct.register(s)
    val base = embeddings(s, d).select(col("vec_id"), col("label"),
      expr("quantize_lattice_long(embedding, 1000000.0D)").as("xi"))
    // per-(label, subspace) centroid over the 8-dim slice, exact sums
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
    // per (vector, subspace): slice + nearest codebook entry
    val subs = base.select(col("vec_id"),
      posexplode(expr("transform(sequence(0, 7), k -> transform(slice(xi, k*8 + 1, 8), x -> CAST(x AS DOUBLE)))"))
        .as(Seq("sub", "vs")))
      .select(col("vec_id"), col("sub").cast(IntegerType).as("sub"), col("vs"))
    val scored = subs.join(broadcast(cent), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("clabel"),
        expr("dot_product(vs, vs) - 2 * dot_product(vs, cv) + dot_product(cv, cv)").as("dist2"))
    val w = Window.partitionBy("vec_id", "sub").orderBy(col("dist2").asc, col("clabel").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .groupBy("vec_id")
      .agg(
        expr("concat_ws('-', transform(array_sort(collect_list(struct(sub, clabel))), s -> CAST(s.clabel AS STRING)))").as("pq_code"),
        floor(sum(col("dist2")) / lit(1000000.0)).cast(LongType).as("recon_err_q"))
      .orderBy("vec_id")
  }

  val embPqAssignSql: String =
    """WITH base AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xi
      |  FROM embeddings),
      |comp AS (
      |  SELECT label,
      |         CAST((pos - 1) // 8 AS INT) AS sub,
      |         CAST((pos - 1) % 8 AS INT) AS dim,
      |         x
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
      |scored AS (
      |  SELECT vec_id, s.sub, clabel,
      |         list_inner_product(vs, vs) - 2 * list_inner_product(vs, cv)
      |           + list_inner_product(cv, cv) AS dist2
      |  FROM subs s JOIN cent c ON c.sub = s.sub),
      |win AS (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
      |            ORDER BY dist2, clabel) AS rk
      |  FROM scored)
      |SELECT vec_id,
      |       array_to_string(list(CAST(clabel AS VARCHAR) ORDER BY sub), '-') AS pq_code,
      |       CAST(floor(sum(dist2) / 1000000.0) AS BIGINT) AS recon_err_q
      |FROM win WHERE rk = 1
      |GROUP BY vec_id
      |ORDER BY vec_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("win-share-suite", winShareSuite, winShareSuiteSql),
    Key("expr-json-struct", exprJsonStruct, exprJsonStructSql),
    Key("text-tfidf-topterms", textTfidfTopterms, textTfidfToptermsSql),
    Key("emb-pq-assign", embPqAssign, embPqAssignSql))
}
