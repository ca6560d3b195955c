package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-4 continuation batch B: LATERAL correlated join, per-cluster
  * embedding statistics (the k-means update/objective half), the
  * pairwise covariance matrix as one partially-aggregated pass (the
  * gramian pattern), and true per-window winnowing fingerprints
  * (Schleimer et al., SIGMOD'03) upgrading text-fingerprint's global
  * min to position-robust sampling.
  */
object RelMore2 extends KeyModule {

  /** join-lateral — LATERAL correlated subquery with ORDER BY + LIMIT:
    * top-2 orders per customer, spelled as one shared SQL string.
    * Catalyst decorrelates the lateral into a ranked window join — the
    * declarative form of win-topk-per-key — so at scale it is one
    * shuffle on the correlation key, NOT a per-row subquery loop
    * (which is what a naive reading of LATERAL implies and what a
    * 100 TB plan must never do). */
  val joinLateral: Q = (s, d) => {
    customer(s, d).createOrReplaceTempView("customer")
    orders(s, d).createOrReplaceTempView("orders")
    s.sql(joinLateralSql)
  }

  val joinLateralSql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.price
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
      |  FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey
      |  LIMIT 2) t
      |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin

  /** emb-cluster-stats — the k-means update/objective half (assignment
    * is emb-kmeans-assign): per-label member count, centroid norm², and
    * within-cluster dispersion E‖x−c‖² = E‖x‖² − ‖c‖² — computed WITHOUT
    * a second pass or join-back, via the sum/sum-of-squares identity.
    * One map-side-combined aggregate: shuffle = |labels| × (dims + 2)
    * values regardless of corpus size. Embeddings quantize to integer
    * micro-units with floor() first (kmeans-assign's determinism rule:
    * floor has no round-half ties), so all sums are exact longs; the
    * final ratios are identical IEEE ops on identical integers, floored
    * at output. Component sums ride in a single aggregated array via
    * zip_with partial merge — no posexplode shuffle blowup. */
  val embClusterStats: Q = (s, d) => {
    val base = embeddings(s, d).select(col("label"),
      expr("quantize_lattice_long(embedding, 1000000.0D)").as("xi"))
      .withColumn("xx", expr("aggregate(xi, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
    val agg = base.groupBy("label").agg(
      count(lit(1)).as("n"),
      sum(col("xx")).as("sxx"),
      expr("aggregate(collect_list(xi), transform(sequence(1, 64), i -> CAST(0 AS BIGINT)), " +
        "(acc, v) -> zip_with(acc, v, (a, b) -> a + b))").as("sv"))
    agg.select(col("label"), col("n"),
      // ‖c‖² = Σ (Sᵢ/n)² ; dispersion = Sxx/n − ‖c‖² — in micro² units
      expr("aggregate(transform(sv, x -> (CAST(x AS DOUBLE)/n) * (CAST(x AS DOUBLE)/n)), " +
        "CAST(0 AS DOUBLE), (a, x) -> a + x)").as("cnorm2"),
      (col("sxx").cast(DoubleType) / col("n")).as("exx"))
      .select(col("label"), col("n"),
        floor(col("cnorm2") / lit(1e6)).cast(LongType).as("centroid_norm2_q"),
        floor((col("exx") - col("cnorm2")) / lit(1e6)).cast(LongType).as("dispersion_q"))
      .orderBy("label")
  }

  val embClusterStatsSql: String =
    """WITH base AS (
      |  SELECT label,
      |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xi
      |  FROM embeddings),
      |comp AS (
      |  SELECT label, unnest(xi) AS x FROM base),
      |persum AS (
      |  SELECT label, unnest(range(1, len(xi) + 1)) AS pos, unnest(xi) AS x FROM base),
      |sums AS (
      |  SELECT label, pos, CAST(sum(x) AS BIGINT) AS sd FROM persum GROUP BY 1, 2),
      |stats AS (
      |  SELECT b.label,
      |         count(*) AS n,
      |         CAST(sum(b.xx) AS BIGINT) AS sxx
      |  FROM (SELECT label,
      |               list_aggregate(list_transform(xi, x -> x * x), 'sum') AS xx
      |        FROM base) b
      |  GROUP BY b.label),
      |cn AS (
      |  SELECT s.label,
      |         sum((CAST(sd AS DOUBLE) / st.n) * (CAST(sd AS DOUBLE) / st.n)) AS cnorm2
      |  FROM sums s JOIN stats st USING (label)
      |  GROUP BY s.label)
      |SELECT st.label, st.n,
      |       CAST(floor(cn.cnorm2 / 1e6) AS BIGINT) AS centroid_norm2_q,
      |       CAST(floor((CAST(st.sxx AS DOUBLE) / st.n - cn.cnorm2) / 1e6) AS BIGINT) AS dispersion_q
      |FROM stats st JOIN cn USING (label)
      |ORDER BY st.label""".stripMargin

  /** emb-covariance — the 8×8 covariance matrix of the leading
    * embedding components in ONE partially-aggregated pass: each vector
    * fans out map-side to 64 (i, j, x·y, x, y) cells via a nested
    * transform + flatten (no join, no per-dimension shuffle), and the
    * groupBy reduces them with map-side combine — shuffle is ≤ 64 rows
    * per partition whatever the corpus size. This is the gramian /
    * X^T·X building block behind PCA whitening and linear probes; at
    * full d the same plan emits d² cells (for d where d² rows per
    * partition still beats a matrix library's driver collect). Micro-
    * unit floor quantization keeps every sum an exact long (products
    * ≤ 1e12, × rows ≪ 2^63; at larger corpora the sums would move to
    * DECIMAL — same plan shape). cov = Sxy/n − (Sx/n)(Sy/n), floored
    * to micro² units at output. */
  val embCovariance: Q = (s, d) =>
    embeddings(s, d)
      .select(col("vec_id"),
        expr("transform(slice(embedding, 1, 8), x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("xi"))
      .select(explode(expr(
        "flatten(transform(xi, (x, i) -> transform(xi, (y, j) -> struct(i AS i, j AS j, x*y AS p, x AS x, y AS y))))")).as("c"))
      .groupBy(col("c.i").as("i"), col("c.j").as("j"))
      .agg(count(lit(1)).as("n"), sum("c.p").as("spq"),
        sum("c.x").as("sx"), sum("c.y").as("sy"))
      .select(col("i"), col("j"),
        floor((col("spq").cast(DoubleType) / col("n") -
          (col("sx").cast(DoubleType) / col("n")) * (col("sy").cast(DoubleType) / col("n"))) / lit(1e6))
          .cast(LongType).as("cov_q"))
      .orderBy("i", "j")

  val embCovarianceSql: String =
    """WITH base AS (
      |  SELECT vec_id,
      |         list_transform(embedding[1:8], x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xi
      |  FROM embeddings),
      |cells AS (
      |  SELECT gi.i - 1 AS i, gj.j - 1 AS j,
      |         xi[gi.i] * xi[gj.j] AS p, xi[gi.i] AS x, xi[gj.j] AS y
      |  FROM base
      |  CROSS JOIN generate_series(1, 8) gi(i)
      |  CROSS JOIN generate_series(1, 8) gj(j))
      |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
      |       CAST(floor((CAST(sum(p) AS DOUBLE) / count(*) -
      |                   (CAST(sum(x) AS DOUBLE) / count(*)) *
      |                   (CAST(sum(y) AS DOUBLE) / count(*))) / 1e6) AS BIGINT) AS cov_q
      |FROM cells
      |GROUP BY i, j
      |ORDER BY i, j""".stripMargin

  /** text-winnowing — true winnowing (Schleimer et al., SIGMOD'03):
    * md5 each word 5-gram, slide a w=4 window over consecutive gram
    * hashes, keep each window's minimum (rightmost position on ties),
    * dedupe selections. Guarantees a fingerprint in every w-gram run —
    * position-robust, unlike text-fingerprint's single global min —
    * with expected density 2/(w+1). Plan: one generator pass for grams,
    * one window (partitioned per doc) for the per-window min, one
    * self-join back to resolve the rightmost-min position, distinct.
    * Per-doc work is O(grams·w); the join key (doc_id) is the natural
    * partitioning, so at 100 TB it's embarrassingly parallel with no
    * cross-doc shuffle beyond the doc-id hash. */
  val textWinnowing: Q = (s, d) => {
    val grams = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 5), i -> struct(i AS i, " +
          "md5(concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])) AS h))")).as("g"))
      .select(col("doc_id"), col("g.i").as("i"), col("g.h").as("h"))
    val fw = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, 3)
    val wins = grams
      .withColumn("wmin", min(col("h")).over(fw))
      .withColumn("wlen", count(lit(1)).over(fw))
      .filter(col("wlen") === 4)
      .select(col("doc_id"), col("i").as("t"), col("wmin"))
    wins.join(grams,
        wins("doc_id") === grams("doc_id") &&
          grams("i").between(col("t"), col("t") + 3) &&
          grams("h") === col("wmin"))
      .groupBy(wins("doc_id").as("doc_id"), col("t"))
      .agg(max(col("i")).as("pos"), max(col("h")).as("fp"))
      .select(col("doc_id"), col("pos"), col("fp")).distinct()
      .orderBy("doc_id", "pos")
  }

  val textWinnowingSql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 5),
      |grams AS (
      |  SELECT doc_id, i - 1 AS i,
      |         md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]) AS h
      |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w) - 4)) AS i) t),
      |wins AS (
      |  SELECT doc_id, i AS t,
      |         min(h) OVER fw AS wmin,
      |         count(*) OVER fw AS wlen
      |  FROM grams
      |  WINDOW fw AS (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)),
      |sel AS (
      |  SELECT w.doc_id, w.t, max(g.i) AS pos, max(g.h) AS fp
      |  FROM (SELECT * FROM wins WHERE wlen = 4) w
      |  JOIN grams g ON g.doc_id = w.doc_id
      |              AND g.i BETWEEN w.t AND w.t + 3
      |              AND g.h = w.wmin
      |  GROUP BY w.doc_id, w.t)
      |SELECT DISTINCT doc_id, pos, fp
      |FROM sel
      |ORDER BY doc_id, pos""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("join-lateral", joinLateral, joinLateralSql),
    Key("emb-cluster-stats", embClusterStats, embClusterStatsSql),
    Key("emb-covariance", embCovariance, embCovarianceSql),
    Key("text-winnowing", textWinnowing, textWinnowingSql))
}
