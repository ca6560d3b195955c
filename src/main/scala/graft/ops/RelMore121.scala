package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch V: turning-points randomness test, delta+varint
  * encoding-size model, soft nearest-neighbor loss. */
object RelMore121 extends KeyModule {

  /** dq-turning-points — the turning-points test on daily order
    * counts: a local max/min occurs at t when xₜ is strictly above
    * (below) both neighbors; under i.i.d. randomness the expected
    * count is 2(n−2)/3 with Var = (16n−29)/90, and the z departure
    * detects serial structure the runs test (dq-runs-test, which
    * looks only at signs around the median) misses — smooth drifts
    * REDUCE turning points, oscillations inflate them. Ties (equal
    * neighbors) break no turning point — the strict-inequality
    * convention, identical both sides. Counts are exact from one
    * lag/lead window; the closed-form moments and z are the only
    * doubles. */
  val dqTurningPoints: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(count(lit(1)).as("x"))
    // r12: two neighbor stitches (lag then lead), not a global-sort
    // lag/lead window over the date axis (census port)
    val lagged = graft.functions.PrefixScan
      .withNeighbor(daily, Seq(col("dt")), Seq("x"), lead = false, suffix = "_lft")
    val tp = graft.functions.PrefixScan
      .withNeighbor(lagged, Seq(col("dt")), Seq("x"), lead = true, suffix = "_rgt")
      .withColumnRenamed("x_lft", "xl")
      .withColumnRenamed("x_rgt", "xr")
      .filter(col("xl").isNotNull && col("xr").isNotNull)
      .agg(count(lit(1)).as("ni"),
        sum(when((col("x") > col("xl") && col("x") > col("xr")) ||
          (col("x") < col("xl") && col("x") < col("xr")), 1L).otherwise(0L)).as("t"))
    tp.select((col("ni") + 2).as("n_days"), col("t").as("turning_points"),
      round(lit(2.0) * col("ni") / 3, 2).as("expected"),
      round((col("t").cast(DoubleType) - lit(2.0) * col("ni") / 3) /
        sqrt((lit(16.0) * (col("ni") + 2) - 29) / 90), 4).as("z_stat"),
      (abs((col("t").cast(DoubleType) - lit(2.0) * col("ni") / 3) /
        sqrt((lit(16.0) * (col("ni") + 2) - 29) / 90)) >= 1.96).as("nonrandom"))
  }

  val dqTurningPointsSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(count(*) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |tp AS (
      |  SELECT CAST(count(*) AS BIGINT) AS ni,
      |         CAST(sum(CASE WHEN (x > xl AND x > xr) OR (x < xl AND x < xr)
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS t
      |  FROM (
      |    SELECT x, lag(x) OVER (ORDER BY dt) AS xl, lead(x) OVER (ORDER BY dt) AS xr
      |    FROM daily) w
      |  WHERE xl IS NOT NULL AND xr IS NOT NULL)
      |SELECT ni + 2 AS n_days, t AS turning_points,
      |       round(2.0 * ni / 3, 2) AS expected,
      |       round((CAST(t AS DOUBLE) - 2.0 * ni / 3) / sqrt((16.0 * (ni + 2) - 29) / 90), 4)
      |         AS z_stat,
      |       abs((CAST(t AS DOUBLE) - 2.0 * ni / 3) / sqrt((16.0 * (ni + 2) - 29) / 90)) >= 1.96
      |         AS nonrandom
      |FROM tp""".stripMargin

  /** layout-delta-varint-size — an analytic encoded-size model for
    * the orderkey column under delta + zigzag + varint encoding, in
    * two physical orderings: KEY-SORTED (deltas are small gaps ⇒
    * mostly 1-byte varints) vs SHIPDATE-SORTED (keys arrive shuffled
    * ⇒ deltas span the key range). The byte count per value is the
    * exact integer varint length of the zigzagged delta (threshold
    * CASE on 2⁷ᵏ bounds — no floats anywhere), so the op prices a
    * sort order in BYTES before writing anything — the lightweight
    * companion to the zone-map ops: zonemaps price the READ side of
    * sorting, this prices the STORAGE side. Both encodings are
    * modeled from the same lag window over the respective ordering;
    * output is total bytes and bytes/value for each, plus the ratio
    * — the compression win a sorted rewrite buys. */
  val layoutDeltaVarintSize: Q = (s, d) => {
    // r15 (§1.2 don't compute what you throw away): this consumer only
    // needs ONE aggregate per ordering, not per-row lag values — the
    // PrefixScan neighbor stamp paid its sort TWICE per ordering (stats
    // collect + stamp re-execution) to produce a column we immediately
    // summed away, and materialized li once per call. Now: li cached
    // once; per ordering, one PrefixScan.summaries pass (range exchange +
    // local sort) emitting (local delta-byte sum, first, last, n) per
    // partition; the ≤|partitions| boundary deltas (32
    // bounded by construction — shuffle.partitions summaries, never
    // data rows) fold on the driver with the same exact integer varint
    // arithmetic. Identical totals: the concatenated range-sorted
    // partitions ARE the total order, and each cross-boundary pair is
    // priced exactly once.
    val li = lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
      to_date(col("l_shipdate")).as("sd")).sharedCache()
    def varintBytesL(delta: Long): Long = {
      val zz = if (delta >= 0) delta * 2 else -delta * 2 - 1
      if (zz < 128L) 1L else if (zz < 16384L) 2L else if (zz < 2097152L) 3L
      else if (zz < 268435456L) 4L else if (zz < 34359738368L) 5L else 6L
    }
    def orderedBytes(order: Seq[org.apache.spark.sql.Column]): (Long, Long) = {
      val okIdx = li.schema.fieldIndex("l_orderkey")
      val summaries = graft.functions.PrefixScan.summaries(li, order) { it =>
        var first = 0L; var last = 0L; var localSum = 0L; var n = 0L
        var nonEmpty = false
        it.foreach { r =>
          val k = r.getLong(okIdx)
          if (!nonEmpty) { first = k; nonEmpty = true }
          else localSum += varintBytesL(k - last)
          last = k; n += 1
        }
        (nonEmpty, first, last, localSum, n)
      }
      var prev = 0L // the lag(…, 1, 0) default: global first row deltas vs 0
      var bytes = 0L; var n = 0L
      summaries.foreach { case (nonEmpty, first, last, localSum, cnt) =>
        if (nonEmpty) {
          bytes += varintBytesL(first - prev) + localSum
          prev = last; n += cnt
        }
      }
      (bytes, n)
    }
    val (bytesSorted, n) =
      orderedBytes(Seq(col("l_orderkey"), col("l_linenumber")))
    val (bytesArrival, _) =
      orderedBytes(Seq(col("sd"), col("l_orderkey"), col("l_linenumber")))
    import s.implicits._
    Seq((n, bytesSorted, bytesArrival)).toDF("n", "bytes_sorted", "bytes_arrival")
      .select(col("n").as("n_values"), col("bytes_sorted"), col("bytes_arrival"),
        ratioFloor(col("bytes_sorted"), col("n"), 3).as("bytes_per_value_sorted"),
        ratioFloor(col("bytes_arrival"), col("n"), 3).as("bytes_per_value_arrival"),
        ratioFloor(col("bytes_arrival"), col("bytes_sorted"), 3).as("sort_win_ratio"))
  }

  val layoutDeltaVarintSizeSql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber, CAST(date_trunc('day', l_shipdate) AS DATE) AS sd
      |  FROM lineitem),
      |sorted_b AS (
      |  SELECT CAST(sum(CASE WHEN zz < 128 THEN 1 WHEN zz < 16384 THEN 2
      |                       WHEN zz < 2097152 THEN 3 WHEN zz < 268435456 THEN 4
      |                       WHEN zz < 34359738368 THEN 5 ELSE 6 END) AS BIGINT) AS bytes_sorted,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM (
      |    SELECT CASE WHEN dlt >= 0 THEN dlt * 2 ELSE -dlt * 2 - 1 END AS zz FROM (
      |      SELECT l_orderkey - lag(l_orderkey, 1, 0) OVER (ORDER BY l_orderkey, l_linenumber) AS dlt
      |      FROM li) t) z),
      |arrival_b AS (
      |  SELECT CAST(sum(CASE WHEN zz < 128 THEN 1 WHEN zz < 16384 THEN 2
      |                       WHEN zz < 2097152 THEN 3 WHEN zz < 268435456 THEN 4
      |                       WHEN zz < 34359738368 THEN 5 ELSE 6 END) AS BIGINT) AS bytes_arrival
      |  FROM (
      |    SELECT CASE WHEN dlt >= 0 THEN dlt * 2 ELSE -dlt * 2 - 1 END AS zz FROM (
      |      SELECT l_orderkey - lag(l_orderkey, 1, 0) OVER (ORDER BY sd, l_orderkey, l_linenumber) AS dlt
      |      FROM li) t) z)
      |SELECT n AS n_values, bytes_sorted, bytes_arrival,
      |       floor(CAST(bytes_sorted AS DOUBLE) * 1e3 / n) / 1e3 AS bytes_per_value_sorted,
      |       floor(CAST(bytes_arrival AS DOUBLE) * 1e3 / n) / 1e3 AS bytes_per_value_arrival,
      |       floor(CAST(bytes_arrival AS DOUBLE) * 1e3 / bytes_sorted) / 1e3 AS sort_win_ratio
      |FROM sorted_b CROSS JOIN arrival_b""".stripMargin

  /** emb-soft-nn-loss — the soft nearest-neighbor loss of the labeled
    * embedding corpus at temperature T = 2·dim = 128 (the scale at
    * which typical inter-point d² ≈ 2d keeps e^{−d²/T} ≈ e⁻¹, far
    * from underflow — declared): per anchor i,
    * −ln(Σ_{j≠i, same label} e^{−d²ᵢⱼ/T} / Σ_{j≠i} e^{−d²ᵢⱼ/T}) —
    * the SMOOTH class-separation measure (low loss = classes
    * entangled... high loss = classes collapsed apart): unlike
    * emb-silhouette's hard nearest-centroid geometry, SNN weighs
    * EVERY pair, which is why it's used to probe representation
    * entanglement layer by layer. Each pair's d² is the exact
    * norm-expansion on the codegen'd dot_product (never a
    * 64×-exploded shuffle — the array form keeps the pair pass
    * |corpus|² rows);
    * each Boltzmann term is one identical exp double pico-floor-
    * quantized so both partition sums are exact integers; the
    * per-anchor log-ratio and the final mean are the only
    * free-running floats, and the mean is over micro-quantized
    * per-anchor losses (exact fold). The pair pass is the |corpus|²
    * bounded-fixture audit shape — stated, with the LSH/IVF path the
    * scale story for real corpora. */
  val embSoftNnLoss: Q = (s, d) => {
    // norm-expansion d² on the codegen'd dot_product, NOT an
    // interpreted zip_with/aggregate long fold — exact because the
    // milli-quantized integer components keep every double term
    // < 2⁵³ (43.1 s → 1.6 s steady at sf0.1; see embHubnessSkew)
    val v = embeddings(s, d).select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) " +
        "AS DOUBLE))").as("vq"))
      .withColumn("nq", expr("dot_product(vq, vq)"))
      .sharedCache()
    // r14 opt: the stream side of the N² scoring pass is the cached
    // single-partition corpus (one parquet row group → one scan task) —
    // repartition after the read (guide §2.5), conf-derived count
    val pairs = v.repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .as("a").crossJoin(broadcast(v.as("b")))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("a.label").as("li"), col("b.label").as("lj"),
        expr("CAST(a.nq + b.nq - 2 * dot_product(a.vq, b.vq) AS BIGINT)").as("d2q"))
    val terms = pairs
      .select(col("i"), col("li"), col("lj"),
        // e^{-d²/T}, T = 2·dim = 128 on the unit scale (milli² = 1e6)
        floor(expr("exp(-(CAST(d2q AS DOUBLE) / 1e6 / 128.0))") * lit(1e12))
          .cast(LongType).as("w"))
    val perAnchor = terms.groupBy("i", "li")
      .agg(sum(when(col("lj") === col("li"), col("w")).otherwise(0L)).as("w_same"),
        sum("w").as("w_all"))
      .filter(col("w_same") > 0 && col("w_all") > 0)
      .select(col("i"),
        floor((log(col("w_all").cast(DoubleType)) - log(col("w_same").cast(DoubleType))) *
          lit(1e6)).cast(LongType).as("loss_uq"))
    perAnchor.agg(count(lit(1)).as("n_anchors"), sum("loss_uq").as("sl"))
      .select(col("n_anchors"),
        round(col("sl").cast(DoubleType) / 1e6 / col("n_anchors"), 6).as("soft_nn_loss"))
  }

  val embSoftNnLossSql: String =
    """WITH v AS MATERIALIZED (
      |  SELECT vec_id, label,
      |         list_transform(embedding,
      |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS vq
      |  FROM embeddings),
      |pairs AS MATERIALIZED (
      |  SELECT a.vec_id AS i, a.label AS li, b.label AS lj,
      |         list_sum(list_transform(range(1, 65),
      |           idx -> (a.vq[idx] - b.vq[idx]) * (a.vq[idx] - b.vq[idx]))) AS d2q
      |  FROM v a CROSS JOIN v b
      |  WHERE a.vec_id <> b.vec_id),
      |terms AS (
      |  SELECT i, li, lj,
      |         CAST(floor(exp(-(CAST(d2q AS DOUBLE) / 1e6 / 128.0)) * 1e12) AS BIGINT) AS w
      |  FROM pairs),
      |per_anchor AS (
      |  SELECT i,
      |         CAST(floor((ln(CAST(w_all AS DOUBLE)) - ln(CAST(w_same AS DOUBLE))) * 1e6) AS BIGINT)
      |           AS loss_uq
      |  FROM (
      |    SELECT i, CAST(sum(CASE WHEN lj = li THEN w ELSE 0 END) AS BIGINT) AS w_same,
      |           CAST(sum(w) AS BIGINT) AS w_all
      |    FROM terms GROUP BY i) t
      |  WHERE w_same > 0 AND w_all > 0)
      |SELECT CAST(count(*) AS BIGINT) AS n_anchors,
      |       round(CAST(sum(loss_uq) AS DOUBLE) / 1e6 / count(*), 6) AS soft_nn_loss
      |FROM per_anchor""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-turning-points", dqTurningPoints, dqTurningPointsSql),
    Key("layout-delta-varint-size", layoutDeltaVarintSize, layoutDeltaVarintSizeSql),
    Key("emb-soft-nn-loss", embSoftNnLoss, embSoftNnLossSql))
}
