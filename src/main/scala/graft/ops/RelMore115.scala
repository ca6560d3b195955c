package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch P: grid-blocked spatial self-join, grouping_id cube,
  * intraclass correlation / design effect, sequential Poisson πps
  * sample. */
object RelMore115 extends KeyModule {

  private def mdB(key: String, pos: Int): Column =
    (expr(s"instr('0123456789abcdef', substring(md5(CAST($key AS STRING)), ${2 * pos - 1}, 1))") - 1) * 16 +
      (expr(s"instr('0123456789abcdef', substring(md5(CAST($key AS STRING)), ${2 * pos}, 1))") - 1)

  /** join-geo-grid-pairs — proximity self-join done the way it
    * scales: customers (synthetic md5 coordinates, the join-geo-knn
    * convention) are bucketed into a 10°×10° grid, candidate pairs
    * are generated ONLY within a cell and between each cell and its
    * 8 neighbors (each point also emits into the neighbor cells —
    * replicate-right, the standard grid-blocking trick that keeps
    * every true pair in exactly one candidate cell), and the ≤300 km
    * haversine filter runs on candidates alone — |pairs| collapses
    * from n²/2 to Σ|cell|·|neighborhood|. Output: per-latitude-band
    * counts of close pairs and the candidate:confirmed ratio (the
    * pruning honesty metric). Pair identity (a<b) prevents dupes;
    * all counts exact; distances are identical double expressions.
    * The synthetic geography treats longitude as a bounded strip —
    * antimeridian wrap is deliberately NOT neighbored (stated), the
    * same convention in both engines. */
  val joinGeoGridPairs: Q = (s, d) => {
    val cust = customer(s, d).select(col("c_custkey").as("ck"),
      (mdB("c_custkey", 1).cast(DoubleType) * lit(140.0) / 255 - 70).as("lat"),
      (mdB("c_custkey", 2).cast(DoubleType) * lit(360.0) / 255 - 180).as("lon"))
      .withColumn("gx", floor(col("lat") / 10).cast(IntegerType))
      .withColumn("gy", floor(col("lon") / 10).cast(IntegerType))
      .sharedCache()
    // right side replicated into the 3x3 neighborhood of its own cell
    val repl = cust.select(col("ck").as("bk"), col("lat").as("blat"),
      col("lon").as("blon"), col("gx").as("bgx"), col("gy").as("bgy"))
      .select(col("bk"), col("blat"), col("blon"),
        explode(expr("array(-1, 0, 1)")).as("dx"), col("bgx"), col("bgy"))
      .select(col("bk"), col("blat"), col("blon"), (col("bgx") + col("dx")).as("gx"),
        col("bgy"), col("dx"))
      .select(col("bk"), col("blat"), col("blon"), col("gx"),
        explode(expr("array(-1, 0, 1)")).as("dy"), col("bgy"))
      .select(col("bk"), col("blat"), col("blon"), col("gx"),
        (col("bgy") + col("dy")).as("gy"))
    val cand = cust.join(repl, Seq("gx", "gy"))
      .filter(col("ck") < col("bk"))
      .sharedCache()
    val close = cand
      // r14 opt: conservative latitude gate before the 6-trig-op
      // haversine (guide §1.2 per-task work): the haversine's first
      // term alone gives dist ≥ R·|Δφ| = 111.1949 km/°·|Δlat|, so
      // |Δlat| > 2.698° forces dist > 300.003 km — the gate drops only
      // pairs the ≤300 km filter would drop, with one abs() instead of
      // six trig calls on the bulk of the candidate grid. n_candidates
      // is counted on the ungated frame, unchanged.
      .filter(abs(col("blat") - col("lat")) <= 2.698)
      .withColumn("dist_km", lit(2.0) * lit(6371.0) * asin(sqrt(
        pow(sin(radians(col("blat") - col("lat")) / 2), 2) +
          cos(radians(col("lat"))) * cos(radians(col("blat"))) *
            pow(sin(radians(col("blon") - col("lon")) / 2), 2))))
      .filter(col("dist_km") <= 300)
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    close.groupBy(col("gx").as("lat_band"))
      .agg(count(lit(1)).as("n_close_pairs"))
      .crossJoin(broadcast(nCand))
      .select(col("lat_band").cast(LongType).as("lat_band"), col("n_close_pairs"),
        col("n_candidates"))
      .orderBy("lat_band")
  }

  val joinGeoGridPairsSql: String =
    """WITH cust AS MATERIALIZED (
      |  SELECT c_custkey AS ck,
      |         ((strpos('0123456789abcdef', substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1)) - 1) * 16 +
      |          (strpos('0123456789abcdef', substring(md5(CAST(c_custkey AS VARCHAR)), 2, 1)) - 1))
      |           * 140.0 / 255 - 70 AS lat,
      |         ((strpos('0123456789abcdef', substring(md5(CAST(c_custkey AS VARCHAR)), 3, 1)) - 1) * 16 +
      |          (strpos('0123456789abcdef', substring(md5(CAST(c_custkey AS VARCHAR)), 4, 1)) - 1))
      |           * 360.0 / 255 - 180 AS lon
      |  FROM customer),
      |cust_g AS MATERIALIZED (
      |  SELECT ck, lat, lon,
      |         CAST(floor(lat / 10) AS INTEGER) AS gx,
      |         CAST(floor(lon / 10) AS INTEGER) AS gy
      |  FROM cust),
      |repl AS MATERIALIZED (
      |  SELECT ck AS bk, lat AS blat, lon AS blon,
      |         gx + dx.dx AS gx, gy + dy.dy AS gy
      |  FROM cust_g
      |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) dx
      |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) dy),
      |cand AS MATERIALIZED (
      |  SELECT a.ck, a.lat, a.lon, r.bk, r.blat, r.blon, a.gx
      |  FROM cust_g a JOIN repl r USING (gx, gy)
      |  WHERE a.ck < r.bk),
      |n_cand AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
      |close_p AS (
      |  SELECT gx AS lat_band FROM cand
      |  WHERE 2.0 * 6371.0 * asin(sqrt(
      |          pow(sin(radians(blat - lat) / 2), 2) +
      |          cos(radians(lat)) * cos(radians(blat)) *
      |          pow(sin(radians(blon - lon) / 2), 2))) <= 300)
      |SELECT CAST(lat_band AS BIGINT) AS lat_band,
      |       CAST(count(*) AS BIGINT) AS n_close_pairs, n_candidates
      |FROM close_p CROSS JOIN n_cand
      |GROUP BY 1, n_candidates
      |ORDER BY 1""".stripMargin

  /** sql-grouping-id — the GROUPING_ID lattice surface: one CUBE over
    * (market segment, order priority) where each output row carries
    * gid = 2·grouping(seg) + grouping(prio), the bitmask BI tools use
    * to route subtotal rows — the part of the CUBE contract
    * agg-cube's value-compare alone doesn't pin down. NULL grouping
    * keys are coalesced to sentinels so the "real NULL vs subtotal
    * NULL" ambiguity (the classic CUBE bug) is demonstrably resolved
    * by gid, not by guessing. Counts and cent sums exact; one
    * aggregation, 36 rows. */
  val sqlGroupingId: Q = (s, d) => {
    val j = orders(s, d).join(customer(s, d), col("o_custkey") === col("c_custkey"))
    j.createOrReplaceTempView("gid_src")
    s.sql(
      """SELECT coalesce(c_mktsegment, '(all)') AS seg,
        |       coalesce(o_orderpriority, '(all)') AS prio,
        |       CAST(grouping(c_mktsegment) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
        |       count(*) AS n,
        |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |FROM gid_src
        |GROUP BY CUBE (c_mktsegment, o_orderpriority)
        |ORDER BY gid, seg, prio""".stripMargin)
  }

  val sqlGroupingIdSql: String =
    """SELECT coalesce(c_mktsegment, '(all)') AS seg,
      |       coalesce(o_orderpriority, '(all)') AS prio,
      |       CAST(grouping(c_mktsegment) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY CUBE (c_mktsegment, o_orderpriority)
      |ORDER BY gid, seg, prio""".stripMargin

  /** agg-icc-design-effect — intraclass correlation of order values
    * within customers (one-way random-effects ANOVA estimator:
    * ICC = (MSB−MSW)/(MSB+(k₀−1)·MSW) with the standard unbalanced
    * k₀ = (N−Σnᵢ²/N)/(a−1)) and the Kish design effect
    * DEFF = 1+(m̄−1)·ICC: the number that says how much "sampling
    * customers then using all their orders" inflates variance versus
    * simple random sampling — the bridge between the sample-* family
    * and honest confidence intervals at 100 TB (cluster sampling with
    * ICC>0 can make a billion rows worth only thousands). MSB/MSW
    * derive from exact per-customer integer sums (cents,
    * DECIMAL(38,0); the between-group Σsᵢ²/nᵢ is kept exact by
    * truncating integer division per customer — identical in both
    * engines — so no partition-order float summation exists); one customer-keyed rollup is the only data-sized
    * work. */
  val aggIccDesignEffect: Q = (s, d) => {
    val per = orders(s, d)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("ni"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("si"),
        sum(expr("CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS DECIMAL(38,0)) * " +
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("ssi"))
    val sums = per.agg(count(lit(1)).as("a"), sum("ni").as("nn"),
      sum(expr("CAST(ni AS DECIMAL(38,0)) * ni")).as("sn2"),
      sum(expr("CAST(si AS DECIMAL(38,0))")).as("st"),
      sum(expr("CAST(ssi AS DECIMAL(38,0))")).as("sst"),
      sum(expr("CAST((CAST(si AS DECIMAL(38,0)) * si) div ni AS DECIMAL(38,0))")).as("sbgq"))
    sums.select(col("a").cast(DoubleType).as("a"), col("a").as("a_l"),
      col("nn").cast(DoubleType).as("n"), col("nn"),
      col("sn2").cast(DoubleType).as("sn2"), col("st").cast(DoubleType).as("st"),
      col("sst").cast(DoubleType).as("sst"), col("sbgq").cast(DoubleType).as("sbg"))
      .withColumn("ssb", col("sbg") - col("st") * col("st") / col("n"))
      .withColumn("ssw", col("sst") - col("sbg"))
      .withColumn("msb", col("ssb") / (col("a") - 1))
      .withColumn("msw", col("ssw") / (col("n") - col("a")))
      .withColumn("k0", (col("n") - col("sn2") / col("n")) / (col("a") - 1))
      .withColumn("icc", (col("msb") - col("msw")) /
        (col("msb") + (col("k0") - 1) * col("msw")))
      .select(col("a_l").cast(LongType).as("n_customers"),
        col("nn").cast(LongType).as("n_orders"),
        round(col("k0"), 4).as("k0"),
        round(col("icc"), 6).as("icc"),
        round(lit(1.0) + (col("n") / col("a") - 1) * col("icc"), 4).as("deff_kish"))
  }

  val aggIccDesignEffectSql: String =
    """WITH per AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS ni,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS si,
      |         CAST(sum(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT) *
      |                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS HUGEINT) AS ssi
      |  FROM orders GROUP BY 1),
      |sums AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS a, CAST(count(*) AS BIGINT) AS a_l,
      |         CAST(sum(ni) AS DOUBLE) AS n, CAST(sum(ni) AS BIGINT) AS nn,
      |         CAST(sum(CAST(ni AS HUGEINT) * ni) AS DOUBLE) AS sn2,
      |         CAST(sum(CAST(si AS HUGEINT)) AS DOUBLE) AS st,
      |         CAST(sum(ssi) AS DOUBLE) AS sst,
      |         CAST(sum(CAST(si AS HUGEINT) * si // ni) AS DOUBLE) AS sbg
      |  FROM per),
      |fit AS (
      |  SELECT a_l, nn, n, a, k0, icc FROM (
      |    SELECT a_l, nn, n, a,
      |           (n - sn2 / n) / (a - 1) AS k0,
      |           (msb - msw) / (msb + ((n - sn2 / n) / (a - 1) - 1) * msw) AS icc
      |    FROM (
      |      SELECT a_l, nn, n, a, sn2,
      |             (sbg - st * st / n) / (a - 1) AS msb,
      |             (sst - sbg) / (n - a) AS msw
      |      FROM sums) t1) t2)
      |SELECT a_l AS n_customers, nn AS n_orders,
      |       round(k0, 4) AS k0, round(icc, 6) AS icc,
      |       round(1.0 + (n / a - 1) * icc, 4) AS deff_kish
      |FROM fit""".stripMargin

  /** sample-sequential-poisson — Ohlsson's sequential Poisson πps
    * sample of n = 100 orders with inclusion probability proportional
    * to order value: priority ξᵢ = uᵢ/pᵢ (uᵢ = md5-uniform of the
    * order key, pᵢ = value share), keep the n smallest priorities.
    * This is the WOR πps design that ships with a FIXED sample size
    * (plain sample-poisson-ht's size is random) while staying
    * one-pass and coordination-free — at 100 TB the top-n-by-priority
    * is a per-partition heap then a tiny merge, never a global sort
    * of facts. The audit row grades the estimator where truth is
    * known: the Hansen-Hurwitz-style weighted total Σ(vᵢ/pᵢ)/n over
    * the sample vs the exact population total, with the relative
    * error floor-quantized. Priorities are exact rationals compared
    * via integer cross-multiplication (uᵢ·V vs not needed — ξ order ≡
    * order of uᵢ·V/vᵢ, compared as exact u/v ratios through one
    * identical double each, tie-broken by key). */
  val sampleSequentialPoisson: Q = (s, d) => {
    val n = 100
    val o = orders(s, d).select(col("o_orderkey"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"),
      expr("((instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 1, 1)) - 1) * 1048576 + " +
        "(instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 2, 1)) - 1) * 65536 + " +
        "(instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 3, 1)) - 1) * 4096 + " +
        "(instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 4, 1)) - 1) * 256 + " +
        "(instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 5, 1)) - 1) * 16 + " +
        "(instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 6, 1)) - 1))").as("u24"))
      .sharedCache()
    val tot = o.agg(sum(expr("CAST(v AS DECIMAL(38,0))")).as("vt"), count(lit(1)).as("np"))
    val sample = o.crossJoin(broadcast(tot))
      // ξ = (u/2^24) / (v/V) as one identical double per row; top-n by
      // sort+limit = Spark's TakeOrderedAndProject (per-partition heap
      // then a tiny merge — no global sort materializes)
      .withColumn("xi", (col("u24").cast(DoubleType) / lit(16777216.0)) /
        (col("v").cast(DoubleType) / col("vt").cast(DoubleType)))
      .orderBy(col("xi"), col("o_orderkey"))
      .limit(n)
    sample
      // HH term v/p = V (constant!) — so estimate Σ(v/p)/n = V; grade
      // instead the πps-weighted COUNT estimator Σ(1/p)/n vs N. 1/p
      // terms are micro-quantized by exact integer division so the
      // 100-term fold is partition-order-proof.
      .select(col("vt"), col("np"),
        expr("(vt * 1000000) div v").as("invpq"))
      .groupBy("vt", "np")
      .agg(count(lit(1)).as("n_sample"), sum("invpq").as("nhat_q"))
      .select(col("n_sample"),
        col("np").as("n_population"),
        round(col("nhat_q").cast(DoubleType) / 1e6 / col("n_sample"), 2).as("n_hat_pps"),
        round(abs(col("nhat_q").cast(DoubleType) / 1e6 / col("n_sample") -
          col("np").cast(DoubleType)) / col("np").cast(DoubleType), 4).as("rel_err"))
  }

  val sampleSequentialPoissonSql: String =
    """WITH o AS MATERIALIZED (
      |  SELECT o_orderkey,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |         (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 1048576 +
      |         (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1) * 65536 +
      |         (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 3, 1)) - 1) * 4096 +
      |         (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 4, 1)) - 1) * 256 +
      |         (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 5, 1)) - 1) * 16 +
      |         (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 6, 1)) - 1) AS u24
      |  FROM orders),
      |tot AS (SELECT CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS vt,
      |               CAST(count(*) AS BIGINT) AS np FROM o),
      |sample AS (
      |  SELECT v, vt, np FROM (
      |    SELECT v, vt, np,
      |           row_number() OVER (ORDER BY
      |             (CAST(u24 AS DOUBLE) / 16777216.0) /
      |             (CAST(v AS DOUBLE) / CAST(vt AS DOUBLE)), o_orderkey) AS rn
      |    FROM o CROSS JOIN tot) t
      |  WHERE rn <= 100)
      |SELECT CAST(count(*) AS BIGINT) AS n_sample, np AS n_population,
      |       round(CAST(sum((vt * 1000000) // v) AS DOUBLE) / 1e6 / count(*), 2) AS n_hat_pps,
      |       round(abs(CAST(sum((vt * 1000000) // v) AS DOUBLE) / 1e6 / count(*) - CAST(np AS DOUBLE))
      |             / CAST(np AS DOUBLE), 4) AS rel_err
      |FROM sample
      |GROUP BY np""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("join-geo-grid-pairs", joinGeoGridPairs, joinGeoGridPairsSql),
    Key("sql-grouping-id", sqlGroupingId, sqlGroupingIdSql),
    Key("agg-icc-design-effect", aggIccDesignEffect, aggIccDesignEffectSql),
    Key("sample-sequential-poisson", sampleSequentialPoisson, sampleSequentialPoissonSql))
}
