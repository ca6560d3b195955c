package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._
import graft.functions.PrefixScan

/** Round-8 batch N: closed-form ZCA whitening, a Count-Min sketch
  * with measured overestimation, HDR-style log-bucketed quantiles
  * graded against exact ranks, and the bucketed band join. */
object RelMore178 extends KeyModule {

  /** emb-zca-whitening — ZCA whitening of the first two embedding
    * coordinates with the closed-form 2×2 inverse square root:
    * C^{1/2} = (C + √det·I)/√(tr + 2√det), inverted by adjugate. The
    * data pass is ONE exact integer moment aggregate (micro-quantized
    * coordinates, map-side combine); everything after is scalar
    * algebra on the driver-free 1-row frame, so the op is
    * order-independent at any corpus size — no per-point double sums
    * whose rounding depends on partitioning. Emits W, the analytic
    * post-whitening covariance W·C·W (≈ identity — the correctness
    * certificate), and the whitened coordinates of vec 0. */
  val embZcaWhitening: Q = (s, d) => {
    val src = embeddings(s, d).select(col("vec_id"),
      expr("CAST(floor(CAST(embedding[0] AS DOUBLE) * 1e6) AS BIGINT)").as("xq"),
      expr("CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT)").as("yq"))
    val m = src.agg(count(lit(1)).as("n"),
      sum("xq").as("sx"), sum("yq").as("sy"),
      sum(col("xq").cast(DecimalType(38, 0)) * col("xq")).as("sxx"),
      sum(col("yq").cast(DecimalType(38, 0)) * col("yq")).as("syy"),
      sum(col("xq").cast(DecimalType(38, 0)) * col("yq")).as("sxy"),
      min(when(col("vec_id") === 0L, col("xq"))).as("x0"),
      min(when(col("vec_id") === 0L, col("yq"))).as("y0"))
    val nn = col("n").cast(DoubleType)
    val cov = m.select(col("n"),
        ((nn * col("sxx").cast(DoubleType) -
          col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) /
          (nn * nn * lit(1e12))).as("cxx"),
        ((nn * col("syy").cast(DoubleType) -
          col("sy").cast(DoubleType) * col("sy").cast(DoubleType)) /
          (nn * nn * lit(1e12))).as("cyy"),
        ((nn * col("sxy").cast(DoubleType) -
          col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
          (nn * nn * lit(1e12))).as("cxy"),
        (col("x0").cast(DoubleType) / 1e6 -
          col("sx").cast(DoubleType) / (nn * lit(1e6))).as("dx0"),
        (col("y0").cast(DoubleType) / 1e6 -
          col("sy").cast(DoubleType) / (nn * lit(1e6))).as("dy0"))
      .withColumn("det", col("cxx") * col("cyy") - col("cxy") * col("cxy"))
      .withColumn("sdet", sqrt(col("det")))
      .withColumn("den", sqrt(col("cxx") + col("cyy") + lit(2.0) * col("sdet")))
      // S = C^{1/2}; W = S^{-1} = adj(S)/det(S), det(S) = sdet
      .withColumn("s11", (col("cxx") + col("sdet")) / col("den"))
      .withColumn("s22", (col("cyy") + col("sdet")) / col("den"))
      .withColumn("s12", col("cxy") / col("den"))
      .withColumn("w11", col("s22") / col("sdet"))
      .withColumn("w22", col("s11") / col("sdet"))
      .withColumn("w12", -col("s12") / col("sdet"))
    cov.select(col("n"),
      round(col("cxx"), 6).as("cov_xx"), round(col("cxy"), 6).as("cov_xy"),
      round(col("cyy"), 6).as("cov_yy"),
      round(col("w11"), 4).as("w11"), round(col("w12"), 4).as("w12"),
      round(col("w22"), 4).as("w22"),
      // W·C·W — identity up to float rounding, the op's certificate
      round((col("w11") * col("cxx") + col("w12") * col("cxy")) * col("w11") +
        (col("w11") * col("cxy") + col("w12") * col("cyy")) * col("w12"), 4)
        .as("post_xx"),
      round((col("w11") * col("cxx") + col("w12") * col("cxy")) * col("w12") +
        (col("w11") * col("cxy") + col("w12") * col("cyy")) * col("w22"), 4)
        .as("post_xy"),
      round((col("w12") * col("cxx") + col("w22") * col("cxy")) * col("w12") +
        (col("w12") * col("cxy") + col("w22") * col("cyy")) * col("w22"), 4)
        .as("post_yy"),
      round(col("w11") * col("dx0") + col("w12") * col("dy0"), 4).as("vec0_wx"),
      round(col("w12") * col("dx0") + col("w22") * col("dy0"), 4).as("vec0_wy"))
  }

  val embZcaWhiteningSql: String =
    """WITH src AS (
      |  SELECT vec_id,
      |         CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT) AS xq,
      |         CAST(floor(CAST(embedding[2] AS DOUBLE) * 1e6) AS BIGINT) AS yq
      |  FROM embeddings),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(xq) AS HUGEINT) AS sx, CAST(sum(yq) AS HUGEINT) AS sy,
      |         CAST(sum(CAST(xq AS HUGEINT) * xq) AS HUGEINT) AS sxx,
      |         CAST(sum(CAST(yq AS HUGEINT) * yq) AS HUGEINT) AS syy,
      |         CAST(sum(CAST(xq AS HUGEINT) * yq) AS HUGEINT) AS sxy,
      |         min(CASE WHEN vec_id = 0 THEN xq END) AS x0,
      |         min(CASE WHEN vec_id = 0 THEN yq END) AS y0
      |  FROM src),
      |cov AS (
      |  SELECT n,
      |         (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |          CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
      |           (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12) AS cxx,
      |         (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
      |          CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |           (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12) AS cyy,
      |         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |          CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |           (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12) AS cxy,
      |         CAST(x0 AS DOUBLE) / 1e6 -
      |           CAST(sx AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS dx0,
      |         CAST(y0 AS DOUBLE) / 1e6 -
      |           CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS dy0
      |  FROM m),
      |w AS (
      |  SELECT n, cxx, cyy, cxy, dx0, dy0,
      |         (cyy + sqrt(cxx * cyy - cxy * cxy)) /
      |           sqrt(cxx + cyy + 2.0 * sqrt(cxx * cyy - cxy * cxy)) /
      |           sqrt(cxx * cyy - cxy * cxy) AS w11,
      |         -(cxy /
      |           sqrt(cxx + cyy + 2.0 * sqrt(cxx * cyy - cxy * cxy))) /
      |           sqrt(cxx * cyy - cxy * cxy) AS w12,
      |         (cxx + sqrt(cxx * cyy - cxy * cxy)) /
      |           sqrt(cxx + cyy + 2.0 * sqrt(cxx * cyy - cxy * cxy)) /
      |           sqrt(cxx * cyy - cxy * cxy) AS w22
      |  FROM cov)
      |SELECT n, round(cxx, 6) AS cov_xx, round(cxy, 6) AS cov_xy,
      |       round(cyy, 6) AS cov_yy,
      |       round(w11, 4) AS w11, round(w12, 4) AS w12, round(w22, 4) AS w22,
      |       round((w11 * cxx + w12 * cxy) * w11 +
      |             (w11 * cxy + w12 * cyy) * w12, 4) AS post_xx,
      |       round((w11 * cxx + w12 * cxy) * w12 +
      |             (w11 * cxy + w12 * cyy) * w22, 4) AS post_xy,
      |       round((w12 * cxx + w22 * cxy) * w12 +
      |             (w12 * cxy + w22 * cyy) * w22, 4) AS post_yy,
      |       round(w11 * dx0 + w12 * dy0, 4) AS vec0_wx,
      |       round(w12 * dx0 + w22 * dy0, 4) AS vec0_wy
      |FROM w""".stripMargin

  /** agg-countmin-measured — Count-Min sketch (d=4 rows × w=256
    * counters, independent md5-salted hashes) over order custkeys,
    * graded on the exact top-10 heavy hitters: the estimate is
    * min_j counter[j][h_j(k)], NEVER below the truth (counters only
    * add), and the op reports each hitter's measured overestimate
    * against the ε=e/w ≈ 1.1% of-total-mass bound. Counters are a
    * 1,024-row map-side aggregate regardless of fact size; the probe
    * joins the broadcast counter table. Sketches with a measured
    * error column, not a vibes-based one. The d=4 lanes come from ONE
    * md5 per key sliced into four disjoint 8-hex (32-bit) windows —
    * the SCALING.md "one md5 = many uniforms" recipe — computed
    * BEFORE the ×4 explode, so the fact pass pays one hash, not
    * four. */
  val aggCountminMeasured: Q = (s, d) => {
    val keyed = orders(s, d).select(col("o_custkey").cast(LongType).as("k"))
    val laneB =
      "CAST(conv(substring(h, j * 8 + 1, 8), 16, 10) AS BIGINT) % 256"
    val hashed = keyed
      .withColumn("h", expr("md5(CAST(k AS STRING))"))
      .select(col("k"), col("h"), explode(expr("sequence(0, 3)")).as("j"))
      .withColumn("b", expr(laneB))
    val counters = hashed.groupBy("j", "b").agg(count(lit(1)).as("cnt"))
    val heavy = keyed.groupBy("k").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("k")).limit(10)
    val probes = heavy
      .withColumn("h", expr("md5(CAST(k AS STRING))"))
      .select(col("k"), col("exact_n"), col("h"),
        explode(expr("sequence(0, 3)")).as("j"))
      .withColumn("b", expr(laneB))
      .join(broadcast(counters), Seq("j", "b"))
      .groupBy("k", "exact_n").agg(min("cnt").as("cms_n"))
    probes
      .select(col("k").as("custkey"), col("exact_n"), col("cms_n"),
        (col("cms_n") - col("exact_n")).as("overestimate"),
        round((col("cms_n") - col("exact_n")).cast(DoubleType) * 100 /
          col("exact_n"), 2).as("over_pct"))
      .orderBy(col("exact_n").desc, col("custkey"))
  }

  val aggCountminMeasuredSql: String =
    """WITH keyed AS (SELECT CAST(o_custkey AS BIGINT) AS k FROM orders),
      |hashed AS (
      |  SELECT k, j,
      |         CAST(('0x' || substring(md5(CAST(k AS VARCHAR)),
      |           j * 8 + 1, 8))::BIGINT AS BIGINT) % 256 AS b
      |  FROM keyed CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) u),
      |counters AS (
      |  SELECT j, b, CAST(count(*) AS BIGINT) AS cnt FROM hashed GROUP BY 1, 2),
      |heavy AS (
      |  SELECT k, CAST(count(*) AS BIGINT) AS exact_n FROM keyed GROUP BY 1
      |  ORDER BY exact_n DESC, k LIMIT 10),
      |probes AS (
      |  SELECT h.k, h.exact_n, min(c.cnt) AS cms_n
      |  FROM (SELECT k, exact_n, j,
      |               CAST(('0x' || substring(md5(CAST(k AS VARCHAR)),
      |                 j * 8 + 1, 8))::BIGINT AS BIGINT) % 256 AS b
      |        FROM heavy CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) u) h
      |  JOIN counters c ON h.j = c.j AND h.b = c.b
      |  GROUP BY 1, 2)
      |SELECT k AS custkey, exact_n, cms_n,
      |       cms_n - exact_n AS overestimate,
      |       round(CAST(cms_n - exact_n AS DOUBLE) * 100 / exact_n, 2) AS over_pct
      |FROM probes ORDER BY exact_n DESC, custkey""".stripMargin

  /** agg-hdr-histogram — HDR-style log-bucketed quantiles with a
    * measured error column: order totals (cents) bucket by
    * (bit_length−1, next-5-bits), i.e. 32 sub-buckets per octave ⇒ a
    * ≤3.125% relative-error guarantee, all in exact integer bit
    * arithmetic (the exponent is `length(bin(v))−1`, no float log).
    * The histogram is ≤ ~1,000 rows from one map-side combine at ANY
    * fact size; exact nearest-rank percentiles come from a
    * PrefixScan cumsum over the value histogram (no single-partition
    * fact window), and the op grades the HDR lower bound against
    * them at p50/p90/p99. */
  val aggHdrHistogram: Q = (s, d) => {
    val vals = orders(s, d).select(
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"))
    // value-domain histogram → PrefixScan for exact nearest-rank cums
    val hist = vals.groupBy("v").agg(count(lit(1)).as("cnt"))
    val sc = PrefixScan.withRankCumSum(
      hist.select(col("v"), col("cnt").cast(LongType).as("cnt")),
      Seq(col("v")), Some("cnt"))
    val n = sc.total
    def target(p: Int): Long = (p.toLong * n + 99L) / 100L // ceil(p*n/100)
    val exact = sc.df.agg(
      min(when(col("cum") >= target(50), col("v"))).as("ex50"),
      min(when(col("cum") >= target(90), col("v"))).as("ex90"),
      min(when(col("cum") >= target(99), col("v"))).as("ex99"))
    // HDR buckets from the same value histogram (map-side, bounded)
    val hdr = hist
      .withColumn("e", (length(expr("bin(v)")) - 1).cast(IntegerType))
      .withColumn("sub", expr(
        "CAST(shiftright(v, CAST(greatest(e - 5, 0) AS INT)) % 32 AS INT)"))
      .withColumn("lb", expr(
        "CASE WHEN e < 5 THEN v " +
          "ELSE shiftleft(CAST(32 + sub AS BIGINT), CAST(e - 5 AS INT)) END"))
      .groupBy("e", "sub", "lb").agg(sum("cnt").cast(LongType).as("cnt"))
    val hsc = PrefixScan.withRankCumSum(
      hdr.select(col("lb"), col("cnt")), Seq(col("lb")), Some("cnt"))
    val est = hsc.df.agg(
      min(when(col("cum") >= target(50), col("lb"))).as("h50"),
      min(when(col("cum") >= target(90), col("lb"))).as("h90"),
      min(when(col("cum") >= target(99), col("lb"))).as("h99"),
      count(lit(1)).as("n_buckets"))
    exact.crossJoin(est)
      .select(lit(n).as("n_orders"), col("n_buckets"),
        explode(array(
          struct(lit(50).as("pct"), col("ex50").as("exact_cents"),
            col("h50").as("hdr_lower_cents")),
          struct(lit(90).as("pct"), col("ex90").as("exact_cents"),
            col("h90").as("hdr_lower_cents")),
          struct(lit(99).as("pct"), col("ex99").as("exact_cents"),
            col("h99").as("hdr_lower_cents")))).as("r"))
      .select(col("n_orders"), col("n_buckets"), col("r.pct").as("pct"),
        col("r.exact_cents").as("exact_cents"),
        col("r.hdr_lower_cents").as("hdr_lower_cents"),
        round((col("r.exact_cents") - col("r.hdr_lower_cents")).cast(DoubleType) *
          100 / col("r.exact_cents"), 3).as("rel_err_pct"))
      .orderBy("pct")
  }

  val aggHdrHistogramSql: String =
    """WITH vals AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM orders),
      |hist AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM vals GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
      |cums AS (
      |  SELECT v, sum(cnt) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hist),
      |ex AS (
      |  SELECT min(CASE WHEN cum >= (50 * n + 99) // 100 THEN v END) AS ex50,
      |         min(CASE WHEN cum >= (90 * n + 99) // 100 THEN v END) AS ex90,
      |         min(CASE WHEN cum >= (99 * n + 99) // 100 THEN v END) AS ex99
      |  FROM cums CROSS JOIN tot),
      |hdr0 AS (
      |  SELECT length(bin(v)) - 1 AS e,
      |         CAST((v >> CAST(greatest(length(bin(v)) - 1 - 5, 0) AS INTEGER)) % 32
      |              AS INTEGER) AS sub,
      |         v, cnt
      |  FROM hist),
      |hdr AS (
      |  SELECT e, sub,
      |         CASE WHEN e < 5 THEN min(v)
      |              ELSE CAST(32 + sub AS BIGINT) << CAST(e - 5 AS INTEGER) END AS lb,
      |         CAST(sum(cnt) AS BIGINT) AS cnt
      |  FROM hdr0 GROUP BY e, sub),
      |hcum AS (
      |  SELECT lb, sum(cnt) OVER (ORDER BY lb
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hdr),
      |est AS (
      |  SELECT min(CASE WHEN cum >= (50 * n + 99) // 100 THEN lb END) AS h50,
      |         min(CASE WHEN cum >= (90 * n + 99) // 100 THEN lb END) AS h90,
      |         min(CASE WHEN cum >= (99 * n + 99) // 100 THEN lb END) AS h99,
      |         CAST(count(*) AS BIGINT) AS n_buckets
      |  FROM hcum CROSS JOIN tot),
      |rows_ AS (
      |  SELECT n, n_buckets, 50 AS pct, ex50 AS exact_cents, h50 AS hdr_lower_cents
      |  FROM ex CROSS JOIN est CROSS JOIN tot
      |  UNION ALL
      |  SELECT n, n_buckets, 90, ex90, h90 FROM ex CROSS JOIN est CROSS JOIN tot
      |  UNION ALL
      |  SELECT n, n_buckets, 99, ex99, h99 FROM ex CROSS JOIN est CROSS JOIN tot)
      |SELECT n AS n_orders, n_buckets, pct, exact_cents, hdr_lower_cents,
      |       round(CAST(exact_cents - hdr_lower_cents AS DOUBLE) * 100 /
      |             CAST(exact_cents AS DOUBLE), 3) AS rel_err_pct
      |FROM rows_ ORDER BY pct""".stripMargin

  /** join-band — the band join |price_i − price_j| ≤ $1 within a
    * brand, WITHOUT the quadratic theta join: each part lands in a
    * $1-wide bucket, the right side explodes to its three adjacent
    * buckets, and a plain shuffled EQUI-join on (brand, bucket)
    * generates candidates bounded by local bucket density — the
    * standard rewrite that turns an O(n²) range predicate into a
    * hash join. Each unordered pair surfaces exactly once (the right
    * row's three exploded buckets are distinct; pk1 < pk2 halves).
    * Candidate and matched counts are both reported — the ratio IS
    * the op's efficiency certificate. */
  val joinBand: Q = (s, d) => {
    val src = part(s, d).select(col("p_partkey").cast(LongType).as("pk"),
      col("p_brand").as("brand"),
      expr("CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"))
    val left = src.select(col("pk").as("pk1"), col("brand"), col("c").as("c1"),
      expr("c DIV 100").as("bk"))
    val right = src.select(col("pk").as("pk2"), col("brand"), col("c").as("c2"),
        explode(expr("array(c DIV 100 - 1, c DIV 100, c DIV 100 + 1)")).as("bk"))
    val cand = left.join(right, Seq("brand", "bk"))
      .filter(col("pk1") < col("pk2"))
    val flagged = cand.withColumn("hit",
      (abs(col("c1") - col("c2")) <= 100L).cast(IntegerType))
    val perBrand = flagged.groupBy("brand").agg(
      sum("hit").cast(LongType).as("pairs"),
      count(lit(1)).as("cands"),
      sum(when(col("hit") === 1, abs(col("c1") - col("c2"))).otherwise(0L)).as("gap"))
    perBrand.agg(
        sum("pairs").cast(LongType).as("n_pairs"),
        sum("cands").cast(LongType).as("n_candidates"),
        sum(when(col("pairs") > 0L, 1L).otherwise(0L)).cast(LongType)
          .as("n_brands_with_pairs"),
        max("pairs").cast(LongType).as("max_pairs_one_brand"),
        when(sum("pairs") > 0L, sum("gap").cast(DoubleType) /
          sum("pairs").cast(DoubleType)).otherwise(lit(-1.0)).as("avg_gap"))
      .select(col("n_pairs"), col("n_candidates"), col("n_brands_with_pairs"),
        col("max_pairs_one_brand"),
        round(col("avg_gap"), 2).as("avg_gap_cents"),
        round(col("n_pairs").cast(DoubleType) * 100 / col("n_candidates"), 2)
          .as("hit_rate_pct"))
  }

  val joinBandSql: String =
    """WITH src AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS pk, p_brand AS brand,
      |         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM part),
      |cand AS (
      |  SELECT l.brand, l.c AS c1, r.c AS c2,
      |         CASE WHEN abs(l.c - r.c) <= 100 THEN 1 ELSE 0 END AS hit
      |  FROM (SELECT pk, brand, c, c // 100 AS bk FROM src) l
      |  JOIN (SELECT pk, brand, c, unnest([c // 100 - 1, c // 100, c // 100 + 1]) AS bk
      |        FROM src) r
      |    ON l.brand = r.brand AND l.bk = r.bk AND l.pk < r.pk),
      |pb AS (
      |  SELECT brand, CAST(sum(hit) AS BIGINT) AS pairs,
      |         CAST(count(*) AS BIGINT) AS cands,
      |         CAST(sum(CASE WHEN hit = 1 THEN abs(c1 - c2) ELSE 0 END) AS BIGINT)
      |           AS gap
      |  FROM cand GROUP BY 1)
      |SELECT CAST(sum(pairs) AS BIGINT) AS n_pairs,
      |       CAST(sum(cands) AS BIGINT) AS n_candidates,
      |       CAST(sum(CASE WHEN pairs > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_brands_with_pairs,
      |       CAST(max(pairs) AS BIGINT) AS max_pairs_one_brand,
      |       round(CASE WHEN sum(pairs) > 0
      |                  THEN CAST(sum(gap) AS DOUBLE) / CAST(sum(pairs) AS DOUBLE)
      |                  ELSE -1.0 END, 2) AS avg_gap_cents,
      |       round(CAST(sum(pairs) AS DOUBLE) * 100 / CAST(sum(cands) AS DOUBLE), 2)
      |         AS hit_rate_pct
      |FROM pb""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("emb-zca-whitening", embZcaWhitening, embZcaWhiteningSql),
    Key("agg-countmin-measured", aggCountminMeasured, aggCountminMeasuredSql),
    Key("agg-hdr-histogram", aggHdrHistogram, aggHdrHistogramSql),
    Key("join-band", joinBand, joinBandSql))
}
