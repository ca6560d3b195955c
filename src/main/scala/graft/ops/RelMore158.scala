package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch BG: instrumental-variable 2SLS, revenue bridge
  * decomposition, embedding cone effect, percent-string casts. */
object RelMore158 extends KeyModule {

  /** agg-iv-2sls — the Wald/2SLS instrumental-variable estimate of
    * the quantity→revenue slope, instrumented by part size:
    * β_IV = Cov(z,y)/Cov(z,x), with the OLS slope and the
    * first-stage F (the weak-instrument gate — F < 10 means the IV
    * cure is worse than the OLS disease) side by side. OLS on
    * observational data eats simultaneity bias; IV is the standard
    * repair, and the OLS-vs-IV spread is the measured size of the
    * endogeneity it corrects. All three covariances come from ONE
    * exact integer moment pass (size, quantity, cents — all
    * lossless); first-stage F is the closed form n·R²/(1−R²)·(n−2)/n
    * from the same moments. */
  val aggIv2sls: Q = (s, d) => {
    val m = lineitem(s, d)
      .join(part(s, d).select(col("p_partkey"), col("p_size")),
        col("l_partkey") === col("p_partkey"))
      .select(expr("CAST(p_size AS DECIMAL(38,0))").as("z"),
        expr("CAST(l_quantity AS DECIMAL(38,0))").as("x"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))").as("y"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("z").as("sz"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("z * z")).as("szz"), sum(expr("x * x")).as("sxx"),
        sum(expr("z * x")).as("szx"), sum(expr("z * y")).as("szy"),
        sum(expr("x * y")).as("sxy"))
    m.select(col("n").cast(LongType).as("n_rows"),
        // OLS: Cov(x,y)/Var(x); IV: Cov(z,y)/Cov(z,x)
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) / 100, 6)
          .as("beta_ols_usd"),
        round((col("n") * col("szy") - col("sz") * col("sy")).cast(DoubleType) /
          (col("n") * col("szx") - col("sz") * col("sx")).cast(DoubleType) / 100, 6)
          .as("beta_iv_usd"),
        // first-stage R² of x on z
        (((col("n") * col("szx") - col("sz") * col("sx")).cast(DoubleType) *
          (col("n") * col("szx") - col("sz") * col("sx")).cast(DoubleType)) /
          ((col("n") * col("szz") - col("sz") * col("sz")).cast(DoubleType) *
            (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType))).as("r2"),
        col("n").cast(DoubleType).as("nd"))
      .select(col("n_rows"), col("beta_ols_usd"), col("beta_iv_usd"),
        round((col("nd") - 2) * col("r2") / (lit(1.0) - col("r2")), 2)
          .as("first_stage_f"))
      .withColumn("instrument_strong", col("first_stage_f") > lit(10.0))
      .withColumn("endogeneity_gap",
        round(col("beta_iv_usd") - col("beta_ols_usd"), 6))
  }

  val aggIv2slsSql: String =
    """WITH m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(z) AS HUGEINT) AS sz, CAST(sum(x) AS HUGEINT) AS sx,
      |         CAST(sum(y) AS HUGEINT) AS sy,
      |         CAST(sum(z * z) AS HUGEINT) AS szz, CAST(sum(x * x) AS HUGEINT) AS sxx,
      |         CAST(sum(z * x) AS HUGEINT) AS szx, CAST(sum(z * y) AS HUGEINT) AS szy,
      |         CAST(sum(x * y) AS HUGEINT) AS sxy
      |  FROM (
      |    SELECT CAST(p_size AS HUGEINT) AS z, CAST(l_quantity AS HUGEINT) AS x,
      |           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS y
      |    FROM lineitem JOIN part ON l_partkey = p_partkey) t),
      |calc AS (
      |  SELECT CAST(n AS BIGINT) AS n_rows,
      |         round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |               CAST(n * sxx - sx * sx AS DOUBLE) / 100, 6) AS beta_ols_usd,
      |         round(CAST(n * szy - sz * sy AS DOUBLE) /
      |               CAST(n * szx - sz * sx AS DOUBLE) / 100, 6) AS beta_iv_usd,
      |         (CAST(n * szx - sz * sx AS DOUBLE) * CAST(n * szx - sz * sx AS DOUBLE)) /
      |           (CAST(n * szz - sz * sz AS DOUBLE) * CAST(n * sxx - sx * sx AS DOUBLE))
      |           AS r2,
      |         CAST(n AS DOUBLE) AS nd
      |  FROM m)
      |SELECT n_rows, beta_ols_usd, beta_iv_usd,
      |       round((nd - 2) * r2 / (1.0 - r2), 2) AS first_stage_f,
      |       round((nd - 2) * r2 / (1.0 - r2), 2) > 10.0 AS instrument_strong,
      |       round(beta_iv_usd - beta_ols_usd, 6) AS endogeneity_gap
      |FROM calc""".stripMargin

  /** agg-revenue-bridge — the year-over-year revenue bridge between
    * the last two complete ship years, decomposed per the standard P&L
    * walk: carried-brand VOLUME effect Σ(q₁−q₀)p₀, PRICE effect
    * Σq₁(p₁−p₀), NEW brands' full revenue, LOST brands' negated
    * revenue — components that sum EXACTLY to the total change
    * (verified by construction: the bridge closes, a property
    * approximate decompositions lose). agg-growth-decomposition
    * splits one series; the bridge attributes the change across an
    * entity SET with entry/exit — the slide every finance review
    * opens with. Brand-year quantities and revenues are exact
    * integers; prices enter only as exact rationals cleared inside
    * each product (q₁·rev₀·…/q₀ floor-quantized identically). */
  val aggRevenueBridge: Q = (s, d) => {
    val by = lineitem(s, d)
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"), year(col("l_shipdate")).as("yr"))
      .agg(sum(expr("CAST(l_quantity AS DECIMAL(38,0))")).as("q"),
        sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
          .as("r"))
      .sharedCache()
    // last two COMPLETE years: the max ship year is partial by
    // construction (shipments trail orders), so step back one
    val y1 = by.agg(max("yr")).head().getInt(0) - 1
    val y0 = y1 - 1
    val a = by.filter(col("yr") === y0).select(col("brand"), col("q").as("q0"),
      col("r").as("r0"))
    val b = by.filter(col("yr") === y1).select(col("brand"), col("q").as("q1"),
      col("r").as("r1"))
    val joined = a.join(b, Seq("brand"), "full_outer").sharedCache()
    val carried = joined.filter(col("q0").isNotNull && col("q1").isNotNull)
      // volume = (q1−q0)·p0 = (q1−q0)·r0/q0 ; price = r1 − q1·p0
      .select(
        expr("CAST(((q1 - q0) * r0 - pmod((q1 - q0) * r0, q0)) / q0 AS DECIMAL(38,0))")
          .as("vol"),
        expr("r1 - CAST((q1 * r0 - pmod(q1 * r0, q0)) / q0 AS DECIMAL(38,0))").as("prc"))
      .agg(sum("vol").as("volume_effect"), sum("prc").as("price_effect"))
    val entries = joined.agg(
      sum(when(col("q0").isNull, col("r1"))).as("new_brands"),
      sum(when(col("q1").isNull, -col("r0"))).as("lost_brands"),
      sum(coalesce(col("r1"), lit(0))).as("rev1"),
      sum(coalesce(col("r0"), lit(0))).as("rev0"))
    carried.crossJoin(broadcast(entries))
      .select(explode(array(
        struct(lit(1).as("component_no"), lit(s"revenue_$y0").as("component"),
          col("rev0").as("a")),
        struct(lit(2).as("component_no"), lit("volume_effect").as("component"),
          col("volume_effect").as("a")),
        struct(lit(3).as("component_no"), lit("price_effect").as("component"),
          col("price_effect").as("a")),
        struct(lit(4).as("component_no"), lit("new_brands").as("component"),
          coalesce(col("new_brands"), lit(0)).cast(DecimalType(38, 0)).as("a")),
        struct(lit(5).as("component_no"), lit("lost_brands").as("component"),
          coalesce(col("lost_brands"), lit(0)).cast(DecimalType(38, 0)).as("a")),
        struct(lit(6).as("component_no"), lit(s"revenue_$y1").as("component"),
          col("rev1").as("a")))).as("c"))
      .select(col("c.component_no"), col("c.component"),
        round(col("c.a").cast(DoubleType) / 100, 2).as("amount_usd"))
      .orderBy("component_no")
  }

  val aggRevenueBridgeSql: String =
    """WITH by_y AS MATERIALIZED (
      |  SELECT p_brand AS brand, year(l_shipdate) AS yr,
      |         CAST(sum(CAST(l_quantity AS HUGEINT)) AS HUGEINT) AS q,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS r
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |ys AS (SELECT max(yr) - 1 AS y1, max(yr) - 2 AS y0 FROM by_y),
      |a AS (SELECT brand, q AS q0, r AS r0 FROM by_y CROSS JOIN ys WHERE yr = y0),
      |b AS (SELECT brand, q AS q1, r AS r1 FROM by_y CROSS JOIN ys WHERE yr = y1),
      |joined AS MATERIALIZED (
      |  SELECT a.brand AS brand_a, b.brand AS brand_b, q0, r0, q1, r1
      |  FROM a FULL OUTER JOIN b ON a.brand = b.brand),
      |carried AS (
      |  -- FLOOR division for the possibly-negative volume term:
      |  -- DuckDB's // truncates toward zero, Spark's subtract-pmod
      |  -- floors — normalize via the positive-modulus identity
      |  SELECT CAST(sum(((q1 - q0) * r0 -
      |                   ((((q1 - q0) * r0) % q0 + q0) % q0)) / q0) AS HUGEINT)
      |           AS volume_effect,
      |         CAST(sum(r1 - (q1 * r0) // q0) AS HUGEINT) AS price_effect
      |  FROM joined WHERE q0 IS NOT NULL AND q1 IS NOT NULL),
      |entries AS (
      |  SELECT CAST(coalesce(sum(CASE WHEN q0 IS NULL THEN r1 END), 0) AS HUGEINT)
      |           AS new_brands,
      |         CAST(coalesce(sum(CASE WHEN q1 IS NULL THEN -r0 END), 0) AS HUGEINT)
      |           AS lost_brands,
      |         CAST(sum(coalesce(r1, 0)) AS HUGEINT) AS rev1,
      |         CAST(sum(coalesce(r0, 0)) AS HUGEINT) AS rev0
      |  FROM joined),
      |labels AS (SELECT y0, y1 FROM ys)
      |SELECT component_no, component, round(CAST(a AS DOUBLE) / 100, 2) AS amount_usd
      |FROM (
      |  SELECT 1 AS component_no, 'revenue_' || y0 AS component, rev0 AS a
      |  FROM entries CROSS JOIN labels
      |  UNION ALL SELECT 2, 'volume_effect', volume_effect FROM carried
      |  UNION ALL SELECT 3, 'price_effect', price_effect FROM carried
      |  UNION ALL SELECT 4, 'new_brands', new_brands FROM entries
      |  UNION ALL SELECT 5, 'lost_brands', lost_brands FROM entries
      |  UNION ALL SELECT 6, 'revenue_' || y1, rev1 FROM entries CROSS JOIN labels) u
      |ORDER BY component_no""".stripMargin

  /** emb-cone-effect — the anisotropy-cone diagnostic: the average
    * cosine of every vector TO THE CORPUS CENTROID, plus the share
    * sitting inside the 60° cone (cos > 0.5). Transformer embedding
    * spaces are notoriously non-isotropic — vectors crowd a narrow
    * cone, which silently inflates all cosine similarities and is
    * the reason whitening exists (emb-whiten-isotropy-gain measures
    * the cure; this measures the disease in the same units the
    * retrieval ops use). The centroid comes from exact integer
    * component sums; per-vector cosines ride the codegen
    * dot_product against the broadcast centroid; the fold is over
    * micro-floored integers. One pass + one 64-dim broadcast. */
  val embConeEffect: Q = (s, d) => {
    val v = embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) " +
        "AS DOUBLE))").as("vq"))
      .sharedCache()
    val centroid = v.select(posexplode(col("vq")).as(Seq("dim", "x")))
      .groupBy("dim").agg(sum(expr("CAST(x AS DECIMAL(38,0))")).as("t"))
      .orderBy("dim")
      .agg(collect_list(col("t").cast(DoubleType)).as("cv"))
    val scored = v.crossJoin(broadcast(centroid))
      .select(col("vec_id"),
        floor(expr("dot_product(vq, cv)") /
          (sqrt(expr("dot_product(vq, vq)")) * sqrt(expr("dot_product(cv, cv)"))) *
          lit(1e6)).cast(LongType).as("cq"))
    scored.agg(count(lit(1)).as("n_vectors"),
        sum(expr("CAST(cq AS DECIMAL(38,0))")).as("sc"),
        sum(when(col("cq") > 500000, 1L).otherwise(0L)).as("in_cone"))
      .select(col("n_vectors"),
        round(col("sc").cast(DoubleType) / col("n_vectors") / lit(1e6), 6)
          .as("mean_cos_to_centroid"),
        ratioFloor(col("in_cone").cast(DoubleType), col("n_vectors"), 6)
          .as("cone60_share"))
      .withColumn("anisotropic", col("mean_cos_to_centroid") > lit(0.2))
  }

  val embConeEffectSql: String =
    """WITH v AS MATERIALIZED (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS DOUBLE)) AS vq
      |  FROM embeddings),
      |centroid AS (
      |  SELECT list(CAST(t AS DOUBLE) ORDER BY dim) AS cv FROM (
      |    SELECT dim, CAST(sum(CAST(x AS BIGINT)) AS HUGEINT) AS t
      |    FROM (SELECT unnest(vq) AS x, generate_subscripts(vq, 1) AS dim FROM v) c
      |    GROUP BY 1) t),
      |scored AS (
      |  SELECT vec_id,
      |         CAST(floor(list_inner_product(vq, cv) /
      |               (sqrt(list_inner_product(vq, vq)) * sqrt(list_inner_product(cv, cv)))
      |               * 1e6) AS BIGINT) AS cq
      |  FROM v CROSS JOIN centroid)
      |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
      |       round(CAST(sum(CAST(cq AS HUGEINT)) AS DOUBLE) / count(*) / 1e6, 6)
      |         AS mean_cos_to_centroid,
      |       floor(CAST(sum(CASE WHEN cq > 500000 THEN 1 ELSE 0 END) AS DOUBLE) * 1e6 /
      |             count(*)) / 1e6 AS cone60_share,
      |       round(CAST(sum(CAST(cq AS HUGEINT)) AS DOUBLE) / count(*) / 1e6, 6) > 0.2
      |         AS anisotropic
      |FROM scored""".stripMargin

  /** cast-percent-suite — percent-string ingestion: values shipped as
    * '12.5%', '12,5 %' (EU comma + spaced sign) and '1250bp' all
    * parse back to exact basis points, round-tripped from the
    * discount column so the grade is exactness, not plausibility.
    * The percent sign family is the most common "numeric" column
    * that arrives as VARCHAR; cast-decimal-comma and
    * cast-locale-grouping cover magnitudes — this covers RATES,
    * where a silent /100 mistake moves every downstream margin by
    * two orders. Formatting is built from exact integer basis
    * points (never float formatting); parsing strips/translates and
    * try_casts; mismatches counted. */
  val castPercentSuite: Q = (s, d) => {
    val base = lineitem(s, d)
      .select(expr("CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)").as("bp"))
      .sharedCache()
    val staged = base
      .withColumn("us_pct", concat(expr("CAST(bp div 100 AS STRING)"), lit("."),
        lpad(expr("CAST(pmod(bp, 100) AS STRING)"), 2, "0"), lit("%")))
      .withColumn("eu_pct", concat(expr("CAST(bp div 100 AS STRING)"), lit(","),
        lpad(expr("CAST(pmod(bp, 100) AS STRING)"), 2, "0"), lit(" %")))
      .withColumn("bps", concat(col("bp").cast(StringType), lit("bp")))
    val parsed = staged
      .withColumn("p_us", expr(
        "CAST(try_cast(replace(us_pct, '%', '') AS DECIMAL(18,4)) * 100 AS BIGINT)"))
      .withColumn("p_eu", expr(
        "CAST(try_cast(replace(replace(eu_pct, ' %', ''), ',', '.') AS DECIMAL(18,4)) " +
          "* 100 AS BIGINT)"))
      .withColumn("p_bp", expr("try_cast(replace(bps, 'bp', '') AS BIGINT)"))
    parsed.agg(count(lit(1)).as("n_rows"),
        sum(when(col("p_us") === col("bp"), 1L).otherwise(0L)).as("us_ok"),
        sum(when(col("p_eu") === col("bp"), 1L).otherwise(0L)).as("eu_ok"),
        sum(when(col("p_bp") === col("bp"), 1L).otherwise(0L)).as("bp_ok"))
      .withColumn("all_roundtrip",
        col("us_ok") === col("n_rows") && col("eu_ok") === col("n_rows") &&
          col("bp_ok") === col("n_rows"))
  }

  val castPercentSuiteSql: String =
    """WITH base AS MATERIALIZED (
      |  SELECT CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT) AS bp
      |  FROM lineitem),
      |staged AS (
      |  SELECT bp,
      |         CAST(bp // 100 AS VARCHAR) || '.' ||
      |           lpad(CAST(bp % 100 AS VARCHAR), 2, '0') || '%' AS us_pct,
      |         CAST(bp // 100 AS VARCHAR) || ',' ||
      |           lpad(CAST(bp % 100 AS VARCHAR), 2, '0') || ' %' AS eu_pct,
      |         CAST(bp AS VARCHAR) || 'bp' AS bps
      |  FROM base),
      |parsed AS (
      |  SELECT bp,
      |         CAST(TRY_CAST(replace(us_pct, '%', '') AS DECIMAL(18,4)) * 100 AS BIGINT)
      |           AS p_us,
      |         CAST(TRY_CAST(replace(replace(eu_pct, ' %', ''), ',', '.')
      |                       AS DECIMAL(18,4)) * 100 AS BIGINT) AS p_eu,
      |         TRY_CAST(replace(bps, 'bp', '') AS BIGINT) AS p_bp
      |  FROM staged)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CASE WHEN p_us = bp THEN 1 ELSE 0 END) AS BIGINT) AS us_ok,
      |       CAST(sum(CASE WHEN p_eu = bp THEN 1 ELSE 0 END) AS BIGINT) AS eu_ok,
      |       CAST(sum(CASE WHEN p_bp = bp THEN 1 ELSE 0 END) AS BIGINT) AS bp_ok,
      |       CAST(sum(CASE WHEN p_us = bp THEN 1 ELSE 0 END) AS BIGINT) = count(*) AND
      |       CAST(sum(CASE WHEN p_eu = bp THEN 1 ELSE 0 END) AS BIGINT) = count(*) AND
      |       CAST(sum(CASE WHEN p_bp = bp THEN 1 ELSE 0 END) AS BIGINT) = count(*)
      |         AS all_roundtrip
      |FROM parsed""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-iv-2sls", aggIv2sls, aggIv2slsSql),
    Key("agg-revenue-bridge", aggRevenueBridge, aggRevenueBridgeSql),
    Key("emb-cone-effect", embConeEffect, embConeEffectSql),
    Key("cast-percent-suite", castPercentSuite, castPercentSuiteSql))
}
