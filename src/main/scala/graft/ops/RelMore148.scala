package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AW: cluster-robust standard errors, Wang-Isola
  * alignment/uniformity, month-end effect, locale-grouped casts. */
object RelMore148 extends KeyModule {

  /** agg-clustered-se — cluster-robust (Liang-Zeger) standard error
    * for the revenue-on-quantity slope, clustered by ORDER: lines of
    * one order share shocks, so the iid SE understates uncertainty
    * by the design effect this op reports. V_cl = Σ_g(Σᵢ x̃ᵢeᵢ)²/Sxx²
    * is the one-regressor sandwich; the iid/robust ratio is the
    * number that says whether every regression op on lineitem
    * (agg-regression, agg-ols-normal-eq) can be trusted at the line
    * grain. Per-row scores x̃·e are milli-floored integers (identical
    * across engines) BEFORE the per-cluster fold, so cluster sums
    * and their squares are exact; the fit itself is the exact-moment
    * closed form. Two passes + one cluster-keyed aggregate. */
  val aggClusteredSe: Q = (s, d) => {
    // r14 opt: repartition after the single-row-group read (guide §2.5)
    // — the cached base otherwise holds ONE partition, so the moment
    // pass and the per-row score pass both ran inside one task;
    // conf-derived, scale-adaptive
    val base = lineitem(s, d)
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .select(col("l_orderkey").as("g"),
        expr("CAST(l_quantity AS DECIMAL(38,0))").as("x"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))").as("y"))
      .sharedCache()
    val fit = base.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
      .select(col("n").cast(LongType).as("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)).as("beta"),
        (col("sx").cast(DoubleType) / col("n").cast(DoubleType)).as("xbar"),
        (col("sy").cast(DoubleType) / col("n").cast(DoubleType)).as("ybar"))
    val scored = base.crossJoin(broadcast(fit))
      .select(col("g"), col("n"), col("beta"),
        floor((col("x").cast(DoubleType) - col("xbar")) *
          ((col("y").cast(DoubleType) - col("ybar")) -
            col("beta") * (col("x").cast(DoubleType) - col("xbar"))) * lit(1e3))
          .cast(LongType).as("sq"),
        floor((col("x").cast(DoubleType) - col("xbar")) *
          (col("x").cast(DoubleType) - col("xbar")) * lit(1e3)).cast(LongType).as("xxq"),
        floor(((col("y").cast(DoubleType) - col("ybar")) -
          col("beta") * (col("x").cast(DoubleType) - col("xbar"))) *
          ((col("y").cast(DoubleType) - col("ybar")) -
            col("beta") * (col("x").cast(DoubleType) - col("xbar")))).cast(LongType)
          .as("eeq"))
      .sharedCache()
    val clusters = scored.groupBy("g")
      .agg(sum("sq").as("sg"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(expr("CAST(sg AS DECIMAL(38,0)) * sg")).as("sg2"))
    val glob = scored.agg(max("n").as("n"), max("beta").as("beta"),
      sum(expr("CAST(xxq AS DECIMAL(38,0))")).as("sxxq"),
      sum(expr("CAST(eeq AS DECIMAL(38,0))")).as("seeq"))
    glob.crossJoin(broadcast(clusters))
      .select(col("n").as("n_rows"), col("n_clusters"),
        round(col("beta") / 100, 6).as("beta_usd_per_unit"),
        // iid: √(Σe²/(n−2)/Sxx) ; clustered: √(ΣS_g²)/Sxx (scales cancel)
        round(sqrt(col("seeq").cast(DoubleType) / (col("n") - 2) /
          (col("sxxq").cast(DoubleType) / lit(1e3))) / 100, 6).as("se_iid_usd"),
        round(sqrt(col("sg2").cast(DoubleType) / lit(1e6)) /
          (col("sxxq").cast(DoubleType) / lit(1e3)) / 100, 6).as("se_clustered_usd"))
      .withColumn("design_effect",
        round(col("se_clustered_usd") / col("se_iid_usd"), 4))
  }

  val aggClusteredSeSql: String =
    """WITH base AS MATERIALIZED (
      |  SELECT l_orderkey AS g, CAST(l_quantity AS HUGEINT) AS x,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS y
      |  FROM lineitem),
      |fit AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE) /
      |           CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE) AS beta,
      |         CAST(sum(x) AS DOUBLE) / count(*) AS xbar,
      |         CAST(sum(y) AS DOUBLE) / count(*) AS ybar
      |  FROM base),
      |scored AS MATERIALIZED (
      |  SELECT g, n, beta,
      |         CAST(floor((CAST(x AS DOUBLE) - xbar) *
      |           ((CAST(y AS DOUBLE) - ybar) - beta * (CAST(x AS DOUBLE) - xbar)) * 1e3)
      |           AS BIGINT) AS sq,
      |         CAST(floor((CAST(x AS DOUBLE) - xbar) * (CAST(x AS DOUBLE) - xbar) * 1e3)
      |           AS BIGINT) AS xxq,
      |         CAST(floor(((CAST(y AS DOUBLE) - ybar) - beta * (CAST(x AS DOUBLE) - xbar)) *
      |                    ((CAST(y AS DOUBLE) - ybar) - beta * (CAST(x AS DOUBLE) - xbar)))
      |           AS BIGINT) AS eeq
      |  FROM base CROSS JOIN fit),
      |clusters AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_clusters,
      |         CAST(sum(CAST(sg AS HUGEINT) * sg) AS HUGEINT) AS sg2
      |  FROM (SELECT g, CAST(sum(sq) AS HUGEINT) AS sg FROM scored GROUP BY 1) t),
      |gstats AS (
      |  SELECT max(n) AS n, max(beta) AS beta,
      |         CAST(sum(CAST(xxq AS HUGEINT)) AS HUGEINT) AS sxxq,
      |         CAST(sum(CAST(eeq AS HUGEINT)) AS HUGEINT) AS seeq
      |  FROM scored)
      |SELECT n AS n_rows, n_clusters,
      |       round(beta / 100, 6) AS beta_usd_per_unit,
      |       round(sqrt(CAST(seeq AS DOUBLE) / (n - 2) /
      |             (CAST(sxxq AS DOUBLE) / 1e3)) / 100, 6) AS se_iid_usd,
      |       round(sqrt(CAST(sg2 AS DOUBLE) / 1e6) /
      |             (CAST(sxxq AS DOUBLE) / 1e3) / 100, 6) AS se_clustered_usd,
      |       round(round(sqrt(CAST(sg2 AS DOUBLE) / 1e6) /
      |                   (CAST(sxxq AS DOUBLE) / 1e3) / 100, 6) /
      |             round(sqrt(CAST(seeq AS DOUBLE) / (n - 2) /
      |                   (CAST(sxxq AS DOUBLE) / 1e3)) / 100, 6), 4) AS design_effect
      |FROM gstats CROSS JOIN clusters""".stripMargin

  /** emb-align-uniformity — Wang & Isola's two-number contrastive
    * diagnosis: ALIGNMENT = mean d² over same-label pairs, computed
    * in CLOSED FORM per label (Σᵢⱼd² = 2n_cΣ|v|² − 2|Σv|² — no pair
    * enumeration at all, exact integer moments over quantized
    * components); UNIFORMITY = ln 𝔼 e^{−2d²} over ALL pairs (the
    * Gaussian-potential spread of the corpus on its feature sphere),
    * folded from pico-floored Boltzmann terms over the norm-expansion
    * dot_product pair pass (the soft-nn fast path). Good
    * representations need BOTH small alignment and low (negative)
    * uniformity — either alone is gameable by collapse, which is
    * exactly what this pair of numbers detects. */
  val embAlignUniformity: Q = (s, d) => {
    val v = embeddings(s, d).select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) " +
        "AS DOUBLE))").as("vq"))
      .withColumn("nq", expr("dot_product(vq, vq)"))
      .sharedCache()
    // alignment: per-label moment identity, no pairs (milli² scale)
    val comps = v.select(col("label"), posexplode(col("vq")).as(Seq("dim", "x")))
    val perLabel = comps.groupBy("label", "dim")
      .agg(sum(expr("CAST(x AS DECIMAL(38,0))")).as("t"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("u"),
        count(lit(1)).as("nc"))
      .groupBy("label")
      .agg(max("nc").as("nc"), sum("u").as("su"), sum(expr("t * t")).as("tt"))
      .select(col("label"), col("nc"),
        (lit(2) * col("nc") * col("su") - lit(2) * col("tt")).as("sum_d2"),
        (col("nc") * (col("nc") - 1)).as("n_pairs"))
    val align = perLabel.agg(sum("sum_d2").as("sd2"), sum("n_pairs").as("np"))
      .select((col("sd2").cast(DoubleType) / col("np").cast(DoubleType) / lit(1e6))
        .as("alignment"), col("np").as("same_label_pairs"))
    // uniformity: full pair pass on the codegen dot_product path;
    // e^{−2d²} on the unit scale (d² milli² ⇒ /1e6), pico-floored
    val uni = v.as("a").crossJoin(broadcast(v.as("b")))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(floor(exp(lit(-2.0) *
        expr("(a.nq + b.nq - 2 * dot_product(a.vq, b.vq))") / lit(1e6) / lit(64.0)) *
        lit(1e12)).cast(LongType).as("wq"))
      .agg(count(lit(1)).as("npairs"), sum(expr("CAST(wq AS DECIMAL(38,0))")).as("sw"))
      .select(log(col("sw").cast(DoubleType) / col("npairs").cast(DoubleType) / lit(1e12))
        .as("uniformity"), col("npairs").as("all_pairs"))
    align.crossJoin(broadcast(uni))
      .select(round(col("alignment") / lit(64.0), 6).as("alignment_per_dim"),
        round(col("uniformity"), 6).as("uniformity"),
        col("same_label_pairs"), col("all_pairs"))
  }

  val embAlignUniformitySql: String =
    """WITH v AS MATERIALIZED (
      |  SELECT vec_id, label,
      |         list_transform(embedding,
      |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS DOUBLE)) AS vq
      |  FROM embeddings),
      |vn AS MATERIALIZED (
      |  SELECT vec_id, label, vq, list_inner_product(vq, vq) AS nq FROM v),
      |comps AS (
      |  SELECT label, dim, CAST(x AS BIGINT) AS x
      |  FROM (SELECT label, unnest(vq) AS x,
      |               generate_subscripts(vq, 1) AS dim FROM v) t),
      |per_label AS (
      |  SELECT label, max(nc) AS nc,
      |         CAST(sum(u) AS HUGEINT) AS su, CAST(sum(t * t) AS HUGEINT) AS tt
      |  FROM (
      |    SELECT label, dim, CAST(sum(x) AS HUGEINT) AS t,
      |           CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS u,
      |           count(*) AS nc
      |    FROM comps GROUP BY 1, 2) g
      |  GROUP BY label),
      |align AS (
      |  SELECT CAST(sum(2 * nc * su - 2 * tt) AS DOUBLE) /
      |         CAST(sum(nc * (nc - 1)) AS DOUBLE) / 1e6 AS alignment,
      |         CAST(sum(nc * (nc - 1)) AS BIGINT) AS same_label_pairs
      |  FROM per_label),
      |uni AS (
      |  SELECT ln(CAST(sum(wq) AS DOUBLE) / count(*) / 1e12) AS uniformity,
      |         CAST(count(*) AS BIGINT) AS all_pairs
      |  FROM (
      |    SELECT CAST(floor(exp(-2.0 *
      |             (a.nq + b.nq - 2 * list_inner_product(a.vq, b.vq)) / 1e6 / 64.0) * 1e12)
      |           AS BIGINT) AS wq
      |    FROM vn a CROSS JOIN vn b WHERE a.vec_id <> b.vec_id) t)
      |SELECT round(alignment / 64.0, 6) AS alignment_per_dim,
      |       round(uniformity, 6) AS uniformity,
      |       same_label_pairs, all_pairs
      |FROM align CROSS JOIN uni""".stripMargin

  /** agg-month-end-effect — the month-end loading of revenue: daily
    * revenue on the last 3 calendar days of each month vs all other
    * days, as a Welch comparison plus the uplift ratio. Period-close
    * batching is the most common calendar artifact in transactional
    * data (dq-late-postings audits the bookkeeping side; this
    * measures the REVENUE side), and it biases any day-grain model
    * that ignores it (agg-dow-seasonality won't see it — it's
    * anchored to month ends, not weekdays). Daily cents are exact;
    * the last-3-days flag is pure date arithmetic; Welch t from
    * exact per-group moments. */
  val aggMonthEndEffect: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("v"))
      .withColumn("me", datediff(last_day(col("dt")), col("dt")) <= 2)
    val g = daily.groupBy("me")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("v").as("sv"), sum(expr("v * v")).as("svv"))
    val a = g.filter(col("me")).select(col("n").as("n1"), col("sv").as("s1"),
      col("svv").as("ss1"))
    val b = g.filter(!col("me")).select(col("n").as("n2"), col("sv").as("s2"),
      col("svv").as("ss2"))
    a.crossJoin(broadcast(b))
      .select(col("n1").cast(LongType).as("month_end_days"),
        col("n2").cast(LongType).as("other_days"),
        (col("s1").cast(DoubleType) / col("n1").cast(DoubleType)).as("m1"),
        (col("s2").cast(DoubleType) / col("n2").cast(DoubleType)).as("m2"),
        sqrt(((col("n1") * col("ss1") - col("s1") * col("s1")).cast(DoubleType) /
            (col("n1") * (col("n1") - 1)).cast(DoubleType) / col("n1").cast(DoubleType)) +
          ((col("n2") * col("ss2") - col("s2") * col("s2")).cast(DoubleType) /
            (col("n2") * (col("n2") - 1)).cast(DoubleType) / col("n2").cast(DoubleType)))
          .as("se"))
      .select(col("month_end_days"), col("other_days"),
        round(col("m1") / 100, 2).as("month_end_mean_usd"),
        round(col("m2") / 100, 2).as("other_mean_usd"),
        round((col("m1") - col("m2")) / col("m2"), 6).as("uplift_ratio"),
        round((col("m1") - col("m2")) / col("se"), 4).as("welch_t"))
      .withColumn("significant", abs(col("welch_t")) > lit(1.96))
  }

  val aggMonthEndEffectSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS v,
      |         datediff('day', CAST(date_trunc('day', o_orderdate) AS DATE),
      |                  last_day(CAST(o_orderdate AS DATE))) <= 2 AS me
      |  FROM orders
      |  GROUP BY 1, last_day(CAST(o_orderdate AS DATE))),
      |g AS (
      |  SELECT me, CAST(count(*) AS HUGEINT) AS n, CAST(sum(v) AS HUGEINT) AS sv,
      |         CAST(sum(v * v) AS HUGEINT) AS svv
      |  FROM daily GROUP BY 1),
      |j AS (
      |  SELECT a.n AS n1, a.sv AS s1, a.svv AS ss1, b.n AS n2, b.sv AS s2, b.svv AS ss2
      |  FROM (SELECT * FROM g WHERE me) a CROSS JOIN (SELECT * FROM g WHERE NOT me) b),
      |m AS (
      |  SELECT CAST(n1 AS BIGINT) AS month_end_days, CAST(n2 AS BIGINT) AS other_days,
      |         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
      |         CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
      |         sqrt(CAST(n1 * ss1 - s1 * s1 AS DOUBLE) /
      |                CAST(n1 * (n1 - 1) AS DOUBLE) / CAST(n1 AS DOUBLE) +
      |              CAST(n2 * ss2 - s2 * s2 AS DOUBLE) /
      |                CAST(n2 * (n2 - 1) AS DOUBLE) / CAST(n2 AS DOUBLE)) AS se
      |  FROM j)
      |SELECT month_end_days, other_days,
      |       round(m1 / 100, 2) AS month_end_mean_usd,
      |       round(m2 / 100, 2) AS other_mean_usd,
      |       round((m1 - m2) / m2, 6) AS uplift_ratio,
      |       round((m1 - m2) / se, 4) AS welch_t,
      |       abs(round((m1 - m2) / se, 4)) > 1.96 AS significant
      |FROM m""".stripMargin

  /** cast-locale-grouping — European-locale numeric ingestion: values
    * arriving as '1.234.567,89' (dot thousands, comma decimal) parsed
    * back to exact cents. cast-decimal-comma handles the decimal
    * separator; GROUPED values defeat it (the first '.' reads as a
    * decimal point and silently truncates thousands — worse than a
    * throw). The fixture formats real order totals from exact integer cents
    * (grouped integer part + 2-digit remainder — no float formatting
    * convention in the loop), then
    * round-trips: strip grouping, swap the comma, try_cast, compare
    * to the source cents — mismatches are COUNTED, not assumed away.
    * All string ops are codegen'd builtins. */
  val castLocaleGrouping: Q = (s, d) => {
    val staged = orders(s, d)
      .select(col("o_orderkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      // build '1.234.567,89' from exact integer cents: group the integer
      // part (format_number on a BIGINT has no fractional rounding to
      // disagree on), swap separators, append the 2-digit cents
      .withColumn("de_text", concat(
        translate(format_number(expr("cents div 100"), 0), ",", "."),
        lit(","), lpad(expr("CAST(pmod(cents, 100) AS STRING)"), 2, "0")))
    val parsed = staged
      .withColumn("parsed", expr(
        "try_cast(replace(replace(de_text, '.', ''), ',', '.') AS DECIMAL(18,2))"))
      .withColumn("parsed_cents", expr("CAST(parsed * 100 AS BIGINT)"))
    parsed.agg(count(lit(1)).as("n_rows"),
        sum(when(col("parsed_cents") === col("cents"), 1L).otherwise(0L))
          .as("roundtrip_ok"),
        sum(when(col("parsed_cents").isNull, 1L).otherwise(0L)).as("parse_failures"),
        max(when(col("parsed_cents") =!= col("cents"),
          abs(col("parsed_cents") - col("cents")))).as("max_abs_err_cents"))
      .select(col("n_rows"), col("roundtrip_ok"), col("parse_failures"),
        coalesce(col("max_abs_err_cents"), lit(0L)).as("max_abs_err_cents"))
  }

  val castLocaleGroupingSql: String =
    """WITH staged AS (
      |  SELECT cents,
      |         translate(format('{:,}', cents // 100), ',', '.') || ',' ||
      |           lpad(CAST(cents % 100 AS VARCHAR), 2, '0') AS de_text
      |  FROM (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |        FROM orders) c),
      |parsed AS (
      |  SELECT cents,
      |         CAST(TRY_CAST(replace(replace(de_text, '.', ''), ',', '.')
      |                       AS DECIMAL(18,2)) * 100 AS BIGINT) AS parsed_cents
      |  FROM staged)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CASE WHEN parsed_cents = cents THEN 1 ELSE 0 END) AS BIGINT)
      |         AS roundtrip_ok,
      |       CAST(sum(CASE WHEN parsed_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS parse_failures,
      |       coalesce(max(CASE WHEN parsed_cents <> cents
      |                         THEN abs(parsed_cents - cents) END), 0)
      |         AS max_abs_err_cents
      |FROM parsed""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-clustered-se", aggClusteredSe, aggClusteredSeSql),
    Key("emb-align-uniformity", embAlignUniformity, embAlignUniformitySql),
    Key("agg-month-end-effect", aggMonthEndEffect, aggMonthEndEffectSql),
    Key("cast-locale-grouping", castLocaleGrouping, castLocaleGroupingSql))
}
