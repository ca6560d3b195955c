package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch BH: champion-challenger regret, O'Brien-Fleming
  * interim looks, Qini coefficient, Gompertz diffusion fit. */
object RelMore159 extends KeyModule {

  /** agg-champion-regret — the cumulative regret of freezing a
    * champion: pick the best-revenue brand in the FIRST complete
    * year, then for every later month charge the gap between the
    * month's actual best brand and the champion. The bandit-
    * literature lens on "set it and forget it" vendor policies —
    * regret GROWTH separates a stable market (flat curve: champion
    * stays near-best) from a drifting one (linear growth: every
    * frozen policy bleeds), which is exactly the signal that says
    * re-run selection. Monthly brand revenues are exact integers;
    * the champion and per-month maxima are exact argmaxes; the
    * cumulative fold is a prefix window over months. */
  val aggChampionRegret: Q = (s, d) => {
    val bm = lineitem(s, d)
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("mth"),
        year(col("l_shipdate")).as("yr"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("rev"))
      .sharedCache()
    val firstYr = bm.agg(min("yr")).head().getInt(0)
    val champion = bm.filter(col("yr") === firstYr)
      .groupBy("brand").agg(sum("rev").as("r"))
      .orderBy(col("r").desc, col("brand")).limit(1).select(col("brand"))
    val later = bm.filter(col("yr") > firstYr)
    val best = later.groupBy("mth").agg(max("rev").as("best_rev"))
    val champ = later.join(broadcast(champion), Seq("brand"))
      .select(col("mth"), col("rev").as("champ_rev"))
    val monthly = best.join(champ, Seq("mth"), "left")
      .select(col("mth"), (col("best_rev") -
        coalesce(col("champ_rev"), lit(0)).cast(DecimalType(38, 0))).as("regret"))
    val curve = monthly
      .withColumn("cum_regret", sum("regret").over(Window.orderBy("mth")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val last = curve.orderBy(col("mth").desc).limit(1)
      .select(col("cum_regret").as("total_regret"), col("mth").as("last_mth"))
    curve.crossJoin(broadcast(last))
      .filter(pmod(col("mth"), lit(100)) === 12 || col("mth") === col("last_mth"))
      .select(col("mth").as("month"),
        round(col("regret").cast(DoubleType) / 100, 2).as("month_regret_usd"),
        round(col("cum_regret").cast(DoubleType) / 100, 2).as("cumulative_regret_usd"),
        ratioFloor(col("cum_regret").cast(DoubleType) * lit(1e0),
          col("total_regret"), 6).as("share_of_final"))
      .orderBy("month")
  }

  val aggChampionRegretSql: String =
    """WITH bm AS MATERIALIZED (
      |  SELECT p_brand AS brand, year(l_shipdate) * 100 + month(l_shipdate) AS mth,
      |         year(l_shipdate) AS yr,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS rev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2, 3),
      |fy AS (SELECT min(yr) AS first_yr FROM bm),
      |champion AS (
      |  SELECT brand FROM (
      |    SELECT brand, sum(rev) AS r FROM bm CROSS JOIN fy WHERE yr = first_yr
      |    GROUP BY 1) t
      |  ORDER BY r DESC, brand LIMIT 1),
      |later AS (SELECT bm.* FROM bm CROSS JOIN fy WHERE yr > first_yr),
      |best AS (SELECT mth, max(rev) AS best_rev FROM later GROUP BY 1),
      |champ AS (
      |  SELECT mth, rev AS champ_rev FROM later JOIN champion USING (brand)),
      |monthly AS (
      |  SELECT best.mth, best_rev - coalesce(champ_rev, 0) AS regret
      |  FROM best LEFT JOIN champ ON best.mth = champ.mth),
      |curve AS (
      |  SELECT mth, regret,
      |         sum(regret) OVER (ORDER BY mth
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_regret
      |  FROM monthly),
      |last AS (
      |  SELECT cum_regret AS total_regret, mth AS last_mth FROM curve
      |  ORDER BY mth DESC LIMIT 1)
      |SELECT mth AS month,
      |       round(CAST(regret AS DOUBLE) / 100, 2) AS month_regret_usd,
      |       round(CAST(cum_regret AS DOUBLE) / 100, 2) AS cumulative_regret_usd,
      |       floor(CAST(cum_regret AS DOUBLE) * 1e6 / CAST(total_regret AS DOUBLE)) / 1e6
      |         AS share_of_final
      |FROM curve CROSS JOIN last
      |WHERE mth % 100 = 12 OR mth = last_mth
      |ORDER BY month""".stripMargin

  /** agg-obrien-fleming-looks — group-sequential interim analysis of
    * the odd-vs-even URGENT-rate A/B at three equally-spaced looks
    * (by order-date thirds), against the O'Brien-Fleming boundaries
    * 3.471 / 2.454 / 2.004: early looks demand overwhelming evidence,
    * the final look spends almost the full α. Peeking at a fixed-α
    * test inflates false positives several-fold; OF is the standard
    * regulator-grade schedule, and agg-sprt-boundary's continuous
    * cousin for batched releases. Look assignment is an exact date
    * tercile (ntile over days, stated); per-look CUMULATIVE counts
    * are exact; each z is a closed form; the per-look verdict is a
    * literal boundary compare. */
  val aggObrienFlemingLooks: Q = (s, d) => {
    val o = orders(s, d)
      .select(col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("ed"),
        (pmod(col("o_orderkey"), lit(2)) === 1).as("va"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("conv"))
      // date terciles via the PrefixScan two-pass rank + ntile arithmetic
      // (the cum windows below run over 3 looks × 2 arms = 6 rows only)
      .transform { df =>
        val sc = graft.functions.PrefixScan.withRankCumSum(df,
          Seq(col("ed"), col("o_orderkey")), None, rankName = "rn")
        sc.df.withColumn("look",
          graft.functions.PrefixScan.ntileFromRank(3, sc.n, col("rn")))
      }
    val perLook = o.groupBy("look", "va")
      .agg(count(lit(1)).as("n"), sum("conv").as("k"))
    val cum = perLook
      .withColumn("cn", sum("n").over(Window.partitionBy("va").orderBy("look")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("ck", sum("k").over(Window.partitionBy("va").orderBy("look")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("look"), col("va"), col("cn"), col("ck"))
    val a = cum.filter(col("va")).select(col("look"), col("cn").as("na"),
      col("ck").as("ka"))
    val b = cum.filter(!col("va")).select(col("look"), col("cn").as("nb"),
      col("ck").as("kb"))
    a.join(b, Seq("look"))
      .select(col("look"), col("na"), col("nb"),
        // two-proportion z on cumulative data
        ((col("ka").cast(DoubleType) / col("na").cast(DoubleType) -
          col("kb").cast(DoubleType) / col("nb").cast(DoubleType)) /
          sqrt((col("ka") + col("kb")).cast(DoubleType) /
            (col("na") + col("nb")).cast(DoubleType) *
            (lit(1.0) - (col("ka") + col("kb")).cast(DoubleType) /
              (col("na") + col("nb")).cast(DoubleType)) *
            (lit(1.0) / col("na").cast(DoubleType) +
              lit(1.0) / col("nb").cast(DoubleType)))).as("z"))
      .withColumn("of_boundary", when(col("look") === 1, 3.471)
        .when(col("look") === 2, 2.454).otherwise(2.004))
      .select(col("look"), col("na").cast(LongType).as("n_a"),
        col("nb").cast(LongType).as("n_b"), round(col("z"), 4).as("z_stat"),
        col("of_boundary"),
        (abs(col("z")) > col("of_boundary")).as("stop_early"))
      .orderBy("look")
  }

  val aggObrienFlemingLooksSql: String =
    """WITH o AS (
      |  SELECT o_orderkey % 2 = 1 AS va,
      |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS conv,
      |         ntile(3) OVER (ORDER BY
      |           datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)),
      |           o_orderkey) AS look
      |  FROM orders),
      |per_look AS (
      |  SELECT look, va, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS k
      |  FROM o GROUP BY 1, 2),
      |cum AS (
      |  SELECT look, va,
      |         CAST(sum(n) OVER (PARTITION BY va ORDER BY look
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
      |         CAST(sum(k) OVER (PARTITION BY va ORDER BY look
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ck
      |  FROM per_look),
      |j AS (
      |  SELECT a.look, a.cn AS na, a.ck AS ka, b.cn AS nb, b.ck AS kb
      |  FROM (SELECT * FROM cum WHERE va) a
      |  JOIN (SELECT * FROM cum WHERE NOT va) b ON a.look = b.look),
      |z AS (
      |  SELECT look, na, nb,
      |         (CAST(ka AS DOUBLE) / na - CAST(kb AS DOUBLE) / nb) /
      |         sqrt(CAST(ka + kb AS DOUBLE) / (na + nb) *
      |              (1.0 - CAST(ka + kb AS DOUBLE) / (na + nb)) *
      |              (1.0 / na + 1.0 / nb)) AS zv
      |  FROM j)
      |SELECT look, na AS n_a, nb AS n_b, round(zv, 4) AS z_stat,
      |       CASE WHEN look = 1 THEN 3.471 WHEN look = 2 THEN 2.454
      |            ELSE 2.004 END AS of_boundary,
      |       abs(zv) > CASE WHEN look = 1 THEN 3.471 WHEN look = 2 THEN 2.454
      |                      ELSE 2.004 END AS stop_early
      |FROM z ORDER BY look""".stripMargin

  /** agg-qini-coefficient — the Qini coefficient of quantity as an
    * uplift score for the synthetic odd/even treatment: the area
    * between the incremental-conversions curve (treated minus
    * scaled-control, cumulated over score deciles) and the random-
    * targeting diagonal, normalized by treated volume.
    * agg-uplift-deciles tabulates the bars; Qini collapses the curve
    * into the single model-comparison number (the uplift AUC), and
    * its sign says whether targeting by this score beats mailing at
    * random at ANY depth. Decile assignment is an exact ntile;
    * per-decile incremental terms are exact integer rationals
    * (control scaled by the treated/control ratio with cleared
    * denominators); the area is a prefix-sum fold of micro-floored
    * integers. */
  val aggQiniCoefficient: Q = (s, d) => {
    val base = orders(s, d)
      .select((pmod(col("o_orderkey"), lit(2)) === 1).as("treated"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("conv"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("score"),
        col("o_orderkey"))
      // score deciles via the PrefixScan two-pass rank (desc order) —
      // never a no-partition ntile window over all of orders
      .transform { df =>
        val sc = graft.functions.PrefixScan.withRankCumSum(df,
          Seq(col("score").desc, col("o_orderkey")), None, rankName = "rn")
        sc.df.withColumn("decile",
          graft.functions.PrefixScan.ntileFromRank(10, sc.n, col("rn")))
      }
    val cells = base.groupBy("decile")
      .agg(sum(when(col("treated"), 1L).otherwise(0L)).as("nt"),
        sum(when(col("treated"), col("conv")).otherwise(0L)).as("kt"),
        sum(when(!col("treated"), 1L).otherwise(0L)).as("nc"),
        sum(when(!col("treated"), col("conv")).otherwise(0L)).as("kc"))
    val cum = cells
      .withColumn("cnt", sum("nt").over(Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("ckt", sum("kt").over(Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cnc", sum("nc").over(Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("ckc", sum("kc").over(Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // incremental gains micro-quantized: ckt − ckc·cnt/cnc
      .withColumn("qq", floor((col("ckt").cast(DoubleType) -
        col("ckc").cast(DoubleType) * col("cnt").cast(DoubleType) /
          col("cnc").cast(DoubleType)) * lit(1e6)).cast(LongType))
      .sharedCache()
    val fin = cum.filter(col("decile") === 10)
      .select(col("qq").as("q_final"), col("cnt").as("nt_total"))
    val area = cum.agg(sum("qq").as("sum_q"), count(lit(1)).as("kk"))
    area.crossJoin(broadcast(fin))
      .select(
        round(col("q_final").cast(DoubleType) / lit(1e6), 2).as("total_incremental"),
        // qini = Σ(q_d − random_d)/k·normalize; random_d = q_final·d/k
        round((col("sum_q").cast(DoubleType) -
          col("q_final").cast(DoubleType) * (col("kk") + 1) / 2) /
          col("kk").cast(DoubleType) / lit(1e6) /
          col("nt_total").cast(DoubleType), 8).as("qini_coefficient"))
      .withColumn("beats_random", col("qini_coefficient") > 0)
  }

  val aggQiniCoefficientSql: String =
    """WITH base AS (
      |  SELECT o_orderkey % 2 = 1 AS treated,
      |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS conv,
      |         ntile(10) OVER (ORDER BY
      |           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DESC,
      |           o_orderkey) AS decile
      |  FROM orders),
      |cells AS (
      |  SELECT decile,
      |         CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS nt,
      |         CAST(sum(CASE WHEN treated THEN conv ELSE 0 END) AS BIGINT) AS kt,
      |         CAST(sum(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS BIGINT) AS nc,
      |         CAST(sum(CASE WHEN NOT treated THEN conv ELSE 0 END) AS BIGINT) AS kc
      |  FROM base GROUP BY 1),
      |cum AS MATERIALIZED (
      |  SELECT decile,
      |         CAST(floor((CAST(ckt AS DOUBLE) -
      |               CAST(ckc AS DOUBLE) * cnt / cnc) * 1e6) AS BIGINT) AS qq, cnt
      |  FROM (
      |    SELECT decile,
      |           sum(nt) OVER w AS cnt, sum(kt) OVER w AS ckt,
      |           sum(nc) OVER w AS cnc, sum(kc) OVER w AS ckc
      |    FROM cells
      |    WINDOW w AS (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) t),
      |fin AS (SELECT qq AS q_final, cnt AS nt_total FROM cum WHERE decile = 10),
      |area AS (SELECT CAST(sum(qq) AS BIGINT) AS sum_q,
      |                CAST(count(*) AS BIGINT) AS kk FROM cum)
      |SELECT round(CAST(q_final AS DOUBLE) / 1e6, 2) AS total_incremental,
      |       round((CAST(sum_q AS DOUBLE) -
      |              CAST(q_final AS DOUBLE) * (kk + 1) / 2) / kk / 1e6 /
      |             CAST(nt_total AS DOUBLE), 8) AS qini_coefficient,
      |       round((CAST(sum_q AS DOUBLE) -
      |              CAST(q_final AS DOUBLE) * (kk + 1) / 2) / kk / 1e6 /
      |             CAST(nt_total AS DOUBLE), 8) > 0 AS beats_random
      |FROM area CROSS JOIN fin""".stripMargin

  /** agg-gompertz-fit — Gompertz S-curve fit to cumulative customer
    * adoption (share of all customers who have made their first
    * order by each month) via the double-log linearization
    * ln(−ln F) = a − b·t. Bass (agg-bass-diffusion) assumes
    * imitation symmetry; Gompertz's asymmetric hazard (slow start,
    * long saturation tail) fits subscription-like adoption better,
    * and comparing THEIR R² is how one actually picks a diffusion
    * model. First-order months are exact argmins per customer; the
    * adoption share is an exact integer ratio; the transform is
    * ln∘ln of that exact ratio nano-floored; the fit is the exact-
    * moment OLS. Months with F ∈ {0, 1} are excluded (transform
    * undefined — stated). */
  val aggGompertzFit: Q = (s, d) => {
    val firstOrder = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(min(year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("fm"))
    val tot = firstOrder.agg(count(lit(1)).cast(DecimalType(38, 0)).as("nc"),
      min("fm").as("m0"))
    val monthly = firstOrder.crossJoin(broadcast(tot))
      .groupBy((col("fm") - col("m0")).as("t"))
      .agg(count(lit(1)).as("adds"), max("nc").as("nc"))
    val cum = monthly
      .withColumn("cumadds", sum("adds").over(Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cumadds") < col("nc"))
      .select(col("t"),
        floor(log(-log(lit(1.0) - col("cumadds").cast(DoubleType) /
          col("nc").cast(DoubleType))) * lit(1e9)).cast(LongType).as("yq"))
    val fit = cum.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
      sum(expr("CAST(t AS DECIMAL(38,0))")).as("sx"),
      sum(expr("CAST(yq AS DECIMAL(38,0))")).as("sy"),
      sum(expr("CAST(t AS DECIMAL(38,0)) * t")).as("sxx"),
      sum(expr("CAST(t AS DECIMAL(38,0)) * yq")).as("sxy"),
      sum(expr("CAST(yq AS DECIMAL(38,0)) * yq")).as("syy"))
    fit.select(col("n").cast(LongType).as("n_months"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) / lit(1e9), 6)
          .as("gompertz_b"),
        round(((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) *
          (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)) /
          ((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
            (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType)), 4)
          .as("r2"))
      .withColumn("gompertz_plausible", col("gompertz_b") < 0 && col("r2") > 0.8)
  }

  val aggGompertzFitSql: String =
    """WITH first_order AS (
      |  SELECT o_custkey,
      |         min(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS fm
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS HUGEINT) AS nc, min(fm) AS m0 FROM first_order),
      |monthly AS (
      |  SELECT fm - m0 AS t, CAST(count(*) AS BIGINT) AS adds, max(nc) AS nc
      |  FROM first_order CROSS JOIN tot GROUP BY 1),
      |cum AS (
      |  SELECT t,
      |         CAST(floor(ln(-ln(1.0 - CAST(cumadds AS DOUBLE) / CAST(nc AS DOUBLE)))
      |                    * 1e9) AS BIGINT) AS yq
      |  FROM (
      |    SELECT t, nc,
      |           sum(adds) OVER (ORDER BY t
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumadds
      |    FROM monthly) x
      |  WHERE cumadds < nc),
      |fit AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(t) AS HUGEINT) AS sx, CAST(sum(yq) AS HUGEINT) AS sy,
      |         CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS sxx,
      |         CAST(sum(CAST(t AS HUGEINT) * yq) AS HUGEINT) AS sxy,
      |         CAST(sum(CAST(yq AS HUGEINT) * yq) AS HUGEINT) AS syy
      |  FROM cum)
      |SELECT CAST(n AS BIGINT) AS n_months,
      |       round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |             CAST(n * sxx - sx * sx AS DOUBLE) / 1e9, 6) AS gompertz_b,
      |       round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE) /
      |             (CAST(n * sxx - sx * sx AS DOUBLE) *
      |              CAST(n * syy - sy * sy AS DOUBLE)), 4) AS r2,
      |       round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |             CAST(n * sxx - sx * sx AS DOUBLE) / 1e9, 6) < 0 AND
      |       round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE) /
      |             (CAST(n * sxx - sx * sx AS DOUBLE) *
      |              CAST(n * syy - sy * sy AS DOUBLE)), 4) > 0.8 AS gompertz_plausible
      |FROM fit""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-champion-regret", aggChampionRegret, aggChampionRegretSql),
    Key("agg-obrien-fleming-looks", aggObrienFlemingLooks, aggObrienFlemingLooksSql),
    Key("agg-qini-coefficient", aggQiniCoefficient, aggQiniCoefficientSql),
    Key("agg-gompertz-fit", aggGompertzFit, aggGompertzFitSql))
}
