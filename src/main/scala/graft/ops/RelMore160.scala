package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch BI: timezone-shift detector, capture ratios,
  * columnar encoding advisor, forward-buying dip. */
object RelMore160 extends KeyModule {

  /** dq-timezone-shift — did the event clock MOVE between the two
    * halves of the window? The hour-of-day histograms of each half
    * are circularly cross-correlated at all 24 lags; the argmax lag
    * is the detected shift (0 = clean; ±1 = a DST/tz-config slip —
    * the classic silent corruption when an upstream host changes
    * zone, which per-day volume checks never see because totals
    * don't change). Histograms are exact counts; each lag's
    * correlation is an exact integer dot product (explode over 24
    * shifts, modular index arithmetic); argmax by integer compare
    * with lag-0 preferred on ties. */
  val dqTimezoneShift: Q = (s, d) => {
    val ev = events(s, d).select(unix_micros(col("ts")).as("us")).sharedCache()
    val span = ev.agg(((min("us") + max("us")) - pmod(min("us") + max("us"), lit(2L)))
      .divide(lit(2L)).cast(LongType).as("mid"))
    val hist = ev.crossJoin(broadcast(span))
      .select(expr("CAST((us div 3600000000) % 24 AS INT)").as("hr"),
        (col("us") < col("mid")).as("h1"))
      .groupBy("hr")
      .agg(sum(when(col("h1"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("h1"), 1L).otherwise(0L)).as("c2"))
      .sharedCache()
    val lags = hist.select(col("hr"), col("c1"),
        explode(expr("sequence(0, 23)")).as("lag"))
      .select(col("lag"), expr("pmod(hr + lag, 24)").as("hr2"), col("c1"))
    val corr = lags.join(hist.select(col("hr").as("hr2"), col("c2")), Seq("hr2"))
      .groupBy("lag")
      .agg(sum(expr("CAST(c1 AS DECIMAL(38,0)) * c2")).as("dot"))
      .sharedCache()
    val best = corr
      .withColumn("rk", row_number().over(Window.orderBy(col("dot").desc,
        when(col("lag") === 0, 0).otherwise(1), col("lag"))))
      .filter(col("rk") === 1)
      .select(col("lag").as("detected_shift_hours"), col("dot").as("best_dot"))
    val zero = corr.filter(col("lag") === 0).select(col("dot").as("lag0_dot"))
    best.crossJoin(broadcast(zero))
      .select(col("detected_shift_hours"),
        ratioFloor(col("best_dot").cast(DoubleType) * lit(1e0), col("lag0_dot"), 6)
          .as("best_over_lag0"))
      .withColumn("clock_shifted", col("detected_shift_hours") =!= 0)
  }

  val dqTimezoneShiftSql: String =
    """WITH ev AS MATERIALIZED (
      |  SELECT epoch_us(date_trunc('microseconds', ts)) AS us FROM events),
      |span AS (
      |  SELECT ((min(us) + max(us)) - ((min(us) + max(us)) % 2)) // 2 AS mid FROM ev),
      |hist AS MATERIALIZED (
      |  SELECT CAST((us // 3600000000) % 24 AS INTEGER) AS hr,
      |         CAST(sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |         CAST(sum(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM ev CROSS JOIN span GROUP BY 1),
      |lags AS (
      |  SELECT lag, (hr + lag) % 24 AS hr2, c1
      |  FROM hist CROSS JOIN (SELECT unnest(range(0, 24)) AS lag) l),
      |corr AS MATERIALIZED (
      |  SELECT lag, CAST(sum(CAST(c1 AS HUGEINT) * c2) AS HUGEINT) AS dot
      |  FROM lags JOIN (SELECT hr AS hr2, c2 FROM hist) h USING (hr2)
      |  GROUP BY 1),
      |best AS (
      |  SELECT lag AS detected_shift_hours, dot AS best_dot FROM (
      |    SELECT lag, dot, row_number() OVER (ORDER BY dot DESC,
      |      CASE WHEN lag = 0 THEN 0 ELSE 1 END, lag) AS rk
      |    FROM corr) t
      |  WHERE rk = 1),
      |zero AS (SELECT dot AS lag0_dot FROM corr WHERE lag = 0)
      |SELECT detected_shift_hours,
      |       floor(CAST(best_dot AS DOUBLE) * 1e6 / CAST(lag0_dot AS DOUBLE)) / 1e6
      |         AS best_over_lag0,
      |       detected_shift_hours <> 0 AS clock_shifted
      |FROM best CROSS JOIN zero""".stripMargin

  /** agg-capture-ratios — up/down capture per brand against the total
    * market: mean brand monthly log-growth in months the MARKET grew,
    * over the market's mean growth in those months (and the mirror
    * for down months). agg-revenue-beta compresses co-movement into
    * one slope; capture ratios split it by REGIME — the brand that
    * captures 120% of upturns but only 80% of downturns is the
    * portfolio's best asymmetric bet, invisible to β. Growth rates
    * are exact lag differences of nano-floored ln levels; regime
    * assignment is an integer sign test on the market series; the
    * four conditional means are exact integer ratios. Top 10 by
    * asymmetry. */
  val aggCaptureRatios: Q = (s, d) => {
    val bm = lineitem(s, d)
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("mth"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("rev"))
      .select(col("brand"), col("mth"), col("rev"),
        floor(log(col("rev").cast(DoubleType)) * lit(1e9)).cast(LongType).as("lr"))
      .sharedCache()
    val mkt = bm.groupBy("mth")
      .agg(floor(log(sum("rev").cast(DoubleType)) * lit(1e9)).cast(LongType).as("lm"))
      .withColumn("gm", col("lm") - lag("lm", 1).over(Window.orderBy("mth")))
      .filter(col("gm").isNotNull && col("gm") =!= 0)
      .select(col("mth"), col("gm"))
    val gb = bm
      .withColumn("g", col("lr") - lag("lr", 1).over(
        Window.partitionBy("brand").orderBy("mth")))
      .withColumn("pm", lag("mth", 1).over(Window.partitionBy("brand").orderBy("mth")))
      .filter(col("g").isNotNull &&
        (col("mth") - col("pm") === 1 || (pmod(col("mth"), lit(100)) === 1 &&
          col("mth") - col("pm") === 89)))
      .select(col("brand"), col("mth"), col("g"))
    gb.join(broadcast(mkt), Seq("mth"))
      .groupBy("brand")
      .agg(sum(when(col("gm") > 0, col("g"))).as("sgu"),
        sum(when(col("gm") > 0, col("gm"))).as("smu"),
        count(when(col("gm") > 0, 1)).as("nu"),
        sum(when(col("gm") < 0, col("g"))).as("sgd"),
        sum(when(col("gm") < 0, col("gm"))).as("smd"),
        count(when(col("gm") < 0, 1)).as("nd"))
      .filter(col("nu") >= 12 && col("nd") >= 12)
      .select(col("brand"), col("nu").as("up_months"), col("nd").as("down_months"),
        round(col("sgu").cast(DoubleType) / col("smu").cast(DoubleType), 4)
          .as("up_capture"),
        round(col("sgd").cast(DoubleType) / col("smd").cast(DoubleType), 4)
          .as("down_capture"))
      .withColumn("asymmetry", round(col("up_capture") - col("down_capture"), 4))
      .orderBy(col("asymmetry").desc, col("brand"))
      .limit(10)
  }

  val aggCaptureRatiosSql: String =
    """WITH bm AS MATERIALIZED (
      |  SELECT brand, mth, rev,
      |         CAST(floor(ln(CAST(rev AS DOUBLE)) * 1e9) AS BIGINT) AS lr
      |  FROM (
      |    SELECT p_brand AS brand, year(l_shipdate) * 100 + month(l_shipdate) AS mth,
      |           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |                AS HUGEINT) AS rev
      |    FROM lineitem JOIN part ON l_partkey = p_partkey
      |    GROUP BY 1, 2) t),
      |mkt AS (
      |  SELECT mth, gm FROM (
      |    SELECT mth,
      |           CAST(floor(ln(CAST(sum(rev) AS DOUBLE)) * 1e9) AS BIGINT) -
      |             lag(CAST(floor(ln(CAST(sum(rev) AS DOUBLE)) * 1e9) AS BIGINT))
      |               OVER (ORDER BY mth) AS gm
      |    FROM bm GROUP BY mth) t
      |  WHERE gm IS NOT NULL AND gm <> 0),
      |gb AS (
      |  SELECT brand, mth, g FROM (
      |    SELECT brand, mth,
      |           lr - lag(lr) OVER (PARTITION BY brand ORDER BY mth) AS g,
      |           lag(mth) OVER (PARTITION BY brand ORDER BY mth) AS pm
      |    FROM bm) t
      |  WHERE g IS NOT NULL
      |    AND (mth - pm = 1 OR (mth % 100 = 1 AND mth - pm = 89))),
      |caps AS (
      |  SELECT brand,
      |         CAST(count(CASE WHEN gm > 0 THEN 1 END) AS BIGINT) AS up_months,
      |         CAST(count(CASE WHEN gm < 0 THEN 1 END) AS BIGINT) AS down_months,
      |         round(CAST(sum(CASE WHEN gm > 0 THEN g END) AS DOUBLE) /
      |               CAST(sum(CASE WHEN gm > 0 THEN gm END) AS DOUBLE), 4) AS up_capture,
      |         round(CAST(sum(CASE WHEN gm < 0 THEN g END) AS DOUBLE) /
      |               CAST(sum(CASE WHEN gm < 0 THEN gm END) AS DOUBLE), 4) AS down_capture
      |  FROM gb JOIN mkt USING (mth)
      |  GROUP BY brand
      |  HAVING count(CASE WHEN gm > 0 THEN 1 END) >= 12
      |     AND count(CASE WHEN gm < 0 THEN 1 END) >= 12)
      |SELECT brand, up_months, down_months, up_capture, down_capture,
      |       round(up_capture - down_capture, 4) AS asymmetry
      |FROM caps
      |ORDER BY asymmetry DESC, brand
      |LIMIT 10""".stripMargin

  /** layout-encoding-advisor — the per-column encoding decision
    * table: for four representative columns, the modeled byte cost
    * of PLAIN (fixed width), DICTIONARY (distinct values × width +
    * ⌈log₂ndv⌉-bit codes) and RUN-LENGTH (runs in natural order ×
    * (value + length)) — and the winner. This is the decision a
    * columnar writer makes per column chunk; layout-delta-varint-size
    * prices ONE encoding deeply, the advisor prices the MENU (and
    * shows why returnflag wants RLE-after-sort while orderkey wants
    * delta — different winners from the same table). Run counts are
    * exact lag-compare sums in the file's natural order (stated);
    * ndv exact; all byte models integer arithmetic. */
  val layoutEncodingAdvisor: Q = (s, d) => {
    val li = lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
        expr("CAST(l_quantity AS BIGINT)").as("qty"),
        col("l_returnflag").as("rf"),
        datediff(to_date(col("l_shipdate")), lit("1970-01-01")).as("sd"))
      .sharedCache()
    // ONE boundary-stitched neighbor pass stamps the previous row's
    // value for all four columns (PrefixScan.withNeighbor — no global
    // lag window, no per-column re-scan), then a single aggregate
    // computes every run/ndv count; the old form ran four full
    // no-partition lag windows over lineitem.
    val advisorCols = Seq("l_orderkey", "qty", "rf", "sd")
    val stamped = graft.functions.PrefixScan.withNeighbor(li,
      Seq(col("l_orderkey"), col("l_linenumber")), advisorCols,
      lead = false, suffix = "_pk")
    // run counts: plain sums over the stamped frame (single pass). The
    // ndv counts go against the CACHED columnar input instead — four
    // count_distincts force an Expand (4x row multiplication), which
    // belongs on the codegen'd cached scan, not the row-object stamped
    // frame.
    val chgAggs = advisorCols.map { c =>
      sum(when(col(c) =!= col(s"${c}_pk"), 1L).otherwise(0L)).as(s"chg_$c")
    }
    val ndvAggs = advisorCols.map(c => count_distinct(col(c)).as(s"ndv_$c"))
    val stats = stamped.agg(count(lit(1)).as("n"), chgAggs: _*)
      .crossJoin(broadcast(li.agg(ndvAggs.head, ndvAggs.tail: _*)))
      .sharedCache()
    def colRow(c: String, width: Int) =
      stats.select(lit(c).as("column_name"), col("n"),
        col(s"ndv_$c").as("ndv"), (col(s"chg_$c") + 1).as("runs"),
        (col("n") * width).as("plain_bytes"),
        // dict: values + ceil(log2 ndv)/8-byte codes (min 1 byte)
        (col(s"ndv_$c") * width + col("n") *
          greatest(ceil(log(2.0, col(s"ndv_$c").cast(DoubleType)) / 8).cast(LongType),
            lit(1L))).as("dict_bytes"),
        ((col(s"chg_$c") + 1) * (width + 4)).as("rle_bytes"))
    colRow("l_orderkey", 8)
      .unionAll(colRow("qty", 8))
      .unionAll(colRow("rf", 1))
      .unionAll(colRow("sd", 4))
      .withColumn("winner",
        when(col("rle_bytes") <= col("dict_bytes") &&
          col("rle_bytes") <= col("plain_bytes"), "rle")
        .when(col("dict_bytes") <= col("plain_bytes"), "dict")
        .otherwise("plain"))
      .select(col("column_name"), col("n"), col("ndv"), col("runs"),
        col("plain_bytes"), col("dict_bytes"), col("rle_bytes"), col("winner"))
      .orderBy("column_name")
  }

  val layoutEncodingAdvisorSql: String = {
    def colStats(c: String, src: String, width: Int) =
      s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n,
         |       CAST(count(DISTINCT v) AS BIGINT) AS ndv,
         |       CAST(sum(chg) + 1 AS BIGINT) AS runs,
         |       CAST(count(*) * $width AS BIGINT) AS plain_bytes,
         |       CAST(count(DISTINCT v) * $width + count(*) *
         |            greatest(CAST(ceil(log2(count(DISTINCT v)) / 8) AS BIGINT), 1)
         |            AS BIGINT) AS dict_bytes,
         |       CAST((sum(chg) + 1) * ($width + 4) AS BIGINT) AS rle_bytes
         |FROM (
         |  SELECT v, CASE WHEN v <> lag(v) OVER (ORDER BY l_orderkey, l_linenumber)
         |                 THEN 1 ELSE 0 END AS chg
         |  FROM (SELECT l_orderkey, l_linenumber, $src AS v FROM lineitem) b) t""".stripMargin
    s"""SELECT column_name, n, ndv, runs, plain_bytes, dict_bytes, rle_bytes,
       |       CASE WHEN rle_bytes <= dict_bytes AND rle_bytes <= plain_bytes THEN 'rle'
       |            WHEN dict_bytes <= plain_bytes THEN 'dict'
       |            ELSE 'plain' END AS winner
       |FROM (
       |${colStats("l_orderkey", "l_orderkey", 8)}
       |UNION ALL
       |${colStats("qty", "CAST(l_quantity AS BIGINT)", 8)}
       |UNION ALL
       |${colStats("rf", "l_returnflag", 1)}
       |UNION ALL
       |${colStats("sd", "datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))", 4)}
       |) u
       |ORDER BY column_name""".stripMargin
  }

  /** agg-forward-buying-dip — the pantry-loading signature: weeks in
    * the top discount-share decile (promo weeks) vs their FOLLOWING
    * week's revenue against the non-promo baseline. Forward buying
    * makes a promotion look great in-week while cannibalizing the
    * next one — the post-promo dip ratio is the standard detector,
    * and pricing every promo by in-week lift alone (what a naive
    * uplift readout does) overstates it by exactly this dip. Weekly
    * aggregates exact; the promo-decile cut is an exact ntile;
    * "next week" is an index join, not a window over the fact
    * table; all ratios exact integer divisions quantized once. */
  val aggForwardBuyingDip: Q = (s, d) => {
    val weekly = lineitem(s, d)
      .groupBy(expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-05') " +
        "div 7 AS BIGINT)").as("wk"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("rev"),
        sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)) * " +
          "CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS DECIMAL(38,0))")).as("dwn"))
      .withColumn("promo_decile", ntile(10).over(Window.orderBy(
        expr("CAST((dwn - pmod(dwn, rev)) / rev AS DECIMAL(38,0))").desc, col("wk"))))
      .sharedCache()
    // single-stage fill: the self-join below reads weekly twice in one
    // action (r13 WarnProbe attribution — block-put first-fill race)
    weekly.count()
    val nextRev = weekly.select((col("wk") - 1).as("wk"), col("rev").as("next_rev"))
    val tagged = weekly.join(nextRev, Seq("wk"))
      .select((col("promo_decile") === 1).as("promo"), col("rev"), col("next_rev"))
    val g = tagged.groupBy("promo")
      .agg(count(lit(1)).as("n_weeks"), sum("rev").as("srev"),
        sum("next_rev").as("snext"))
    val p = g.filter(col("promo")).select(col("n_weeks").as("promo_weeks"),
      col("srev").as("prev"), col("snext").as("pnext"))
    val np = g.filter(!col("promo")).select(col("n_weeks").as("base_weeks"),
      col("srev").as("brev"), col("snext").as("bnext"))
    p.crossJoin(broadcast(np))
      .select(col("promo_weeks"), col("base_weeks"),
        // next-week revenue per in-week revenue dollar, both regimes
        ratioFloor(col("pnext").cast(DoubleType) * lit(1e0), col("prev"), 6)
          .as("promo_followthrough"),
        ratioFloor(col("bnext").cast(DoubleType) * lit(1e0), col("brev"), 6)
          .as("baseline_followthrough"))
      .withColumn("post_promo_dip",
        round(col("baseline_followthrough") - col("promo_followthrough"), 6))
      .withColumn("forward_buying_detected", col("post_promo_dip") > lit(0.0))
  }

  val aggForwardBuyingDipSql: String =
    """WITH weekly AS MATERIALIZED (
      |  SELECT wk, rev, dwn,
      |         ntile(10) OVER (ORDER BY (dwn - (dwn % rev)) // rev DESC, wk)
      |           AS promo_decile
      |  FROM (
      |    SELECT datediff('day', DATE '1970-01-05', CAST(l_shipdate AS DATE)) // 7 AS wk,
      |           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |                AS HUGEINT) AS rev,
      |           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) *
      |                    CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS HUGEINT))
      |                AS HUGEINT) AS dwn
      |    FROM lineitem GROUP BY 1) t),
      |next_rev AS (SELECT wk - 1 AS wk, rev AS next_rev FROM weekly),
      |tagged AS (
      |  SELECT weekly.promo_decile = 1 AS promo, weekly.rev, next_rev
      |  FROM weekly JOIN next_rev USING (wk)),
      |g AS (
      |  SELECT promo, CAST(count(*) AS BIGINT) AS n_weeks,
      |         CAST(sum(rev) AS HUGEINT) AS srev,
      |         CAST(sum(next_rev) AS HUGEINT) AS snext
      |  FROM tagged GROUP BY 1),
      |j AS (
      |  SELECT p.n_weeks AS promo_weeks, p.srev AS prev, p.snext AS pnext,
      |         np.n_weeks AS base_weeks, np.srev AS brev, np.snext AS bnext
      |  FROM (SELECT * FROM g WHERE promo) p
      |  CROSS JOIN (SELECT * FROM g WHERE NOT promo) np)
      |SELECT promo_weeks, base_weeks,
      |       floor(CAST(pnext AS DOUBLE) * 1e6 / CAST(prev AS DOUBLE)) / 1e6
      |         AS promo_followthrough,
      |       floor(CAST(bnext AS DOUBLE) * 1e6 / CAST(brev AS DOUBLE)) / 1e6
      |         AS baseline_followthrough,
      |       round(floor(CAST(bnext AS DOUBLE) * 1e6 / CAST(brev AS DOUBLE)) / 1e6 -
      |             floor(CAST(pnext AS DOUBLE) * 1e6 / CAST(prev AS DOUBLE)) / 1e6, 6)
      |         AS post_promo_dip,
      |       round(floor(CAST(bnext AS DOUBLE) * 1e6 / CAST(brev AS DOUBLE)) / 1e6 -
      |             floor(CAST(pnext AS DOUBLE) * 1e6 / CAST(prev AS DOUBLE)) / 1e6, 6) > 0.0
      |         AS forward_buying_detected
      |FROM j""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-timezone-shift", dqTimezoneShift, dqTimezoneShiftSql),
    Key("agg-capture-ratios", aggCaptureRatios, aggCaptureRatiosSql),
    Key("layout-encoding-advisor", layoutEncodingAdvisor, layoutEncodingAdvisorSql),
    Key("agg-forward-buying-dip", aggForwardBuyingDip, aggForwardBuyingDipSql))
}
