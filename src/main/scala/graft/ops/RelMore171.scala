package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._
import graft.functions.Midranks

/** Round-8 batch G: post-hoc rank inference (Dunn's pairwise test,
  * Page's ordered trend over blocks) and Fellegi-Sunter EM parameter
  * estimation for record linkage. */
object RelMore171 extends KeyModule {

  /** Shared erfc literal (A&S 7.1.26) — see RelMore108. */
  private def erfcSql(x: String): String =
    s"(1.0 / (1.0 + 0.3275911 * $x)) * (0.254829592 + (1.0 / (1.0 + 0.3275911 * $x)) * " +
      s"(-0.284496736 + (1.0 / (1.0 + 0.3275911 * $x)) * (1.421413741 + " +
      s"(1.0 / (1.0 + 0.3275911 * $x)) * (-1.453152027 + (1.0 / (1.0 + 0.3275911 * $x)) * " +
      s"1.061405429)))) * exp(-($x) * ($x))"

  /** agg-dunns-test — Dunn's post-hoc pairwise comparisons after
    * Kruskal-Wallis, with the tie-corrected pooled rank variance: all
    * 10 priority-class pairs of mean order-value ranks, z statistics,
    * two-sided p via the shared erfc literal, and the Bonferroni
    * verdict at α = 0.05/10. A significant omnibus KW (agg-kruskal-
    * wallis) says "somewhere differs"; Dunn's is THE follow-up that
    * says WHICH pairs, using the pooled midranks (not per-pair
    * re-ranking — that is Conover's error mode). Mean ranks and the
    * tie term Σ(t³−t) come exactly from one Midranks histogram pass;
    * z and p are terminal doubles. */
  val aggDunnsTest: Q = (s, d) => {
    val src = orders(s, d).select(
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"),
      substring(col("o_orderpriority"), 1, 1).cast(IntegerType).as("g"))
    val classes = (1 to 5).map(i => (s"c$i", col("g") === i))
    val mr = Midranks.doubled(src, "v", classes)
    val aggCols = Seq(sum("cnt").as("n"),
      sum(col("cnt").cast(DecimalType(38, 0)) * col("cnt") * col("cnt") - col("cnt"))
        .as("tie3")) ++
      (1 to 5).flatMap(i => Seq(
        sum(col(s"c$i")).as(s"n$i"),
        sum(col(s"c$i").cast(DecimalType(38, 0)) * col("mr2")).as(s"t$i")))
    // one cached 1-row stats frame feeds all 10 pair branches (the
    // Midranks pass and its aggregate run once, not per pair)
    val a = mr.agg(aggCols.head, aggCols.tail: _*).sharedCache()
    val dn = col("n").cast(DoubleType)
    // pooled variance factor: N(N+1)/12 − Σ(t³−t)/(12(N−1))
    val vf = dn * (dn + 1) / 12 -
      col("tie3").cast(DoubleType) / (lit(12.0) * (dn - 1))
    val out = (for { g <- 1 to 5; h <- (g + 1) to 5 } yield (g, h)).map {
      case (g, h) =>
        val rg = col(s"t$g").cast(DoubleType) / (lit(2.0) * col(s"n$g").cast(DoubleType))
        val rh = col(s"t$h").cast(DoubleType) / (lit(2.0) * col(s"n$h").cast(DoubleType))
        val z = (rg - rh) / sqrt(vf * (lit(1.0) / col(s"n$g").cast(DoubleType) +
          lit(1.0) / col(s"n$h").cast(DoubleType)))
        a.withColumn("zc", z)
          .withColumn("p2", expr(erfcSql("abs(zc) / sqrt(2.0)")))
          .select(lit(s"$g-$h").as("pair"),
            col(s"n$g").cast(LongType).as("n_g"), col(s"n$h").cast(LongType).as("n_h"),
            round(rg, 2).as("mean_rank_g"), round(rh, 2).as("mean_rank_h"),
            round(col("zc"), 4).as("z_stat"),
            round(col("p2"), 6).as("p_two_sided"),
            (col("p2") < 0.005).as("significant_bonferroni"))
    }
    out.reduce(_ unionAll _).orderBy("pair")
  }

  val aggDunnsTestSql: String = {
    val classCols = (1 to 5).map(i =>
      s"CAST(sum(CASE WHEN g = $i THEN 1 ELSE 0 END) AS BIGINT) AS c$i")
      .mkString(",\n      |         ")
    val aggCols = (1 to 5).map(i =>
      s"CAST(sum(c$i) AS BIGINT) AS n$i,\n      |         " +
        s"CAST(sum(CAST(c$i AS HUGEINT) * mr2) AS HUGEINT) AS t$i")
      .mkString(",\n      |         ")
    val vf = "(CAST(n AS DOUBLE) * (n + 1) / 12 - CAST(tie3 AS DOUBLE) / (12.0 * (n - 1)))"
    val branches = (for { g <- 1 to 5; h <- (g + 1) to 5 } yield (g, h)).map {
      case (g, h) =>
        val rg = s"(CAST(t$g AS DOUBLE) / (2 * CAST(n$g AS DOUBLE)))"
        val rh = s"(CAST(t$h AS DOUBLE) / (2 * CAST(n$h AS DOUBLE)))"
        val z = s"(($rg - $rh) / sqrt($vf * (1.0 / n$g + 1.0 / n$h)))"
        val p = erfcSql(s"abs($z) / sqrt(2.0)")
        s"""SELECT '$g-$h' AS pair, n$g AS n_g, n$h AS n_h,
           |       round($rg, 2) AS mean_rank_g, round($rh, 2) AS mean_rank_h,
           |       round($z, 4) AS z_stat, round($p, 6) AS p_two_sided,
           |       ($p) < 0.005 AS significant_bonferroni
           |FROM a""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH src AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |         CAST(substring(o_orderpriority, 1, 1) AS INT) AS g
      |  FROM orders),
      |hist AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS cnt,
      |         $classCols
      |  FROM src GROUP BY v),
      |mr AS (
      |  SELECT v, cnt, c1, c2, c3, c4, c5,
      |         2 * sum(cnt) OVER (ORDER BY v) - cnt + 1 AS mr2
      |  FROM hist),
      |a AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS n,
      |         CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS HUGEINT) AS tie3,
      |         $aggCols
      |  FROM mr)
      |SELECT * FROM (
      |$branches
      |) u
      |ORDER BY pair""".stripMargin
  }

  /** agg-page-trend — Page's L test for an ORDERED alternative across
    * repeated blocks: within each order-year (block), the four
    * quarters are ranked by revenue; L = Σ_blocks Σ_j j·R_j grows
    * when revenue rises monotonically through the year. Friedman
    * (agg-friedman-test) asks "do quarters differ at all"; Page's
    * refinement tests the DIRECTIONAL hypothesis "Q1 < Q2 < Q3 < Q4"
    * with far more power — the canonical within-year seasonality
    * ramp test. Quarterly revenue exact; within-block ranks are a
    * 4-row partitioned window; E[L] = b·k(k+1)²/4 and Var[L] =
    * b·k²(k+1)(k²−1)/144 in closed form. */
  val aggPageTrend: Q = (s, d) => {
    val q = orders(s, d)
      .groupBy(year(col("o_orderdate")).as("yr"), quarter(col("o_orderdate")).as("qt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("rev"))
    // keep only complete 4-quarter years (the last corpus year is cut)
    val full = q.withColumn("nq", count(lit(1)).over(Window.partitionBy("yr")))
      .filter(col("nq") === 4)
    val ranked = full.withColumn("r",
      row_number().over(Window.partitionBy("yr").orderBy(col("rev"), col("qt"))))
    val agg = ranked.agg(
      expr("CAST(count(1) div 4 AS BIGINT)").as("b"),
      sum(col("qt").cast(LongType) * col("r")).as("l_stat"))
    val db = col("b").cast(DoubleType)
    val k = 4.0
    val el = db * k * (k + 1) * (k + 1) / 4
    val vl = db * k * k * (k + 1) * (k * k - 1) / 144
    agg.select(col("b").as("n_blocks"), col("l_stat"),
      round(el, 1).as("e_l"),
      round((col("l_stat").cast(DoubleType) - el) / sqrt(vl), 4).as("z_stat"),
      ((col("l_stat").cast(DoubleType) - el) / sqrt(vl) >= 1.645).as("rising_trend"))
  }

  val aggPageTrendSql: String =
    """WITH q AS (
      |  SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS rev
      |  FROM orders GROUP BY 1, 2),
      |full_years AS (
      |  SELECT yr, qt, rev FROM (
      |    SELECT *, count(*) OVER (PARTITION BY yr) AS nq FROM q) t
      |  WHERE nq = 4),
      |ranked AS (
      |  SELECT yr, qt,
      |         row_number() OVER (PARTITION BY yr ORDER BY rev, qt) AS r
      |  FROM full_years),
      |a AS (
      |  SELECT CAST(count(*) // 4 AS BIGINT) AS b,
      |         CAST(sum(CAST(qt AS BIGINT) * r) AS BIGINT) AS l_stat
      |  FROM ranked)
      |SELECT b AS n_blocks, l_stat,
      |       round(CAST(b AS DOUBLE) * 4 * 5 * 5 / 4, 1) AS e_l,
      |       round((CAST(l_stat AS DOUBLE) - CAST(b AS DOUBLE) * 4 * 5 * 5 / 4) /
      |             sqrt(CAST(b AS DOUBLE) * 16 * 5 * 15 / 144), 4) AS z_stat,
      |       (CAST(l_stat AS DOUBLE) - CAST(b AS DOUBLE) * 4 * 5 * 5 / 4) /
      |       sqrt(CAST(b AS DOUBLE) * 16 * 5 * 15 / 144) >= 1.645 AS rising_trend
      |FROM a""".stripMargin

  /** dq-linkage-em — Fellegi-Sunter parameter estimation by EM over
    * the comparison-pattern histogram: candidate customer pairs
    * (nation-blocked, key-sampled), three agreement fields (market
    * segment, account-balance proximity < 500, name check digit), and
    * THREE unrolled EM iterations fitting P(match), per-field m- and
    * u-probabilities from a declared init — no labels needed, which
    * is the whole point of F-S linkage. The EM state lives in a
    * one-row frame crossJoined to the 2³-pattern histogram (the
    * pattern space is 8 rows at ANY corpus size — the histogram
    * collapse is what makes EM-on-billions tractable), each iteration
    * one aggregate. Output: fitted parameters + the per-field
    * log₂(m/u) match weights dq-linkage-weights consumes. */
  val dqLinkageEm: Q = (s, d) => {
    val c = customer(s, d).filter(col("c_custkey") % 4 === 0)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        col("c_acctbal"),
        substring(col("c_name"), -1, 1).as("chk"))
    val pat = c.as("a").join(c.as("b"),
        col("a.c_nationkey") === col("b.c_nationkey") &&
          col("a.c_custkey") < col("b.c_custkey"))
      .select(
        (col("a.c_mktsegment") === col("b.c_mktsegment")).cast(IntegerType).as("g1"),
        (abs(col("a.c_acctbal") - col("b.c_acctbal")) < 500).cast(IntegerType).as("g2"),
        (col("a.chk") === col("b.chk")).cast(IntegerType).as("g3"))
      .groupBy("g1", "g2", "g3").agg(count(lit(1)).as("cnt"))
      .sharedCache()
    val n = pat.agg(sum("cnt").as("n"))
    // EM state: (p, m1..m3, u1..u3); declared init
    var state = n.select(col("n"),
      lit(0.1).as("p"),
      lit(0.9).as("m1"), lit(0.9).as("m2"), lit(0.9).as("m3"),
      lit(0.3).as("u1"), lit(0.3).as("u2"), lit(0.3).as("u3"))
    for (_ <- 1 to 3) {
      val joinedP = pat.crossJoin(broadcast(state))
        .withColumn("pm", col("p") *
          (col("m1") * col("g1") + (lit(1.0) - col("m1")) * (lit(1) - col("g1"))) *
          (col("m2") * col("g2") + (lit(1.0) - col("m2")) * (lit(1) - col("g2"))) *
          (col("m3") * col("g3") + (lit(1.0) - col("m3")) * (lit(1) - col("g3"))))
        .withColumn("pu", (lit(1.0) - col("p")) *
          (col("u1") * col("g1") + (lit(1.0) - col("u1")) * (lit(1) - col("g1"))) *
          (col("u2") * col("g2") + (lit(1.0) - col("u2")) * (lit(1) - col("g2"))) *
          (col("u3") * col("g3") + (lit(1.0) - col("u3")) * (lit(1) - col("g3"))))
        .withColumn("w", col("pm") / (col("pm") + col("pu")))
      state = joinedP.agg(
          max("n").as("n"),
          (sum(col("cnt") * col("w")) / max("n")).as("p"),
          (sum(col("cnt") * col("w") * col("g1")) / sum(col("cnt") * col("w"))).as("m1"),
          (sum(col("cnt") * col("w") * col("g2")) / sum(col("cnt") * col("w"))).as("m2"),
          (sum(col("cnt") * col("w") * col("g3")) / sum(col("cnt") * col("w"))).as("m3"),
          (sum(col("cnt") * (lit(1.0) - col("w")) * col("g1")) /
            sum(col("cnt") * (lit(1.0) - col("w")))).as("u1"),
          (sum(col("cnt") * (lit(1.0) - col("w")) * col("g2")) /
            sum(col("cnt") * (lit(1.0) - col("w")))).as("u2"),
          (sum(col("cnt") * (lit(1.0) - col("w")) * col("g3")) /
            sum(col("cnt") * (lit(1.0) - col("w")))).as("u3"))
        .select(col("n"),
          round(col("p"), 9).as("p"),
          round(col("m1"), 9).as("m1"), round(col("m2"), 9).as("m2"),
          round(col("m3"), 9).as("m3"),
          round(col("u1"), 9).as("u1"), round(col("u2"), 9).as("u2"),
          round(col("u3"), 9).as("u3"))
    }
    state.select(col("n").as("n_pairs"),
      round(col("p"), 6).as("p_match"),
      round(col("m1"), 6).as("m_segment"), round(col("u1"), 6).as("u_segment"),
      round(log(2.0, col("m1") / col("u1")), 3).as("w_segment"),
      round(col("m2"), 6).as("m_balance"), round(col("u2"), 6).as("u_balance"),
      round(log(2.0, col("m2") / col("u2")), 3).as("w_balance"),
      round(col("m3"), 6).as("m_checkdigit"), round(col("u3"), 6).as("u_checkdigit"),
      round(log(2.0, col("m3") / col("u3")), 3).as("w_checkdigit"))
  }

  val dqLinkageEmSql: String = {
    def pmExpr(p: String, ms: Seq[String]): String =
      s"$p * " + ms.zipWithIndex.map { case (m, i) =>
        s"($m * g${i + 1} + (1.0 - $m) * (1 - g${i + 1}))"
      }.mkString(" * ")
    def iter(i: Int): String = {
      val prev = s"s${i - 1}"
      s"""w$i AS (
         |  SELECT g1, g2, g3, cnt, n, pm / (pm + pu) AS w FROM (
         |    SELECT pat.g1, pat.g2, pat.g3, pat.cnt,
         |           ${pmExpr("p", Seq("m1", "m2", "m3"))} AS pm,
         |           ${pmExpr("(1.0 - p)", Seq("u1", "u2", "u3"))} AS pu,
         |           n
         |    FROM pat CROSS JOIN $prev) t),
         |s$i AS (
         |  SELECT max(n) AS n,
         |         round(sum(cnt * w) / max(n), 9) AS p,
         |         round(sum(cnt * w * g1) / sum(cnt * w), 9) AS m1,
         |         round(sum(cnt * w * g2) / sum(cnt * w), 9) AS m2,
         |         round(sum(cnt * w * g3) / sum(cnt * w), 9) AS m3,
         |         round(sum(cnt * (1.0 - w) * g1) / sum(cnt * (1.0 - w)), 9) AS u1,
         |         round(sum(cnt * (1.0 - w) * g2) / sum(cnt * (1.0 - w)), 9) AS u2,
         |         round(sum(cnt * (1.0 - w) * g3) / sum(cnt * (1.0 - w)), 9) AS u3
         |  FROM w$i)""".stripMargin
    }
    s"""WITH c AS (
       |  SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal,
       |         substring(c_name, -1, 1) AS chk
       |  FROM customer WHERE c_custkey % 4 = 0),
       |pat AS (
       |  SELECT CAST(a.c_mktsegment = b.c_mktsegment AS INT) AS g1,
       |         CAST(abs(a.c_acctbal - b.c_acctbal) < 500 AS INT) AS g2,
       |         CAST(a.chk = b.chk AS INT) AS g3,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM c a JOIN c b ON a.c_nationkey = b.c_nationkey
       |                   AND a.c_custkey < b.c_custkey
       |  GROUP BY 1, 2, 3),
       |s0 AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS n, 0.1 AS p,
       |         0.9 AS m1, 0.9 AS m2, 0.9 AS m3,
       |         0.3 AS u1, 0.3 AS u2, 0.3 AS u3
       |  FROM pat),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT n AS n_pairs, round(p, 6) AS p_match,
       |       round(m1, 6) AS m_segment, round(u1, 6) AS u_segment,
       |       round(log2(m1 / u1), 3) AS w_segment,
       |       round(m2, 6) AS m_balance, round(u2, 6) AS u_balance,
       |       round(log2(m2 / u2), 3) AS w_balance,
       |       round(m3, 6) AS m_checkdigit, round(u3, 6) AS u_checkdigit,
       |       round(log2(m3 / u3), 3) AS w_checkdigit
       |FROM s3""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("agg-dunns-test", aggDunnsTest, aggDunnsTestSql),
    Key("agg-page-trend", aggPageTrend, aggPageTrendSql),
    Key("dq-linkage-em", dqLinkageEm, dqLinkageEmSql))
}
