package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch W: Borda/Condorcet rank aggregation, Kelly staking
  * criterion, TOPSIS multi-criteria scorecard, Bradley-Terry strength
  * fitting by bounded MM iterations. */
object RelMore187 extends KeyModule {

  private val priceCents =
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** agg-borda-condorcet — rank aggregation over three supplier
    * leaderboards (revenue, line count, avg-discount-ascending): each
    * criterion's top-10 is an orderBy+limit bounded heap (never a
    * global rank), Borda points are 10..1 per list (absent = 0), and
    * the Condorcet check replays every candidate pair against the
    * three criterion VALUES — a winner beats every other candidate on
    * ≥2 criteria. Borda can disagree with Condorcet (the classic
    * social-choice gotcha); both columns side by side expose when.
    * All pair work happens on the ≤30-candidate union frame. */
  val aggBordaCondorcet: Q = (s, d) => {
    val base = lineitem(s, d).groupBy(col("l_suppkey").as("sk"))
      .agg(sum(expr(priceCents)).as("rev"), count(lit(1)).as("cnt"),
        expr("sum(CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT)) " +
          "DIV count(*)").as("disc"))
      .sharedCache()
    def top10(ord: Column, name: String): DataFrame =
      base.orderBy(ord, col("sk")).limit(10)
        .withColumn("rk", row_number().over(Window.orderBy(ord, col("sk"))))
        .select(col("sk"), (lit(11L) - col("rk")).as(s"pts_$name"))
    val byRev = top10(col("rev").desc, "rev")
    val byCnt = top10(col("cnt").desc, "cnt")
    val byDisc = top10(col("disc").asc, "disc")
    val borda = byRev.join(byCnt, Seq("sk"), "full")
      .join(byDisc, Seq("sk"), "full")
      .select(col("sk"),
        (coalesce(col("pts_rev"), lit(0L)) + coalesce(col("pts_cnt"), lit(0L)) +
          coalesce(col("pts_disc"), lit(0L))).as("borda_points"))
      .sharedCache()
    val cand = borda.join(base, Seq("sk"))
    val pairs = cand.select(col("sk").as("a"), col("rev").as("ra"),
      col("cnt").as("ca"), col("disc").as("da"))
      .crossJoin(cand.select(col("sk").as("b"), col("rev").as("rb"),
        col("cnt").as("cb"), col("disc").as("db")))
      .filter(col("a") =!= col("b"))
      .withColumn("wins",
        (when(col("ra") > col("rb") ||
          (col("ra") === col("rb") && col("a") < col("b")), 1).otherwise(0)) +
          (when(col("ca") > col("cb") ||
            (col("ca") === col("cb") && col("a") < col("b")), 1).otherwise(0)) +
          (when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), 1).otherwise(0)))
    val condorcet = pairs.groupBy(col("a").as("sk"))
      .agg(min(when(col("wins") >= 2, 1L).otherwise(0L)).as("beats_all"))
    borda.join(condorcet, Seq("sk"))
      .select(col("sk").as("suppkey"), col("borda_points"),
        (col("beats_all") === 1L).as("condorcet_winner"))
      .orderBy(col("borda_points").desc, col("suppkey"))
      .limit(5)
  }

  val aggBordaCondorcetSql: String =
    s"""WITH base AS MATERIALIZED (
       |  SELECT l_suppkey AS sk,
       |         CAST(sum($priceCents) AS BIGINT) AS rev,
       |         CAST(count(*) AS BIGINT) AS cnt,
       |         CAST(sum(CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT))
       |              // count(*) AS BIGINT) AS disc
       |  FROM lineitem GROUP BY 1),
       |byrev AS (
       |  SELECT sk, 11 - row_number() OVER (ORDER BY rev DESC, sk) AS pts_rev
       |  FROM (SELECT * FROM base ORDER BY rev DESC, sk LIMIT 10) t),
       |bycnt AS (
       |  SELECT sk, 11 - row_number() OVER (ORDER BY cnt DESC, sk) AS pts_cnt
       |  FROM (SELECT * FROM base ORDER BY cnt DESC, sk LIMIT 10) t),
       |bydisc AS (
       |  SELECT sk, 11 - row_number() OVER (ORDER BY disc ASC, sk) AS pts_disc
       |  FROM (SELECT * FROM base ORDER BY disc ASC, sk LIMIT 10) t),
       |borda AS MATERIALIZED (
       |  SELECT sk, CAST(coalesce(pts_rev, 0) + coalesce(pts_cnt, 0) +
       |         coalesce(pts_disc, 0) AS BIGINT) AS borda_points
       |  FROM byrev FULL JOIN bycnt USING (sk) FULL JOIN bydisc USING (sk)),
       |cand AS (SELECT borda.sk, borda_points, rev, cnt, disc
       |         FROM borda JOIN base ON borda.sk = base.sk),
       |pairs AS (
       |  SELECT x.sk AS a,
       |         (CASE WHEN x.rev > y.rev OR (x.rev = y.rev AND x.sk < y.sk)
       |               THEN 1 ELSE 0 END) +
       |         (CASE WHEN x.cnt > y.cnt OR (x.cnt = y.cnt AND x.sk < y.sk)
       |               THEN 1 ELSE 0 END) +
       |         (CASE WHEN x.disc < y.disc OR (x.disc = y.disc AND x.sk < y.sk)
       |               THEN 1 ELSE 0 END) AS wins
       |  FROM cand x JOIN cand y ON x.sk <> y.sk),
       |cond AS (
       |  SELECT a AS sk,
       |         min(CASE WHEN wins >= 2 THEN 1 ELSE 0 END) AS beats_all
       |  FROM pairs GROUP BY 1)
       |SELECT borda.sk AS suppkey, borda_points,
       |       beats_all = 1 AS condorcet_winner
       |FROM borda JOIN cond ON borda.sk = cond.sk
       |ORDER BY borda_points DESC, suppkey LIMIT 5""".stripMargin

  /** agg-kelly-criterion — position sizing from the monthly revenue
    * "return" series: the continuous Kelly fraction f* = μ/σ² on
    * quantized log-returns, the discrete win/loss Kelly
    * f = p − (1−p)/b (p = up-month share, b = avg gain / avg loss,
    * exact integer sums), and the expected log-growth at full, half,
    * and double Kelly — g(f) ≈ fμ − f²σ²/2 — which shows WHY
    * overbetting destroys a compounding book (g(2f*) ≈ 0). All
    * moments come from one bounded month frame with ordered-fold
    * quantization. */
  val aggKellyCriterion: Q = (s, d) => {
    val wM = Window.orderBy("mi")
    val ret = orders(s, d)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("mi"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("rev"))
      .withColumn("prev", lag("rev", 1).over(wM))
      .filter(col("prev").isNotNull)
      .select(floor(log(col("rev").cast(DoubleType) /
        col("prev").cast(DoubleType)) * 1e9).cast(LongType).as("rq"))
    val m = ret.agg(count(lit(1)).as("n"),
      sum("rq").as("s"),
      sum(expr("CAST(rq AS DECIMAL(38,0)) * rq")).as("ss"),
      sum(when(col("rq") > 0, 1L).otherwise(0L)).as("nup"),
      sum(when(col("rq") > 0, col("rq")).otherwise(0L)).as("sup"),
      sum(when(col("rq") <= 0, -col("rq")).otherwise(0L)).as("sdn"))
      .select(col("n").cast(DoubleType).as("nd"),
        col("s").cast(DoubleType).as("sd"),
        col("ss").cast(DoubleType).as("ssd"),
        col("nup").cast(DoubleType).as("nup"),
        col("sup").cast(DoubleType).as("sup"),
        col("sdn").cast(DoubleType).as("sdn"))
      .select(col("nd"),
        (col("sd") / col("nd") / 1e9).as("mu"),
        (((col("ssd") - col("sd") * col("sd") / col("nd")) /
          (col("nd") - 1.0)) / 1e18).as("v"),
        (col("nup") / col("nd")).as("p"),
        ((col("sup") / col("nup")) /
          (col("sdn") / (col("nd") - col("nup")))).as("b"))
    m.select(col("nd").cast(LongType).as("n_months"),
      round(col("mu"), 6).as("mu"),
      round(col("v"), 6).as("sigma2"),
      round(col("mu") / col("v"), 4).as("kelly_continuous"),
      round(col("p") - (lit(1.0) - col("p")) / col("b"), 4).as("kelly_discrete"),
      round(col("mu") * (col("mu") / col("v")) -
        (col("mu") / col("v")) * (col("mu") / col("v")) * col("v") / 2.0, 6)
        .as("growth_full"),
      round(col("mu") * (col("mu") / col("v") / 2.0) -
        (col("mu") / col("v") / 2.0) * (col("mu") / col("v") / 2.0) *
          col("v") / 2.0, 6).as("growth_half"),
      round(col("mu") * (col("mu") / col("v") * 2.0) -
        (col("mu") / col("v") * 2.0) * (col("mu") / col("v") * 2.0) *
          col("v") / 2.0, 6).as("growth_double"))
  }

  val aggKellyCriterionSql: String =
    """WITH mon AS (
      |  SELECT mi, CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |         AS BIGINT)) AS BIGINT) AS rev
      |  FROM (SELECT year(CAST(o_orderdate AS DATE)) * 12 +
      |               month(CAST(o_orderdate AS DATE)) AS mi, o_totalprice
      |        FROM orders) t GROUP BY 1),
      |ret AS (
      |  SELECT CAST(floor(ln(CAST(rev AS DOUBLE) / CAST(prev AS DOUBLE)) * 1e9)
      |              AS BIGINT) AS rq
      |  FROM (SELECT rev, lag(rev) OVER (ORDER BY mi) AS prev FROM mon) q
      |  WHERE prev IS NOT NULL),
      |m AS (
      |  SELECT nd, sd / nd / 1e9 AS mu,
      |         ((ssd - sd * sd / nd) / (nd - 1.0)) / 1e18 AS v,
      |         nup / nd AS p,
      |         (sup / nup) / (sdn / (nd - nup)) AS b
      |  FROM (
      |    SELECT CAST(count(*) AS DOUBLE) AS nd,
      |           CAST(sum(rq) AS DOUBLE) AS sd,
      |           CAST(sum(CAST(rq AS HUGEINT) * rq) AS DOUBLE) AS ssd,
      |           CAST(sum(CASE WHEN rq > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS nup,
      |           CAST(sum(CASE WHEN rq > 0 THEN rq ELSE 0 END) AS DOUBLE) AS sup,
      |           CAST(sum(CASE WHEN rq <= 0 THEN -rq ELSE 0 END) AS DOUBLE) AS sdn
      |    FROM ret) t)
      |SELECT CAST(nd AS BIGINT) AS n_months,
      |       round(mu, 6) AS mu, round(v, 6) AS sigma2,
      |       round(mu / v, 4) AS kelly_continuous,
      |       round(p - (1.0 - p) / b, 4) AS kelly_discrete,
      |       round(mu * (mu / v) - (mu / v) * (mu / v) * v / 2.0, 6)
      |         AS growth_full,
      |       round(mu * (mu / v / 2.0) - (mu / v / 2.0) * (mu / v / 2.0) *
      |             v / 2.0, 6) AS growth_half,
      |       round(mu * (mu / v * 2.0) - (mu / v * 2.0) * (mu / v * 2.0) *
      |             v / 2.0, 6) AS growth_double
      |FROM m""".stripMargin

  /** agg-topsis-scorecard — multi-criteria supplier selection by
    * TOPSIS: vector-normalize three criteria (revenue↑, lines↑, mean
    * discount↓), measure each supplier's euclidean distance to the
    * ideal and anti-ideal points, rank by the closeness coefficient
    * d⁻/(d⁺+d⁻). Scale shape: normalization denominators and the
    * ideal points are scalar aggregates, the per-supplier score is an
    * embarrassingly parallel projection, and the ONLY ordering is the
    * final orderBy+limit bounded heap — no global window over the
    * supplier dimension at any point. */
  val aggTopsisScorecard: Q = (s, d) => {
    val base = lineitem(s, d).groupBy(col("l_suppkey").as("sk"))
      .agg(sum(expr(priceCents)).as("rev"), count(lit(1)).as("cnt"),
        expr("sum(CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT)) " +
          "DIV count(*)").as("disc"))
      .sharedCache()
    val norms = base.agg(
      sqrt(sum(expr("CAST(rev AS DECIMAL(38,0)) * rev")).cast(DoubleType))
        .as("nr"),
      sqrt(sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt")).cast(DoubleType))
        .as("nc"),
      sqrt(sum(expr("CAST(disc AS DECIMAL(38,0)) * disc")).cast(DoubleType))
        .as("ndk"))
    val scored0 = base.crossJoin(broadcast(norms))
      .select(col("sk"),
        (col("rev").cast(DoubleType) / col("nr")).as("r1"),
        (col("cnt").cast(DoubleType) / col("nc")).as("r2"),
        (col("disc").cast(DoubleType) / col("ndk")).as("r3"))
    val ideal = scored0.agg(max("r1").as("i1"), max("r2").as("i2"),
      min("r3").as("i3"), min("r1").as("a1"), min("r2").as("a2"),
      max("r3").as("a3"))
    scored0.crossJoin(broadcast(ideal))
      .select(col("sk").as("suppkey"),
        sqrt((col("r1") - col("i1")) * (col("r1") - col("i1")) +
          (col("r2") - col("i2")) * (col("r2") - col("i2")) +
          (col("r3") - col("i3")) * (col("r3") - col("i3"))).as("d_plus"),
        sqrt((col("r1") - col("a1")) * (col("r1") - col("a1")) +
          (col("r2") - col("a2")) * (col("r2") - col("a2")) +
          (col("r3") - col("a3")) * (col("r3") - col("a3"))).as("d_minus"))
      .select(col("suppkey"),
        round(col("d_plus"), 6).as("d_ideal"),
        round(col("d_minus"), 6).as("d_anti"),
        round(col("d_minus") / (col("d_plus") + col("d_minus")), 6)
          .as("closeness"))
      .orderBy(col("closeness").desc, col("suppkey"))
      .limit(10)
  }

  val aggTopsisScorecardSql: String =
    s"""WITH base AS MATERIALIZED (
       |  SELECT l_suppkey AS sk,
       |         CAST(sum($priceCents) AS BIGINT) AS rev,
       |         CAST(count(*) AS BIGINT) AS cnt,
       |         CAST(sum(CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT))
       |              // count(*) AS BIGINT) AS disc
       |  FROM lineitem GROUP BY 1),
       |norms AS (
       |  SELECT sqrt(CAST(sum(CAST(rev AS HUGEINT) * rev) AS DOUBLE)) AS nr,
       |         sqrt(CAST(sum(CAST(cnt AS HUGEINT) * cnt) AS DOUBLE)) AS nc,
       |         sqrt(CAST(sum(CAST(disc AS HUGEINT) * disc) AS DOUBLE)) AS ndk
       |  FROM base),
       |scored0 AS (
       |  SELECT sk, CAST(rev AS DOUBLE) / nr AS r1,
       |         CAST(cnt AS DOUBLE) / nc AS r2,
       |         CAST(disc AS DOUBLE) / ndk AS r3
       |  FROM base CROSS JOIN norms),
       |ideal AS (
       |  SELECT max(r1) AS i1, max(r2) AS i2, min(r3) AS i3,
       |         min(r1) AS a1, min(r2) AS a2, max(r3) AS a3
       |  FROM scored0)
       |SELECT sk AS suppkey,
       |       round(sqrt((r1 - i1) * (r1 - i1) + (r2 - i2) * (r2 - i2) +
       |             (r3 - i3) * (r3 - i3)), 6) AS d_ideal,
       |       round(sqrt((r1 - a1) * (r1 - a1) + (r2 - a2) * (r2 - a2) +
       |             (r3 - a3) * (r3 - a3)), 6) AS d_anti,
       |       round(sqrt((r1 - a1) * (r1 - a1) + (r2 - a2) * (r2 - a2) +
       |             (r3 - a3) * (r3 - a3)) /
       |             (sqrt((r1 - i1) * (r1 - i1) + (r2 - i2) * (r2 - i2) +
       |              (r3 - i3) * (r3 - i3)) +
       |              sqrt((r1 - a1) * (r1 - a1) + (r2 - a2) * (r2 - a2) +
       |              (r3 - a3) * (r3 - a3))), 6) AS closeness
       |FROM scored0 CROSS JOIN ideal
       |ORDER BY closeness DESC, suppkey LIMIT 10""".stripMargin

  /** agg-bradley-terry — pairwise-preference strength fitting, the
    * model behind chatbot-arena leaderboards: order priorities
    * "compete" month by month (higher revenue share wins the pair),
    * and three minorization-maximization rounds fit the strengths
    * π_i = W_i / Σ_j n_ij/(π_i+π_j) on the bounded 5×5 comparison
    * frame, every round rounded to 9 dp so float noise cannot compound
    * (the PageRank discipline). Strengths are normalized to mean 1;
    * the report pairs each strength with its raw win count so rank
    * flips between the two columns are visible. Fact work: one
    * (month, priority) aggregate. */
  val aggBradleyTerry: Q = (s, d) => {
    val mp = orders(s, d)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("mi"), col("o_orderpriority").as("pri"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("rev"))
    val duel = mp.select(col("mi"), col("pri").as("a"), col("rev").as("ra"))
      .join(mp.select(col("mi"), col("pri").as("b"), col("rev").as("rb")),
        Seq("mi"))
      .filter(col("a") =!= col("b"))
      .withColumn("awin", (col("ra") > col("rb") ||
        (col("ra") === col("rb") && col("a") < col("b"))).cast(IntegerType))
    val nij = duel.groupBy("a", "b")
      .agg(count(lit(1)).as("n"), sum("awin").cast(LongType).as("w"))
    // r14 opt: the comparison frame is bounded BY CONSTRUCTION (a, b ∈
    // the 5 order priorities — ≤ 20 rows), so the 3 eager MM rounds
    // (per-round checkpoint actions + broadcast joins per run) are
    // driver-side no-data work (guide §5; the emb-mmr-rerank /
    // agg-markov-attribution precedent). The driver loop applies the
    // identical per-round folds — round(wi/dn, 9), mean-normalize,
    // round(·, 9) — on the SAME n/w integers Spark aggregated; the
    // 9-dp rounding absorbs summation-order noise exactly as it
    // already did across engines.
    val rows = nij.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // bounded BY CONSTRUCTION (5 order priorities → ≤20 ordered pairs);
    // fail loudly if the key domain ever grows instead of silently
    // scaling the O(states²·rounds) driver loop (r14 advice)
    require(rows.length <= 64,
      s"agg-bradley-terry: comparison frame has ${rows.length} rows — " +
        "the ≤20-row construction bound no longer holds; move the loop back to Spark")
    val as = rows.map(_._1).distinct.sorted
    val wi = as.map(a => a -> rows.filter(_._1 == a).map(_._4).sum).toMap
    var p = as.map(_ -> 1.0).toMap
    for (_ <- 1 to 3) {
      val upd = as.map { a =>
        val dn = rows.filter(_._1 == a).sortBy(_._2).foldLeft(0.0) {
          case (acc, (_, b, n, _)) => acc + n.toDouble / (p(a) + p(b))
        }
        a -> TextDedup.round9(wi(a).toDouble / dn)
      }.toMap
      val mp = as.map(upd).sum / as.size
      p = as.map(a => a -> TextDedup.round9(upd(a) / mp)).toMap
    }
    import s.implicits._
    as.toSeq.map(a => (a, p(a), wi(a)))
      .toDF("a", "p", "wi")
      .select(col("a").as("priority"), round(col("p"), 6).as("bt_strength"),
        col("wi").as("pair_wins"))
      .orderBy(col("bt_strength").desc, col("priority"))
  }

  val aggBradleyTerrySql: String = {
    val iters = (1 to 3).map { k =>
      s"""den$k AS (
         |  SELECT nij.a,
         |         sum(CAST(n AS DOUBLE) / (pa.p + pb.p)) AS dn
         |  FROM nij JOIN pi${k - 1} pa ON nij.a = pa.a
         |           JOIN pi${k - 1} pb ON nij.b = pb.a
         |  GROUP BY 1),
         |upd$k AS (
         |  SELECT wins.a, round(CAST(wi AS DOUBLE) / dn, 9) AS p
         |  FROM wins JOIN den$k ON wins.a = den$k.a),
         |pi$k AS (
         |  SELECT a, round(p / (SELECT avg(p) FROM upd$k), 9) AS p
         |  FROM upd$k)""".stripMargin
    }.mkString(",\n")
    """WITH mp AS (
      |  SELECT year(CAST(o_orderdate AS DATE)) * 12 +
      |           month(CAST(o_orderdate AS DATE)) AS mi,
      |         o_orderpriority AS pri,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |              AS BIGINT)) AS BIGINT) AS rev
      |  FROM orders GROUP BY 1, 2),
      |duel AS (
      |  SELECT x.pri AS a, y.pri AS b,
      |         CASE WHEN x.rev > y.rev OR (x.rev = y.rev AND x.pri < y.pri)
      |              THEN 1 ELSE 0 END AS awin
      |  FROM mp x JOIN mp y ON x.mi = y.mi AND x.pri <> y.pri),
      |nij AS MATERIALIZED (
      |  SELECT a, b, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(awin) AS BIGINT) AS w
      |  FROM duel GROUP BY 1, 2),
      |wins AS (SELECT a, CAST(sum(w) AS BIGINT) AS wi FROM nij GROUP BY 1),
      |pi0 AS (SELECT a, CAST(1.0 AS DOUBLE) AS p FROM wins),
      |""".stripMargin + iters + """
      |SELECT pi3.a AS priority, round(pi3.p, 6) AS bt_strength,
      |       wi AS pair_wins
      |FROM pi3 JOIN wins ON pi3.a = wins.a
      |ORDER BY bt_strength DESC, priority""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("agg-borda-condorcet", aggBordaCondorcet, aggBordaCondorcetSql),
    Key("agg-kelly-criterion", aggKellyCriterion, aggKellyCriterionSql),
    Key("agg-topsis-scorecard", aggTopsisScorecard, aggTopsisScorecardSql),
    Key("agg-bradley-terry", aggBradleyTerry, aggBradleyTerrySql))
}
