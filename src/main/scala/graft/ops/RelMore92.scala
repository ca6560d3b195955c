package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-10 batch J: second-digit Benford forensics, hash-derived
  * permutation testing, Wilson score intervals, growth accounting. */
object RelMore92 extends KeyModule {

  /** Second-digit Benford expected shares, precomputed ONCE in Scala
    * (e_d = Σ_{k=1..9} log10(1 + 1/(10k+d))) and inlined as 12-dp
    * literals into BOTH engine texts — no cross-engine log() at all. */
  private val Benford2: Seq[Double] = (0 to 9).map { dd =>
    BigDecimal((1 to 9).map(k => math.log10(1.0 + 1.0 / (10 * k + dd))).sum)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** dq-benford-second-digit — the second-digit Benford test, the
    * forensic follow-up auditors run when the first-digit test
    * (dq-benford) passes suspiciously well: fabricators fake leading
    * digits but rarely the second. Expected shares are COMPILED IN as
    * literals (see [[Benford2]]), so both engines do only counting +
    * the χ² fold — each digit's (O−Ne)²/(Ne) term is floor-quantized
    * to 1e-4 before the 10-term sum, keeping the statistic exact.
    * Digits come from the decimal STRING of integer cents (identical
    * formatting in both engines — no float log extraction). */
  val dqBenfordSecondDigit: Q = (s, d) => {
    val eCase = Benford2.zipWithIndex
      .map { case (e, i) => s"WHEN digit = $i THEN CAST($e AS DOUBLE)" }
      .mkString("CASE ", " ", " END")
    val base = orders(s, d)
      .select(floor(col("o_totalprice") * 100).cast(LongType).as("cents"))
      .filter(col("cents") >= 10)
      .select(substring(col("cents").cast(StringType), 2, 1).cast(IntegerType).as("digit"))
    val counts = base.groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val tot = counts.agg(sum("n_obs").as("n"))
    val terms = counts.crossJoin(broadcast(tot))
      .withColumn("e", expr(eCase))
      .withColumn("term_q",
        floor(pow(col("n_obs") - col("n") * col("e"), 2) / (col("n") * col("e")) * 1e4)
          .cast(LongType))
      .sharedCache()
    val chi = terms.agg((sum("term_q").cast(DoubleType) / 1e4).as("chi2"))
    terms.crossJoin(broadcast(chi))
      .select(col("digit"), col("n_obs"),
        ratioFloor(col("n_obs"), col("n"), 6).as("obs_share"),
        col("e").as("benford_share"), col("chi2"))
      .orderBy("digit")
  }

  val dqBenfordSecondDigitSql: String = {
    val eCase = Benford2.zipWithIndex
      .map { case (e, i) => s"WHEN digit = $i THEN CAST($e AS DOUBLE)" }
      .mkString("CASE ", " ", " END")
    s"""WITH base AS (
       |  SELECT CAST(substring(CAST(cents AS VARCHAR), 2, 1) AS INT) AS digit
       |  FROM (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
       |  WHERE cents >= 10),
       |counts AS (SELECT digit, count(*) AS n_obs FROM base GROUP BY digit),
       |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM counts),
       |terms AS (
       |  SELECT digit, n_obs, n, $eCase AS e,
       |         CAST(floor(pow(n_obs - n * ($eCase), 2) / (n * ($eCase)) * 1e4) AS BIGINT) AS term_q
       |  FROM counts CROSS JOIN tot),
       |chi AS (SELECT CAST(sum(term_q) AS DOUBLE) / 1e4 AS chi2 FROM terms)
       |SELECT digit, n_obs, ${ratioFloorSql("n_obs", "n", 6)} AS obs_share,
       |       e AS benford_share, chi2
       |FROM terms CROSS JOIN chi
       |ORDER BY digit""".stripMargin
  }

  private val NPerms = 20

  /** emb-permutation-test — a PERMUTATION test that scales: is the
    * centroid separation between label groups {0..4} and {5..9} real,
    * or what chance produces? Real permutation tests shuffle labels;
    * at cluster scale a shuffle is a nondeterministic sort, so the
    * permutations here are HASH-DERIVED — md5(vec_id, salt) parity
    * for 20 fixed salts gives 20 independent, repartition-proof
    * pseudo-relabelings. Every statistic (Σ over dims of the squared
    * difference of floor-div centroid means, micro-units) is exact
    * integer arithmetic; the p-value is the exact count of
    * permutation stats ≥ observed. One pass computes all 21
    * assignments via an exploded salt column — 21× the rows, zero
    * extra shuffles beyond the (salt, group, dim) aggregate. */
  val embPermutationTest: Q = (s, d) => {
    // r14 opt: (a) repartition after the single-row-group read (guide
    // §2.5) so the salt fan-out runs on every core, not inside the one
    // scan task; (b) assign grp BEFORE exploding dims — it depends only
    // on (vec_id, salt), so the md5 is paid once per (vec, salt)
    // instead of once per (vec, salt, dim) (§1.2 per-task work). Same
    // rows out: posexplode commutes with the per-vector grp column.
    val vecs = embeddings(s, d)
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .select(col("vec_id"), col("label"),
        expr("quantize_lattice_long(embedding, 1000000.0D)").as("xs"))
    val salted = vecs.crossJoin(
      s.range(-1, NPerms).select(col("id").cast(IntegerType).as("salt")))
      .withColumn("grp",
        when(col("salt") === -1, (col("label") <= 4).cast(IntegerType))
          .otherwise((expr("instr('0123456789abcdef', substring(md5(concat(CAST(vec_id AS STRING), '_', CAST(salt AS STRING))), 1, 1)) - 1") < 8)
            .cast(IntegerType)))
      .select(col("salt"), col("grp"), posexplode(col("xs")).as(Seq("pos", "x")))
    val cent = salted.groupBy("salt", "grp", "pos")
      .agg((sum("x") - pmod(sum("x"), count(lit(1)))).as("sn"), count(lit(1)).as("cn"))
      .select(col("salt"), col("grp"), col("pos"),
        (col("sn") / col("cn")).cast(LongType).as("c"))
    val stats = cent.groupBy("salt", "pos")
      .agg((max(when(col("grp") === 1, col("c"))) -
        max(when(col("grp") === 0, col("c")))).as("dc"))
      .groupBy("salt")
      .agg(sum(col("dc") * col("dc")).as("stat"))
      .sharedCache()
    val obs = stats.filter(col("salt") === -1).select(col("stat").as("obs_stat"))
    stats.filter(col("salt") =!= -1)
      .crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_perms"),
        max("obs_stat").as("obs"),
        min("stat").as("perm_min"), max("stat").as("perm_max"),
        sum(when(col("stat") >= col("obs_stat"), 1L).otherwise(0L)).as("n_ge"))
      .select(col("n_perms"), col("obs").as("obs_stat"),
        col("perm_min"), col("perm_max"), col("n_ge"),
        ratioFloor(col("n_ge"), col("n_perms"), 3).as("p_value"))
  }

  val embPermutationTestSql: String =
    s"""WITH comp AS (
       |  SELECT vec_id, label, unnest(xi) AS x, unnest(range(0, len(xi))) AS pos
       |  FROM (SELECT vec_id, label,
       |          list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xi
       |        FROM embeddings)),
       |salted AS (
       |  SELECT vec_id, pos, x, CAST(t.range AS INT) AS salt,
       |         CASE WHEN t.range = -1 THEN CAST(label <= 4 AS INT)
       |              ELSE CAST((strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR) || '_' || CAST(CAST(t.range AS INT) AS VARCHAR)), 1, 1)) - 1) < 8 AS INT)
       |         END AS grp
       |  FROM comp CROSS JOIN range(-1, $NPerms) t),
       |cent AS (
       |  SELECT salt, grp, pos,
       |         CAST((sum(x) - ((sum(x) % count(*)) + count(*)) % count(*)) / count(*) AS BIGINT) AS c
       |  FROM salted GROUP BY 1, 2, 3),
       |dims AS (
       |  SELECT salt, pos,
       |         max(CASE WHEN grp = 1 THEN c END) - max(CASE WHEN grp = 0 THEN c END) AS dc
       |  FROM cent GROUP BY 1, 2),
       |stats AS (
       |  SELECT salt, sum(CAST(dc AS HUGEINT) * dc) AS stat FROM dims GROUP BY salt),
       |obs AS (SELECT stat AS obs_stat FROM stats WHERE salt = -1)
       |SELECT count(*) AS n_perms,
       |       CAST(max(obs_stat) AS BIGINT) AS obs_stat,
       |       CAST(min(stat) AS BIGINT) AS perm_min,
       |       CAST(max(stat) AS BIGINT) AS perm_max,
       |       CAST(sum(CASE WHEN stat >= obs_stat THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
       |       ${ratioFloorSql("sum(CASE WHEN stat >= obs_stat THEN 1 ELSE 0 END)", "count(*)", 3)} AS p_value
       |FROM stats CROSS JOIN obs
       |WHERE salt <> -1""".stripMargin

  /** agg-wilson-ci — the Wilson score interval for the per-event-type
    * "high-value" rate (value ≥ 100): the CI that behaves at p near
    * 0/1 and small n, where the naive Wald interval every dashboard
    * ships collapses. z is the 1.96 literal; the whole formula runs
    * on (k, n) — two exact counters per group — through an identical
    * double expression in both engines (one sqrt), rounded at the
    * output. Pairs with sample-bootstrap-ci (resampling) and
    * agg-jackknife-se (leave-one-out): the closed-form member. */
  val aggWilsonCi: Q = (s, d) => {
    val g = events(s, d).groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") >= 100, 1L).otherwise(0L)).as("k"))
    val z2 = lit(3.8415872335) // 1.96² to the precision both engines carry
    val p = col("k").cast(DoubleType) / col("n")
    val denom = lit(1.0) + z2 / col("n")
    val center = (p + z2 / (lit(2.0) * col("n"))) / denom
    val half = lit(1.9599967432) *
      sqrt(p * (lit(1.0) - p) / col("n") + z2 / (lit(4.0) * col("n") * col("n"))) / denom
    g.select(col("event_type"), col("n"), col("k"),
      round(p, 6).as("p_hat"),
      round(center - half, 6).as("wilson_lo"),
      round(center + half, 6).as("wilson_hi"))
      .orderBy("event_type")
  }

  val aggWilsonCiSql: String =
    """WITH g AS (
      |  SELECT event_type, count(*) AS n,
      |         CAST(sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS k
      |  FROM events GROUP BY event_type)
      |SELECT event_type, n, k,
      |       round(CAST(k AS DOUBLE) / n, 6) AS p_hat,
      |       round((CAST(k AS DOUBLE) / n + 3.8415872335 / (2.0 * n)) / (1.0 + 3.8415872335 / n) -
      |             1.9599967432 * sqrt((CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n) / n + 3.8415872335 / (4.0 * n * n)) / (1.0 + 3.8415872335 / n), 6) AS wilson_lo,
      |       round((CAST(k AS DOUBLE) / n + 3.8415872335 / (2.0 * n)) / (1.0 + 3.8415872335 / n) +
      |             1.9599967432 * sqrt((CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n) / n + 3.8415872335 / (4.0 * n * n)) / (1.0 + 3.8415872335 / n), 6) AS wilson_hi
      |FROM g ORDER BY event_type""".stripMargin

  /** agg-growth-accounting — the monthly NEW / RETAINED / RESURRECTED
    * / CHURNED user ledger (the growth-accounting identity:
    * active(m) = new + retained + resurrected; churned(m) =
    * active(m−1) − retained(m)). Month indices are integers
    * (yr·12+mo), so adjacency is exact arithmetic on the per-user lag
    * window — one shuffle on user, then a month-keyed count. The
    * product-analytics report every "DAU is down" debate starts
    * from; the reference's warehouse can group by month but cannot
    * express the per-entity state machine without this window. */
  val aggGrowthAccounting: Q = (s, d) => {
    val active = orders(s, d)
      .select(col("o_custkey").as("u"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("midx"))
      .distinct()
    val w = Window.partitionBy("u").orderBy("midx")
    val st = active
      .withColumn("prev", lag("midx", 1).over(w))
      .select(col("u"), col("midx"),
        when(col("prev").isNull, "new")
          .when(col("prev") === col("midx") - 1, "retained")
          .otherwise("resurrected").as("state"))
    val inflow = st.groupBy("midx")
      .agg(sum(when(col("state") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("state") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("state") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
    // churned INTO month m+1: active in m, not active in m+1
    val churn = active
      .withColumn("nxt", lead("midx", 1).over(w))
      .filter(col("nxt").isNull || col("nxt") =!= col("midx") + 1)
      .select((col("midx") + 1).as("midx"))
      .groupBy("midx").agg(count(lit(1)).as("n_churned"))
    val months = active.agg(max("midx").as("maxm"))
    inflow.join(churn, Seq("midx"), "left_outer")
      .crossJoin(broadcast(months))
      .filter(col("midx") <= col("maxm"))
      .select(col("midx"), (col("midx") / 12).cast(IntegerType).as("yr"),
        pmod(col("midx"), lit(12)).as("mo0"),
        col("n_new"), col("n_retained"), col("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("midx")
  }

  val aggGrowthAccountingSql: String =
    """WITH active AS (
      |  SELECT DISTINCT o_custkey AS u,
      |         year(o_orderdate) * 12 + month(o_orderdate) AS midx
      |  FROM orders),
      |st AS (
      |  SELECT u, midx,
      |         CASE WHEN lag(midx) OVER w IS NULL THEN 'new'
      |              WHEN lag(midx) OVER w = midx - 1 THEN 'retained'
      |              ELSE 'resurrected' END AS state,
      |         lead(midx) OVER w AS nxt
      |  FROM active WINDOW w AS (PARTITION BY u ORDER BY midx)),
      |inflow AS (
      |  SELECT midx,
      |         CAST(sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |         CAST(sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
      |         CAST(sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      |  FROM st GROUP BY midx),
      |churn AS (
      |  SELECT midx + 1 AS midx, count(*) AS n_churned
      |  FROM st WHERE nxt IS NULL OR nxt <> midx + 1
      |  GROUP BY midx + 1),
      |mm AS (SELECT max(midx) AS maxm FROM active)
      |SELECT midx, CAST(midx // 12 AS INT) AS yr, midx % 12 AS mo0,
      |       n_new, n_retained, n_resurrected,
      |       coalesce(n_churned, 0) AS n_churned
      |FROM inflow LEFT JOIN churn USING (midx) CROSS JOIN mm
      |WHERE midx <= maxm
      |ORDER BY midx""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-benford-second-digit", dqBenfordSecondDigit, dqBenfordSecondDigitSql),
    Key("emb-permutation-test", embPermutationTest, embPermutationTestSql),
    Key("agg-wilson-ci", aggWilsonCi, aggWilsonCiSql),
    Key("agg-growth-accounting", aggGrowthAccounting, aggGrowthAccountingSql))
}
