package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-10 batch H: accumulating-snapshot fact, categorical domain
  * churn, phonetic (soundex-like) blocking, Markov absorption time. */
object RelMore90 extends KeyModule {

  /** join-accumulating-snapshot — the Kimball ACCUMULATING SNAPSHOT
    * fact: one row per order carrying every milestone (order placed,
    * first line shipped, last line shipped) and the spans between
    * them. Built with one lineitem aggregate joined back to orders —
    * the min/max-per-key reduction is the whole cost, and it
    * map-side-combines, so the pattern holds when the pipeline table
    * is the 100 TB side. Graded on the span histogram per status
    * (fulfilment-latency buckets), the report an ops dashboard draws
    * from this fact table. */
  val joinAccumulatingSnapshot: Q = (s, d) => {
    val mile = lineitem(s, d).groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(min(to_date(col("l_shipdate"))).as("first_ship"),
        max(to_date(col("l_shipdate"))).as("last_ship"),
        count(lit(1)).as("n_lines"))
    val snap = orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        to_date(col("o_orderdate")).as("odate"))
      .join(mile, "o_orderkey")
      .withColumn("days_to_first", datediff(col("first_ship"), col("odate")))
      .withColumn("ship_window", datediff(col("last_ship"), col("first_ship")))
    snap.groupBy(col("o_orderstatus"),
      (floor(col("days_to_first") / 30) * 30).cast(IntegerType).as("latency_bucket"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("n_lines")).as("n_lines"),
        min("days_to_first").as("min_days"), max("days_to_first").as("max_days"),
        max("ship_window").as("max_window"))
      .orderBy("o_orderstatus", "latency_bucket")
  }

  val joinAccumulatingSnapshotSql: String =
    """WITH mile AS (
      |  SELECT l_orderkey AS o_orderkey,
      |         CAST(min(date_trunc('day', l_shipdate)) AS DATE) AS first_ship,
      |         CAST(max(date_trunc('day', l_shipdate)) AS DATE) AS last_ship,
      |         count(*) AS n_lines
      |  FROM lineitem GROUP BY 1),
      |snap AS (
      |  SELECT o_orderstatus,
      |         datediff('day', CAST(date_trunc('day', o_orderdate) AS DATE), first_ship) AS days_to_first,
      |         datediff('day', first_ship, last_ship) AS ship_window,
      |         n_lines
      |  FROM orders JOIN mile USING (o_orderkey))
      |SELECT o_orderstatus,
      |       CAST(floor(days_to_first / 30) * 30 AS INT) AS latency_bucket,
      |       count(*) AS n_orders, CAST(sum(n_lines) AS BIGINT) AS n_lines,
      |       min(days_to_first) AS min_days, max(days_to_first) AS max_days,
      |       max(ship_window) AS max_window
      |FROM snap
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** dq-domain-churn — categorical-domain drift across years: for each
    * consecutive order-year pair, which (status, priority) categories
    * appeared, vanished, or persisted. Schema registries catch new
    * COLUMNS; this catches new VALUES — the silent enum addition that
    * breaks downstream CASE ladders. Full-outer join of two
    * year-keyed distinct sets (each tiny — the category domain, not
    * the data), then per-year-pair set accounting. */
  val dqDomainChurn: Q = (s, d) => {
    val doms = orders(s, d)
      .select(year(col("o_orderdate")).as("yr"),
        concat_ws("/", col("o_orderstatus"), col("o_orderpriority")).as("cat"))
      .distinct()
      .sharedCache()
    val prev = doms.select((col("yr") + 1).as("yr"), col("cat").as("pcat"))
    val curr = doms.select(col("yr"), col("cat").as("ccat"))
    val yrs = doms.select("yr").distinct()
      .join(doms.select((col("yr") + 1).as("yr")).distinct(), "yr")
    curr.join(prev, curr("yr") === prev("yr") && col("ccat") === col("pcat"), "full_outer")
      .select(coalesce(curr("yr"), prev("yr")).as("yr"),
        col("ccat"), col("pcat"))
      .join(yrs, "yr")
      .groupBy("yr")
      .agg(sum(when(col("pcat").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("ccat").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("ccat").isNotNull && col("pcat").isNotNull, 1L).otherwise(0L))
          .as("n_stable"))
      .orderBy("yr")
  }

  val dqDomainChurnSql: String =
    """WITH doms AS (
      |  SELECT DISTINCT year(o_orderdate) AS yr,
      |         o_orderstatus || '/' || o_orderpriority AS cat
      |  FROM orders),
      |prev AS (SELECT yr + 1 AS yr, cat AS pcat FROM doms),
      |curr AS (SELECT yr, cat AS ccat FROM doms),
      |yrs AS (
      |  SELECT DISTINCT c.yr FROM (SELECT DISTINCT yr FROM doms) c
      |  JOIN (SELECT DISTINCT yr + 1 AS yr FROM doms) p ON c.yr = p.yr),
      |j AS (
      |  SELECT coalesce(curr.yr, prev.yr) AS yr, ccat, pcat
      |  FROM curr FULL OUTER JOIN prev ON curr.yr = prev.yr AND curr.ccat = prev.pcat)
      |SELECT yr,
      |       CAST(sum(CASE WHEN pcat IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |       CAST(sum(CASE WHEN ccat IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |       CAST(sum(CASE WHEN ccat IS NOT NULL AND pcat IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_stable
      |FROM j JOIN yrs USING (yr)
      |GROUP BY yr ORDER BY yr""".stripMargin

  /** Simplified soundex-like phonetic key, built ONLY from translate()
    * + repeated replace() — RE2 (DuckDB) has no backreferences, so the
    * classic '(.)\1+' run-collapse is off the table; three replace
    * passes per digit collapse runs up to length 8, beyond any word
    * here. The SAME expression text runs in both engines. Key =
    * first letter + first 3 surviving digits (0-padded). */
  private def soundexSql(c: String): String = {
    val coded = s"translate(upper($c), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230120022455012623010202')"
    val collapsed = (0 to 6).foldLeft(coded) { (acc, dig) =>
      val once = s"replace($acc, '$dig$dig', '$dig')"
      val twice = s"replace($once, '$dig$dig', '$dig')"
      s"replace($twice, '$dig$dig', '$dig')"
    }
    s"substring(upper($c), 1, 1) || rpad(substring(replace($collapsed, '0', ''), 2, 3), 3, '0')"
  }

  /** dedup-phonetic-block — phonetic BLOCKING for entity resolution:
    * part names block on the soundex-like key of their LAST word
    * (the head noun — 'widget' ≈ 'wijit' land together), and only
    * in-block pairs would ever reach a fuzzy matcher. The graded
    * report shows the blocking economics: per-block part counts,
    * distinct-name counts, and the candidate-pair total vs the n²/2 a
    * naive matcher would score — the same df-capped inverted-index
    * logic as dedup-containment, with phonetics as the index key.
    * The phonetic key is pure translate/replace string algebra (see
    * [[soundexSql]]) shared TEXTUALLY between engines. */
  val dedupPhoneticBlock: Q = (s, d) => {
    // the || concat operator parses in BOTH engines, so the whole key
    // expression is one shared text
    val base = part(s, d).select(col("p_partkey"), col("p_name"),
      element_at(split(col("p_name"), " "), -1).as("noun"))
      .withColumn("block_key", expr(soundexSql("noun")))
    val blocks = base.groupBy("block_key")
      .agg(count(lit(1)).as("n_parts"),
        countDistinct("p_name").as("n_names"),
        min("p_partkey").as("sample_key"))
      .sharedCache()
    val tot = blocks.agg(sum(col("n_parts") * (col("n_parts") - 1) / 2).cast(LongType)
      .as("blocked_pairs"),
      (sum("n_parts") * (sum("n_parts") - 1) / 2).cast(LongType).as("naive_pairs"))
    blocks.crossJoin(broadcast(tot))
      .select(col("block_key"), col("n_parts"), col("n_names"), col("sample_key"),
        col("blocked_pairs"), col("naive_pairs"))
      .orderBy(col("n_parts").desc, col("block_key").asc)
      .limit(15)
  }

  val dedupPhoneticBlockSql: String =
    s"""WITH base AS (
       |  SELECT p_partkey, p_name,
       |         list_extract(string_split(p_name, ' '), len(string_split(p_name, ' '))) AS noun
       |  FROM part),
       |keyed AS (
       |  SELECT p_partkey, p_name, ${soundexSql("noun")} AS block_key FROM base),
       |blocks AS (
       |  SELECT block_key, count(*) AS n_parts, count(DISTINCT p_name) AS n_names,
       |         min(p_partkey) AS sample_key
       |  FROM keyed GROUP BY block_key),
       |tot AS (
       |  SELECT CAST(sum(n_parts * (n_parts - 1) // 2) AS BIGINT) AS blocked_pairs,
       |         CAST(sum(n_parts) * (sum(n_parts) - 1) // 2 AS BIGINT) AS naive_pairs
       |  FROM blocks)
       |SELECT block_key, n_parts, n_names, sample_key, blocked_pairs, naive_pairs
       |FROM blocks CROSS JOIN tot
       |ORDER BY n_parts DESC, block_key
       |LIMIT 15""".stripMargin

  private val AbsorbIters = 10

  /** agg-markov-absorption — expected clicks-to-purchase: the event
    * stream's transition matrix (per-user lead pairs — one shuffle on
    * user, then a 25-key count), with 'purchase' ABSORBING, iterated
    * v ← 1 + P·v for 10 fixed steps. The state space is the
    * EVENT-TYPE DOMAIN (≤ 5²  cells at any corpus size), so the
    * matrix legitimately collects to the driver — the bounded-domain
    * exception the clone/manifest ops already use — and the 10-step
    * fold runs in exact lockstep with the oracle's unrolled CTE
    * chain: each iteration rounds to 8 dp (the pagerank discipline,
    * so float noise cannot compound), v(purchase) pinned at 0.
    * Truncated absorption time = how many steps a user is expected
    * to wander before converting, the funnel metric transition
    * counts alone cannot give. */
  val aggMarkovAbsorption: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = events(s, d)
      .withColumn("next_t", lead("event_type", 1).over(w))
      .filter(col("next_t").isNotNull && col("event_type") =!= "purchase")
      .groupBy(col("event_type").as("from_t"), col("next_t").as("to_t"))
      .agg(count(lit(1)).as("cnt"))
      .sharedCache()
    // bounded-domain collect: |event_type|² ≤ 25 cells by construction
    val cells = trans.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2)))
    val rowTot = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val p = cells.map { case (f, t, c) => ((f, t), c.toDouble / rowTot(f)) }.toMap
    val states = (cells.map(_._1) ++ cells.map(_._2)).distinct.sorted
    def r8(x: Double): Double =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    var v = states.map(st => st -> 0.0).toMap
    for (_ <- 1 to AbsorbIters) {
      v = states.map { st =>
        if (st == "purchase" || !rowTot.contains(st)) st -> 0.0
        else st -> r8(1.0 + states.map(to => p.getOrElse((st, to), 0.0) * v(to)).sum)
      }.toMap
    }
    import s.implicits._
    val out = states.map(st => (st, rowTot.getOrElse(st, 0L),
      BigDecimal(v(st)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toSeq.toDF("event_type", "n_out", "expected_steps")
    out.orderBy("event_type")
  }

  val aggMarkovAbsorptionSql: String = {
    val iters = (1 to AbsorbIters).map { i =>
      s"""v$i AS (
         |  SELECT s.state,
         |         CASE WHEN s.state = 'purchase' OR s.state NOT IN (SELECT from_t FROM p)
         |              THEN 0.0
         |              ELSE round(1.0 + coalesce((SELECT sum(p.pr * pv.v) FROM p JOIN v${i - 1} pv ON p.to_t = pv.state WHERE p.from_t = s.state), 0.0), 8)
         |         END AS v
         |  FROM states s)""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS (
       |  SELECT user_id, event_type,
       |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_t
       |  FROM events),
       |trans AS (
       |  SELECT event_type AS from_t, next_t AS to_t, count(*) AS cnt
       |  FROM seq WHERE next_t IS NOT NULL AND event_type <> 'purchase'
       |  GROUP BY 1, 2),
       |rt AS (SELECT from_t, CAST(sum(cnt) AS BIGINT) AS tot FROM trans GROUP BY 1),
       |p AS (
       |  SELECT from_t, to_t, CAST(cnt AS DOUBLE) / tot AS pr
       |  FROM trans JOIN rt USING (from_t)),
       |states AS (
       |  SELECT DISTINCT from_t AS state FROM trans
       |  UNION SELECT DISTINCT to_t FROM trans),
       |v0 AS (SELECT state, 0.0 AS v FROM states),
       |$iters
       |SELECT s.state AS event_type,
       |       coalesce(rt.tot, 0) AS n_out,
       |       round(v$AbsorbIters.v, 6) AS expected_steps
       |FROM states s
       |LEFT JOIN rt ON rt.from_t = s.state
       |JOIN v$AbsorbIters ON v$AbsorbIters.state = s.state
       |ORDER BY event_type""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("join-accumulating-snapshot", joinAccumulatingSnapshot, joinAccumulatingSnapshotSql),
    Key("dq-domain-churn", dqDomainChurn, dqDomainChurnSql),
    Key("dedup-phonetic-block", dedupPhoneticBlock, dedupPhoneticBlockSql),
    Key("agg-markov-absorption", aggMarkovAbsorption, aggMarkovAbsorptionSql))
}
