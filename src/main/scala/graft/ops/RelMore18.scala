package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch S: two more SQL-syntax surfaces (PIVOT
  * clause, HiveQL LATERAL VIEW), asymmetric containment dedup, and
  * three BI staples — day-of-week seasonality indexes, new-vs-
  * returning customer splits, cumulative unique-user curves.
  */
object RelMore18 extends KeyModule {

  /** sql-pivot-clause — the SQL PIVOT syntax (not just DataFrame
    * .pivot()): explicit IN-list pivot columns, which is the only
    * scale-safe form — an implicit pivot needs a distinct-values
    * pre-pass over the fact table to discover columns. Spark plans it
    * as one conditional aggregation (no per-column scans). DuckDB's
    * PIVOT dialect differs, so the oracle spells the equivalent
    * conditional aggregation — same shape the optimizer lowers to. */
  val sqlPivotClause: Q = (s, d) => {
    orders(s, d).createOrReplaceTempView("orders")
    s.sql(
      """SELECT * FROM (
        |  SELECT o_orderpriority,
        |         o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders)
        |PIVOT (sum(cents) FOR o_orderstatus IN ('F' AS f_cents, 'O' AS o_cents, 'P' AS p_cents))
        |ORDER BY o_orderpriority""".stripMargin)
  }

  val sqlPivotClauseSql: String =
    """SELECT o_orderpriority,
      |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN cents END) AS BIGINT) AS f_cents,
      |       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN cents END) AS BIGINT) AS o_cents,
      |       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN cents END) AS BIGINT) AS p_cents
      |FROM (SELECT o_orderpriority, o_orderstatus,
      |             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |      FROM orders)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** sql-lateral-view — the HiveQL LATERAL VIEW explode() surface: the
    * syntax every migrated Hive workload arrives with. Semantically
    * identical to the DataFrame explode and to join-lateral's ANSI
    * LATERAL — registered separately because a reference user's
    * HiveQL must parse unmodified. Repeated-word counts per doc. */
  val sqlLateralView: Q = (s, d) => {
    documents(s, d).createOrReplaceTempView("documents")
    s.sql(
      """SELECT doc_id, word, count(*) AS n
        |FROM documents
        |LATERAL VIEW explode(split(text, ' ')) t AS word
        |WHERE doc_id % 200 = 0 AND word <> ''
        |GROUP BY doc_id, word
        |HAVING count(*) >= 3
        |ORDER BY doc_id, word""".stripMargin)
  }

  val sqlLateralViewSql: String =
    """SELECT doc_id, word, count(*) AS n
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |      FROM documents WHERE doc_id % 200 = 0)
      |WHERE word <> ''
      |GROUP BY doc_id, word
      |HAVING count(*) >= 3
      |ORDER BY doc_id, word""".stripMargin

  /** dedup-containment — Broder CONTAINMENT (|A∩B| / |A|), the
    * asymmetric companion of Jaccard: catches quotes, excerpts and
    * supersets that symmetric similarity misses (a doc fully contained
    * in a bigger one has low Jaccard but containment 1.0). Candidate
    * pairs from a shared-shingle inverted index with a document-
    * frequency cap (stop-shingle cut, same discipline as
    * dedup-ngram-jaccard); both directions in exact floor-ppm. */
  val dedupContainment: Q = (s, d) => {
    // word 5-shingles straight from the split array — guard short docs
    // (sequence(0, -1) would DESCEND in Spark, not come back empty)
    val sh = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), expr(
        """explode(CASE WHEN size(ws) >= 5
          |  THEN transform(sequence(0, size(ws) - 5),
          |         i -> md5(concat_ws(' ', slice(ws, i + 1, 5))))
          |  ELSE array() END) AS g""".stripMargin))
      .distinct()
    val df = sh.groupBy("g").agg(count(lit(1)).as("df"))
    val kept = sh.join(df.filter(col("df") <= 20), Seq("g"))
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = kept.as("a").join(kept.as("b"), Seq("g"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") >= 3)
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("inter"),
        floor(col("inter") * lit(1000000L) / col("n_a")).cast(LongType).as("cont_ab_ppm"),
        floor(col("inter") * lit(1000000L) / col("n_b")).cast(LongType).as("cont_ba_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  val dedupContainmentSql: String =
    """WITH ws AS (
      |  SELECT doc_id, string_split(text, ' ') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |         md5(array_to_string(w[i + 1 : i + 5], ' ')) AS g
      |  FROM ws, LATERAL (SELECT unnest(range(0, greatest(len(w) - 4, 0))) AS i) t),
      |df AS (SELECT g, count(*) AS df FROM sh GROUP BY g),
      |kept AS (SELECT sh.doc_id, sh.g FROM sh JOIN df ON df.g = sh.g AND df.df <= 20),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |  HAVING count(*) >= 3)
      |SELECT p.doc_a, p.doc_b, sa.n_sh AS n_a, sb.n_sh AS n_b, p.inter,
      |       CAST(floor(p.inter * 1000000 / sa.n_sh) AS BIGINT) AS cont_ab_ppm,
      |       CAST(floor(p.inter * 1000000 / sb.n_sh) AS BIGINT) AS cont_ba_ppm
      |FROM pairs p
      |JOIN sizes sa ON sa.doc_id = p.doc_a
      |JOIN sizes sb ON sb.doc_id = p.doc_b
      |ORDER BY p.doc_a, p.doc_b""".stripMargin

  /** agg-dow-seasonality — day-of-week activity index: each ISO
    * weekday's per-day event rate vs the overall per-day rate, as an
    * exact cross-multiplied ppm index (never divide into rates). ISO
    * numbering pinned explicitly — Spark weekday()+1 = DuckDB
    * isodow() = Monday 1 — because default dow origins differ across
    * engines. The seasonality profile every staffing/capacity
    * forecast starts from. */
  val aggDowSeasonality: Q = (s, d) => {
    val daily = events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", expr("CAST(weekday(day) + 1 AS INT)"))
    val wAll = Window.partitionBy()
    daily.groupBy("dow")
      .agg(count(lit(1)).as("n_days"), sum("n").as("n_events"))
      .withColumn("index_ppm",
        floor(col("n_events") * sum("n_days").over(wAll) * lit(1000000L) /
          (col("n_days") * sum("n_events").over(wAll))).cast(LongType))
      .orderBy("dow")
  }

  val aggDowSeasonalitySql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS n
      |  FROM events GROUP BY 1),
      |dows AS (
      |  SELECT CAST(isodow(day) AS INT) AS dow, count(*) AS n_days,
      |         CAST(sum(n) AS BIGINT) AS n_events
      |  FROM daily GROUP BY 1)
      |SELECT dow, n_days, n_events,
      |       CAST(floor(n_events * (SELECT sum(n_days) FROM dows) * 1000000 /
      |                  (n_days * (SELECT sum(n_events) FROM dows))) AS BIGINT) AS index_ppm
      |FROM dows
      |ORDER BY dow""".stripMargin

  /** agg-new-returning — monthly new-vs-returning customer split: a
    * customer is "new" in the month of their first order, "returning"
    * in any later active month. First-order month from one per-
    * customer min; the month report is a conditional count over the
    * (order-month = first-month) flag. The growth-accounting view
    * every revenue dashboard leads with. */
  val aggNewReturning: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
    val base = orders(s, d)
      .select(col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .withColumn("first_ym", min("ym").over(w))
    base.groupBy("ym")
      .agg(
        countDistinct(when(col("ym") === col("first_ym"), col("o_custkey"))).as("new_cust"),
        countDistinct(when(col("ym") =!= col("first_ym"), col("o_custkey"))).as("returning_cust"),
        count(lit(1)).as("n_orders"))
      .orderBy("ym")
  }

  val aggNewReturningSql: String =
    """WITH base AS (
      |  SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS ym,
      |         min(strftime(o_orderdate, '%Y-%m')) OVER (PARTITION BY o_custkey) AS first_ym
      |  FROM orders)
      |SELECT ym,
      |       count(DISTINCT CASE WHEN ym = first_ym THEN o_custkey END) AS new_cust,
      |       count(DISTINCT CASE WHEN ym <> first_ym THEN o_custkey END) AS returning_cust,
      |       count(*) AS n_orders
      |FROM base
      |GROUP BY ym
      |ORDER BY ym""".stripMargin

  /** agg-cumulative-uniques — the cumulative unique-user curve: each
    * user counted once at their FIRST active hour (per-user min — one
    * map-side-combined aggregate), then a running sum over the tiny
    * hourly frame. The naive count(DISTINCT) per bucket re-scans
    * history |buckets| times; this shape scans once — at 100 TB that
    * is the entire difference. */
  val aggCumulativeUniques: Q = (s, d) => {
    val firstHour = events(s, d)
      .groupBy("user_id")
      .agg(min(date_format(col("ts"), "yyyy-MM-dd HH")).as("h"))
    val hourly = firstHour.groupBy("h").agg(count(lit(1)).as("new_users"))
    // running total via PrefixScan (r11): the hour axis grows with the
    // observation window, so the old unpartitioned sum() OVER window —
    // a single-task global sort — is replaced by the distributed
    // two-pass rank/cumsum (range exchange + per-partition offsets),
    // bit-identical to the window form at any partition count
    graft.functions.PrefixScan
      .withRankCumSum(hourly, Seq(col("h")), Some("new_users"),
        rankName = "rn_", cumName = "cum_users").df
      .select(col("h"), col("new_users"), col("cum_users"))
      .orderBy("h")
  }

  val aggCumulativeUniquesSql: String =
    """WITH first_hour AS (
      |  SELECT user_id, min(strftime(date_trunc('microseconds', ts), '%Y-%m-%d %H')) AS h
      |  FROM events GROUP BY user_id),
      |hourly AS (SELECT h, count(*) AS new_users FROM first_hour GROUP BY h)
      |SELECT h, new_users,
      |       CAST(sum(new_users) OVER (ORDER BY h
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      |FROM hourly
      |ORDER BY h""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sql-pivot-clause", sqlPivotClause, sqlPivotClauseSql),
    Key("sql-lateral-view", sqlLateralView, sqlLateralViewSql),
    Key("dedup-containment", dedupContainment, dedupContainmentSql),
    Key("agg-dow-seasonality", aggDowSeasonality, aggDowSeasonalitySql),
    Key("agg-new-returning", aggNewReturning, aggNewReturningSql),
    Key("agg-cumulative-uniques", aggCumulativeUniques, aggCumulativeUniquesSql))
}
