package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch I: vocabulary overlap, column-level diff, temporal
  * split, column masking. */
object RelMore71 extends KeyModule {

  /** text-vocab-overlap — pairwise vocabulary Jaccard between SOURCES
    * (which crawls speak the same language?), the corpus-curation view
    * that decides which sources are redundant before any document-level
    * dedup runs. Inverted-index formulation: distinct (source, token),
    * self-join on token — each token emits at most |sources|²/2 pairs
    * (a design constant, 20 sources here), so the join is linear in
    * vocabulary size at any corpus scale, never all-pairs over docs.
    * Top-10 source pairs by exact integer-milli Jaccard. */
  val textVocabOverlap: Q = (s, d) => {
    val st = documents(s, d)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct().sharedCache()
    val sizes = st.groupBy("source").agg(count(lit(1)).as("vsz"))
    val inter = st.select(col("source").as("sa"), col("tok"))
      .join(st.select(col("source").as("sb"), col("tok")), Seq("tok"))
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("source").as("sa"), col("vsz").as("va")), Seq("sa"))
      .join(sizes.select(col("source").as("sb"), col("vsz").as("vb")), Seq("sb"))
      .select(col("sa"), col("sb"), col("inter"),
        expr("inter * 1000 div (va + vb - inter)").as("jaccard_milli"))
      .orderBy(col("jaccard_milli").desc, col("sa").asc, col("sb").asc)
      .limit(10)
  }

  val textVocabOverlapSql: String =
    """WITH st AS (
      |  SELECT DISTINCT source, tok FROM (
      |    SELECT source, unnest(string_split(lower(text), ' ')) AS tok
      |    FROM documents) t
      |  WHERE length(tok) > 0),
      |sizes AS (SELECT source, count(*) AS vsz FROM st GROUP BY source),
      |inter AS (
      |  SELECT a.source AS sa, b.source AS sb, count(*) AS inter
      |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
      |  GROUP BY a.source, b.source)
      |SELECT sa, sb, inter,
      |       inter * 1000 // (va.vsz + vb.vsz - inter) AS jaccard_milli
      |FROM inter
      |JOIN sizes va ON va.source = sa
      |JOIN sizes vb ON vb.source = sb
      |ORDER BY jaccard_milli DESC, sa, sb
      |LIMIT 10""".stripMargin

  /** dq-column-diff — COLUMN-LEVEL drift localization between two
    * table snapshots (dq-table-diff says "rows changed"; this says
    * WHICH columns): snapshot B is A with two seeded mutations
    * (priority rewritten for keys % 11, total bumped for keys % 13).
    * One PK join, one conditional-sum aggregate — per-column diff
    * counts in a single pass regardless of column count, the shape a
    * schema-wide reconciliation needs at scale. */
  val dqColumnDiff: Q = (s, d) => {
    val a = orders(s, d).select("o_orderkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val b = a
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 11 === 0, lit("9-SYNTH")).otherwise(col("o_orderpriority")))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1.5)
          .otherwise(col("o_totalprice")))
    val j = a.as("a").join(b.as("b"), col("a.o_orderkey") === col("b.o_orderkey"))
    val cols = Seq("o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
    val wide = j.agg(
      count(lit(1)).as("n_rows"),
      cols.map(c =>
        sum(when(col(s"a.$c") =!= col(s"b.$c"), 1L).otherwise(0L)).as(s"d_$c")): _*)
    wide.select(col("n_rows"),
      expr(s"stack(${cols.size}, ${cols.map(c => s"'$c', d_$c").mkString(", ")}) " +
        "AS (column_name, n_diff)"))
      .select(col("column_name"), col("n_diff"), col("n_rows"))
      .orderBy("column_name")
  }

  val dqColumnDiffSql: String =
    """WITH b AS (
      |  SELECT o_orderkey,
      |         o_orderstatus,
      |         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.5
      |              ELSE o_totalprice END AS o_totalprice,
      |         o_orderdate,
      |         CASE WHEN o_orderkey % 11 = 0 THEN '9-SYNTH'
      |              ELSE o_orderpriority END AS o_orderpriority
      |  FROM orders),
      |j AS (
      |  SELECT count(*) AS n_rows,
      |         CAST(sum(CASE WHEN a.o_orderstatus <> b.o_orderstatus THEN 1 ELSE 0 END) AS BIGINT) AS d_status,
      |         CAST(sum(CASE WHEN a.o_totalprice <> b.o_totalprice THEN 1 ELSE 0 END) AS BIGINT) AS d_total,
      |         CAST(sum(CASE WHEN a.o_orderdate <> b.o_orderdate THEN 1 ELSE 0 END) AS BIGINT) AS d_date,
      |         CAST(sum(CASE WHEN a.o_orderpriority <> b.o_orderpriority THEN 1 ELSE 0 END) AS BIGINT) AS d_prio
      |  FROM orders a JOIN b ON a.o_orderkey = b.o_orderkey)
      |SELECT column_name, n_diff, n_rows FROM (
      |  SELECT 'o_orderstatus' AS column_name, d_status AS n_diff, n_rows FROM j
      |  UNION ALL SELECT 'o_totalprice', d_total, n_rows FROM j
      |  UNION ALL SELECT 'o_orderdate', d_date, n_rows FROM j
      |  UNION ALL SELECT 'o_orderpriority', d_prio, n_rows FROM j)
      |ORDER BY column_name""".stripMargin

  /** sample-time-split — the temporal train/test split for anything
    * forecast-shaped: train strictly before a cutoff (here: 7 days
    * before the last event), test at-or-after — random splits leak the
    * future into training. The graded `shared_users` column REPORTS
    * the user overlap a time split inherently keeps (contrast:
    * sample-group-split's leak_sources pins 0) — the trade is part of
    * the op's contract. Cutoff derives from max(ts), broadcast as a
    * one-row frame; everything else is one linear pass. */
  val sampleTimeSplit: Q = (s, d) => {
    val ev = events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), to_date(col("ts")).as("dt"))
    val cut = ev.agg(date_sub(max("dt"), 7).as("cutoff"))
    val tagged = ev.crossJoin(broadcast(cut))
      .withColumn("split", when(col("dt") < col("cutoff"), "train").otherwise("test"))
    val shared = tagged.groupBy("user_id")
      .agg(countDistinct("split").as("ns"))
      .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("shared_users"))
    tagged.groupBy("split")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
      .crossJoin(broadcast(shared))
      .orderBy("split")
  }

  val sampleTimeSplitSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type,
      |         CAST(date_trunc('day', ts) AS DATE) AS dt
      |  FROM events),
      |cut AS (SELECT max(dt) - 7 AS cutoff FROM ev),
      |tagged AS (
      |  SELECT *, CASE WHEN dt < cutoff THEN 'train' ELSE 'test' END AS split
      |  FROM ev, cut),
      |shared AS (
      |  SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS shared_users
      |  FROM (SELECT user_id, count(DISTINCT split) AS ns FROM tagged GROUP BY user_id))
      |SELECT split, count(*) AS n_events,
      |       count(DISTINCT user_id) AS n_users,
      |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
      |       shared.shared_users
      |FROM tagged, shared
      |GROUP BY split, shared.shared_users
      |ORDER BY split""".stripMargin

  /** sink-column-mask — column-level masking as governed VIEWS (the
    * warehouse RLS/CLS surface): the admin view exposes exact balances,
    * the analyst view coarsens them to the nearest 100 (k-anonymity
    * bucketing) and hides names entirely. Both are real temp views in
    * the session catalog (the ddl-catalog discipline), and the graded
    * output is each role's aggregate over ITS view — proving the mask
    * changes exactly what it should (sums differ, counts don't).
    * Masking is a projection; zero extra passes. */
  val sinkColumnMask: Q = (s, d) => {
    customer(s, d).createOrReplaceTempView("cust_base_cm")
    s.sql("""CREATE OR REPLACE TEMP VIEW cust_admin_cm AS
             SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM cust_base_cm""")
    s.sql("""CREATE OR REPLACE TEMP VIEW cust_analyst_cm AS
             SELECT c_custkey, CAST(NULL AS STRING) AS c_name, c_nationkey,
                    CAST(floor(c_acctbal / 100) * 100 AS DOUBLE) AS c_acctbal
             FROM cust_base_cm""")
    val admin = s.sql(
      """SELECT 'admin' AS role, count(*) AS n,
                CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance_sum,
                count(c_name) AS names_visible
         FROM cust_admin_cm""")
    val analyst = s.sql(
      """SELECT 'analyst' AS role, count(*) AS n,
                CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance_sum,
                count(c_name) AS names_visible
         FROM cust_analyst_cm""")
    admin.unionByName(analyst).orderBy("role")
  }

  val sinkColumnMaskSql: String =
    """SELECT 'admin' AS role, count(*) AS n,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance_sum,
      |       count(c_name) AS names_visible
      |FROM customer
      |UNION ALL
      |SELECT 'analyst', count(*),
      |       CAST(sum(CAST(floor(c_acctbal / 100) * 100 AS DECIMAL(18,2))) AS DOUBLE),
      |       0
      |FROM customer
      |ORDER BY role""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("text-vocab-overlap", textVocabOverlap, textVocabOverlapSql),
    Key("dq-column-diff", dqColumnDiff, dqColumnDiffSql),
    Key("sample-time-split", sampleTimeSplit, sampleTimeSplitSql),
    Key("sink-column-mask", sinkColumnMask, sinkColumnMaskSql))
}
