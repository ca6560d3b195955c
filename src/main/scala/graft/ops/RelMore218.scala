package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-11 batch H: the MV read path (lambda view) and
  * longest-prefix-match IP enrichment. */
object RelMore218 extends KeyModule {

  /** agg-mv-lambda-read — the READ-path complement of
    * agg-mv-delta-refresh: instead of refreshing the MV when a delta
    * arrives, a query-time "lambda view" unions the STORED aggregate
    * partials (history, materialized once to parquet) with an
    * on-the-fly aggregate of the un-refreshed tail and re-aggregates —
    * algebraic states merge under plain groupBy/sum/max, so the view
    * is exactly consistent with a full recompute at every moment
    * between refreshes. The output carries the provenance a serving
    * layer exposes (rows contributed by the tail, whether the key
    * existed in the MV at all), both recomputable from raw data by
    * the oracle. SCALE: query cost is |MV| + agg(|tail|); the tail is
    * bounded by refresh cadence, so point-in-time correctness costs
    * minutes of data, not a 100 TB rescan — and the write side
    * (agg-mv-delta-refresh) can refresh lazily on its own schedule. */
  val aggMvLambdaRead: Q = (s, d) => {
    val split = to_timestamp(lit("1997-06-01"))
    def states(df: DataFrame): DataFrame =
      df.groupBy("o_custkey").agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("sum_cents"),
        max(col("o_orderdate")).as("last_ts"))
    val o = orders(s, d)
    // the stored MV: history partials, materialized once per process
    val mvDir = tmp("mv-lambda-store", d)
    // only "store not there yet" falls through to a rebuild; fatal
    // Throwables (OOM, interrupt) must propagate, not silently rebuild
    val stored =
      if (!new java.io.File(mvDir).exists()) None
      else try { val x = s.read.parquet(mvDir); if (x.isEmpty) None else Some(x) }
      catch {
        case _: org.apache.spark.sql.AnalysisException => None
        case _: java.io.IOException => None
      }
    if (stored.isEmpty)
      states(o.filter(col("o_orderdate") < split))
        .write.mode(SaveMode.Overwrite).parquet(mvDir)
    val mv = s.read.parquet(mvDir)
    // query time: aggregate only the tail, union states, re-aggregate
    val tail = states(o.filter(col("o_orderdate") >= split))
    mv.withColumn("src", lit("mv"))
      .unionByName(tail.withColumn("src", lit("tail")))
      .groupBy("o_custkey")
      .agg(
        sum("n").as("n"),
        sum("sum_cents").as("sum_cents"),
        max("last_ts").as("last_ts"),
        sum(when(col("src") === "tail", col("n")).otherwise(0L)).as("n_tail"),
        max(when(col("src") === "mv", 1).otherwise(0)).cast(IntegerType)
          .as("in_mv"))
      .orderBy("o_custkey")
  }

  val aggMvLambdaReadSql: String =
    """WITH c AS (
      |  SELECT o_custkey, o_orderdate,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders)
      |SELECT o_custkey,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents,
      |       max(o_orderdate) AS last_ts,
      |       CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1997-06-01' THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_tail,
      |       CAST(max(CASE WHEN o_orderdate < TIMESTAMP '1997-06-01' THEN 1 ELSE 0 END)
      |            AS INT) AS in_mv
      |FROM c
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin

  /** join-ip-longest-prefix — routing-table enrichment: map each IP to
    * the MOST SPECIFIC matching CIDR block among mixed prefix lengths
    * (/24 beats /16 beats /8), the classic longest-prefix-match that
    * every traffic/abuse pipeline runs. A range/containment join would
    * be a BNLJ over |ips|×|routes|; instead each IP derives its THREE
    * candidate prefix keys (one per supported length) and takes three
    * broadcast EQUALITY joins, then coalesce picks the longest match —
    * bounded fan-out (k joins for k prefix lengths), codegen hash
    * probes, no non-equi join anywhere. The route table is concat-
    * BUILT from data-derived octets (both engines see identical
    * strings): /24 rows for o3 % 50 = 0, /16 rows for even o2, and the
    * /8 catch-all. Output: per resolved label class, IP volume,
    * distinct /24 spread, and the match-length mix. */
  val joinIpLongestPrefix: Q = (s, d) => {
    val ips = orders(s, d).select(
        pmod(col("o_orderkey"), lit(256L)).as("o2"),
        pmod(expr("o_orderkey div 256"), lit(256L)).as("o3"),
        pmod(expr("o_orderkey div 65536"), lit(256L)).as("o4"))
      .sharedCache()
    ips.count() // fills once: feeds the 3 probe joins AND route derivation
    // routes derived from the data's own octet domain
    val r24 = ips.select(col("o2"), col("o3")).distinct()
      .filter(col("o3") % 50 === 0)
      .select(concat(lit("10."), col("o2"), lit("."), col("o3")).as("k24"),
        concat(lit("edge-"), col("o2"), lit("-"), col("o3")).as("label24"))
    val r16 = ips.select(col("o2")).distinct()
      .filter(col("o2") % 2 === 0)
      .select(concat(lit("10."), col("o2")).as("k16"),
        concat(lit("dc-"), col("o2")).as("label16"))
    val enriched = ips
      .withColumn("k24", concat(lit("10."), col("o2"), lit("."), col("o3")))
      .withColumn("k16", concat(lit("10."), col("o2")))
      .join(broadcast(r24), Seq("k24"), "left")
      .join(broadcast(r16), Seq("k16"), "left")
      .withColumn("label",
        coalesce(col("label24"), col("label16"), lit("corp-10/8")))
      .withColumn("matched_len",
        when(col("label24").isNotNull, 24)
          .when(col("label16").isNotNull, 16).otherwise(8))
    enriched
      .groupBy(substring_index(col("label"), "-", 1).as("label_class"),
        col("matched_len"))
      .agg(count(lit(1)).as("n_ips"),
        countDistinct(col("k24")).as("n_distinct24"))
      .orderBy("label_class", "matched_len")
  }

  val joinIpLongestPrefixSql: String =
    """WITH ips AS (
      |  SELECT o_orderkey % 256 AS o2,
      |         (o_orderkey // 256) % 256 AS o3,
      |         (o_orderkey // 65536) % 256 AS o4
      |  FROM orders),
      |r24 AS (
      |  SELECT DISTINCT '10.' || CAST(o2 AS VARCHAR) || '.' || CAST(o3 AS VARCHAR) AS k24,
      |         'edge-' || CAST(o2 AS VARCHAR) || '-' || CAST(o3 AS VARCHAR) AS label24
      |  FROM ips WHERE o3 % 50 = 0),
      |r16 AS (
      |  SELECT DISTINCT '10.' || CAST(o2 AS VARCHAR) AS k16,
      |         'dc-' || CAST(o2 AS VARCHAR) AS label16
      |  FROM ips WHERE o2 % 2 = 0),
      |enriched AS (
      |  SELECT ips.*,
      |         '10.' || CAST(o2 AS VARCHAR) || '.' || CAST(o3 AS VARCHAR) AS k24,
      |         coalesce(r24.label24, r16.label16, 'corp-10/8') AS label,
      |         CASE WHEN r24.label24 IS NOT NULL THEN 24
      |              WHEN r16.label16 IS NOT NULL THEN 16 ELSE 8 END AS matched_len
      |  FROM ips
      |  LEFT JOIN r24 ON r24.k24 = '10.' || CAST(o2 AS VARCHAR) || '.' || CAST(o3 AS VARCHAR)
      |  LEFT JOIN r16 ON r16.k16 = '10.' || CAST(o2 AS VARCHAR))
      |SELECT split_part(label, '-', 1) AS label_class,
      |       CAST(matched_len AS INT) AS matched_len,
      |       CAST(count(*) AS BIGINT) AS n_ips,
      |       CAST(count(DISTINCT k24) AS BIGINT) AS n_distinct24
      |FROM enriched
      |GROUP BY split_part(label, '-', 1), matched_len
      |ORDER BY label_class, matched_len""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-mv-lambda-read", aggMvLambdaRead, aggMvLambdaReadSql),
    Key("join-ip-longest-prefix", joinIpLongestPrefix, joinIpLongestPrefixSql))
}
