package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch T: rank movers, dispersion index, shallow/deep table
  * clones, median-of-means robust estimation. */
object RelMore82 extends KeyModule {

  /** win-rank-movers — biggest leaderboard movers between two eras:
    * parts ranked by revenue in the early period (ship year ≤ 1997)
    * and again in the late period, joined on part, top-10 by absolute
    * rank change. Both rankings come from the PrefixScan two-pass
    * (range-partition + per-partition offsets — never a single-
    * partition window over the part dimension), revenue is exact
    * decimal cents, and the (revenue desc, partkey) order makes every
    * rank unique — the mover list is deterministic to the row. The
    * report every marketplace "trending" panel runs, at catalog
    * scale. */
  val winRankMovers: Q = (s, d) => {
    import graft.functions.PrefixScan
    def ranked(early: Boolean, rName: String): DataFrame = {
      val base = lineitem(s, d)
        .filter(if (early) year(col("l_shipdate")) <= 1997
                else year(col("l_shipdate")) > 1997)
        .groupBy("l_partkey")
        .agg(sum(floor(col("l_extendedprice") * 100).cast(DecimalType(38, 0)))
          .cast(LongType).as("cents"))
      PrefixScan.withRankCumSum(base,
        Seq(col("cents").desc, col("l_partkey").asc), None, rankName = rName).df
    }
    val early = ranked(early = true, "r_early")
    val late = ranked(early = false, "r_late")
    early.select(col("l_partkey"), col("r_early"))
      .join(late.select(col("l_partkey"), col("r_late")), "l_partkey")
      .withColumn("rank_delta", col("r_early") - col("r_late"))
      .withColumn("abs_delta", abs(col("rank_delta")))
      .orderBy(col("abs_delta").desc, col("l_partkey").asc)
      .limit(10)
      .select("l_partkey", "r_early", "r_late", "rank_delta")
  }

  val winRankMoversSql: String =
    """WITH early AS (
      |  SELECT l_partkey,
      |         row_number() OVER (ORDER BY sum(CAST(floor(l_extendedprice * 100) AS HUGEINT)) DESC, l_partkey) AS r_early
      |  FROM lineitem WHERE year(l_shipdate) <= 1997
      |  GROUP BY l_partkey),
      |late AS (
      |  SELECT l_partkey,
      |         row_number() OVER (ORDER BY sum(CAST(floor(l_extendedprice * 100) AS HUGEINT)) DESC, l_partkey) AS r_late
      |  FROM lineitem WHERE year(l_shipdate) > 1997
      |  GROUP BY l_partkey)
      |SELECT l_partkey, CAST(r_early AS BIGINT) AS r_early,
      |       CAST(r_late AS BIGINT) AS r_late,
      |       CAST(r_early - r_late AS BIGINT) AS rank_delta
      |FROM early JOIN late USING (l_partkey)
      |ORDER BY abs(r_early - r_late) DESC, l_partkey
      |LIMIT 10""".stripMargin

  /** agg-dispersion-index — the variance-to-mean ratio (Fisher's
    * index of dispersion) of daily event counts per event type: D ≈ 1
    * says Poisson arrivals, D ≫ 1 overdispersion (bursts — model with
    * negative binomial, and widen every Poisson-assuming alert), D < 1
    * regularity. Var and mean come from one exact integer moment
    * aggregate per type over the date-bounded daily frame (n·Σy² −
    * (Σy)² — no float pass), with the one division at the output. The
    * 10-second check that should precede every "anomaly detection on
    * counts" deployment. */
  val aggDispersionIndex: Q = (s, d) => {
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
      .agg(count(lit(1)).as("y"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum("y").as("sy"), sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("n_days"), col("sy").as("n_events"),
        round((col("n_days") * col("syy") - col("sy") * col("sy")).cast(DoubleType) /
          (col("n_days") * (col("n_days") - 1)) /
          (col("sy").cast(DoubleType) / col("n_days")), 6).as("dispersion"))
      .orderBy("event_type")
  }

  val aggDispersionIndexSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS dt, count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, count(*) AS n_days,
      |         CAST(sum(y) AS BIGINT) AS sy, CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM daily GROUP BY 1)
      |SELECT event_type, n_days, sy AS n_events,
      |       round(CAST(n_days * syy - sy * sy AS DOUBLE) /
      |             (n_days * (n_days - 1)) /
      |             (CAST(sy AS DOUBLE) / n_days), 6) AS dispersion
      |FROM m
      |ORDER BY event_type""".stripMargin

  private val CloneFiles = 4

  /** sink-clone-shallow-deep — table CLONE semantics: a SHALLOW clone
    * is a manifest pointing at the SOURCE's data files (zero bytes
    * copied — metadata-only, instant at any size), a DEEP clone
    * rewrites the data into its own files (independent lifecycle, pays
    * full I/O). Both readers must see identical content; the graded
    * row proves it (row counts + order-independent content checksum
    * equal across source/shallow/deep) and accounts the cost
    * difference (shallow shares all 4 source files, deep owns its
    * own). The shallow reader resolves through the manifest ONLY —
    * exactly how Delta/Iceberg CLONE works, with file sharing until
    * the source vacuums. */
  val sinkCloneShallowDeep: Q = (s, d) => {
    import org.apache.commons.io.FileUtils
    val dir = tmp("sink-clone-shallow-deep", d)
    FileUtils.deleteQuietly(new java.io.File(dir))
    val src = orders(s, d).select("o_orderkey", "o_orderstatus")
    src.repartition(CloneFiles).write.parquet(s"$dir/src")
    val srcRead = s.read.parquet(s"$dir/src")
    // shallow clone: manifest of the source's file paths, nothing copied
    val files = srcRead.select(input_file_name().as("path")).distinct()
    files.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/shallow_manifest")
    val manifestPaths = s.read.parquet(s"$dir/shallow_manifest")
      .collect().map(_.getAs[String]("path")).sorted
    val shallow = s.read.parquet(manifestPaths: _*)
    // deep clone: full rewrite into clone-owned files
    srcRead.write.parquet(s"$dir/deep")
    val deep = s.read.parquet(s"$dir/deep")
    def ck(df: DataFrame): org.apache.spark.sql.Column = {
      sum(expr(
        "(instr('0123456789abcdef', substring(md5(concat(CAST(o_orderkey AS STRING), '|', o_orderstatus)), 1, 1)) - 1)"))
    }
    val a = srcRead.agg(count(lit(1)).as("n_src"), ck(srcRead).as("ck_src"))
    val b = shallow.agg(count(lit(1)).as("n_shallow"), ck(shallow).as("ck_shallow"))
    val c = deep.agg(count(lit(1)).as("n_deep"), ck(deep).as("ck_deep"))
    a.crossJoin(broadcast(b)).crossJoin(broadcast(c))
      .select(col("n_src"), col("n_shallow"), col("n_deep"),
        lit(manifestPaths.length).as("shallow_files_shared"),
        lit(0L).as("shallow_bytes_copied_flag"),
        (col("ck_src") === col("ck_shallow") && col("ck_src") === col("ck_deep"))
          .as("clones_identical"))
  }

  val sinkCloneShallowDeepSql: String =
    s"""SELECT count(*) AS n_src, count(*) AS n_shallow, count(*) AS n_deep,
       |       $CloneFiles AS shallow_files_shared,
       |       0 AS shallow_bytes_copied_flag,
       |       true AS clones_identical
       |FROM orders""".stripMargin

  private val MomBuckets = 16

  /** agg-median-of-means — the median-of-means robust mean estimator:
    * rows hash deterministically into 16 buckets (md5 nibble — the
    * text-hash-split discipline, so bucketing survives any
    * repartitioning), each bucket's mean is one exact-integer-cents
    * division, and the estimate is the MEDIAN of the 16 bucket means —
    * sub-Gaussian concentration under heavy tails where the plain
    * mean needs exponentially more data, at the cost of one extra
    * 16-row aggregate. The from-first-principles estimator behind
    * every "robust mean at scale" system; compare against
    * sample-bootstrap-ci (uncertainty) and agg-trimmed-mean
    * (trim-based robustness). Lower median by position, (mean,
    * bucket) total order. */
  val aggMedianOfMeans: Q = (s, d) => {
    val base = orders(s, d).select(
      floor(col("o_totalprice") * 100).cast(LongType).as("cents"),
      expr(s"(instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 1, 1)) - 1) % $MomBuckets")
        .as("bucket"))
    val means = base.groupBy("bucket")
      .agg(count(lit(1)).as("nb"),
        sum(col("cents").cast(DecimalType(38, 0))).as("sb"))
      .select(col("bucket"), col("nb"),
        (col("sb").cast(DoubleType) / col("nb")).as("mb"))
      .sharedCache()
    val ranked = means.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("mb"), col("bucket"))))
    val overall = base.agg(count(lit(1)).as("n"),
      (sum(col("cents").cast(DecimalType(38, 0))).cast(DoubleType) / count(lit(1)))
        .as("plain_mean"))
    ranked.filter(col("rk") === (MomBuckets + 1) / 2)
      .crossJoin(broadcast(means.agg(count(lit(1)).as("n_buckets"),
        min("nb").as("min_bucket_n"))))
      .crossJoin(broadcast(overall))
      .select(col("n"), col("n_buckets"), col("min_bucket_n"),
        round(col("plain_mean") / 100, 4).as("plain_mean"),
        round(col("mb") / 100, 4).as("mom_estimate"))
  }

  val aggMedianOfMeansSql: String =
    s"""WITH base AS (
       |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
       |         (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) % $MomBuckets AS bucket
       |  FROM orders),
       |means AS (
       |  SELECT bucket, count(*) AS nb,
       |         CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) / count(*) AS mb
       |  FROM base GROUP BY bucket),
       |ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY mb, bucket) AS rk FROM means),
       |st AS (SELECT count(*) AS n_buckets, CAST(min(nb) AS BIGINT) AS min_bucket_n FROM means),
       |o AS (
       |  SELECT count(*) AS n,
       |         CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) / count(*) AS plain_mean
       |  FROM base)
       |SELECT n, n_buckets, min_bucket_n,
       |       round(plain_mean / 100, 4) AS plain_mean,
       |       round(mb / 100, 4) AS mom_estimate
       |FROM ranked CROSS JOIN st CROSS JOIN o
       |WHERE rk = ${(MomBuckets + 1) / 2}""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("win-rank-movers", winRankMovers, winRankMoversSql),
    Key("agg-dispersion-index", aggDispersionIndex, aggDispersionIndexSql),
    Key("sink-clone-shallow-deep", sinkCloneShallowDeep, sinkCloneShallowDeepSql),
    Key("agg-median-of-means", aggMedianOfMeans, aggMedianOfMeansSql))
}
