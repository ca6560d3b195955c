package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch H: power analysis, sorted-write file contract,
  * unit-suffix parsing, rolling correlation. */
object RelMore70 extends KeyModule {

  /** agg-power-analysis — experiment sizing from observed variance:
    * required per-arm n to detect an absolute effect δ at α=0.05,
    * power 0.80 — n = 2(z_α/2 + z_β)²σ²/δ² with (1.96+0.84)² = 7.84
    * EXACT in decimal, so the whole calculator reduces to one integer
    * ceil-division per δ: n_req = ⌈1568·v / (100·n(n−1)·δ²)⌉ where
    * v = nΣx² − S² is the integer variance numerator of the per-user
    * metric. The experimentation-platform table (beside
    * agg-abtest-gate's verdict and agg-welch-ttest's test): how long
    * must the experiment run. One aggregate; the δ grid is constant. */
  val aggPowerAnalysis: Q = (s, d) => {
    val deltas = Seq(10L, 25L, 50L, 100L)
    val perUser = events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(floor(col("value")).cast(LongType)).as("x"))
    val m = perUser.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum(col("x") * col("x")).as("sxx"))
      .withColumn("v", col("n") * col("sxx") - col("sx") * col("sx"))
    val grid = deltas.map(dd =>
      s"$dd, (1568 * v + (100 * n * (n - 1) * $dd * $dd) - 1) div (100 * n * (n - 1) * $dd * $dd)")
      .mkString(", ")
    m.select(col("n"), expr("sx div n").as("mean_metric"),
      expr("v div (n * (n - 1))").as("variance_floor"),
      expr(s"stack(${deltas.size}, $grid) AS (delta, n_per_arm)"))
      .select(col("n").as("n_users"), col("mean_metric"), col("variance_floor"),
        col("delta").cast(LongType).as("delta"), col("n_per_arm"))
      .orderBy("delta")
  }

  val aggPowerAnalysisSql: String = {
    val deltas = Seq(10L, 25L, 50L, 100L)
    val rows = deltas.map(dd =>
      s"""SELECT n, sx // n AS mean_metric, v // (n * (n - 1)) AS variance_floor,
         |       CAST($dd AS BIGINT) AS delta,
         |       (1568 * v + (100 * n * (n - 1) * $dd * $dd) - 1) // (100 * n * (n - 1) * $dd * $dd) AS n_per_arm
         |FROM m""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH pu AS (
       |  SELECT user_id, CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
       |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
       |         CAST(count(*) AS BIGINT) * CAST(sum(x * x) AS BIGINT)
       |           - CAST(sum(x) AS BIGINT) * CAST(sum(x) AS BIGINT) AS v
       |  FROM pu)
       |SELECT n AS n_users, mean_metric, variance_floor, delta, n_per_arm
       |FROM ($rows)
       |ORDER BY delta""".stripMargin
  }

  private val MaxRecs = 20000L

  /** sink-sorted-write — the writer-side clustering contract:
    * partitionBy(returnflag) + sortWithinPartitions(shipdate, key) +
    * maxRecordsPerFile, which makes every data file a CONTIGUOUS
    * sorted run — the property that gives parquet row-group min/max
    * stats their pruning power. Because the writer cuts sequentially
    * in sort order, the file layout is fully deterministic and the
    * oracle reproduces it arithmetically (bucket = rank div N);
    * the Spark side reads the files BACK (input_file_name) and grades
    * the actual layout: file count, the records cap, and the total
    * date span across files. One shuffle (repartition by flag), one
    * in-partition sort — the cheapest write that buys ordered files. */
  val sinkSortedWrite: Q = (s, d) => {
    val dir = tmp("sink-sorted-write", d)
    lineitem(s, d)
      .select(col("l_returnflag"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .repartition(col("l_returnflag"))
      .sortWithinPartitions("l_returnflag", "l_shipdate", "l_orderkey", "l_linenumber")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", MaxRecs.toString)
      .partitionBy("l_returnflag")
      .parquet(dir)
    val back = s.read.parquet(dir)
      .withColumn("f", input_file_name())
    val perFile = back.groupBy("l_returnflag", "f")
      .agg(count(lit(1)).as("recs"),
        min("l_shipdate").as("lo"), max("l_shipdate").as("hi"))
    perFile.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_files"),
        max("recs").as("max_file_records"),
        sum(datediff(col("hi"), col("lo")) + 1).as("total_span_days"),
        sum("recs").as("n_rows"))
      .orderBy("l_returnflag")
  }

  val sinkSortedWriteSql: String =
    s"""WITH ranked AS (
       |  SELECT l_returnflag, l_shipdate,
       |         (row_number() OVER (PARTITION BY l_returnflag
       |            ORDER BY l_shipdate, l_orderkey, l_linenumber) - 1) // $MaxRecs AS bucket
       |  FROM lineitem),
       |per_file AS (
       |  SELECT l_returnflag, bucket, count(*) AS recs,
       |         min(l_shipdate) AS lo, max(l_shipdate) AS hi
       |  FROM ranked GROUP BY l_returnflag, bucket)
       |SELECT l_returnflag, count(*) AS n_files,
       |       CAST(max(recs) AS BIGINT) AS max_file_records,
       |       CAST(sum(date_diff('day', lo, hi) + 1) AS BIGINT) AS total_span_days,
       |       CAST(sum(recs) AS BIGINT) AS n_rows
       |FROM per_file
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  /** cast-unit-suffix — unit-suffixed numeric cleansing ("512 KB",
    * "3 MB" → bytes), the cast family's byte-size sibling of
    * decimal-comma repair: split the magnitude from the suffix, map
    * the suffix through a bounded unit table (an in-plan CASE — never
    * a UDF), and rescale to the base unit. The dirty strings are
    * synthesized in-flight from order totals (magnitude = floored
    * total, unit by key mod 3) so the parse is graded by exact
    * round-trip per priority class. */
  val castUnitSuffix: Q = (s, d) => {
    val staged = orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
      concat(floor(col("o_totalprice")).cast(LongType).cast(StringType),
        element_at(array(lit(" B"), lit(" KB"), lit(" MB")),
          (col("o_orderkey") % 3 + 1).cast(IntegerType))).as("size_str"))
    val parsed = staged.select(col("o_orderpriority"),
      (expr("CAST(split(size_str, ' ')[0] AS BIGINT)") *
        when(expr("split(size_str, ' ')[1]") === "B", 1L)
          .when(expr("split(size_str, ' ')[1]") === "KB", 1024L)
          .otherwise(1024L * 1024)).as("bytes"))
    parsed.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("bytes").as("total_bytes"))
      .orderBy("o_orderpriority")
  }

  val castUnitSuffixSql: String =
    """WITH staged AS (
      |  SELECT o_orderkey, o_orderpriority,
      |         CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR) ||
      |         ([' B', ' KB', ' MB'])[CAST(o_orderkey % 3 + 1 AS INT)] AS size_str
      |  FROM orders),
      |parsed AS (
      |  SELECT o_orderpriority,
      |         CAST(string_split(size_str, ' ')[1] AS BIGINT) *
      |         CASE string_split(size_str, ' ')[2]
      |           WHEN 'B' THEN 1 WHEN 'KB' THEN 1024 ELSE 1048576 END AS bytes
      |  FROM staged)
      |SELECT o_orderpriority, count(*) AS n, CAST(sum(bytes) AS BIGINT) AS total_bytes
      |FROM parsed
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** win-rolling-corr — trailing 30-day correlation between two daily
    * series (revenue vs order count), with the correlation kept EXACT:
    * corr² = cov²/(vₓ·v_y) as a signed integer-micro ratio — cov and
    * the variance numerators are integer window sums (decimal-cast so
    * nothing overflows at any scale), and no square root ever runs.
    * The two series pre-aggregate to one row per date, so the single
    * ordered window is date-domain-bounded (the PrefixScan discipline);
    * graded as the 15 most positively correlated full windows. */
  val winRollingCorr: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val daily = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderdate").as("dt"))
      .agg(sum(floor(col("l_extendedprice")).cast(LongType)).as("x"),
        countDistinct(col("o_orderkey")).as("y"))
    val w = Window.orderBy("dt").rowsBetween(-29, 0)
    val sums = daily
      .withColumn("nw", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x").cast(dec)).over(w))
      .withColumn("sy", sum(col("y").cast(dec)).over(w))
      .withColumn("sxx", sum(col("x").cast(dec) * col("x").cast(dec)).over(w))
      .withColumn("syy", sum(col("y").cast(dec) * col("y").cast(dec)).over(w))
      .withColumn("sxy", sum(col("x").cast(dec) * col("y").cast(dec)).over(w))
      .filter(col("nw") === 30)
    val e = sums
      .withColumn("cov", col("nw") * col("sxy") - col("sx") * col("sy"))
      .withColumn("vx", col("nw") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("nw") * col("syy") - col("sy") * col("sy"))
      .filter(col("vx") > 0 && col("vy") > 0)
    e.select(col("dt"),
      (when(col("cov") < 0, -1L).otherwise(1L) *
        floor((col("cov") * col("cov")).cast(DoubleType) /
          (col("vx") * col("vy")).cast(DoubleType) * 1000000).cast(LongType))
        .as("corr2_signed_micro"))
      .orderBy(col("corr2_signed_micro").desc, col("dt").asc)
      .limit(15)
  }

  val winRollingCorrSql: String =
    """WITH daily AS (
      |  SELECT o_orderdate AS dt,
      |         CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS HUGEINT) AS x,
      |         CAST(count(DISTINCT o_orderkey) AS HUGEINT) AS y
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY o_orderdate),
      |sums AS (
      |  SELECT dt,
      |         count(*) OVER w AS nw,
      |         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
      |         sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
      |         sum(x * y) OVER w AS sxy
      |  FROM daily
      |  WINDOW w AS (ORDER BY dt ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)),
      |e AS (
      |  SELECT dt,
      |         nw * sxy - sx * sy AS cov,
      |         nw * sxx - sx * sx AS vx,
      |         nw * syy - sy * sy AS vy
      |  FROM sums WHERE nw = 30)
      |SELECT dt,
      |       CAST((CASE WHEN cov < 0 THEN -1 ELSE 1 END) *
      |            floor(CAST(cov * cov AS DOUBLE) / CAST(vx * vy AS DOUBLE) * 1000000)
      |         AS BIGINT) AS corr2_signed_micro
      |FROM e
      |WHERE vx > 0 AND vy > 0
      |ORDER BY corr2_signed_micro DESC, dt
      |LIMIT 15""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-power-analysis", aggPowerAnalysis, aggPowerAnalysisSql),
    Key("sink-sorted-write", sinkSortedWrite, sinkSortedWriteSql),
    Key("cast-unit-suffix", castUnitSuffix, castUnitSuffixSql),
    Key("win-rolling-corr", winRollingCorr, winRollingCorrSql))
}
