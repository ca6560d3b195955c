package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-6 batch J: Hilbert-vs-Z-order layout, KS drift, partition
  * evolution. */
object RelMore49 extends KeyModule {

  private val GridN = 16 // 16×16 cells, 4 bits per axis

  /** The xy→d Hilbert transform as 4 chained rotation steps
    * (s = 8,4,2,1), emitted per dialect from ONE generator so Spark and
    * DuckDB run the same arithmetic. Standard algorithm: per step,
    * d += s²·((3·rx) xor ry), then rotate/reflect with n−1−coord. */
  private def hilbertSteps(xorFn: (String, String) => String): Seq[(String, String, String)] =
    Seq(8, 4, 2, 1).map { s =>
      val rx = s"CASE WHEN (x div $s) % 2 = 1 THEN 1 ELSE 0 END"
      val ry = s"CASE WHEN (y div $s) % 2 = 1 THEN 1 ELSE 0 END"
      val xNew = s"CASE WHEN ($ry) = 0 THEN (CASE WHEN ($rx) = 1 THEN ${GridN - 1} - y ELSE y END) ELSE x END"
      val yNew = s"CASE WHEN ($ry) = 0 THEN (CASE WHEN ($rx) = 1 THEN ${GridN - 1} - x ELSE x END) ELSE y END"
      val dNew = s"d + ${s * s} * (${xorFn(s"3 * ($rx)", ry)})"
      (xNew, yNew, dNew)
    }

  /** sort-hilbert-vs-zorder — the space-filling-curve bake-off behind
    * sort-zorder/sink-zorder-layout: the SAME 16×16 key grid linearized
    * by Z-order (bit interleave) and by the Hilbert curve (4 unrolled
    * rotation steps — exact, validated cell-by-cell against the
    * recursive definition), compared on the two numbers that decide a
    * table layout: total consecutive-cell Manhattan distance (Hilbert:
    * every step is exactly 1 → 255; Z-order jumps up to 16 → 480) and
    * the number of contiguous d-runs a 4×4 range query must read
    * (fewer runs = fewer seek ranges at the storage layer). The curve
    * math runs on the 256-row cell DIM ONLY — facts would join this
    * dim broadcast, so the layout decision costs nothing at fact
    * scale. rows_in_box counts the customer rows the probe box would
    * actually serve, tying the synthetic grid to real keys. */
  val sortHilbertVsZorder: Q = (s, d) => {
    var cells = s.range(GridN.toLong).select(col("id").cast(IntegerType).as("x0"))
      .crossJoin(s.range(GridN.toLong).select(col("id").cast(IntegerType).as("y0")))
      .select(col("x0"), col("y0"), col("x0").as("x"), col("y0").as("y"),
        lit(0L).as("d"))
    for ((xN, yN, dN) <- hilbertSteps((a, b) => s"($a) ^ ($b)")) {
      cells = cells.selectExpr("x0", "y0", s"($xN) AS x", s"($yN) AS y", s"($dN) AS d")
    }
    val zExpr = (0 until 4).map(i =>
      s"shiftleft(shiftright(x0, $i) & 1, ${2 * i}) + shiftleft(shiftright(y0, $i) & 1, ${2 * i + 1})")
      .mkString(" + ")
    val linear = cells.select(col("x0"), col("y0"), col("d").as("hilbert_d"))
      .withColumn("zorder_d", expr(s"CAST($zExpr AS BIGINT)"))
      .selectExpr("x0", "y0",
        "stack(2, 'hilbert', hilbert_d, 'zorder', zorder_d) AS (ordering, dd)")
    val wOrd = Window.partitionBy("ordering").orderBy("dd")
    val steps = linear
      .withColumn("px", lag("x0", 1).over(wOrd))
      .withColumn("py", lag("y0", 1).over(wOrd))
      .withColumn("step", abs(col("x0") - col("px")) + abs(col("y0") - col("py")))
    val inBox = col("x0") >= 4 && col("x0") <= 7 && col("y0") >= 8 && col("y0") <= 11
    val wBox = Window.partitionBy("ordering").orderBy("dd")
    val boxRuns = linear.filter(inBox)
      .withColumn("pd", lag("dd", 1).over(wBox))
      .withColumn("gap", when(col("pd").isNull || col("dd") - col("pd") > 1, 1L).otherwise(0L))
      .groupBy("ordering")
      .agg(count(lit(1)).as("box_cells"), sum("gap").as("box_runs"))
    val custInBox = customer(s, d)
      .select(expr(s"pmod(c_custkey, $GridN)").as("x0"),
        expr(s"pmod(c_nationkey * 5 + c_custkey div $GridN, $GridN)").as("y0"))
      .filter(inBox).agg(count(lit(1)).as("rows_in_box"))
    steps.groupBy("ordering")
      .agg(coalesce(sum("step"), lit(0L)).as("step_dist_sum"),
        max(coalesce(col("step"), lit(0L))).as("max_step"))
      .join(boxRuns, Seq("ordering"))
      .crossJoin(broadcast(custInBox))
      .select(col("ordering"), col("step_dist_sum"), col("max_step"),
        col("box_cells"), col("box_runs"), col("rows_in_box"))
      .orderBy("ordering")
  }

  val sortHilbertVsZorderSql: String = {
    val ctes = new scala.collection.mutable.ArrayBuffer[String]
    ctes += s"""cells AS (
       |  SELECT a.x AS x0, b.y AS y0
       |  FROM (SELECT unnest(range(0, $GridN)) AS x) a,
       |       (SELECT unnest(range(0, $GridN)) AS y) b)""".stripMargin
    ctes += "h_start AS (SELECT x0, y0, x0 AS x, y0 AS y, CAST(0 AS BIGINT) AS d FROM cells)"
    var prev = "h_start"
    for (((xN, yN, dN), i) <- hilbertSteps((a, b) => s"xor($a, $b)").zipWithIndex) {
      val nm = s"h_$i"
      // DuckDB has no `div` operator — the generator uses `div`, swap to //
      def fix(e: String) = e.replace(" div ", " // ")
      ctes += s"$nm AS (SELECT x0, y0, (${fix(xN)}) AS x, (${fix(yN)}) AS y, (${fix(dN)}) AS d FROM $prev)"
      prev = nm
    }
    val zExpr = (0 until 4).map(i =>
      s"(((x0 >> $i) & 1) << ${2 * i}) + (((y0 >> $i) & 1) << ${2 * i + 1})").mkString(" + ")
    s"""WITH ${ctes.mkString(",\n")},
       |linear AS (
       |  SELECT x0, y0, 'hilbert' AS ordering, d AS dd FROM $prev
       |  UNION ALL
       |  SELECT x0, y0, 'zorder', CAST($zExpr AS BIGINT) FROM $prev),
       |steps AS (
       |  SELECT ordering,
       |         abs(x0 - lag(x0) OVER w) + abs(y0 - lag(y0) OVER w) AS step
       |  FROM linear WINDOW w AS (PARTITION BY ordering ORDER BY dd)),
       |boxruns AS (
       |  SELECT ordering, CAST(count(*) AS BIGINT) AS box_cells,
       |         CAST(sum(gap) AS BIGINT) AS box_runs
       |  FROM (
       |    SELECT ordering,
       |           CASE WHEN lag(dd) OVER w IS NULL OR dd - lag(dd) OVER w > 1
       |                THEN 1 ELSE 0 END AS gap
       |    FROM linear
       |    WHERE x0 BETWEEN 4 AND 7 AND y0 BETWEEN 8 AND 11
       |    WINDOW w AS (PARTITION BY ordering ORDER BY dd)) g
       |  GROUP BY ordering),
       |cust AS (
       |  SELECT CAST(count(*) AS BIGINT) AS rows_in_box FROM (
       |    SELECT ((c_custkey % $GridN) + $GridN) % $GridN AS x0,
       |           (((c_nationkey * 5 + c_custkey // $GridN) % $GridN) + $GridN) % $GridN AS y0
       |    FROM customer)
       |  WHERE x0 BETWEEN 4 AND 7 AND y0 BETWEEN 8 AND 11)
       |SELECT st.ordering,
       |       CAST(coalesce(sum(st.step), 0) AS BIGINT) AS step_dist_sum,
       |       CAST(max(coalesce(st.step, 0)) AS BIGINT) AS max_step,
       |       br.box_cells, br.box_runs, cust.rows_in_box
       |FROM steps st
       |JOIN boxruns br ON br.ordering = st.ordering
       |CROSS JOIN cust
       |GROUP BY st.ordering, br.box_cells, br.box_runs, cust.rows_in_box
       |ORDER BY st.ordering""".stripMargin
  }

  /** dq-ks-drift — two-sample Kolmogorov–Smirnov distance between the
    * order-price distributions of two segments (priority 1-URGENT vs
    * 5-LOW), on a bucketed ECDF: prices quantize to $500 cells (the
    * standard scale move — at 100 TB the exact ECDF needs a global
    * sort, the bucketed one needs a |buckets|-sized aggregate), then
    * D = max |c1·n2 − c2·n1| / (n1·n2) over bucket boundaries in exact
    * integer ppm. The drift gate that decides whether yesterday's and
    * today's distributions are the same before a model retrain; the
    * window runs over the BOUNDED bucket table, never the facts. */
  val dqKsDrift: Q = (s, d) => {
    val o = orders(s, d).select(col("o_orderpriority").as("pri"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 50000").as("bucket"))
    val a = o.filter(col("pri") === "1-URGENT")
    val b = o.filter(col("pri") === "5-LOW")
    val cnt = a.groupBy("bucket").agg(count(lit(1)).as("ca"))
      .join(b.groupBy("bucket").agg(count(lit(1)).as("cb")), Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val tot = cnt.agg(sum("ca").as("na"), sum("cb").as("nb"))
    // two running ECDF numerators = two inclusive PrefixScan cums over
    // the same bucket axis (r14 port — one Long valueCol per pass, so
    // the second pass stamps the first's output; both reuse the same
    // range shuffle shape). bucket is distinct post-join: total order.
    val cumA = graft.functions.PrefixScan.withRankCumSum(
      cnt, Seq(col("bucket")), Some("ca"), rankName = "rn_a", cumName = "cuma").df
    graft.functions.PrefixScan.withRankCumSum(
        cumA.drop("rn_a"), Seq(col("bucket")), Some("cb"),
        rankName = "rn_b", cumName = "cumb").df
      .crossJoin(broadcast(tot))
      .select(expr("abs(cuma * nb - cumb * na)").as("num"), col("na"), col("nb"))
      .agg(max(expr("(num * 1000000) div (na * nb)")).as("ks_ppm"),
        first(col("na")).as("n_a"), first(col("nb")).as("n_b"))
      .select(col("n_a"), col("n_b"), col("ks_ppm"),
        when(col("ks_ppm") > 100000, "DRIFT").otherwise("SAME").as("verdict"))
  }

  val dqKsDriftSql: String =
    """WITH o AS (
      |  SELECT o_orderpriority AS pri,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 50000 AS bucket
      |  FROM orders),
      |cnt AS (
      |  SELECT coalesce(a.bucket, b.bucket) AS bucket,
      |         CAST(coalesce(a.ca, 0) AS BIGINT) AS ca,
      |         CAST(coalesce(b.cb, 0) AS BIGINT) AS cb
      |  FROM (SELECT bucket, count(*) AS ca FROM o WHERE pri = '1-URGENT' GROUP BY 1) a
      |  FULL OUTER JOIN (SELECT bucket, count(*) AS cb FROM o WHERE pri = '5-LOW' GROUP BY 1) b
      |    ON b.bucket = a.bucket),
      |cum AS (
      |  SELECT bucket,
      |         CAST(sum(ca) OVER (ORDER BY bucket) AS BIGINT) AS cuma,
      |         CAST(sum(cb) OVER (ORDER BY bucket) AS BIGINT) AS cumb,
      |         (SELECT CAST(sum(ca) AS BIGINT) FROM cnt) AS na,
      |         (SELECT CAST(sum(cb) AS BIGINT) FROM cnt) AS nb
      |  FROM cnt)
      |SELECT na AS n_a, nb AS n_b,
      |       max((abs(cuma * nb - cumb * na) * 1000000) // (na * nb)) AS ks_ppm,
      |       CASE WHEN max((abs(cuma * nb - cumb * na) * 1000000) // (na * nb)) > 100000
      |            THEN 'DRIFT' ELSE 'SAME' END AS verdict
      |FROM cum
      |GROUP BY na, nb""".stripMargin

  /** sink-partition-evolution — the partition-scheme change every aging
    * table goes through: epoch-1 files are written partitioned by MONTH
    * (fine-grained, good while the table is small), epoch-2 files by
    * YEAR (coarser, fewer dirs as volume grows). Old files are NOT
    * rewritten — that is the whole point of partition evolution (a
    * rewrite at 100 TB is the thing being avoided); instead readers
    * normalize: both epochs are read back, the logical key (month) is
    * re-derived from the DATA column, and the union serves a seamless
    * per-month report. Output: per epoch the file-level partition
    * count and row count, plus the blended month count proving the
    * union covers both epochs without a gap. */
  val sinkPartitionEvolution: Q = (s, d) => {
    val base = tmp("sink-partition-evolution", d)
    val o = orders(s, d).select(col("o_orderkey"),
      to_date(col("o_orderdate")).as("od"))
    val e1 = o.filter(year(col("od")) <= 1997)
      .withColumn("pmonth", date_format(col("od"), "yyyy-MM"))
    val e2 = o.filter(year(col("od")) >= 1998)
      .withColumn("pyear", year(col("od")).cast(StringType))
    e1.write.mode(SaveMode.Overwrite).partitionBy("pmonth").parquet(s"$base/epoch1")
    e2.write.mode(SaveMode.Overwrite).partitionBy("pyear").parquet(s"$base/epoch2")
    val r1 = s.read.parquet(s"$base/epoch1")
      .select(col("o_orderkey"), col("od"), col("pmonth").cast(StringType).as("pk"))
    val r2 = s.read.parquet(s"$base/epoch2")
      .select(col("o_orderkey"), col("od"), col("pyear").cast(StringType).as("pk"))
    def stats(name: String, df: DataFrame): DataFrame =
      df.agg(countDistinct("pk").as("n_partitions"), count(lit(1)).as("n_rows"))
        .select(lit(name).as("epoch"), col("n_partitions"), col("n_rows"))
    val blended = r1.unionByName(r2)
      .select(date_format(col("od"), "yyyy-MM").as("logical_month"))
      .agg(countDistinct("logical_month").as("n_partitions"),
        count(lit(1)).as("n_rows"))
      .select(lit("blended_by_month").as("epoch"), col("n_partitions"), col("n_rows"))
    stats("epoch1_by_month", r1)
      .unionAll(stats("epoch2_by_year", r2))
      .unionAll(blended)
      .orderBy("epoch")
  }

  val sinkPartitionEvolutionSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders),
      |e1 AS (SELECT o_orderkey, od, strftime(od, '%Y-%m') AS pk FROM o WHERE year(od) <= 1997),
      |e2 AS (SELECT o_orderkey, od, CAST(year(od) AS VARCHAR) AS pk FROM o WHERE year(od) >= 1998)
      |SELECT * FROM (
      |  SELECT 'epoch1_by_month' AS epoch,
      |         CAST(count(DISTINCT pk) AS BIGINT) AS n_partitions,
      |         CAST(count(*) AS BIGINT) AS n_rows FROM e1
      |  UNION ALL
      |  SELECT 'epoch2_by_year', CAST(count(DISTINCT pk) AS BIGINT),
      |         CAST(count(*) AS BIGINT) FROM e2
      |  UNION ALL
      |  SELECT 'blended_by_month', CAST(count(DISTINCT strftime(od, '%Y-%m')) AS BIGINT),
      |         CAST(count(*) AS BIGINT)
      |  FROM (SELECT od FROM e1 UNION ALL SELECT od FROM e2)
      |) ORDER BY epoch""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sort-hilbert-vs-zorder", sortHilbertVsZorder, sortHilbertVsZorderSql),
    Key("dq-ks-drift", dqKsDrift, dqKsDriftSql),
    Key("sink-partition-evolution", sinkPartitionEvolution, sinkPartitionEvolutionSql))
}
