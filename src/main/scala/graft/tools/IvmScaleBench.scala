package graft.tools

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Volume probe for the round-11 materialized-layer family
  * (agg-mv-delta-refresh / agg-kmv-rolling-merge): synthesizes an
  * orders-like fact at a requested size (hash-derived, no rand()),
  * stores the aggregate MV as parquet, then measures the claim the
  * ops make — refresh cost is O(|delta| + |key domain|), NOT
  * O(|fact|) — by timing a full recompute against an incremental
  * merge of a 1% delta batch, and asserting the two results are
  * row-identical. Also replays the KMV rolling layer: per-day
  * partials built once from the fact, rolling 7-day distinct answered
  * from partials alone vs. recomputed from raw rows.
  *
  * Usage: runMain graft.tools.IvmScaleBench [nRows] [workDir] [nKeys]
  */
object IvmScaleBench {

  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toLong).getOrElse(30000000L)
    val work = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("ivm-scale").toString)
    val nKeysArg = args.lift(2).map(_.toLong)
    val spark = GraftSession.local()

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[ivm-scale] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    val nKeys = nKeysArg.getOrElse(math.max(1000L, nRows / 30L))
    def fact(n: Long, idOffset: Long): DataFrame =
      spark.range(n)
        .select(
          (col("id") + idOffset).as("okey"),
          pmod(hash(col("id") + idOffset, lit(7)), lit(nKeys)).cast("long").as("ckey"),
          (pmod(hash(col("id") + idOffset, lit(11)), lit(5000000)) + lit(100L)).as("cents"),
          when(pmod(hash(col("id") + idOffset, lit(13)), lit(3)) === 0, "O")
            .otherwise("F").as("status"),
          // ~4 years of days, hash-scattered
          date_add(lit("2020-01-01").cast("date"),
            pmod(hash(col("id") + idOffset, lit(17)), lit(1460)).cast("int")).as("dt"))

    val factDir = s"$work/fact"
    val mvDir = s"$work/mv"
    timed(s"generate+write base fact ($nRows rows, $nKeys keys)") {
      fact(nRows, 0L).write.mode(SaveMode.Overwrite).parquet(factDir)
    }

    def states(df: DataFrame): DataFrame =
      df.groupBy("ckey").agg(
        count(lit(1)).as("n"),
        sum("cents").as("sum_cents"),
        sum(when(col("status") === "O", 1L).otherwise(0L)).as("n_open"),
        max("dt").as("last_dt"))

    timed("build+store MV (one-time, amortized)") {
      states(spark.read.parquet(factDir))
        .write.mode(SaveMode.Overwrite).parquet(mvDir)
    }

    // the delta batch: 1% of base volume, appended after the MV build
    val deltaRows = math.max(1000L, nRows / 100L)
    val deltaDir = s"$work/delta"
    timed(s"write delta batch ($deltaRows rows)") {
      fact(deltaRows, nRows).write.mode(SaveMode.Overwrite).parquet(deltaDir)
    }

    val full = timed("FULL recompute (fact + delta rescan)") {
      val out = states(spark.read.parquet(factDir)
        .unionByName(spark.read.parquet(deltaDir)))
      out.count()
      out
    }
    val incr = timed("INCREMENTAL refresh (agg delta + merge stored MV)") {
      val mv = spark.read.parquet(mvDir)
      val d = states(spark.read.parquet(deltaDir))
      val out = mv.as("b").join(d.as("d"), Seq("ckey"), "full_outer")
        .select(col("ckey"),
          (coalesce(col("b.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n"),
          (coalesce(col("b.sum_cents"), lit(0L)) +
            coalesce(col("d.sum_cents"), lit(0L))).as("sum_cents"),
          (coalesce(col("b.n_open"), lit(0L)) +
            coalesce(col("d.n_open"), lit(0L))).as("n_open"),
          greatest(col("b.last_dt"), col("d.last_dt")).as("last_dt"))
      out.count()
      out
    }
    timed("equality check (except both ways)") {
      require(full.except(incr).isEmpty && incr.except(full).isEmpty,
        "incremental refresh diverged from full recompute")
    }

    // --- KMV rolling layer at volume -------------------------------
    val K = 64
    val partialsDir = s"$work/kmv"
    timed("build+store per-day KMV partials (one-time)") {
      import org.apache.spark.sql.expressions.Window
      spark.read.parquet(factDir)
        .select(col("dt"),
          expr("hex_slice_long(md5(CAST(ckey AS STRING)), 1, 13)").as("h"))
        .distinct()
        .withColumn("rn",
          row_number().over(Window.partitionBy("dt").orderBy("h")))
        .filter(col("rn") <= K).select("dt", "h")
        .write.mode(SaveMode.Overwrite).parquet(partialsDir)
    }
    timed("rolling 7-day distinct FROM PARTIALS (metadata-sized)") {
      val p = spark.read.parquet(partialsDir)
      val days = p.select("dt").distinct()
      val kth = p.as("p")
        .join(broadcast(days.as("w")),
          col("p.dt") >= date_sub(col("w.dt"), 6) && col("p.dt") <= col("w.dt"))
        .select(col("w.dt").as("wd"), col("h")).distinct()
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("wd").orderBy("h")))
        .filter(col("rn") === K)
      println(s"[ivm-scale]   windows answered: ${kth.count()}")
    }
    timed("rolling 7-day distinct FROM RAW ROWS (the rescan it replaces)") {
      val f = spark.read.parquet(factDir).select("dt", "ckey").distinct()
      val days = f.select("dt").distinct()
      val ex = f.as("p")
        .join(broadcast(days.as("w")),
          col("p.dt") >= date_sub(col("w.dt"), 6) && col("p.dt") <= col("w.dt"))
        .groupBy(col("w.dt").as("wd"))
        .agg(countDistinct("ckey").as("d"))
      println(s"[ivm-scale]   windows answered: ${ex.count()}")
    }

    spark.stop()
  }
}
