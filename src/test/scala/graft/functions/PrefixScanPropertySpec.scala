package graft.functions

import graft.olist.SparkTestBase
import graft.ops.Tables.withShufflePartitions
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Randomized (seeded, reproducible) property: every ordered scan equals
  * the unpartitioned window it replaces, at 1, 3 and 8 shuffle
  * partitions. The frames include ones smaller than the partition count
  * (empty partitions, an empty frame), nulls in the leading order column
  * and in the values, and an all-null value column `v2`. */
class PrefixScanPropertySpec extends SparkTestBase {

  private case class Frame(df: DataFrame, order: Seq[Column], label: String)

  /** Runs `check` on every seeded frame at each shuffle-partition count. */
  private def forFrames(check: Frame => Unit): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def opt[T](p: Double)(v: => T): Option[T] = if (rnd.nextDouble() < p) None else Some(v)
    for (parts <- Seq(1, 3, 8)) withShufflePartitions(spark, parts) {
      Seq((0, false), (2, false), (5, true), (200, false), (200, true)).zipWithIndex.foreach {
        case ((n, allNull), i) =>
          // unique k in shuffled order; g repeats and has nulls, k breaks every tie
          val ks = rnd.shuffle((1 to n).map(_.toLong * (1 + rnd.nextInt(5))).distinct.toList)
          val df = ks.map(k => (k, opt(0.1)(rnd.nextInt(4)), opt(0.3)(rnd.nextInt(1000) - 500L),
              if (allNull) None else opt(0.5)(rnd.nextLong() >> 20), opt(0.3)(s"s$k")))
            .toDF("k", "g", "v1", "v2", "s")
            .repartition(1 + rnd.nextInt(4))
          val order = if (i % 2 == 0) Seq(col("g"), col("k")) else Seq(col("g").desc, col("k").desc)
          check(Frame(df, order, s"parts=$parts n=${ks.size} allNull=$allNull order#${i % 2}"))
      }
    }
  }

  private def sorted(df: DataFrame, cols: String*): Seq[Row] =
    df.select(cols.map(col): _*).orderBy("k").collect().toSeq

  test("withRunningMax equals max over the inclusive and exclusive frames, with n and grandMax") {
    forFrames { f =>
      val w = Window.orderBy(f.order: _*)
      Seq("v1", "v2").foreach { v =>
        val inc = PrefixScan.withRunningMax(f.df, f.order, v, "m")
        val exc = PrefixScan.withRunningMax(f.df, f.order, v, "m", inclusive = false)
        val incRef = f.df.withColumn("m",
          max(col(v)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val excRef = f.df.withColumn("m",
          max(col(v)).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        assert(sorted(inc.df, "k", "m") == sorted(incRef, "k", "m"), s"inclusive $v ${f.label}")
        assert(sorted(exc.df, "k", "m") == sorted(excRef, "k", "m"), s"exclusive $v ${f.label}")
        val grand = f.df.agg(max(col(v)), count(lit(1))).head()
        Seq(inc, exc).foreach { sc =>
          assert(sc.grandMax == Option(grand.get(0)).map(_.asInstanceOf[Long]), s"grandMax $v ${f.label}")
          assert(sc.n == grand.getLong(1), s"n $v ${f.label}")
        }
      }
    }
  }

  test("withRankCumSums equals row_number and two running sums, with n and totals") {
    forFrames { f =>
      val w = Window.orderBy(f.order: _*)
      val upTo = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sc = PrefixScan.withRankCumSums(f.df, f.order, Seq("v1", "v2"), "rn", Seq("c1", "c2"))
      val ref = f.df.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("c1", sum(coalesce(col("v1"), lit(0L))).over(upTo))
        .withColumn("c2", sum(coalesce(col("v2"), lit(0L))).over(upTo))
      assert(sorted(sc.df, "k", "rn", "c1", "c2") == sorted(ref, "k", "rn", "c1", "c2"), f.label)
      val grand = f.df.agg(count(lit(1)), sum(coalesce(col("v1"), lit(0L))),
        sum(coalesce(col("v2"), lit(0L)))).head()
      assert(sc.n == grand.getLong(0), f.label)
      assert(sc.totals == Seq(1, 2).map(i => Option(grand.get(i)).fold(0L)(_.asInstanceOf[Long])), f.label)
    }
  }

  test("withNeighbor equals lag and lead over the order") {
    forFrames { f =>
      val w = Window.orderBy(f.order: _*)
      val cols = Seq("v1", "s")
      val lagged = PrefixScan.withNeighbor(f.df, f.order, cols, suffix = "_p")
      val led = PrefixScan.withNeighbor(f.df, f.order, cols, lead = true, suffix = "_n")
      val lagRef = cols.foldLeft(f.df)((d, c) => d.withColumn(c + "_p", lag(col(c), 1).over(w)))
      val leadRef = cols.foldLeft(f.df)((d, c) => d.withColumn(c + "_n", lead(col(c), 1).over(w)))
      assert(sorted(lagged, "k", "v1_p", "s_p") == sorted(lagRef, "k", "v1_p", "s_p"), s"lag ${f.label}")
      assert(sorted(led, "k", "v1_n", "s_n") == sorted(leadRef, "k", "v1_n", "s_n"), s"lead ${f.label}")
      assert(lagged.schema("s_p").dataType == f.df.schema("s").dataType)
    }
  }

  test("withLastNonNull equals last(ignoreNulls) over the rows before each row") {
    forFrames { f =>
      val prior = Window.orderBy(f.order: _*).rowsBetween(Window.unboundedPreceding, -1)
      val cols = Seq("v1", "v2", "s")
      val got = PrefixScan.withLastNonNull(f.df, f.order, cols)
      val ref = cols.foldLeft(f.df)((d, c) =>
        d.withColumn(c + "_carry", last(col(c), ignoreNulls = true).over(prior)))
      val out = "k" +: cols.map(_ + "_carry")
      assert(sorted(got, out: _*) == sorted(ref, out: _*), f.label)
    }
  }
}
