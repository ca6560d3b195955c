package graft.functions

import graft.olist.SparkTestBase
import graft.ops.Tables.withShufflePartitions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Randomized (seeded, reproducible) property: the partition-offset SK
  * assigner must equal `row_number() OVER (ORDER BY key)` for any
  * input order, any partitioning, any key distribution — that identity
  * is what lets the oracle stay the plain window SQL. */
class SurrogateKeysPropertySpec extends SparkTestBase {

  test("withSk equals the rank of the key, on random frames and partitionings") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 6).foreach { trial =>
      val n = 50 + rnd.nextInt(400)
      val stride = 1 + rnd.nextInt(9)
      // unique keys with gaps, inserted in shuffled order
      val keys = rnd.shuffle((1 to n).map(_.toLong * stride).toList)
      val df = keys.map(k => (k, s"payload$k")).toDF("k", "v")
        .repartition(1 + rnd.nextInt(8))
      val got = SurrogateKeys.withSk(df, "sk", Seq("k"))
        .select("k", "sk").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = keys.sorted.zipWithIndex
        .map { case (k, i) => k -> (i + 1L) }.toMap
      assert(got == expected, s"trial $trial (n=$n stride=$stride)")
    }
  }

  test("withSk with a composite key orders lexicographically") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = rnd.shuffle((for { a <- 1 to 20; b <- 1 to 10 } yield (a.toLong, b.toLong)).toList)
    val df = rows.toDF("a", "b").repartition(5)
    val got = SurrogateKeys.withSk(df, "sk", Seq("a", "b"))
      .select("a", "b", "sk").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expected = rows.sorted.zipWithIndex.map { case (p, i) => p -> (i + 1L) }.toMap
    assert(got == expected)
  }

  test("withSk leaves a caller's cache in place") {
    import spark.implicits._
    val df = (1L to 50L).toDF("k").persist()
    try {
      df.count()
      SurrogateKeys.withSk(df, "sk", Seq("k")).collect()
      assert(df.storageLevel != StorageLevel.NONE, "withSk evicted the caller's cache entry")
    } finally df.unpersist()
  }

  /** The range exchange + local sort + `zipWithIndex` assignment that
    * `withSk` replaced: the reference for its eager job count. */
  private def zipped(df: DataFrame, sk: String, keys: Seq[String]): DataFrame = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val input = df.persist()
    val ordered = input.repartitionByRange(parts, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
    val indexed = ordered.rdd.zipWithIndex()
    input.unpersist(blocking = false)
    spark.createDataFrame(indexed.map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) },
      StructType(ordered.schema.fields :+ StructField(sk, LongType, nullable = false)))
  }

  test("withSk runs no more eager jobs than zipWithIndex, at 1 and 4 partitions") {
    import spark.implicits._
    val df = (1L to 300L).map(k => (k * 7 % 301, k)).toDF("k", "v")
    Seq(1, 4).foreach { parts =>
      withShufflePartitions(spark, parts) {
        val (ref, refJobs) = jobsOf(zipped(df, "sk", Seq("k")))
        val (got, jobs) = jobsOf(SurrogateKeys.withSk(df, "sk", Seq("k")))
        assert(jobs == refJobs, s"parts=$parts")
        assert(got.collect().toSet == ref.collect().toSet, s"parts=$parts")
      }
    }
  }
}
