package graft.ops

import graft.olist.SparkTestBase
import org.apache.spark.sql.functions._

/** Round-12 batch B invariants. */
class Round12bOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("agg-ddsketch-quantile: measured error within the constructive bound at every q") {
    val rows = run("agg-ddsketch-quantile").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val err = r.getAs[Long]("rel_err_pm")
      val bound = r.getAs[Long]("bound_pm")
      assert(err <= bound, s"relative error $err pm exceeds the bucket bound $bound pm: $r")
      // base 2^(1/16): full bucket width is 1/16 of the lower edge, so
      // the half-width bound is <= 500/16 ~ 31 pm for every log bucket
      assert(bound <= 32L, r)
    }
  }

  test("agg-ddsketch-quantile: shard partials merge to the direct global sketch") {
    // mergeability is the op's 100 TB claim: bucket counts built per
    // shard and summed must equal bucketing the whole fact directly
    val cents = Tables.orders(spark, sf).select(
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"),
      col("o_orderstatus").as("shard"))
    val idx = "CASE WHEN c < 16 THEN c ELSE " +
      "16 * (length(conv(CAST(c AS STRING), 10, 2)) - 1) + " +
      "(c div shiftleft(1L, length(conv(CAST(c AS STRING), 10, 2)) - 5) - 16) END"
    val merged = cents.withColumn("idx", expr(idx))
      .groupBy("shard", "idx").agg(count(lit(1)).as("cnt"))
      .groupBy("idx").agg(sum("cnt").as("cnt"))
    val direct = cents.withColumn("idx", expr(idx))
      .groupBy("idx").agg(count(lit(1)).as("cnt"))
    assert(merged.except(direct).isEmpty && direct.except(merged).isEmpty)
  }

  test("graph-cc-pointer-doubling: matches a driver-side union-find ground truth") {
    val li = Tables.lineitem(spark, sf).filter(col("l_orderkey") % 23 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    // independent ground truth: union-find over the same co-order pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    li.groupBy(_._1).values.foreach { grp =>
      val ps = grp.map(_._2)
      ps.tail.foreach(union(ps.head, _))
    }
    val truth = li.map(_._2).distinct.groupBy(find)
      .map { case (root, members) => (members.min, members.size.toLong) }
    val expected = truth.toSeq.sortBy(t => (-t._2, t._1)).take(20).toSet
    val got = run("graph-cc-pointer-doubling").collect()
      .map(r => (r.getAs[Long]("component"), r.getAs[Long]("n_nodes"))).toSet
    assert(got == expected, s"got $got\nexpected $expected")
  }
}
