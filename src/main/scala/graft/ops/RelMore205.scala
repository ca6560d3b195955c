package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Driver-round-9 batch A: the measured-AQE family — the three
  * adaptive-execution rescues a 100 TB plan actually leans on (skew
  * split, runtime broadcast demotion, post-shuffle coalesce), each
  * graded on a result-invariance oracle (AQE must never change the
  * answer) and each with its physical-plan evidence asserted by
  * AqeOpsSpec on the EXECUTED adaptive plan — measured, not assumed.
  *
  * The ops scope their confs via [[Tables.withConfs]] and materialize
  * inside the scope (localCheckpoint — the results are report-sized),
  * because adaptive confs are read at execution time, not at plan
  * construction. Thresholds are scaled DOWN to make the runtime
  * behavior fire at test SF; at 100 TB the defaults fire on the same
  * shapes unaided — the point of the small thresholds is that the
  * graded artifact exercises the real code path, not a simulation. */
object RelMore205 extends KeyModule {

  /** join-aqe-skew-rescue — the adaptive answer to the power-law join
    * key. `join-salted-skew` (RelScale) is the DETERMINISTIC fix:
    * explicit salt, dim replicated ×8, planner-proof. This op is the
    * ADAPTIVE fix for the same shape, turned up to an 80%-hot key (the
    * crawl-frontier / null-bucket degenerate case): no salt, plain shuffle join, and AQE's
    * OptimizeSkewedJoin splits the hot partition into advisory-sized
    * chunks at runtime, replicating the matching dim rows per chunk.
    * Broadcast is disabled both statically and adaptively so the join
    * MUST run as a shuffle join — at 100 TB the dim side is a
    * customer-cardinality table that was never broadcastable anyway.
    * Thresholds (factor 2, 16KB) are scaled to fixture bytes; the
    * production defaults (factor 5, 256MB) catch the same 80%-hot
    * partition at real scale. Oracle = the plain unsalted join: the
    * skew split must be result-invariant. AqeOpsSpec asserts the
    * executed plan actually contains the skew-split markers. */
  /** Confs and frame shared verbatim with AqeOpsSpec's plan-evidence
    * test — factored so the graded op and its "the skew split actually
    * fired" measurement cannot drift apart (r9 ADVICE). Same pattern
    * for the other conf/frame pairs below. */
  val skewRescueConfs: Seq[(String, String)] = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
    "spark.sql.files.maxPartitionBytes" -> "64KB",
    "spark.sql.files.openCostInBytes" -> "1KB")

  def skewRescueFrame(s: SparkSession, d: String): DataFrame = {
    // skew split granularity is MAP OUTPUTS: a PartialReducerPartitionSpec
    // is a (reducer, mapIndex-range) slice, so a hot reduce partition fed
    // by a single mapper can never be split, no matter how skewed. The
    // fixture parquet is one row group = one mapper; the (k, value) hash
    // repartition stands in for the many-mapper scan a 100 TB fact table
    // is naturally (where this pre-shuffle does not exist). The shuffle
    // must also carry the incompressible `value` payload, or the constant
    // hot key compresses below the byte thresholds the detector reads.
    val fact = events(s, d).select(
      when(col("user_id") % 10 < 8, 1L).otherwise(col("user_id")).as("k"),
      col("value"))
      .repartition(16, col("k"), col("value"))
    val dim = customer(s, d)
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("segment"))
    fact.join(dim, Seq("k"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_events"),
        outNum(sum(dec2(col("value")))).as("total_value"))
      .orderBy("segment")
  }

  val joinAqeSkewRescue: Q = (s, d) => withConfs(s, skewRescueConfs: _*) {
    skewRescueFrame(s, d).localCheckpoint()
  }

  val joinAqeSkewRescueSql: String =
    """SELECT c_mktsegment AS segment, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM (SELECT CASE WHEN user_id % 10 < 8 THEN 1 ELSE user_id END AS k,
      |             value
      |      FROM events) e
      |JOIN customer ON k = c_custkey
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** join-aqe-runtime-broadcast — the stats-opaque selective dim. A
    * hash-derived predicate keeps ~1/16 of customers; the STATIC
    * planner cannot see that selectivity (no column stats survive an
    * md5), so with static broadcast disabled it plans a shuffle join —
    * the plan you'd get at 100 TB where the unfiltered dim is far over
    * any broadcast threshold. At runtime the filtered build side
    * materializes at a few KB and AQE's adaptive broadcast threshold
    * demotes the exchange to a broadcast — the fact side's shuffle is
    * ELIDED, which at 1000 executors is the difference between moving
    * 100 TB and moving nothing. Oracle = the same join in DuckDB
    * (md5 agrees across engines). AqeOpsSpec asserts the executed
    * adaptive plan ends in BroadcastHashJoin. */
  val runtimeBroadcastConfs: Seq[(String, String)] = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10MB")

  def runtimeBroadcastFrame(s: SparkSession, d: String): DataFrame = {
    val dim = customer(s, d)
      .filter(substring(md5(col("c_custkey").cast(StringType)), 1, 1) === "a")
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("segment"))
    val fact = orders(s, d).select(col("o_custkey").as("k"),
      col("o_totalprice"))
    fact.join(dim, Seq("k"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_orders"),
        outNum(sum(dec2(col("o_totalprice")))).as("revenue"))
      .orderBy("segment")
  }

  val joinAqeRuntimeBroadcast: Q = (s, d) =>
    withConfs(s, runtimeBroadcastConfs: _*) {
      runtimeBroadcastFrame(s, d).localCheckpoint()
    }

  val joinAqeRuntimeBroadcastSql: String =
    """SELECT c_mktsegment AS segment, count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN (SELECT c_custkey, c_mktsegment FROM customer
      |      WHERE substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1) = 'a') c
      |  ON o_custkey = c_custkey
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** agg-aqe-coalesce-partitions — the other half of shuffle-partition
    * sizing. The engine pins spark.sql.shuffle.partitions=32 and
    * scopes it down for small frames (withShufflePartitions); AQE's
    * coalescePartitions is the runtime version — post-shuffle
    * partitions merge up to the advisory size, so a reduce stage never
    * schedules 32 near-empty tasks (at 100 TB: never 10,000 of them —
    * task-launch overhead is the tax, and stragglers under-pack).
    * This op forces the wide setting (32) on a grouping whose output
    * is 6 rows and lets AQE collapse the reduce side; the oracle
    * proves invariance, AqeOpsSpec asserts the executed plan's
    * AQEShuffleRead is coalesced. countDistinct rides the same
    * shuffle (expand + two-phase agg), so the coalesce covers a
    * multi-stage reduce, not a trivial one. */
  val coalescePartitionsConfs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB")

  def coalescePartitionsFrame(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        outNum(sum(dec2(col("value")))).as("total_value"))
      .orderBy("event_type")

  val aggAqeCoalescePartitions: Q = (s, d) =>
    withConfs(s, coalescePartitionsConfs: _*) {
      coalescePartitionsFrame(s, d).localCheckpoint()
    }

  val aggAqeCoalescePartitionsSql: String =
    """SELECT event_type, count(*) AS n_events,
      |       count(DISTINCT user_id) AS n_users,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** sink-rebalance-write — skew-aware write rebalancing, the fourth
    * adaptive behavior (OptimizeSkewInRebalancePartitions). A
    * partitioned write whose partition column is 80%-hot would give
    * the hot directory to ONE writer task — the classic straggler
    * that turns a 1000-executor write into a single-task wait, plus
    * one giant file that defeats downstream split planning. The
    * REBALANCE hint inserts a rebalance shuffle that AQE both
    * coalesces (small partitions up to advisory) and SPLITS (skewed
    * partitions down to advisory), so the hot directory is written by
    * many tasks as many advisory-sized files. The graded output is
    * the read-back per-partition rollup (rebalancing must be
    * result-invariant); AqeOpsSpec asserts the hot directory really
    * got multiple files and the written rows survive byte-exact. */
  val sinkRebalanceWrite: Q = (s, d) => withConfs(s,
    "spark.sql.adaptive.optimizeSkewsInRebalancePartitions.enabled" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
    "spark.sql.files.maxPartitionBytes" -> "64KB",
    "spark.sql.files.openCostInBytes" -> "1KB") {
    val out = tmp("rebalance-write", d)
    events(s, d).select(
      when(col("user_id") % 10 < 8, lit("hot")).otherwise(lit("cold"))
        .as("bucket"),
      col("event_id"), col("value"))
      // same map-output-granularity reality as join-aqe-skew-rescue: the
      // rebalance skew split slices (reducer, mapIndex-range), so the
      // single-row-group fixture file (one mapper) must be fanned out
      // first — a 100 TB scan arrives many-mapper on its own
      .repartition(16, col("event_id"))
      // localCheckpoint barrier: without it the optimizer collapses the
      // adjacent exchanges (repartition ⊂ rebalance) back to a
      // single-mapper stage and the skew split has nothing to slice
      .localCheckpoint()
      .hint("rebalance", col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(out)
    s.read.parquet(out)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_events"),
        outNum(sum(dec2(col("value")))).as("total_value"),
        sum(col("event_id")).as("id_checksum"))
      .orderBy("bucket")
      .localCheckpoint()
  }

  val sinkRebalanceWriteSql: String =
    """SELECT CASE WHEN user_id % 10 < 8 THEN 'hot' ELSE 'cold' END AS bucket,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |       CAST(sum(event_id) AS BIGINT) AS id_checksum
      |FROM events
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** join-runtime-bloom-filter — the planner-INJECTED sibling of the
    * manual `join-bloom-prefilter` (RelWarehouse). InjectRuntimeFilter
    * sees a shuffle join whose creation side is small and selective
    * (urgent orders) and whose application side is a big scan, and
    * plants `might_contain(scalar-subquery(bloom_filter_agg(keys)),
    * l_orderkey)` on the fact side BEFORE its shuffle — the same
    * ~(1-selectivity) shuffle deletion the manual op builds by hand,
    * but triggered by the optimizer, which is how a 100 TB warehouse
    * gets it on every eligible star join without anyone writing it.
    * Broadcast is disabled (both thresholds) because the rule only
    * fires for shuffle joins — exactly the 100 TB posture where the
    * dim is too big to broadcast but its filtered keys fit a bloom.
    * Application-side threshold is scaled to fixture bytes. Oracle =
    * the plain join (false positives are removed by the join, so the
    * filter must be result-invariant). AqeOpsSpec asserts the
    * executed plan contains the injected bloom probe. */
  val runtimeBloomConfs: Seq[(String, String)] = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB")

  def runtimeBloomFrame(s: SparkSession, d: String): DataFrame = {
    val dim = orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_items"),
        outNum(sum(dec2(col("l_extendedprice")))).as("revenue"))
      .orderBy("yr")
  }

  val joinRuntimeBloomFilter: Q = (s, d) => withConfs(s, runtimeBloomConfs: _*) {
    runtimeBloomFrame(s, d).localCheckpoint()
  }

  val joinRuntimeBloomFilterSql: String =
    """SELECT year(CAST(o_orderdate AS DATE)) AS yr, count(*) AS n_items,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN (SELECT o_orderkey, o_orderdate FROM orders
      |      WHERE o_orderpriority = '1-URGENT') o
      |  ON l_orderkey = o_orderkey
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("join-runtime-bloom-filter", joinRuntimeBloomFilter, joinRuntimeBloomFilterSql),
    Key("join-aqe-skew-rescue", joinAqeSkewRescue, joinAqeSkewRescueSql),
    Key("join-aqe-runtime-broadcast", joinAqeRuntimeBroadcast, joinAqeRuntimeBroadcastSql),
    Key("agg-aqe-coalesce-partitions", aggAqeCoalescePartitions, aggAqeCoalescePartitionsSql),
    Key("sink-rebalance-write", sinkRebalanceWrite, sinkRebalanceWriteSql))
}
