package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Scale-path operators: additional source/sink formats and the physical
  * techniques a 100 TB deployment leans on — partition pruning, bucketed
  * (shuffle-free) joins, and skew salting. Each is graded like every
  * other operator: the oracle checks the *logical* result; the physical
  * win (pruned files, absent exchanges) is verified via ExplainAudit.
  */
object RelScale extends KeyModule {

  /** src-json-lines — JSON-lines source with explicit schema (never
    * inferred, same bronze discipline as CSV): write→read round trip
    * must restore the table. */
  val srcJsonLines: Q = (s, d) => {
    val out = tmp("src-json-lines", d)
    documents(s, d).write.mode(SaveMode.Overwrite).json(out)
    val schema = new StructType()
      .add("doc_id", LongType).add("text", StringType).add("lang", StringType)
      .add("source", StringType).add("n_chars", LongType)
    s.read.schema(schema).json(out)
      .select("doc_id", "text", "lang", "n_chars")
      .orderBy("doc_id")
  }

  val srcJsonLinesSql: String =
    """SELECT doc_id, text, lang, n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** src-orc-roundtrip — ORC source/sink (the second columnar format a
    * complete engine ships): round trip restores nation exactly. */
  val srcOrcRoundtrip: Q = (s, d) => {
    val out = tmp("src-orc-roundtrip", d)
    nation(s, d).write.mode(SaveMode.Overwrite).orc(out)
    s.read.orc(out).orderBy("n_nationkey")
  }

  val srcOrcRoundtripSql: String =
    """SELECT n_nationkey, n_name, n_regionkey
      |FROM nation
      |ORDER BY n_nationkey""".stripMargin

  /** src-xml-roundtrip — Spark 4's built-in XML source (rowTag-framed
    * records): write→read with an EXPLICIT schema (inference would scan
    * the data twice and is banned by the same bronze discipline as
    * CSV/JSON) restores nation exactly. XML is the interchange format
    * legacy feeds still speak; a complete engine reads it natively
    * rather than through a preprocessing hop. */
  val srcXmlRoundtrip: Q = (s, d) => {
    val out = tmp("src-xml-roundtrip", d)
    nation(s, d).write.mode(SaveMode.Overwrite)
      .option("rowTag", "nation").format("xml").save(out)
    val schema = new StructType()
      .add("n_nationkey", LongType).add("n_name", StringType)
      .add("n_regionkey", LongType)
    s.read.schema(schema).option("rowTag", "nation").format("xml").load(out)
      .orderBy("n_nationkey")
  }

  val srcXmlRoundtripSql: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
      |       CAST(n_regionkey AS BIGINT) AS n_regionkey
      |FROM nation
      |ORDER BY n_nationkey""".stripMargin

  /** src-mergeschema — parquet schema evolution: an old shard written
    * before a column existed and a new shard carrying it are read as ONE
    * dataset with mergeSchema=true; the engine unions the footers and
    * null-fills the missing column. This is how a 100 TB lake absorbs
    * additive schema changes without rewriting history — the
    * alternative (migrate every old file) is a full-corpus write.
    * Footer merging is a driver-side metadata operation; the data scan
    * itself stays columnar and pruned. */
  val srcMergeSchema: Q = (s, d) => {
    val out = tmp("src-mergeschema", d)
    val nat = nation(s, d).select(col("n_nationkey").cast(LongType).as("n_nationkey"),
      col("n_name"), col("n_regionkey").cast(LongType).as("n_regionkey"))
    nat.filter(col("n_nationkey") < 12).select("n_nationkey", "n_name")
      .write.mode(SaveMode.Overwrite).parquet(s"$out/v1")
    nat.filter(col("n_nationkey") >= 12)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/v2")
    s.read.option("mergeSchema", "true").parquet(s"$out/v1", s"$out/v2")
      .orderBy("n_nationkey")
  }

  val srcMergeSchemaSql: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
      |       CAST(NULL AS BIGINT) AS n_regionkey
      |FROM nation WHERE n_nationkey < 12
      |UNION ALL
      |SELECT CAST(n_nationkey AS BIGINT), n_name, CAST(n_regionkey AS BIGINT)
      |FROM nation WHERE n_nationkey >= 12
      |ORDER BY n_nationkey""".stripMargin

  /** sql-tpch-q1 — the SQL front door: TPC-H Q1 submitted as ONE SQL
    * string that is valid, and means the same thing, in both engines —
    * spark.sql() here, DuckDB verbatim as its own oracle. Proves the
    * library's surface isn't DataFrame-only: a reference user's SQL
    * runs unmodified. Decimal-sum/double-divide replaces avg() so the
    * aggregation stays order-independent (see Tables' conventions). */
  val sqlTpchQ1: Q = (s, d) => {
    lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(sqlTpchQ1Sql)
  }

  val sqlTpchQ1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
      |       CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_disc,
      |       count(*) AS count_order
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** sink-partitioned-prune — hive-style partitioned parquet layout +
    * partition-pruned read: the filter on the partition column must
    * eliminate whole directories (PartitionFilters in the plan), which
    * at 100 TB is the difference between scanning one status and all of
    * them. */
  val sinkPartitionedPrune: Q = (s, d) => {
    val out = tmp("sink-partitioned-prune", d)
    // repartition on the partition column first: without it every write
    // task emits a file into every partition dir (tasks × partitions
    // small files — the classic partitioned-write mistake at scale)
    orders(s, d).repartition(col("o_orderstatus"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("o_orderstatus").parquet(out)
    s.read.parquet(out)
      .filter(col("o_orderstatus") === "F")
      .agg(count(lit(1)).as("n_orders"),
        outNum(sum(dec2(col("o_totalprice")))).as("total_price"))
  }

  val sinkPartitionedPruneSql: String =
    """SELECT count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |WHERE o_orderstatus = 'F'""".stripMargin

  /** sink-bucketed-join — bucketed tables co-partitioned on the join
    * key: both sides pre-hashed into 8 buckets with in-bucket sort, so
    * the join needs NO shuffle exchange (the dominant cost of repeated
    * fact-to-fact joins at scale — bucket once, join forever). */
  val sinkBucketedJoin: Q = (s, d) => {
    // bucketing machinery lives in BucketedStore (factored out in r12,
    // shared with agg-mv-delta-refresh's stored MV)
    val o = BucketedStore.sharedOrders(s, d)
    val l = BucketedStore.sharedLineitem(s, d)
    // force sort-merge (hint) so the plan shows the point of bucketing:
    // both sides arrive pre-partitioned and pre-sorted on the key — no
    // Exchange, no Sort before the join. (At testdata scale Catalyst
    // would otherwise auto-broadcast the small side.)
    l.hint("merge").join(o, l("l_orderkey") === o("o_orderkey"), "inner")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_items"),
        outNum(sum(dec2(col("l_extendedprice")))).as("revenue"))
      .orderBy("o_orderstatus")
  }

  val sinkBucketedJoinSql: String =
    """SELECT o_orderstatus, count(*) AS n_items,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** agg-salted-skew — skew-safe two-phase aggregation: pre-aggregate on
    * (key, salt) so one hot key spreads over 8 reducers, then merge the
    * partials. Decimal partial sums are exact and order-independent, so
    * the result is identical to the direct groupBy — which is exactly
    * what the oracle checks. */
  val aggSaltedSkew: Q = (s, d) => {
    val salted = events(s, d)
      .withColumn("salt", pmod(col("event_id"), lit(8)))
      .groupBy("user_id", "salt")
      .agg(sum(dec2(col("value"))).as("partial_value"),
        count(lit(1)).as("partial_n"))
    salted.groupBy("user_id")
      .agg(outNum(sum(col("partial_value"))).as("total_value"),
        sum(col("partial_n")).as("n_events"))
      .orderBy("user_id")
  }

  val aggSaltedSkewSql: String =
    """SELECT user_id,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |       count(*) AS n_events
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** sink-compaction — the small-file compaction job every 100 TB lake
    * runs nightly: a fragmented table (64 tiny files here — the output
    * of over-parallel writers or streaming micro-batches) is rewritten
    * into target-sized files (coalesce(2); in production the target is
    * total_bytes / 128 MB). Small files kill scan throughput (one task
    * + one footer fetch per file) and NameNode/listing metadata; the
    * compacted table must be logically identical, which is exactly what
    * the oracle checks. coalesce (not repartition) avoids a shuffle —
    * compaction is pure I/O. */
  val sinkCompaction: Q = (s, d) => {
    val fragmented = tmp("sink-compaction-small", d)
    val compacted = tmp("sink-compaction-out", d)
    events(s, d).select(col("event_id"), col("event_type"), col("value"))
      .repartition(64)
      .write.mode(SaveMode.Overwrite).parquet(fragmented)
    s.read.parquet(fragmented).coalesce(2)
      .write.mode(SaveMode.Overwrite).parquet(compacted)
    s.read.parquet(compacted)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        outNum(sum(dec2(col("value")))).as("total_value"))
      .orderBy("event_type")
  }

  val sinkCompactionSql: String =
    """SELECT event_type, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** join-salted-skew — skew-safe fact-to-dim join: a synthetic hot key
    * (a third of all events collapse onto user 0 — the power-law key a
    * real event stream always has) would put one reducer's partition at
    * 30% of the fact table in a plain shuffle join. Salting splits it:
    * the fact side gets salt = event_id % 8 and the dim side is
    * replicated ×8 (explode over the salt range), so the join key
    * (k, salt) spreads the hot key over 8 reducers. The oracle is the
    * plain unsalted join — salting must be result-invariant. At
    * testdata scale Catalyst may still broadcast the small dim (fine:
    * salting is then a no-op physically); at 100 TB with a
    * non-broadcastable dim this exact shape is what keeps the join's
    * task-time distribution flat. AQE's skewJoin handles the same case
    * adaptively; the explicit salt is the deterministic, planner-proof
    * form. */
  val joinSaltedSkew: Q = (s, d) => {
    val salt = 8
    val fact = events(s, d).select(
      when(col("user_id") % 10 < 3, 0L).otherwise(col("user_id")).as("k"),
      col("event_id"), col("value"))
      .withColumn("salt", pmod(col("event_id"), lit(salt)).cast(IntegerType))
    val dim = customer(s, d)
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("segment"))
      .withColumn("salt", explode(expr(s"sequence(0, ${salt - 1})")))
      .withColumn("salt", col("salt").cast(IntegerType))
    fact.join(dim, Seq("k", "salt"), "inner")
      .groupBy("segment")
      .agg(count(lit(1)).as("n_events"),
        outNum(sum(dec2(col("value")))).as("total_value"))
      .orderBy("segment")
  }

  val joinSaltedSkewSql: String =
    """SELECT c_mktsegment AS segment, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM (SELECT CASE WHEN user_id % 10 < 3 THEN 0 ELSE user_id END AS k, value
      |      FROM events) e
      |JOIN customer ON k = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY segment""".stripMargin

  /** expr-json-extract — semi-structured column access: pull a typed
    * field out of the events.props JSON string (the one semi-structured
    * column in the testdata). */
  val exprJsonExtract: Q = (s, d) =>
    events(s, d).select(
      col("event_id"),
      expr("try_cast(get_json_object(props, '$.k') AS INT)").as("prop_k"))
      .orderBy("event_id")

  val exprJsonExtractSql: String =
    """SELECT event_id,
      |       TRY_CAST(json_extract_string(props, '$.k') AS INT) AS prop_k
      |FROM events
      |ORDER BY event_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("src-json-lines", srcJsonLines, srcJsonLinesSql),
    Key("src-orc-roundtrip", srcOrcRoundtrip, srcOrcRoundtripSql),
    Key("src-xml-roundtrip", srcXmlRoundtrip, srcXmlRoundtripSql),
    Key("src-mergeschema", srcMergeSchema, srcMergeSchemaSql),
    Key("sql-tpch-q1", sqlTpchQ1, sqlTpchQ1Sql),
    Key("sink-partitioned-prune", sinkPartitionedPrune, sinkPartitionedPruneSql),
    Key("sink-bucketed-join", sinkBucketedJoin, sinkBucketedJoinSql),
    Key("agg-salted-skew", aggSaltedSkew, aggSaltedSkewSql),
    Key("join-salted-skew", joinSaltedSkew, joinSaltedSkewSql),
    Key("sink-compaction", sinkCompaction, sinkCompactionSql),
    Key("expr-json-extract", exprJsonExtract, exprJsonExtractSql))
}
