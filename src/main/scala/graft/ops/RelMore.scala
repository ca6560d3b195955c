package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-4 continuation batch: higher-order collection functions,
  * generator/ordinality explode, a second SQL-front-door query, the
  * correlated-subquery surface (EXISTS / NOT EXISTS / correlated scalar
  * aggregate — Catalyst's decorrelation rewrites, the declarative twin
  * of the reference's `08_validacionsql.sql:24-31` orphan checks),
  * cohort retention, a relationally-built count-min sketch, CDC
  * changelog apply, and deterministic exactly-k sampling.
  */
object RelMore extends KeyModule {

  /** func-hof-suite — the higher-order array-function surface:
    * transform / filter / exists / forall / aggregate / zip_with /
    * array_sort over an integer array synthesized per lineitem row.
    * All lambdas run inside whole-stage codegen (no UDF); at 100 TB
    * this is scan-speed map-side work, zero shuffle. Arrays are
    * integer-valued (exact in both engines) and serialized with
    * array_join so the compare never sees an engine-specific list
    * repr. DuckDB twin spells exists/forall as bool_or/bool_and over
    * list_transform, zip_with as an index-lambda over range(), and
    * coalesces array_to_string (NULL on empty lists, unlike Spark's
    * array_join which yields '') back to ''. */
  val funcHofSuite: Q = (s, d) =>
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        array(col("l_linenumber").cast(LongType), col("l_partkey") % 7,
          col("l_suppkey") % 5, col("l_quantity").cast(LongType)).as("arr"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        array_join(transform(col("arr"), x => x * 2 + 1), ",").as("doubled"),
        array_join(filter(col("arr"), x => x % 2 === 0), ",").as("evens"),
        exists(col("arr"), x => x > 5).as("has_big"),
        forall(col("arr"), x => x >= 0).as("all_nonneg"),
        aggregate(col("arr"), lit(0L), (a, x) => a + x).as("total"),
        array_join(zip_with(col("arr"), reverse(col("arr")), (a, b) => a * b), ",").as("zipped"),
        array_join(array_sort(col("arr")), ",").as("sorted_arr"))
      .orderBy("l_orderkey", "l_linenumber")

  val funcHofSuiteSql: String =
    """SELECT l_orderkey, l_linenumber,
      |       array_to_string(list_transform(arr, x -> x*2+1), ',') AS doubled,
      |       coalesce(array_to_string(list_filter(arr, x -> x%2=0), ','), '') AS evens,
      |       list_bool_or(list_transform(arr, x -> x>5)) AS has_big,
      |       list_bool_and(list_transform(arr, x -> x>=0)) AS all_nonneg,
      |       CAST(list_aggregate(arr, 'sum') AS BIGINT) AS total,
      |       array_to_string(list_transform(range(1, len(arr)+1),
      |                                      i -> arr[i] * list_reverse(arr)[i]), ',') AS zipped,
      |       array_to_string(list_sort(arr), ',') AS sorted_arr
      |FROM (SELECT l_orderkey, l_linenumber,
      |             [CAST(l_linenumber AS BIGINT), l_partkey%7, l_suppkey%5,
      |              CAST(l_quantity AS BIGINT)] AS arr
      |      FROM lineitem)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** gen-explode-ordinal — posexplode (generator with ordinality) over
    * the first 8 embedding components: one input row fans out to 8
    * (vec_id, i, x) rows with a 1-based position. The generator runs
    * inside the scan stage (no shuffle); DuckDB lacks WITH ORDINALITY,
    * so the twin spells it as a generate_series cross join + subscript
    * (identical semantics for fixed-length slices). Components cast
    * float→double on BOTH sides — the widening is exact, so the
    * stringified compare sees identical binary64. */
  val genExplodeOrdinal: Q = (s, d) =>
    embeddings(s, d)
      .select(col("vec_id"), posexplode(slice(col("embedding"), 1, 8)).as(Seq("pos", "xf")))
      .select(col("vec_id"),
        (col("pos") + 1).cast(IntegerType).as("i"),
        col("xf").cast(DoubleType).as("x"))
      .orderBy("vec_id", "i")

  val genExplodeOrdinalSql: String =
    """SELECT vec_id, CAST(g.i AS INT) AS i,
      |       CAST(embedding[CAST(g.i AS INT)] AS DOUBLE) AS x
      |FROM embeddings CROSS JOIN generate_series(1, 8) g(i)
      |ORDER BY vec_id, i""".stripMargin

  /** sql-tpch-q6 — second SQL-front-door query (with sql-tpch-q1): the
    * forecasting-revenue-change scan — a pure filter+aggregate with NO
    * join or groupBy, the canonical predicate-pushdown probe. One SQL
    * string valid and identical-meaning in both engines. At 100 TB the
    * entire cost is the parquet scan: all four predicates reach
    * PushedFilters, ReadSchema carries 4 of 11 columns, and the
    * aggregation is a single partial/final pair over one double. */
  val sqlTpchQ6: Q = (s, d) => {
    lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(sqlTpchQ6Sql)
  }

  val sqlTpchQ6Sql: String =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |                CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |       count(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  /** join-exists-subquery — the correlated-subquery surface: EXISTS,
    * NOT EXISTS, and a correlated scalar COUNT aggregate, submitted as
    * one shared SQL string. Catalyst decorrelates these into left-semi
    * / left-anti / left-outer joins — the declarative form of the
    * reference's orphan checks (`08_validacionsql.sql:24-31`). The
    * scalar COUNT exercises the count-bug rewrite (empty groups must
    * read 0, not NULL). All three rewritten joins shuffle on
    * o_custkey, so AQE coalesces them into one exchange reuse. */
  val joinExistsSubquery: Q = (s, d) => {
    customer(s, d).createOrReplaceTempView("customer")
    orders(s, d).createOrReplaceTempView("orders")
    s.sql(joinExistsSubquerySql)
  }

  val joinExistsSubquerySql: String =
    """SELECT c.c_custkey, c.c_name,
      |       CAST((SELECT count(*) FROM orders o
      |             WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o2
      |                  WHERE o2.o_custkey = c.c_custkey
      |                    AND o2.o_orderstatus = 'P' AND o2.o_totalprice < 5000)
      |ORDER BY c.c_custkey""".stripMargin

  /** agg-cohort-retention — weekly cohort retention over the event
    * stream: cohort = Monday-truncated week of each user's first
    * event; cell (cohort_week, week_offset) counts distinct users
    * active that many weeks later. Two shuffles (min-per-user, then
    * the cohort-cell distinct count), both on bounded keys: users and
    * cohort×offset cells. All arithmetic is date/integer exact. At
    * 100 TB the first-event table is the thing to persist — computed
    * here inline; incrementally maintained in production. */
  val aggCohortRetention: Q = (s, d) => {
    val ev = events(s, d).select(col("user_id"), to_date(col("ts")).as("day"))
    val first = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    ev.join(first, "user_id")
      .groupBy(
        date_trunc("week", col("cohort_day")).cast(DateType).as("cohort_week"),
        floor(datediff(col("day"), col("cohort_day")) / 7).cast(IntegerType).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  val aggCohortRetentionSql: String =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
      |SELECT CAST(date_trunc('week', f.cohort_day) AS DATE) AS cohort_week,
      |       CAST(floor(date_diff('day', f.cohort_day, ev.day) / 7) AS INT) AS week_offset,
      |       CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users
      |FROM ev JOIN f USING (user_id)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // Count-min sketch geometry: d=3 hash rows × w=64 cells. The row
  // hashes are portable integer arithmetic ((k·a_j + b_j) mod P mod w,
  // P prime) — spellable identically in any SQL engine, unlike
  // Spark's murmur3 `hash()`. user_id ≲ 2^20 and a_j < 2^17, so the
  // products stay far below 2^63 (no overflow under ANSI mode).
  private val CmsP = 1000003L
  private val CmsW = 64L
  private val CmsA = Seq(40087L, 55579L, 70001L)
  private val CmsB = Seq(59L, 151L, 293L)
  private def cmsCell(j: Int): org.apache.spark.sql.Column =
    ((col("user_id") * lit(CmsA(j)) + lit(CmsB(j))) % lit(CmsP)) % lit(CmsW)
  private def cmsCells = explode(array((0 until 3).map(j =>
    struct(lit(j).as("r"), cmsCell(j).cast(LongType).as("c"))): _*)).as("rc")

  /** agg-cms-heavyhitters — a count-min sketch built RELATIONALLY: each
    * event explodes into d=3 (row, cell) coordinates, one partially-
    * aggregated groupBy sums them into the d×w=192-cell table, and a
    * point query is a broadcast join of the candidate's 3 cells with
    * min() on top. Output: the top-10 exact heavy hitters with their
    * CMS estimate and the never-underestimates guarantee. The sketch
    * shuffle is ≤ d·w rows per map partition regardless of input size
    * — THE bounded-state frequency summary at 100 TB, and unlike
    * count_min_sketch()'s opaque binary, this one is a queryable,
    * mergeable (sum cells), persistable table. The oracle rebuilds the
    * identical sketch arithmetic in SQL. */
  val aggCmsHeavyhitters: Q = (s, d) => {
    val ev = events(s, d).select(col("user_id"))
    val sketch = ev.select(cmsCells)
      .select(col("rc.r").as("r"), col("rc.c").as("c"))
      .groupBy("r", "c").agg(count(lit(1)).as("cnt"))
    val top = ev.groupBy("user_id").agg(count(lit(1)).as("exact"))
      .orderBy(desc("exact"), col("user_id")).limit(10)
    top.select(col("user_id"), col("exact"), cmsCells)
      .select(col("user_id"), col("exact"), col("rc.r").as("r"), col("rc.c").as("c"))
      .join(broadcast(sketch), Seq("r", "c"))
      .groupBy("user_id", "exact").agg(min(col("cnt")).as("cms_est"))
      .select(col("user_id"), col("exact"), col("cms_est"),
        (col("cms_est") >= col("exact")).as("never_under"))
      .orderBy(desc("exact"), col("user_id"))
  }

  val aggCmsHeavyhittersSql: String =
    """WITH ev AS (SELECT user_id FROM events),
      |cells AS (
      |  SELECT r, c, count(*) AS cnt FROM (
      |    SELECT 0 AS r, ((user_id*40087+59) % 1000003) % 64 AS c FROM ev
      |    UNION ALL SELECT 1, ((user_id*55579+151) % 1000003) % 64 FROM ev
      |    UNION ALL SELECT 2, ((user_id*70001+293) % 1000003) % 64 FROM ev)
      |  GROUP BY r, c),
      |top AS (SELECT user_id, count(*) AS exact FROM ev
      |        GROUP BY user_id ORDER BY exact DESC, user_id LIMIT 10),
      |cand AS (
      |  SELECT user_id, exact, 0 AS r, ((user_id*40087+59) % 1000003) % 64 AS c FROM top
      |  UNION ALL SELECT user_id, exact, 1, ((user_id*55579+151) % 1000003) % 64 FROM top
      |  UNION ALL SELECT user_id, exact, 2, ((user_id*70001+293) % 1000003) % 64 FROM top)
      |SELECT t.user_id, t.exact, CAST(min(s.cnt) AS BIGINT) AS cms_est,
      |       min(s.cnt) >= t.exact AS never_under
      |FROM cand t JOIN cells s ON t.r = s.r AND t.c = s.c
      |GROUP BY t.user_id, t.exact
      |ORDER BY t.exact DESC, t.user_id""".stripMargin

  /** sink-cdc-apply — apply an insert/update/delete changelog to a
    * keyed snapshot: latest-seq-wins per key (one row_number window on
    * the key), deletes drop the key, result persisted and read back.
    * This is the general CDC companion to sink-scd2 (history-keeping)
    * and sink-incremental-merge (upsert-only): the same pattern
    * Debezium→lakehouse pipelines run. The changelog is synthesized
    * deterministically from orders (every key inserted, every 10th
    * updated, every 100th deleted) so the oracle can rebuild it. At
    * scale the window shuffles on key — the same partitioning the
    * target table is bucketed by, so the apply co-locates with the
    * read side. */
  val sinkCdcApply: Q = (s, d) => {
    val o = orders(s, d)
    val base = o.select(col("o_orderkey").as("key"), lit("I").as("op"),
      lit(1L).as("seq"), dec2(col("o_totalprice")).as("price"))
    val upd = o.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").as("key"), lit("U").as("op"),
        lit(2L).as("seq"), dec2(col("o_totalprice") + 10).as("price"))
    val del = o.filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey").as("key"), lit("D").as("op"),
        lit(3L).as("seq"), lit(null).cast(DecimalType(18, 2)).as("price"))
    val w = Window.partitionBy(col("key")).orderBy(desc("seq"))
    val snapshot = base.unionAll(upd).unionAll(del)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("key"), outNum(col("price")).as("price"))
    val out = tmp("sink-cdc-apply", d)
    snapshot.write.mode(SaveMode.Overwrite).parquet(out)
    s.read.parquet(out).orderBy("key")
  }

  val sinkCdcApplySql: String =
    """WITH log AS (
      |  SELECT o_orderkey AS key, 'I' AS op, 1 AS seq,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 'U', 2, CAST(o_totalprice + 10 AS DECIMAL(18,2))
      |  FROM orders WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'D', 3, NULL
      |  FROM orders WHERE o_orderkey % 100 = 0),
      |latest AS (
      |  SELECT key, op, price,
      |         row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
      |  FROM log)
      |SELECT key, CAST(price AS DOUBLE) AS price
      |FROM latest WHERE rn = 1 AND op <> 'D'
      |ORDER BY key""".stripMargin

  /** sample-uniform-k — exactly-k uniform sample, deterministically:
    * rank every row by a portable integer hash of its key and keep the
    * k smallest. Spark plans this as TakeOrderedAndProject — a per-
    * partition bounded heap + driver merge of k·partitions rows, NO
    * global sort — so it scales to any input size (contrast
    * TABLESAMPLE / rand(): not reproducible across engines, and
    * Bernoulli sampling never gives exactly k). The hash makes the
    * sample stable under re-runs, insertion order, and partitioning —
    * the property a training-data subsample audit needs. */
  val sampleUniformK: Q = (s, d) =>
    orders(s, d)
      .select(col("o_orderkey"),
        ((col("o_orderkey") * lit(2654435761L)) % lit(1000000007L)).as("h"))
      .orderBy(col("h"), col("o_orderkey"))
      .limit(100)

  val sampleUniformKSql: String =
    """SELECT o_orderkey, (o_orderkey * 2654435761) % 1000000007 AS h
      |FROM orders
      |ORDER BY h, o_orderkey
      |LIMIT 100""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("func-hof-suite", funcHofSuite, funcHofSuiteSql),
    Key("gen-explode-ordinal", genExplodeOrdinal, genExplodeOrdinalSql),
    Key("sql-tpch-q6", sqlTpchQ6, sqlTpchQ6Sql),
    Key("join-exists-subquery", joinExistsSubquery, joinExistsSubquerySql),
    Key("agg-cohort-retention", aggCohortRetention, aggCohortRetentionSql),
    Key("agg-cms-heavyhitters", aggCmsHeavyhitters, aggCmsHeavyhittersSql),
    Key("sink-cdc-apply", sinkCdcApply, sinkCdcApplySql),
    Key("sample-uniform-k", sampleUniformK, sampleUniformKSql))
}
