package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch D: TPC-H Q3 through the SQL front door,
  * null-safe join semantics, ANSI-safe try_* arithmetic, exact
  * single-pass higher moments (skewness/kurtosis from raw power sums),
  * and the unpivot/melt reshape.
  */
object RelMore4 extends KeyModule {

  /** sql-tpch-q3 — third SQL-front-door query (with q1, q6): the
    * shipping-priority 3-table join + group + top-10, one SQL string
    * valid in both engines. The planner's job here is join order +
    * broadcast choice: customer (filtered on segment) broadcasts into
    * orders, the result shuffles once on orderkey against lineitem,
    * and the top-10 is a TakeOrdered, not a global sort. */
  val sqlTpchQ3: Q = (s, d) => {
    customer(s, d).createOrReplaceTempView("customer")
    orders(s, d).createOrReplaceTempView("orders")
    lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(sqlTpchQ3Sql)
  }

  val sqlTpchQ3Sql: String =
    """SELECT l.l_orderkey,
      |       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |       CAST(o.o_orderdate AS DATE) AS orderdate,
      |       o.o_orderpriority
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
      |GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
      |ORDER BY revenue DESC, l.l_orderkey
      |LIMIT 10""".stripMargin

  /** join-null-safe — null-safe equality (Spark `<=>` ⇔ SQL IS NOT
    * DISTINCT FROM): NULL keys match each other instead of vanishing,
    * the semantics a dimension with an "unknown" bucket needs. Planner
    * note for scale: Spark hashes null-safe keys like ordinary keys
    * (NULL gets a hash bucket), so this stays a hash join — but ALL
    * null-keyed rows land in one partition; a production table with a
    * large NULL fraction wants the unknown bucket pre-split (salting),
    * exactly like any other skewed key. */
  val joinNullSafe: Q = (s, d) => {
    val dim = customer(s, d)
      .select(nullif(col("c_custkey") % 7, lit(3L)).as("key_a")).distinct()
    val fact = orders(s, d)
      .select(nullif(col("o_custkey") % 7, lit(3L)).as("key_b"), col("o_totalprice"))
    dim.join(fact, col("key_a") <=> col("key_b"))
      .groupBy(coalesce(col("key_a"), lit(-1L)).as("key"))
      .agg(count(lit(1)).as("n_orders"),
        outNum(sum(dec2(col("o_totalprice")))).as("total_price"))
      .orderBy("key")
  }

  val joinNullSafeSql: String =
    """WITH dim AS (
      |  SELECT DISTINCT nullif(c_custkey % 7, 3) AS key_a FROM customer),
      |fact AS (
      |  SELECT nullif(o_custkey % 7, 3) AS key_b, o_totalprice FROM orders)
      |SELECT coalesce(key_a, -1) AS key,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM dim JOIN fact ON key_a IS NOT DISTINCT FROM key_b
      |GROUP BY coalesce(key_a, -1)
      |ORDER BY key""".stripMargin

  /** expr-try-arith — ANSI-mode-safe arithmetic: try_add / try_multiply
    * return NULL on bigint overflow, try_divide on a zero divisor,
    * try_to_number on a parse failure — instead of the runtime error
    * ANSI mode (Spark 4's default) raises. On a 100 TB pipeline this is
    * the difference between one poison row killing a stage and a NULL
    * you can quarantine. DuckDB has no try_* arithmetic, so the twins
    * spell the identical guard conditions explicitly; every output is
    * coalesced to a sentinel so the compare never sees engine null
    * repr. */
  val exprTryArith: Q = (s, d) =>
    orders(s, d).select(
      col("o_orderkey"),
      coalesce(try_divide(col("o_totalprice"), (col("o_custkey") % 3).cast(DoubleType)),
        lit(-1.0)).as("safe_div"),
      coalesce(try_add(lit(Long.MaxValue), col("o_orderkey")), lit(-1L)).as("safe_add"),
      coalesce(try_multiply(col("o_orderkey"), lit(Long.MaxValue)), lit(-1L)).as("safe_mul"),
      coalesce(try_to_number(substring(col("o_orderpriority"), 1, 1), lit("9")),
        lit(-1).cast(DecimalType(1, 0))).cast(IntegerType).as("prio_num"),
      coalesce(try_to_number(col("o_orderstatus"), lit("9")),
        lit(-1).cast(DecimalType(1, 0))).cast(IntegerType).as("status_num"))
      .orderBy("o_orderkey")

  val exprTryArithSql: String =
    """SELECT o_orderkey,
      |       CASE WHEN o_custkey % 3 = 0 THEN -1.0
      |            ELSE o_totalprice / CAST(o_custkey % 3 AS DOUBLE) END AS safe_div,
      |       CASE WHEN o_orderkey > 0 THEN -1
      |            ELSE 9223372036854775807 + o_orderkey END AS safe_add,
      |       CASE WHEN o_orderkey > 1 THEN -1
      |            ELSE o_orderkey * 9223372036854775807 END AS safe_mul,
      |       coalesce(TRY_CAST(substring(o_orderpriority, 1, 1) AS INT), -1) AS prio_num,
      |       coalesce(TRY_CAST(o_orderstatus AS INT), -1) AS status_num
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** agg-moments-suite — population variance, skewness, and excess
    * kurtosis per return flag, computed from raw power sums S₁..S₄ in
    * ONE map-side-combined aggregate. Spark's skewness()/kurtosis()
    * and DuckDB's use different bias corrections — raw moments are the
    * engine-neutral (and the distributive, mergeable-at-scale) form:
    * shuffle is |groups| rows of 5 longs, and partial sums combine
    * exactly. l_quantity is integral (1..50), so all power sums are
    * exact longs (S₄ ≤ 6.25e6·rows ≪ 2^63 up to ~10¹² rows — past
    * that the same plan runs the sums in DECIMAL); the closed-form
    * central-moment arithmetic is then identical IEEE ops on identical
    * integers, floored at 1e-6. */
  val aggMomentsSuite: Q = (s, d) =>
    lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity").cast(LongType).as("x"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"),
        sum(col("x") * col("x") * col("x")).as("s3"),
        sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
      .select(col("l_returnflag"), col("n"), col("s1"),
        expr("CAST(s2 AS DOUBLE)/n - pow(CAST(s1 AS DOUBLE)/n, 2)").as("m2"),
        expr("CAST(s3 AS DOUBLE)/n - 3*(CAST(s1 AS DOUBLE)/n)*(CAST(s2 AS DOUBLE)/n) + 2*pow(CAST(s1 AS DOUBLE)/n, 3)").as("m3"),
        expr("CAST(s4 AS DOUBLE)/n - 4*(CAST(s1 AS DOUBLE)/n)*(CAST(s3 AS DOUBLE)/n) + 6*pow(CAST(s1 AS DOUBLE)/n, 2)*(CAST(s2 AS DOUBLE)/n) - 3*pow(CAST(s1 AS DOUBLE)/n, 4)").as("m4"))
      .select(col("l_returnflag"), col("n"), col("s1"),
        floor(col("m2") * 1e6).cast(LongType).as("var_micro"),
        floor(col("m3") / expr("pow(m2, 1.5)") * 1e6).cast(LongType).as("skew_micro"),
        floor((col("m4") / (col("m2") * col("m2")) - 3) * 1e6).cast(LongType).as("kurt_micro"))
      .orderBy("l_returnflag")

  val aggMomentsSuiteSql: String =
    """WITH sums AS (
      |  SELECT l_returnflag, count(*) AS n,
      |         CAST(sum(x) AS BIGINT) AS s1,
      |         CAST(sum(x*x) AS BIGINT) AS s2,
      |         CAST(sum(x*x*x) AS BIGINT) AS s3,
      |         CAST(sum(x*x*x*x) AS BIGINT) AS s4
      |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x FROM lineitem)
      |  GROUP BY l_returnflag),
      |m AS (
      |  SELECT l_returnflag, n,
      |         CAST(s2 AS DOUBLE)/n - pow(CAST(s1 AS DOUBLE)/n, 2) AS m2,
      |         CAST(s3 AS DOUBLE)/n - 3*(CAST(s1 AS DOUBLE)/n)*(CAST(s2 AS DOUBLE)/n) + 2*pow(CAST(s1 AS DOUBLE)/n, 3) AS m3,
      |         CAST(s4 AS DOUBLE)/n - 4*(CAST(s1 AS DOUBLE)/n)*(CAST(s3 AS DOUBLE)/n) + 6*pow(CAST(s1 AS DOUBLE)/n, 2)*(CAST(s2 AS DOUBLE)/n) - 3*pow(CAST(s1 AS DOUBLE)/n, 4) AS m4,
      |         s1
      |  FROM sums)
      |SELECT l_returnflag, n, s1,
      |       CAST(floor(m2 * 1e6) AS BIGINT) AS var_micro,
      |       CAST(floor(m3 / pow(m2, 1.5) * 1e6) AS BIGINT) AS skew_micro,
      |       CAST(floor((m4 / (m2 * m2) - 3) * 1e6) AS BIGINT) AS kurt_micro
      |FROM m
      |ORDER BY l_returnflag""".stripMargin

  /** agg-unpivot — wide→long reshape via the native unpivot (melt)
    * API: four lineitem measures become (metric, value) rows. Unpivot
    * is a generator projection (each input row fans out map-side, no
    * shuffle) — the inverse of agg-pivot, and the shape metric stores
    * ingest. The oracle spells it as the portable 4-way UNION ALL. */
  val aggUnpivot: Q = (s, d) =>
    lineitem(s, d)
      .filter(col("l_orderkey") % 100 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "metric", "value")
      .orderBy("l_orderkey", "l_linenumber", "metric")

  val aggUnpivotSql: String =
    """WITH src AS (
      |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax
      |  FROM lineitem WHERE l_orderkey % 100 = 0)
      |SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM src
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM src
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM src
      |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sql-tpch-q3", sqlTpchQ3, sqlTpchQ3Sql),
    Key("join-null-safe", joinNullSafe, joinNullSafeSql),
    Key("expr-try-arith", exprTryArith, exprTryArithSql),
    Key("agg-moments-suite", aggMomentsSuite, aggMomentsSuiteSql),
    Key("agg-unpivot", aggUnpivot, aggUnpivotSql))
}
