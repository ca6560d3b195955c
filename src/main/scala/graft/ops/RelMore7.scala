package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch G (relational part): TPC-H Q5 through the
  * SQL front door, FILTER-clause aggregates, and Spark 4 collation
  * semantics.
  */
object RelMore7 extends KeyModule {

  /** sql-tpch-q5 — the local-supplier-volume query: a SIX-table join
    * (customer→orders→lineitem→supplier⋈nation⋈region) with the
    * supplier-nation = customer-nation equi-constraint, submitted as
    * one shared SQL string. This is the star/snowflake traversal the
    * planner has to get right at 100 TB: region+nation broadcast,
    * customer/orders/lineitem shuffle on their join keys, and the
    * nation constraint turns into a join filter, not a post-filter. */
  val sqlTpchQ5: Q = (s, d) => {
    Seq("customer" -> customer(s, d), "orders" -> orders(s, d),
      "lineitem" -> lineitem(s, d), "supplier" -> supplier(s, d),
      "nation" -> nation(s, d), "region" -> region(s, d))
      .foreach { case (n, df) => df.createOrReplaceTempView(n) }
    s.sql(sqlTpchQ5Sql)
  }

  val sqlTpchQ5Sql: String =
    """SELECT n.n_name,
      |       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |JOIN region r ON r.r_regionkey = n.n_regionkey
      |WHERE r.r_name = 'ASIA'
      |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n.n_name
      |ORDER BY revenue DESC, n.n_name""".stripMargin

  /** agg-filter-where — the SQL:2003 FILTER clause: per-aggregate
    * predicates inside ONE grouping pass (the declarative form of the
    * sum(CASE WHEN...) idiom, and one scan instead of one per
    * condition). Shared SQL string, valid in both engines. */
  val aggFilterWhere: Q = (s, d) => {
    orders(s, d).createOrReplaceTempView("orders")
    s.sql(aggFilterWhereSql)
  }

  val aggFilterWhereSql: String =
    """SELECT o_orderstatus,
      |       count(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
      |       CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |                       FILTER (WHERE o_custkey % 2 = 0), 0) AS DOUBLE) AS even_total,
      |       count(*) FILTER (WHERE o_orderpriority LIKE '1%') AS n_urgent,
      |       count(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** func-collation — Spark 4 collation semantics: a mixed-case column
    * compared and grouped under UTF8_LCASE matches case-insensitively
    * at the COMPARISON level (no eager lower() materialization — the
    * collation travels with the type, and at 100 TB saves rewriting
    * every predicate as lower(x) = lower(y), which would defeat
    * pushdown on a collated source). The mixed casing is synthesized
    * deterministically (even keys lowercased); the oracle spells the
    * same semantics with explicit lower(). Group keys are emitted
    * through lower() — the collated group's representative string is
    * whichever variant a partition saw first, the one nondeterminism
    * collation introduces. */
  val funcCollation: Q = (s, d) => {
    val mixed = customer(s, d).withColumn("seg",
      when(col("c_custkey") % 2 === 0, lower(col("c_mktsegment")))
        .otherwise(col("c_mktsegment")))
    mixed
      .filter(expr("seg COLLATE UTF8_LCASE = 'BuIlDiNg'"))
      .groupBy(lower(col("seg")).as("segment"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("seg")).as("n_case_variants"))
      .orderBy("segment")
  }

  val funcCollationSql: String =
    """WITH mixed AS (
      |  SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
      |              ELSE c_mktsegment END AS seg
      |  FROM customer)
      |SELECT lower(seg) AS segment,
      |       count(*) AS n_rows,
      |       CAST(count(DISTINCT seg) AS BIGINT) AS n_case_variants
      |FROM mixed
      |WHERE lower(seg) = lower('BuIlDiNg')
      |GROUP BY lower(seg)
      |ORDER BY segment""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sql-tpch-q5", sqlTpchQ5, sqlTpchQ5Sql),
    Key("agg-filter-where", aggFilterWhere, aggFilterWhereSql),
    Key("func-collation", funcCollation, funcCollationSql))
}
