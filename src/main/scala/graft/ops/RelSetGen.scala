package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Set operations, series generation, calendar attributes, surrogate keys
  * and constraint checks (SURVEY.md §2.7, §2.9). The reference's recursive
  * CTE calendar (`07_etl_silver_to_gold.sql:30-82`, row-at-a-time
  * recursion) is replaced by the set-based sequence()+explode generator —
  * one task generates the whole range; no iteration, no driver loop.
  */
object RelSetGen extends KeyModule {

  /** set-union-all — reference `07_etl_silver_to_gold.sql:32-49` (sentinel
    * row UNION ALL seed inside the calendar CTE). Two branch plans
    * concatenated without dedup — no shuffle at all. */
  val setUnionAll: Q = (s, d) => {
    val real = orders(s, d).select(
      col("o_orderkey").as("k"), col("o_orderstatus").as("status"))
    val sentinel = s.range(1).select(
      lit(-1L).as("k"), lit("UNKNOWN").as("status"))
    sentinel.unionAll(real).orderBy("k")
  }

  val setUnionAllSql: String =
    """SELECT * FROM (
      |  SELECT CAST(-1 AS BIGINT) AS k, 'UNKNOWN' AS status
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus FROM orders
      |) ORDER BY k""".stripMargin

  /** gen-date-series — reference `07_etl_silver_to_gold.sql:30-82`
    * (recursive CTE over 2,557 days + 1900-01-01 sentinel, MAXRECURSION 0).
    * Set-based: sequence + explode, sentinel unioned in. */
  val genDateSeries: Q = (s, d) => {
    val series = s.range(1).select(
      explode(expr("sequence(to_date('2016-01-01'), to_date('2022-12-31'), interval 1 day)")).as("date_value"))
    val sentinel = s.range(1).select(to_date(lit("1900-01-01")).as("date_value"))
    sentinel.unionAll(series)
      .select(
        (year(col("date_value")) * 10000 + month(col("date_value")) * 100 + dayofmonth(col("date_value")))
          .cast(IntegerType).as("date_key"),
        col("date_value"))
      .orderBy("date_key")
  }

  val genDateSeriesSql: String =
    """SELECT CAST(strftime(date_value, '%Y%m%d') AS INT) AS date_key, date_value
      |FROM (
      |  SELECT DATE '1900-01-01' AS date_value
      |  UNION ALL
      |  SELECT CAST(gs AS DATE)
      |  FROM generate_series(DATE '2016-01-01', DATE '2022-12-31', INTERVAL 1 DAY) t(gs)
      |) ORDER BY date_key""".stripMargin

  /** gen-calendar-attrs — reference `07_etl_silver_to_gold.sql:63-80` +
    * target schema `06_create_gold_tables.sql:37-49`. week_of_year uses
    * T-SQL DATEPART(WEEK) semantics (Sunday-start weeks anchored at Jan 1,
    * SURVEY §7 hard part 3): week = floor((doy + dow(jan1) - 2)/7) + 1,
    * dow 1=Sunday..7=Saturday. Spark dayofweek matches T-SQL DATEFIRST 7
    * exactly; DuckDB's dayofweek is 0-based (oracle compensates). */
  val genCalendarAttrs: Q = (s, d) => {
    val base = s.range(1).select(
      explode(expr("sequence(to_date('2018-01-01'), to_date('2019-12-31'), interval 1 day)")).as("d"))
    base.select(
      (year(col("d")) * 10000 + month(col("d")) * 100 + dayofmonth(col("d"))).cast(IntegerType).as("date_key"),
      col("d").as("date_value"),
      year(col("d")).cast(IntegerType).as("year"),
      quarter(col("d")).cast(IntegerType).as("quarter"),
      month(col("d")).cast(IntegerType).as("month"),
      date_format(col("d"), "MMMM").as("month_name"),
      floor((dayofyear(col("d")) + dayofweek(trunc(col("d"), "year")) - lit(2)) / lit(7)).cast(IntegerType)
        .plus(1).cast(IntegerType).as("week_of_year"),
      dayofweek(col("d")).cast(IntegerType).as("weekday_num"),
      date_format(col("d"), "EEEE").as("weekday_name"),
      when(dayofweek(col("d")).isin(1, 7), 1).otherwise(0).cast(IntegerType).as("is_weekend"))
      .orderBy("date_key")
  }

  val genCalendarAttrsSql: String =
    """SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_key,
      |       d AS date_value,
      |       CAST(year(d) AS INT) AS year,
      |       CAST(quarter(d) AS INT) AS quarter,
      |       CAST(month(d) AS INT) AS month,
      |       monthname(d) AS month_name,
      |       CAST(floor((dayofyear(d) + (dayofweek(date_trunc('year', d)) + 1) - 2) / 7.0) + 1 AS INT) AS week_of_year,
      |       CAST(dayofweek(d) + 1 AS INT) AS weekday_num,
      |       dayname(d) AS weekday_name,
      |       CAST(CASE WHEN dayofweek(d) + 1 IN (1, 7) THEN 1 ELSE 0 END AS INT) AS is_weekend
      |FROM (SELECT CAST(gs AS DATE) AS d
      |      FROM generate_series(DATE '2018-01-01', DATE '2019-12-31', INTERVAL 1 DAY) t(gs))
      |ORDER BY date_key""".stripMargin

  /** sk-identity — reference IDENTITY(1,1) surrogate keys
    * (`06_create_gold_tables.sql:55,70,86,100,128,147`; reseed `07:198`).
    * Dense 1..N in natural-key order, reproducible across reruns
    * (= reseed semantics). Assignment is the partition-offset pattern
    * (SurrogateKeys.withSk — a rank scan of PrefixScan's ordered scan),
    * not a single-partition global window: the part table scales with the
    * warehouse, and the oracle stays the plain row_number window SQL. */
  val skIdentity: Q = (s, d) =>
    graft.functions.SurrogateKeys.withSk(
      part(s, d).select(
        col("p_partkey"), col("p_brand"), col("p_type"),
        col("p_retailprice").as("retail_price")),
      "product_sk", Seq("p_partkey"))
      .select(col("product_sk"), col("p_partkey"), col("p_brand"), col("p_type"),
        col("retail_price"))
      .orderBy("product_sk")

  val skIdentitySql: String =
    """SELECT row_number() OVER (ORDER BY p_partkey) AS product_sk,
      |       p_partkey, p_brand, p_type,
      |       p_retailprice AS retail_price
      |FROM part
      |ORDER BY product_sk""".stripMargin

  /** pk-enforced — reference clustered PKs (`04:81` etc.). Parquet cannot
    * enforce; uniqueness becomes a validation aggregate that must return
    * the expected duplicate profile (composite key (l_orderkey,
    * l_linenumber) must be unique → zero violations). */
  val pkEnforced: Q = (s, d) =>
    lineitem(s, d)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .agg(count(lit(1)).as("pk_violations"))

  val pkEnforcedSql: String =
    """SELECT count(*) AS pk_violations FROM (
      |  SELECT l_orderkey, l_linenumber, count(*) AS n
      |  FROM lineitem
      |  GROUP BY l_orderkey, l_linenumber
      |  HAVING count(*) > 1)""".stripMargin

  /** fk-enforced + not-null — reference FK DDL (`06:104-107,131-133,150`)
    * and NOT NULL columns (`04:233,276`): the QA form — orphan count and
    * null-key count, both must-be-zero style checks in one row. */
  val fkNotnullCheck: Q = (s, d) => {
    val l = lineitem(s, d)
    val o = orders(s, d).select(col("o_orderkey"))
    val orphans = l.join(o, l("l_orderkey") === o("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("fk_orphans"))
    val nulls = l.agg(
      sum(when(col("l_orderkey").isNull, 1).otherwise(0)).cast(LongType).as("null_keys"))
    orphans.crossJoin(nulls)
  }

  val fkNotnullCheckSql: String =
    """SELECT (SELECT count(*) FROM lineitem
      |        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS fk_orphans,
      |       (SELECT CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |        FROM lineitem) AS null_keys""".stripMargin

  /** set-except-all — bag-semantics EXCEPT ALL / INTERSECT ALL (the
    * multiset counterparts of set-intersect-except): order-status rows of
    * the first half of the orders table vs the second half, where each
    * status appears many times so the MULTIPLICITY arithmetic (count_a −
    * count_b surplus for EXCEPT ALL, min(count_a, count_b) for INTERSECT
    * ALL) is actually exercised — plain EXCEPT would collapse both sides
    * to the same 3 distinct rows. Spark plans these as a single
    * count-aggregate + generate (one shuffle on the row value), which is
    * exactly the scalable form: no sort, no pairwise matching. Output is
    * the surviving multiset rolled up to (status, multiplicity) so the
    * result is deterministic without inventing a row identity. */
  val setExceptAll: Q = (s, d) => {
    val o = orders(s, d)
    val a = o.filter(col("o_orderkey") % 2 === 0).select(col("o_orderstatus"))
    val b = o.filter(col("o_orderkey") % 2 === 1).select(col("o_orderstatus"))
    val ex = a.exceptAll(b).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("except_all_n"))
    val in = a.intersectAll(b).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("intersect_all_n"))
    ex.join(in, Seq("o_orderstatus"), "full")
      .select(col("o_orderstatus"),
        coalesce(col("except_all_n"), lit(0L)).as("except_all_n"),
        coalesce(col("intersect_all_n"), lit(0L)).as("intersect_all_n"))
      .orderBy("o_orderstatus")
  }

  val setExceptAllSql: String =
    """WITH a AS (SELECT o_orderstatus FROM orders WHERE o_orderkey % 2 = 0),
      |b AS (SELECT o_orderstatus FROM orders WHERE o_orderkey % 2 = 1),
      |ex AS (SELECT o_orderstatus, count(*) AS except_all_n
      |       FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY o_orderstatus),
      |inx AS (SELECT o_orderstatus, count(*) AS intersect_all_n
      |        FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY o_orderstatus)
      |SELECT o_orderstatus,
      |       coalesce(except_all_n, 0) AS except_all_n,
      |       coalesce(intersect_all_n, 0) AS intersect_all_n
      |FROM ex FULL JOIN inx USING (o_orderstatus)
      |ORDER BY o_orderstatus""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("set-except-all", setExceptAll, setExceptAllSql),
    Key("set-union-all", setUnionAll, setUnionAllSql),
    Key("gen-date-series", genDateSeries, genDateSeriesSql),
    Key("gen-calendar-attrs", genCalendarAttrs, genCalendarAttrsSql),
    Key("sk-identity", skIdentity, skIdentitySql),
    Key("pk-enforced", pkEnforced, pkEnforcedSql),
    Key("fk-notnull-check", fkNotnullCheck, fkNotnullCheckSql))
}
