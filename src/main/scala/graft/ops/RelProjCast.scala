package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Projection / filter / predicate / safe-cast operators (SURVEY.md §2.2).
  * All are narrow (no shuffle); Catalyst pushes the filters and the column
  * pruning into the parquet scan — verified via .explain PushedFilters /
  * ReadSchema. try_* family is used everywhere the reference uses TRY_*
  * (Spark 4 ANSI mode is on; plain cast would throw — SURVEY §4 caveat).
  */
object RelProjCast extends KeyModule {

  /** proj-standardize — reference `sp_load_silver_customers.sql:34-41`
    * (TRIM / UPPER(LEFT(..,2)) / LOWER cleansing projection). */
  val projStandardize: Q = (s, d) =>
    customer(s, d).select(
      col("c_custkey"),
      trim(col("c_name")).as("name_clean"),
      upper(substring(trim(col("c_mktsegment")), 1, 2)).as("segment_code"),
      lower(trim(col("c_mktsegment"))).as("segment_lower"))
      .orderBy("c_custkey")

  val projStandardizeSql: String =
    """SELECT c_custkey,
      |       trim(c_name) AS name_clean,
      |       upper(substring(trim(c_mktsegment), 1, 2)) AS segment_code,
      |       lower(trim(c_mktsegment)) AS segment_lower
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** filt-notnull — reference `sp_load_silver_customers.sql:43`
    * (drop NULL natural keys). Pushed to the scan as IsNotNull. */
  val filtNotnull: Q = (s, d) =>
    orders(s, d)
      .filter(col("o_orderkey").isNotNull && col("o_orderdate").isNotNull)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .orderBy("o_orderkey")

  val filtNotnullSql: String =
    """SELECT o_orderkey, o_orderstatus
      |FROM orders
      |WHERE o_orderkey IS NOT NULL AND o_orderdate IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin

  /** filt-nonempty — reference `sp_load_silver_sellers.sql:37-38`
    * (NOT NULL and non-empty after trim). */
  val filtNonempty: Q = (s, d) =>
    part(s, d)
      .filter(col("p_brand").isNotNull && (trim(col("p_brand")) =!= ""))
      .select(col("p_partkey"), col("p_brand"))
      .orderBy("p_partkey")

  val filtNonemptySql: String =
    """SELECT p_partkey, p_brand
      |FROM part
      |WHERE p_brand IS NOT NULL AND trim(p_brand) <> ''
      |ORDER BY p_partkey""".stripMargin

  /** filt-range — reference `sp_load_silver_order_reviews.sql:42`
    * (TRY_CAST .. BETWEEN domain predicate). */
  val filtRange: Q = (s, d) =>
    part(s, d)
      .filter(expr("try_cast(p_size AS INT)").between(1, 25))
      .select(col("p_partkey"), col("p_size"))
      .orderBy("p_partkey")

  val filtRangeSql: String =
    """SELECT p_partkey, p_size
      |FROM part
      |WHERE TRY_CAST(p_size AS INT) BETWEEN 1 AND 25
      |ORDER BY p_partkey""".stripMargin

  /** expr-nullif-empty — reference `sp_load_silver_order_reviews.sql:27-28`
    * (NULLIF(TRIM(x),'') empty-string normalization). Applied to a
    * derived possibly-empty string so the NULL branch is exercised. */
  val exprNullifEmpty: Q = (s, d) =>
    documents(s, d).select(
      col("doc_id"),
      expr("nullif(trim(substring(text, 1, 3)), 'the')").as("head_token"))
      .orderBy("doc_id")

  val exprNullifEmptySql: String =
    """SELECT doc_id, nullif(trim(substring(text, 1, 3)), 'the') AS head_token
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** expr-coalesce-default — reference `07_etl_silver_to_gold.sql:217`
    * (COALESCE(FORMAT(ts,'yyyyMMdd'), 19000101) sentinel date key). */
  val exprCoalesceDefault: Q = (s, d) =>
    orders(s, d).select(
      col("o_orderkey"),
      coalesce(date_format(col("o_orderdate"), "yyyyMMdd").cast(IntegerType), lit(19000101))
        .as("order_date_key"))
      .orderBy("o_orderkey")

  val exprCoalesceDefaultSql: String =
    """SELECT o_orderkey,
      |       coalesce(CAST(strftime(o_orderdate, '%Y%m%d') AS INT), 19000101) AS order_date_key
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** expr-case-flag — reference CASE-derived 0/1 flags
    * (`04_create_silver_tables.sql:242,348-350`; `07:220-224,233`):
    * is_delivered-style status flag + null-preserving conditional. */
  val exprCaseFlag: Q = (s, d) =>
    events(s, d).select(
      col("event_id"),
      when(col("event_type") === "purchase", 1).otherwise(0).cast(IntegerType).as("is_purchase"),
      when(col("event_type") === "error", 1).otherwise(0).cast(IntegerType).as("is_error"),
      when(col("value").isNull, lit(null).cast(IntegerType))
        .otherwise(when(col("value") >= 100.0, 1).otherwise(0)).cast(IntegerType).as("is_high_value"))
      .orderBy("event_id")

  val exprCaseFlagSql: String =
    """SELECT event_id,
      |       CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS INT) AS is_purchase,
      |       CAST(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS INT) AS is_error,
      |       CAST(CASE WHEN value IS NULL THEN NULL
      |                 WHEN value >= 100.0 THEN 1 ELSE 0 END AS INT) AS is_high_value
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** expr-computed-col — reference PERSISTED computed columns
    * (`04:172,240-242,280`): materialized scalar metrics (volume l*h*w →
    * here price*qty; total = price+freight → here price+tax). */
  val exprComputedCol: Q = (s, d) =>
    lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      outNum(dec2(col("l_extendedprice")) * dec2(col("l_quantity"))).as("gross_value"),
      outNum(dec2(col("l_extendedprice")) + dec2(col("l_tax"))).as("total_with_tax"))
      .orderBy("l_orderkey", "l_linenumber")

  val exprComputedColSql: String =
    """SELECT l_orderkey, l_linenumber,
      |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS gross_value,
      |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)) AS DOUBLE) AS total_with_tax
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** cast-try-int — reference TRY_CAST(VARCHAR AS INT)
    * (`sp_load_silver_products.sql:39-41`): parse failures → NULL, never
    * a runtime error (ANSI-safe). Mixed parseable/unparseable inputs. */
  val castTryInt: Q = (s, d) =>
    documents(s, d).select(
      col("doc_id"),
      expr("try_cast(substring(text, 1, 2) AS INT)").as("head_as_int"),
      expr("try_cast(CAST(n_chars AS STRING) AS INT)").as("n_chars_roundtrip"))
      .orderBy("doc_id")

  val castTryIntSql: String =
    """SELECT doc_id,
      |       TRY_CAST(substring(text, 1, 2) AS INT) AS head_as_int,
      |       TRY_CAST(CAST(n_chars AS VARCHAR) AS INT) AS n_chars_roundtrip
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** cast-decimal-comma — reference `sp_load_silver_products.sql:42-45`
    * (REPLACE(x,',','.') then TRY_CAST to DECIMAL — European decimal-comma
    * repair). The comma input is derived deterministically from price. */
  val castDecimalComma: Q = (s, d) =>
    lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      expr("CAST(try_cast(replace(replace(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS STRING), '.', ','), ',', '.') AS DECIMAL(18,2)) AS DOUBLE)")
        .as("price_repaired"))
      .orderBy("l_orderkey", "l_linenumber")

  val castDecimalCommaSql: String =
    """SELECT l_orderkey, l_linenumber,
      |       CAST(TRY_CAST(replace(replace(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR), '.', ','), ',', '.') AS DECIMAL(18,2)) AS DOUBLE) AS price_repaired
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** cast-try-timestamp — reference TRY_CONVERT(DATETIME2(3), s)
    * (`sp_load_silver_orders.sql:37-41`): string → timestamp, NULL on
    * garbage. Round-trip through 'yyyy-MM-dd HH:mm:ss' text plus an
    * unparseable literal to exercise the NULL path. */
  val castTryTimestamp: Q = (s, d) =>
    orders(s, d).select(
      col("o_orderkey"),
      date_format(
        expr("try_to_timestamp(date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss'))"),
        "yyyy-MM-dd HH:mm:ss").as("ts_roundtrip"),
      date_format(expr("try_to_timestamp('not-a-date')"), "yyyy-MM-dd").as("ts_garbage"))
      .orderBy("o_orderkey")

  val castTryTimestampSql: String =
    """SELECT o_orderkey,
      |       strftime(TRY_CAST(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_roundtrip,
      |       strftime(TRY_CAST('not-a-date' AS TIMESTAMP), '%Y-%m-%d') AS ts_garbage
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** expr-array-funcs — collection-function surface over a computed
    * array (split words): size, membership, sorted extremes, distinct
    * count. All narrow, codegen'd. */
  val exprArrayFuncs: Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(
        col("doc_id"),
        size(col("w")).cast(LongType).as("n_words"),
        array_contains(col("w"), "spark").as("has_spark"),
        expr("array_sort(w)[0]").as("first_sorted"),
        expr("element_at(array_sort(w), -1)").as("last_sorted"),
        expr("size(array_distinct(w))").cast(LongType).as("n_distinct"))
      .orderBy("doc_id")

  val exprArrayFuncsSql: String =
    """SELECT doc_id,
      |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |       list_contains(string_split(text, ' '), 'spark') AS has_spark,
      |       list_sort(string_split(text, ' '))[1] AS first_sorted,
      |       list_sort(string_split(text, ' '))[-1] AS last_sorted,
      |       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("expr-array-funcs", exprArrayFuncs, exprArrayFuncsSql),
    Key("proj-standardize", projStandardize, projStandardizeSql),
    Key("filt-notnull", filtNotnull, filtNotnullSql),
    Key("filt-nonempty", filtNonempty, filtNonemptySql),
    Key("filt-range", filtRange, filtRangeSql),
    Key("expr-nullif-empty", exprNullifEmpty, exprNullifEmptySql),
    Key("expr-coalesce-default", exprCoalesceDefault, exprCoalesceDefaultSql),
    Key("expr-case-flag", exprCaseFlag, exprCaseFlagSql),
    Key("expr-computed-col", exprComputedCol, exprComputedColSql),
    Key("cast-try-int", castTryInt, castTryIntSql),
    Key("cast-decimal-comma", castDecimalComma, castDecimalCommaSql),
    Key("cast-try-timestamp", castTryTimestamp, castTryTimestampSql))
}
