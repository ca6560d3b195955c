package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._
import graft.olist.Functions.{accentFoldLower, weekOfYearTsql, weekdayTsql}

/** Scalar-function parity suites (SURVEY.md §2.8) — the reference's
  * complete string / date / math scalar surface exercised as graded
  * queries, including the two §7 "hard parts" that have no Spark
  * built-in equivalent:
  *
  *  - the `COLLATE SQL_Latin1_General_CP1_CI_AI` accent-insensitive
  *    grouping (`sp_load_silver_geolocation.sql:32,42`) → pure
  *    `translate`-based fold (graft.olist.Functions.accentFoldLower;
  *    oracle twin is DuckDB's `strip_accents`), and
  *  - `DATEPART(WEEK)` under `DATEFIRST 7` (`07_etl_silver_to_gold
  *    .sql:73`) — T-SQL week 1 = the week containing Jan 1 with
  *    Sunday-start weeks, NOT ISO-8601 `weekofyear` → explicit
  *    dayofyear arithmetic on both sides.
  *
  * All ops are narrow projections — they run at scan speed, no
  * shuffle; at 100 TB these are the map-side of silver cleansing and
  * the plan cost is the parquet read itself (column pruning verified:
  * ReadSchema carries only the referenced columns).
  */
object FuncSuites extends KeyModule {

  /** func-string-suite — TRIM/UPPER/LOWER/LEFT/REPLACE/NULLIF/LEN/
    * concat (`sp_load_silver_customers.sql:35-39`,
    * `sp_load_silver_products.sql:42-45`, `03_load_csv_to_bronze
    * .sql:32`) plus the CI_AI accent-fold. The accented input is
    * synthesized deterministically (testdata is ASCII) by translating
    * `a/e/o` to `á/é/ö`, so the fold provably undoes a real diacritic
    * class rather than no-op'ing. */
  val funcStringSuite: Q = (s, d) =>
    customer(s, d).select(
      col("c_custkey"),
      upper(trim(col("c_name"))).as("up_name"),
      lower(col("c_mktsegment")).as("lo_seg"),
      substring(col("c_name"), 1, 10).as("left10"),
      translate(col("c_mktsegment"), "AE", "43").as("leeted"),
      nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
      length(trim(col("c_name"))).cast(IntegerType).as("name_len"),
      concat(col("c_name"), lit("#"), col("c_custkey").cast(StringType)).as("tagged"),
      accentFoldLower(translate(col("c_name"), "aeo", "áéö")).as("folded"))
      .orderBy("c_custkey")

  val funcStringSuiteSql: String =
    """SELECT c_custkey,
      |       upper(trim(c_name)) AS up_name,
      |       lower(c_mktsegment) AS lo_seg,
      |       substring(c_name, 1, 10) AS left10,
      |       translate(c_mktsegment, 'AE', '43') AS leeted,
      |       nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
      |       CAST(length(trim(c_name)) AS INT) AS name_len,
      |       c_name || '#' || CAST(c_custkey AS VARCHAR) AS tagged,
      |       strip_accents(lower(translate(c_name, 'aeo', 'áéö'))) AS folded
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** func-date-suite — YEAR/MONTH/DAY/QUARTER/DATEPART(WEEK|WEEKDAY)/
    * DATENAME/FORMAT(yyyyMMdd)/DATEADD/DATEDIFF(DAY) over order dates
    * (`07_etl_silver_to_gold.sql:66-78,217-224`,
    * `04_create_silver_tables.sql:240-241`). `wk_tsql` is the custom
    * T-SQL week; its oracle twin spells the same arithmetic with
    * DuckDB's 0=Sunday dayofweek shifted to T-SQL's 1=Sunday. English
    * month/day names match because SQL Server's default langid and
    * the JVM `en` locale agree. */
  val funcDateSuite: Q = (s, d) => {
    val dt = to_date(col("o_orderdate"))
    orders(s, d).select(
      col("o_orderkey"),
      year(dt).cast(IntegerType).as("yr"),
      month(dt).cast(IntegerType).as("mo"),
      dayofmonth(dt).cast(IntegerType).as("dy"),
      quarter(dt).cast(IntegerType).as("qtr"),
      weekOfYearTsql(dt).as("wk_tsql"),
      weekdayTsql(dt).as("wd_tsql"),
      date_format(dt, "MMMM").as("month_name"),
      date_format(dt, "EEEE").as("day_name"),
      date_format(dt, "yyyyMMdd").cast(IntegerType).as("date_key"),
      date_add(dt, 1).as("next_day"),
      datediff(dt, lit("1995-01-01").cast(DateType)).cast(IntegerType).as("days_since"))
      .orderBy("o_orderkey")
  }

  val funcDateSuiteSql: String =
    """SELECT o_orderkey,
      |       CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr,
      |       CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS mo,
      |       CAST(day(CAST(o_orderdate AS DATE)) AS INT) AS dy,
      |       CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS qtr,
      |       CAST(floor((dayofyear(CAST(o_orderdate AS DATE))
      |                   + dayofweek(date_trunc('year', CAST(o_orderdate AS DATE))) + 1
      |                   - 2) / 7) + 1 AS INT) AS wk_tsql,
      |       CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS wd_tsql,
      |       monthname(CAST(o_orderdate AS DATE)) AS month_name,
      |       dayname(CAST(o_orderdate AS DATE)) AS day_name,
      |       CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS INT) AS date_key,
      |       CAST(o_orderdate AS DATE) + 1 AS next_day,
      |       CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** func-math-suite — the reference's numeric expression surface
    * (`04_create_silver_tables.sql:172,280`, `07_etl_silver_to_gold
    * .sql:66,228-230`): decimal multiplication chains, additive money
    * math, the YEAR*10000+MONTH*100+DAY int key, and hour-boundary
    * DATEDIFF/24.0. Money math runs in DECIMAL (exact, engine-
    * agnostic) and lands as double per the output conventions. */
  val funcMathSuite: Q = (s, d) =>
    lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      (dec2(col("l_extendedprice")) * dec4(col("l_discount")))
        .cast(DoubleType).as("discount_amt"),
      (dec2(col("l_extendedprice")) + dec2(col("l_quantity")))
        .cast(DoubleType).as("price_plus_qty"),
      (year(col("l_shipdate")) * 10000 + month(col("l_shipdate")) * 100
        + dayofmonth(col("l_shipdate"))).cast(IntegerType).as("ship_key"),
      // hour-boundary-crossing count (T-SQL DATEDIFF(HOUR) semantics,
      // not elapsed-time flooring), then double/double division —
      // decimal/24.0 would divide in decimal in DuckDB (float literals
      // are DECIMAL there) but in double in Spark
      ((floor(unix_timestamp(col("l_shipdate")) / 3600)
        - floor(unix_timestamp(lit("1995-01-01").cast(TimestampType)) / 3600))
        .cast(DoubleType) / lit(24.0)).as("days_frac"))
      .orderBy("l_orderkey", "l_linenumber")

  val funcMathSuiteSql: String =
    """SELECT l_orderkey, l_linenumber,
      |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,4)) AS DOUBLE) AS discount_amt,
      |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) + CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS price_plus_qty,
      |       CAST(year(CAST(l_shipdate AS DATE)) * 10000 + month(CAST(l_shipdate AS DATE)) * 100
      |            + day(CAST(l_shipdate AS DATE)) AS INT) AS ship_key,
      |       CAST(floor(epoch(l_shipdate) / 3600)
      |            - floor(epoch(TIMESTAMP '1995-01-01') / 3600) AS DOUBLE) / CAST(24 AS DOUBLE) AS days_frac
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** func-regex-suite — the regex scalar surface (extract, global
    * replace, match test, occurrence count, field split) over customer
    * rows. All patterns are RE2-compatible (no lookaround/backrefs), the
    * subset where Java's regex engine and DuckDB's RE2 agree byte-for-
    * byte. Note the engine asymmetry the suite pins down: Spark
    * `regexp_replace` is global by default while DuckDB needs the
    * explicit 'g' flag — an easy silent-mismatch if ever forgotten.
    * Narrow projection, scan speed. */
  val funcRegexSuite: Q = (s, d) => {
    // the testdata has no phone column — synthesize one deterministically
    // (country code from the nation key, line number from the custkey)
    // so extract/mask/split run against realistically-shaped input
    val phone = concat(
      (col("c_nationkey") + 10).cast(StringType), lit("-555-"),
      lpad((col("c_custkey") % 10000).cast(StringType), 4, "0"))
    customer(s, d)
      .withColumn("c_phone", phone)
      .select(
        col("c_custkey"),
        regexp_extract(col("c_name"), "([0-9]+)$", 1).as("trailing_digits"),
        regexp_replace(col("c_phone"), "[0-9]", "#").as("phone_masked"),
        col("c_mktsegment").rlike("^(BUIL|AUTO)").cast(IntegerType).as("seg_flag"),
        regexp_count(col("c_mktsegment"), lit("[AEIOU]")).cast(IntegerType).as("vowels"),
        split(col("c_phone"), "-").getItem(0).as("phone_cc"))
      .orderBy("c_custkey")
  }

  val funcRegexSuiteSql: String =
    """WITH c AS (
      |  SELECT *, CAST(c_nationkey + 10 AS VARCHAR) || '-555-'
      |         || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS c_phone
      |  FROM customer)
      |SELECT c_custkey,
      |       regexp_extract(c_name, '([0-9]+)$', 1) AS trailing_digits,
      |       regexp_replace(c_phone, '[0-9]', '#', 'g') AS phone_masked,
      |       CAST(CASE WHEN regexp_matches(c_mktsegment, '^(BUIL|AUTO)') THEN 1 ELSE 0 END AS INT) AS seg_flag,
      |       CAST(len(regexp_extract_all(c_mktsegment, '[AEIOU]')) AS INT) AS vowels,
      |       string_split(c_phone, '-')[1] AS phone_cc
      |FROM c
      |ORDER BY c_custkey""".stripMargin

  /** func-bitwise-suite — the integer bit-manipulation surface
    * (AND/OR/XOR masks, shifts, popcount): the workhorse ops behind
    * hash partitioning, bloom-filter bit math, bitmap indexes and flag
    * packing. Pure projection over codegen'd built-ins — scan-speed,
    * no shuffle; the BIGINT lattice is identical in both engines so no
    * rounding discipline is needed (the one cross-engine trap is
    * DuckDB's TINYINT bit_count, cast to INT on both sides). */
  val funcBitwiseSuite: Q = (s, d) =>
    events(s, d)
      .select(
        col("event_id"),
        col("event_id").bitwiseAND(lit(255L)).as("lo8"),
        col("user_id").bitwiseOR(lit(4096L)).as("hibit"),
        col("event_id").bitwiseXOR(col("user_id")).as("mix"),
        shiftleft(col("user_id"), 3).as("shl3"),
        shiftright(col("event_id"), 2).as("shr2"),
        bitwise_not(col("user_id")).as("inv"),
        bit_count(col("event_id")).cast(IntegerType).as("bits"))
      .orderBy("event_id")

  val funcBitwiseSuiteSql: String =
    """SELECT event_id,
      |       event_id & 255 AS lo8,
      |       user_id | 4096 AS hibit,
      |       xor(event_id, user_id) AS mix,
      |       user_id << 3 AS shl3,
      |       event_id >> 2 AS shr2,
      |       ~user_id AS inv,
      |       CAST(bit_count(event_id) AS INT) AS bits
      |FROM events
      |ORDER BY event_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("func-bitwise-suite", funcBitwiseSuite, funcBitwiseSuiteSql),
    Key("func-string-suite", funcStringSuite, funcStringSuiteSql),
    Key("func-date-suite", funcDateSuite, funcDateSuiteSql),
    Key("func-math-suite", funcMathSuite, funcMathSuiteSql),
    Key("func-regex-suite", funcRegexSuite, funcRegexSuiteSql))
}
