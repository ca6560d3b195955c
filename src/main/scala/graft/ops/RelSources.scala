package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Sources / sinks / DDL (SURVEY.md §2.1). The CSV operators do a real
  * write→read round trip through /tmp so the actual CSV parser paths
  * (quoting, separators, headers, multiLine embedded newlines, explicit
  * all-string bronze schema) are exercised; the oracle then checks the
  * round trip restored the source table exactly. At scale the same reader
  * config fans out over file splits — there is no single-writer TABLOCK
  * equivalent to emulate (SURVEY §4).
  */
object RelSources extends KeyModule {

  /** src-csv-quoted — reference `03_load_csv_to_bronze.sql:15-55`
    * (BULK INSERT FORMAT='CSV', FIELDQUOTE='"', FIRSTROW=2,
    * CODEPAGE=65001). Bronze rule: explicit all-string schema, never
    * inferSchema (`01:71`); typing happens afterwards via casts. */
  val srcCsvQuoted: Q = (s, d) => {
    val out = tmp("src-csv-quoted", d)
    nation(s, d).coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").option("quoteAll", "true").csv(out)
    val bronzeSchema = StructType(Seq(
      StructField("n_nationkey", StringType),
      StructField("n_name", StringType),
      StructField("n_regionkey", StringType)))
    s.read.schema(bronzeSchema)
      .option("header", "true").option("quote", "\"")
      .option("sep", ",").option("encoding", "UTF-8")
      .csv(out)
      .select(
        expr("try_cast(n_nationkey AS INT)").as("n_nationkey"),
        col("n_name"),
        expr("try_cast(n_regionkey AS INT)").as("n_regionkey"))
      .orderBy("n_nationkey")
  }

  val srcCsvQuotedSql: String =
    """SELECT n_nationkey, n_name, n_regionkey
      |FROM nation
      |ORDER BY n_nationkey""".stripMargin

  /** src-csv-pipe — reference `03_load_csv_to_bronze.sql:110-115`
    * (pipe-separated variant for the pre-cleaned reviews file). */
  val srcCsvPipe: Q = (s, d) => {
    val out = tmp("src-csv-pipe", d)
    region(s, d).coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").option("sep", "|").csv(out)
    val bronzeSchema = StructType(Seq(
      StructField("r_regionkey", StringType),
      StructField("r_name", StringType)))
    s.read.schema(bronzeSchema)
      .option("header", "true").option("sep", "|")
      .csv(out)
      .select(
        expr("try_cast(r_regionkey AS INT)").as("r_regionkey"),
        col("r_name"))
      .orderBy("r_regionkey")
  }

  val srcCsvPipeSql: String =
    """SELECT r_regionkey, r_name
      |FROM region
      |ORDER BY r_regionkey""".stripMargin

  /** src-preclean-newlines — reference
    * `dataset_olist/fix_order_reviews_dataset.py:9-17` (embedded newlines
    * inside quoted CSV fields scrubbed to spaces). Here done Spark-native:
    * newlines injected deterministically, written as quoted CSV, parsed
    * back with multiLine=true, then scrubbed with regexp_replace — the
    * round trip must restore the original text. */
  val srcPrecleanNewlines: Q = (s, d) => {
    val out = tmp("src-preclean-newlines", d)
    documents(s, d)
      .select(col("doc_id").cast(StringType).as("doc_id"),
        regexp_replace(col("text"), " spark", "\nspark").as("text"))
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").option("quoteAll", "true").csv(out)
    val bronzeSchema = StructType(Seq(
      StructField("doc_id", StringType), StructField("text", StringType)))
    s.read.schema(bronzeSchema)
      .option("header", "true").option("multiLine", "true").csv(out)
      .select(
        expr("try_cast(doc_id AS BIGINT)").as("doc_id"),
        regexp_replace(regexp_replace(col("text"), "\r", ""), "\n", " ").as("text"))
      .orderBy("doc_id")
  }

  val srcPrecleanNewlinesSql: String =
    """SELECT doc_id, text
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** sink-truncate-insert — reference truncate+insert idempotent full
    * refresh (`sp_load_silver_customers.sql:22-43`): parquet overwrite IS
    * truncate+insert. Written then read back so the sink is what's graded. */
  val sinkTruncateInsert: Q = (s, d) => {
    val out = tmp("sink-truncate-insert", d)
    val cleansed = customer(s, d).select(
      col("c_custkey"),
      trim(col("c_name")).as("name"),
      col("c_nationkey"),
      col("c_acctbal").as("acctbal"))
      .filter(col("c_custkey").isNotNull)
    cleansed.write.mode(SaveMode.Overwrite).parquet(out)
    s.read.parquet(out).orderBy("c_custkey")
  }

  val sinkTruncateInsertSql: String =
    """SELECT c_custkey, trim(c_name) AS name, c_nationkey,
      |       c_acctbal AS acctbal
      |FROM customer
      |WHERE c_custkey IS NOT NULL
      |ORDER BY c_custkey""".stripMargin

  /** sink-audit-append — reference `audit.ingestion_run`
    * (`02_create_tables_bronze.sql:110-124`; start/success writes
    * `03:35-37,59-61`). Parquet is append-only, so the in-place UPDATE
    * becomes start+end event rows per run_id (SURVEY §7 hard part 4);
    * wall-clock columns stay out of the graded output. */
  val sinkAuditAppend: Q = (s, d) => {
    val out = tmp("sink-audit-append", d)
    val started = s.range(1).select(
      lit("customer").as("table_name"), lit("STARTED").as("status"),
      lit(null).cast(LongType).as("rows_inserted"),
      current_timestamp().as("logged_at"))
    started.write.mode(SaveMode.Overwrite).parquet(out)
    val n = customer(s, d).count()
    val succeeded = s.range(1).select(
      lit("customer").as("table_name"), lit("SUCCESS").as("status"),
      lit(n).cast(LongType).as("rows_inserted"),
      current_timestamp().as("logged_at"))
    succeeded.write.mode(SaveMode.Append).parquet(out)
    s.read.parquet(out)
      .select(col("table_name"), col("status"), col("rows_inserted"))
      .orderBy("status")
  }

  val sinkAuditAppendSql: String =
    """SELECT * FROM (
      |  SELECT 'customer' AS table_name, 'STARTED' AS status, CAST(NULL AS BIGINT) AS rows_inserted
      |  UNION ALL
      |  SELECT 'customer', 'SUCCESS', (SELECT count(*) FROM customer)
      |) ORDER BY status""".stripMargin

  /** sink-delete-insert — reference gold refresh: DELETE + identity
    * reseed + INSERT (`07_etl_silver_to_gold.sql:196-235`, reseed
    * `:198`). With parquet overwrite + deterministic row_number SKs the
    * reseed is implicit: reloading regenerates the identical dense
    * 1..N keys — demonstrated by writing the fact twice and grading the
    * second load's output. */
  val sinkDeleteInsert: Q = (s, d) => {
    val out = tmp("sink-delete-insert", d)
    // fact-cardinality SK: partition-offset assignment, never a global
    // single-partition window (orders grows with the warehouse)
    def buildFact(): Unit =
      graft.functions.SurrogateKeys.withSk(
        orders(s, d).select(col("o_orderkey"), col("o_orderstatus")),
        "order_sk", Seq("o_orderkey"))
        .select(col("order_sk"), col("o_orderkey"), col("o_orderstatus"))
        .write.mode(SaveMode.Overwrite).parquet(out)
    buildFact()  // initial load
    buildFact()  // reload: DELETE + reseed + INSERT ≡ overwrite, SKs identical
    s.read.parquet(out).orderBy("order_sk")
  }

  val sinkDeleteInsertSql: String =
    """SELECT row_number() OVER (ORDER BY o_orderkey) AS order_sk,
      |       o_orderkey, o_orderstatus
      |FROM orders
      |ORDER BY order_sk""".stripMargin

  /** guard-already-loaded — reference `07_etl_silver_to_gold.sql:18-22`
    * (skip the calendar rebuild if the table is already populated beyond
    * the sentinel). Both paths must produce the same graded output; the
    * build runs at most once per filesystem lifetime. */
  val guardAlreadyLoaded: Q = (s, d) => {
    val out = tmp("guard-dim-date", d)
    val loaded =
      try !s.read.parquet(out).filter(col("date_key") =!= 19000101).isEmpty
      catch { case _: Throwable => false }
    if (!loaded) {
      val series = s.range(1).select(
        explode(expr("sequence(to_date('2016-01-01'), to_date('2022-12-31'), interval 1 day)")).as("dv"))
      val sentinel = s.range(1).select(to_date(lit("1900-01-01")).as("dv"))
      sentinel.unionAll(series)
        .select((year(col("dv")) * 10000 + month(col("dv")) * 100 + dayofmonth(col("dv")))
          .cast(IntegerType).as("date_key"))
        .write.mode(SaveMode.Overwrite).parquet(out)
    }
    s.read.parquet(out).agg(
      count(lit(1)).as("n_rows"),
      min(col("date_key")).as("min_key"),
      max(col("date_key")).as("max_key"))
  }

  val guardAlreadyLoadedSql: String =
    """SELECT count(*) + 1 AS n_rows,
      |       19000101 AS min_key,
      |       CAST(max(strftime(gs, '%Y%m%d')) AS INT) AS max_key
      |FROM generate_series(DATE '2016-01-01', DATE '2022-12-31', INTERVAL 1 DAY) t(gs)""".stripMargin

  /** ddl-catalog — reference `01_create_database_and_schemas.sql`
    * (idempotent DB + 5 schemas). Spark catalog namespaces created
    * IF NOT EXISTS; graded output = the resulting catalog listing. */
  val ddlCatalog: Q = (s, d) => {
    Seq("bronze", "silver", "gold", "audit").foreach { ns =>
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_$ns")
    }
    s.sql("SHOW DATABASES")
      .select(col("namespace").as("schema_name"))
      .filter(col("schema_name").startsWith("graft_"))
      .orderBy("schema_name")
  }

  val ddlCatalogSql: String =
    """SELECT * FROM (
      |  SELECT 'graft_audit' AS schema_name
      |  UNION ALL SELECT 'graft_bronze'
      |  UNION ALL SELECT 'graft_gold'
      |  UNION ALL SELECT 'graft_silver'
      |) ORDER BY schema_name""".stripMargin

  /** src-datasourcev2 — a full custom DataSource V2 connector
    * (graft.sources.GraftRangeSource, registered as `graft-range` via
    * META-INF/services): deterministic range generator with source-side
    * COLUMN PRUNING and PREDICATE PUSHDOWN — the id-range filter
    * narrows the generated interval before partition planning, so the
    * scan plans 49k rows, not 100k-then-filter. The graded query
    * aggregates the pruned scan; money-style decimal sum keeps the
    * result order-independent. GraftRangeSourceSpec asserts the
    * pushdown actually reached the scan (description carries the
    * narrowed range and pruned column list). */
  val srcDatasourceV2: Q = (s, _) => {
    val df = s.read.format("graft-range")
      .option("rows", 100000L).option("slices", 8).load()
      .filter(col("id") >= 1000L && col("id") < 50000L)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), outNum(sum(dec2(col("val")))).as("total_val"))
      .orderBy("bucket")
    df
  }

  val srcDatasourceV2Sql: String =
    """SELECT CAST(id % 10 AS INT) AS bucket, count(*) AS n,
      |       CAST(sum(CAST(CAST((id * 37) % 1000 AS DOUBLE) / CAST(10 AS DOUBLE)
      |                     AS DECIMAL(18,2))) AS DOUBLE) AS total_val
      |FROM (SELECT unnest(generate_series(1000, 49999)) AS id)
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("src-datasourcev2", srcDatasourceV2, srcDatasourceV2Sql),
    Key("src-csv-quoted", srcCsvQuoted, srcCsvQuotedSql),
    Key("src-csv-pipe", srcCsvPipe, srcCsvPipeSql),
    Key("src-preclean-newlines", srcPrecleanNewlines, srcPrecleanNewlinesSql),
    Key("sink-truncate-insert", sinkTruncateInsert, sinkTruncateInsertSql),
    Key("sink-delete-insert", sinkDeleteInsert, sinkDeleteInsertSql),
    Key("guard-already-loaded", guardAlreadyLoaded, guardAlreadyLoadedSql),
    Key("sink-audit-append", sinkAuditAppend, sinkAuditAppendSql),
    Key("ddl-catalog", ddlCatalog, ddlCatalogSql))
}
