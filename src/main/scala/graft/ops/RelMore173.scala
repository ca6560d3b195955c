package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-8 batch I: charset-aware CSV ingestion, a Data Vault
  * hub/link/satellite load with hashdiff change detection, and the
  * HNSW layer-assignment model. */
object RelMore173 extends KeyModule {

  /** src-csv-charset — ISO-8859-1 (Latin-1) CSV ingestion: a fixture
    * file is written as RAW LATIN-1 BYTES (accented characters at
    * single-byte code points ≥ 0xC0), then read back through Spark's
    * csv `encoding` option. Read without it, every accent mojibakes
    * into two UTF-8 garbage chars and string LENGTHS shift — which is
    * why the graded output includes char counts, not just values.
    * Legacy exports (mainframes, pre-2010 ERPs — exactly the systems
    * batch warehouses ingest) are overwhelmingly Latin-1/cp1252; an
    * engine that only reads UTF-8 silently corrupts them. The 25-row
    * dim fixture is driver-written by design (file creation is the
    * test apparatus, not the measured path). */
  val srcCsvCharset: Q = (s, d) => {
    val dir = tmp("src-csv-charset", d)
    val note = " à Zürich é"
    val rows = nation(s, d).select(col("n_nationkey"), col("n_name"))
      .orderBy("n_nationkey").collect()
    val body = new StringBuilder("n_nationkey,note\n")
    rows.foreach(r => body.append(s"${r.getInt(0)},${r.getString(1)}$note\n"))
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    java.nio.file.Files.write(p.resolve("latin1.csv"),
      body.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    s.read
      .schema("n_nationkey INT, note STRING")
      .option("header", "true").option("encoding", "ISO-8859-1")
      .csv(dir)
      .select(col("n_nationkey"), col("note"),
        length(col("note")).cast(LongType).as("n_chars"))
      .orderBy("n_nationkey")
  }

  val srcCsvCharsetSql: String =
    """SELECT n_nationkey, n_name || ' à Zürich é' AS note,
      |       CAST(length(n_name || ' à Zürich é') AS BIGINT) AS n_chars
      |FROM nation
      |ORDER BY n_nationkey""".stripMargin

  /** sink-data-vault — the Data Vault 2.0 load pattern: HUBs carry
    * only business keys + md5 hash keys, the LINK carries the
    * order→customer relationship, and the customer SATELLITE carries
    * attributes with an md5 HASHDIFF. The graded contract is the
    * vault's defining property: a delta load with changed attributes
    * (balance bumped for custkey % 100 = 0) inserts NEW satellite
    * rows for exactly the changed keys and touches nothing else —
    * hubs and links are insert-only and idempotent. This is the
    * warehouse-modeling alternative to SCD2 (sink-scd2): SCD2 mutates
    * a dimension in place with validity ranges; the vault never
    * updates anything, which is what makes petabyte loads append-only
    * and replayable. All structures round-trip through parquet. */
  val sinkDataVault: Q = (s, d) => {
    val dir = tmp("sink-data-vault", d)
    val cust = customer(s, d)
    val ords = orders(s, d)
    val hubCust = cust.select(
      md5(col("c_custkey").cast(StringType)).as("hk_customer"),
      col("c_custkey")).distinct()
    val hubOrder = ords.select(
      md5(col("o_orderkey").cast(StringType)).as("hk_order"),
      col("o_orderkey")).distinct()
    val link = ords.select(
      md5(concat_ws("|", col("o_orderkey"), col("o_custkey"))).as("hk_link"),
      md5(col("o_orderkey").cast(StringType)).as("hk_order"),
      md5(col("o_custkey").cast(StringType)).as("hk_customer")).distinct()
    def sat(src: DataFrame): DataFrame = src.select(
      md5(col("c_custkey").cast(StringType)).as("hk_customer"),
      md5(concat_ws("|", col("c_mktsegment"), dec2(col("c_acctbal"))))
        .as("hashdiff"),
      col("c_mktsegment"), dec2(col("c_acctbal")).as("acctbal"))
    val satV1 = sat(cust)
    hubCust.write.mode("overwrite").parquet(s"$dir/hub_customer")
    hubOrder.write.mode("overwrite").parquet(s"$dir/hub_order")
    link.write.mode("overwrite").parquet(s"$dir/link_order_customer")
    satV1.write.mode("overwrite").parquet(s"$dir/sat_customer")
    // delta batch: balances bump for custkey % 100 = 0; the vault load
    // inserts only rows whose (hk, hashdiff) is unseen
    val v2 = cust.withColumn("c_acctbal",
      when(col("c_custkey") % 100 === 0, col("c_acctbal") + 100.0)
        .otherwise(col("c_acctbal")))
    val satExisting = s.read.parquet(s"$dir/sat_customer")
    val newRows = sat(v2).join(satExisting.select("hk_customer", "hashdiff"),
      Seq("hk_customer", "hashdiff"), "left_anti")
    // stage the delta FIRST: appending into a directory the same plan
    // reads is an undefined read-own-writes race
    newRows.write.mode("overwrite").parquet(s"$dir/sat_delta")
    s.read.parquet(s"$dir/sat_delta")
      .write.mode("append").parquet(s"$dir/sat_customer")
    val satAll = s.read.parquet(s"$dir/sat_customer")
    val hubN = s.read.parquet(s"$dir/hub_customer").count()
    val hubON = s.read.parquet(s"$dir/hub_order").count()
    val linkDf = s.read.parquet(s"$dir/link_order_customer")
    val orphan = linkDf.join(s.read.parquet(s"$dir/hub_customer"),
      Seq("hk_customer"), "left_anti").count()
    satAll.groupBy("hk_customer").agg(count(lit(1)).as("versions"))
      .agg(count(lit(1)).as("n_sat_keys"),
        sum(when(col("versions") === 2, 1L).otherwise(0L)).as("n_changed"),
        max("versions").as("max_versions"))
      .select(lit(hubN).as("n_hub_customers"), lit(hubON).as("n_hub_orders"),
        col("n_sat_keys"), col("n_changed"), col("max_versions"),
        lit(orphan).as("orphan_links"))
  }

  val sinkDataVaultSql: String =
    """WITH chg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_changed
      |  FROM customer WHERE c_custkey % 100 = 0),
      |hubs AS (
      |  SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_hub_customers
      |  FROM customer),
      |hubo AS (
      |  SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_hub_orders
      |  FROM orders)
      |SELECT n_hub_customers, n_hub_orders,
      |       n_hub_customers AS n_sat_keys, n_changed,
      |       CAST(2 AS BIGINT) AS max_versions,
      |       CAST(0 AS BIGINT) AS orphan_links
      |FROM hubs CROSS JOIN hubo CROSS JOIN chg""".stripMargin

  /** ann-hnsw-layers — the HNSW layer-assignment model, measured:
    * every vector draws level = ⌊−ln(U)/ln(M)⌋ (M = 16) with U from
    * an engine-identical md5-derived uniform, and the census compares
    * measured per-level populations to the geometric expectation
    * n·M^−l·(1−1/M). This is the piece of HNSW that is pure data
    * engineering — the layer histogram determines memory (upper-layer
    * links are the resident working set) and the expected entry-point
    * hop count (≈ log_M n), and THAT is what you size before building
    * the graph (ann-knn-graph / ann-nndescent-round own the in-layer
    * wiring). Deterministic: the uniform is (h32+1)/2³². */
  val annHnswLayers: Q = (s, d) => {
    val m = 16.0
    val lev = embeddings(s, d).select(col("vec_id"))
      .withColumn("h32",
        expr("CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("u", (col("h32") + 1).cast(DoubleType) / lit(math.pow(2, 32)))
      .withColumn("level", floor(-log(col("u")) / lit(math.log(m))).cast(IntegerType))
    val tot = lev.agg(count(lit(1)).as("n"))
    lev.groupBy("level").agg(count(lit(1)).as("n_vectors"))
      .crossJoin(broadcast(tot))
      .select(col("level"), col("n_vectors"),
        round(col("n").cast(DoubleType) * pow(lit(1.0 / m), col("level")) *
          lit(1.0 - 1.0 / m), 2).as("expected_n"),
        round(log(m, col("n").cast(DoubleType)), 2).as("expected_entry_hops"))
      .orderBy("level")
  }

  val annHnswLayersSql: String =
    """WITH lev AS (
      |  SELECT floor(-ln((CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
      |                    AS DOUBLE) + 1) / pow(2, 32)) / ln(16)) AS level
      |  FROM embeddings),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lev)
      |SELECT CAST(level AS INT) AS level, CAST(count(*) AS BIGINT) AS n_vectors,
      |       round(CAST(n AS DOUBLE) * pow(1.0 / 16, level) * (1.0 - 1.0 / 16), 2)
      |         AS expected_n,
      |       round(ln(CAST(n AS DOUBLE)) / ln(16), 2) AS expected_entry_hops
      |FROM lev CROSS JOIN tot
      |GROUP BY level, n
      |ORDER BY level""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("src-csv-charset", srcCsvCharset, srcCsvCharsetSql),
    Key("sink-data-vault", sinkDataVault, sinkDataVaultSql),
    Key("ann-hnsw-layers", annHnswLayers, annHnswLayersSql))
}
