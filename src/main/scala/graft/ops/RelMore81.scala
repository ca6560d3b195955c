package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch S: changed-partition incremental export, clustering
  * NMI, schema-contract enforcement, geometric growth rate. */
object RelMore81 extends KeyModule {

  /** sink-changed-partition-export — incremental export by PARTITION
    * CHECKSUM: v1 and v2 snapshots land partitioned by year, each
    * partition carries an order-independent content checksum (sum of
    * per-row md5-nibble hashes — commutative, so it needs no sort and
    * distributes as a plain aggregate), and only partitions whose
    * checksum moved are re-exported — the nightly-sync pattern that
    * ships the CHANGED 2% instead of the full table. The mutation
    * (status → 'X' on every 101st key) touches some years and not
    * others; the graded table shows per-year checksums, the changed
    * flag, and that exported rows = partition rows exactly where
    * changed. Work scales with |changed data| + one checksum scan. */
  val sinkChangedPartitionExport: Q = (s, d) => {
    import org.apache.commons.io.FileUtils
    val dir = tmp("sink-changed-partition-export", d)
    FileUtils.deleteQuietly(new java.io.File(dir))
    val rowHash =
      "(instr('0123456789abcdef', substring(md5(concat(CAST(o_orderkey AS STRING), '|', o_orderstatus)), 1, 1)) - 1) * 16 + " +
        "(instr('0123456789abcdef', substring(md5(concat(CAST(o_orderkey AS STRING), '|', o_orderstatus)), 2, 1)) - 1)"
    val v1 = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      year(col("o_orderdate")).as("yr"))
    val v2 = v1.withColumn("o_orderstatus",
      when(col("o_orderkey") % 101 === 0, lit("X")).otherwise(col("o_orderstatus")))
    v1.write.partitionBy("yr").parquet(s"$dir/v1")
    v2.write.partitionBy("yr").parquet(s"$dir/v2")
    def sums(path: String, cName: String, nName: String): DataFrame =
      s.read.parquet(path)
        .groupBy("yr")
        .agg(sum(expr(rowHash)).as(cName), count(lit(1)).as(nName))
    val delta = sums(s"$dir/v1", "ck1", "n1").join(sums(s"$dir/v2", "ck2", "n2"), "yr")
      .withColumn("changed", col("ck1") =!= col("ck2"))
      .sharedCache()
    val changedYears = delta.filter(col("changed")).select("yr")
    // the export: only changed partitions are rewritten
    s.read.parquet(s"$dir/v2").join(broadcast(changedYears), "yr")
      .write.partitionBy("yr").parquet(s"$dir/export")
    val exported = s.read.parquet(s"$dir/export")
      .groupBy("yr").agg(count(lit(1)).as("n_exported"))
    delta.join(exported, Seq("yr"), "left")
      .na.fill(0L, Seq("n_exported"))
      .select(col("yr"), col("n1").as("n_rows"), col("ck1"), col("ck2"),
        col("changed"), col("n_exported"))
      .orderBy("yr")
  }

  val sinkChangedPartitionExportSql: String = {
    def ck(status: String): String =
      s"CAST(sum((strpos('0123456789abcdef', substring(md5(concat(CAST(o_orderkey AS VARCHAR), '|', $status)), 1, 1)) - 1) * 16 + " +
        s"(strpos('0123456789abcdef', substring(md5(concat(CAST(o_orderkey AS VARCHAR), '|', $status)), 2, 1)) - 1)) AS BIGINT)"
    s"""WITH v AS (
       |  SELECT o_orderkey, o_orderstatus,
       |         CASE WHEN o_orderkey % 101 = 0 THEN 'X' ELSE o_orderstatus END AS status2,
       |         year(o_orderdate) AS yr
       |  FROM orders),
       |delta AS (
       |  SELECT yr, count(*) AS n_rows,
       |         ${ck("o_orderstatus")} AS ck1,
       |         ${ck("status2")} AS ck2
       |  FROM v GROUP BY yr)
       |SELECT yr, n_rows, ck1, ck2,
       |       ck1 <> ck2 AS changed,
       |       CASE WHEN ck1 <> ck2 THEN n_rows ELSE 0 END AS n_exported
       |FROM delta
       |ORDER BY yr""".stripMargin
  }

  /** emb-cluster-nmi — normalized mutual information between a pinned
    * 4-way hyperplane clustering (sign of dims 1 and 2 — the
    * emb-plane-projection partitioning) and the ground-truth labels:
    * THE standard external clustering-quality score, NMI =
    * I(C;L)/√(H(C)·H(L)) ∈ [0,1]. Every probability is an exact
    * integer ratio from three map-side-combined censuses (cells,
    * cluster margins, label margins — shuffle is |C|·|L| cells, never
    * corpus size); each p·ln term is engine-identical, the final sum
    * carries the 6-dp contract. The agg-mutual-info machinery pointed
    * at the embedding table, normalized. */
  val embClusterNmi: Q = (s, d) => {
    val ev = embeddings(s, d).select(
      (when(expr("embedding[0]") >= 0, 2).otherwise(0) +
        when(expr("embedding[1]") >= 0, 1).otherwise(0)).as("c"),
      col("label").as("l")).sharedCache()
    val n = ev.agg(count(lit(1)).as("n"))
    val pc = ev.groupBy("c").agg(count(lit(1)).as("cc"))
    val pl = ev.groupBy("l").agg(count(lit(1)).as("cl"))
    val pcl = ev.groupBy("c", "l").agg(count(lit(1)).as("ccl"))
    val mi = pcl.join(broadcast(pc), "c").join(broadcast(pl), "l")
      .crossJoin(broadcast(n))
      .agg(max("n").as("n_vecs"), count(lit(1)).as("n_cells"),
        sum(col("ccl") / col("n") *
          log(col("ccl") * col("n") / (col("cc") * col("cl")))).as("mi"))
    val hc = pc.crossJoin(broadcast(n))
      .agg(sum(-col("cc") / col("n") * log(col("cc") / col("n"))).as("h_c"))
    val hl = pl.crossJoin(broadcast(n))
      .agg(sum(-col("cl") / col("n") * log(col("cl") / col("n"))).as("h_l"))
    mi.crossJoin(broadcast(hc)).crossJoin(broadcast(hl))
      .select(col("n_vecs"), col("n_cells"),
        round(col("mi"), 6).as("mi_nats"),
        round(col("h_c"), 6).as("h_cluster"), round(col("h_l"), 6).as("h_label"),
        round(col("mi") / sqrt(col("h_c") * col("h_l")), 6).as("nmi"))
  }

  val embClusterNmiSql: String =
    """WITH ev AS (
      |  SELECT (CASE WHEN embedding[1] >= 0 THEN 2 ELSE 0 END
      |          + CASE WHEN embedding[2] >= 0 THEN 1 ELSE 0 END) AS c,
      |         label AS l
      |  FROM embeddings),
      |n AS (SELECT count(*) AS n FROM ev),
      |pc AS (SELECT c, count(*) AS cc FROM ev GROUP BY c),
      |pl AS (SELECT l, count(*) AS cl FROM ev GROUP BY l),
      |pcl AS (SELECT c, l, count(*) AS ccl FROM ev GROUP BY c, l),
      |mi AS (
      |  SELECT max(n.n) AS n_vecs, count(*) AS n_cells,
      |         sum(CAST(ccl AS DOUBLE) / n.n *
      |             ln(CAST(ccl AS DOUBLE) * n.n / (CAST(cc AS DOUBLE) * cl))) AS mi
      |  FROM pcl JOIN pc USING (c) JOIN pl USING (l) CROSS JOIN n),
      |hc AS (SELECT sum(-CAST(cc AS DOUBLE) / n.n * ln(CAST(cc AS DOUBLE) / n.n)) AS h_c
      |       FROM pc CROSS JOIN n),
      |hl AS (SELECT sum(-CAST(cl AS DOUBLE) / n.n * ln(CAST(cl AS DOUBLE) / n.n)) AS h_l
      |       FROM pl CROSS JOIN n)
      |SELECT n_vecs, n_cells, round(mi, 6) AS mi_nats,
      |       round(h_c, 6) AS h_cluster, round(h_l, 6) AS h_label,
      |       round(mi / sqrt(h_c * h_l), 6) AS nmi
      |FROM mi CROSS JOIN hc CROSS JOIN hl""".stripMargin

  private val OrdersContract: Seq[(String, String)] = Seq(
    "o_orderkey" -> "bigint", "o_custkey" -> "bigint",
    "o_orderstatus" -> "string", "o_totalprice" -> "double",
    "o_orderdate" -> "date",   // fixture lands timestamp → type_mismatch
    "o_comment" -> "string")   // fixture never had it → missing

  /** dq-schema-contract-enforce — declared-schema enforcement at the
    * ingestion boundary: the consumer's CONTRACT (name → type list)
    * diffs against the actual parquet schema, classifying every
    * contract column ok / type_mismatch / missing and flagging actual
    * columns the contract doesn't know (extra) — the gate that turns
    * "the upstream changed a type" from a 3am incident into a failed
    * check. Pure metadata: the scan never reads data rows, so the
    * check is free at any scale. The contract pins two deliberate
    * violations against the stable fixture (timestamp≠date,
    * o_comment absent) so the classifier's three branches are all
    * exercised — mirrored literally in the oracle. */
  val dqSchemaContractEnforce: Q = (s, d) => {
    import s.implicits._
    // tz-naive vs tz-aware is a session/encoding detail, not a contract
    // violation class of its own: fold both to the 'timestamp' family so
    // the check is stable across fixture encodings (the Tables.events
    // drift lesson applied to metadata)
    val actual = orders(s, d).schema.fields
      .map(f => (f.name,
        f.dataType.simpleString.replace("timestamp_ntz", "timestamp"))).toSeq
    val actualDf = actual.toDF("col_name", "actual_type")
    val contractDf = OrdersContract.toDF("col_name", "expected_type")
    contractDf.join(actualDf, Seq("col_name"), "full_outer")
      .select(col("col_name"),
        coalesce(col("expected_type"), lit("-")).as("expected_type"),
        coalesce(col("actual_type"), lit("-")).as("actual_type"),
        when(col("expected_type").isNull, "extra")
          .when(col("actual_type").isNull, "missing")
          .when(col("expected_type") === col("actual_type"), "ok")
          .otherwise("type_mismatch").as("status"))
      .orderBy("col_name")
  }

  val dqSchemaContractEnforceSql: String =
    """SELECT * FROM (VALUES
      |  ('o_comment', 'string', '-', 'missing'),
      |  ('o_custkey', 'bigint', 'bigint', 'ok'),
      |  ('o_orderdate', 'date', 'timestamp', 'type_mismatch'),
      |  ('o_orderkey', 'bigint', 'bigint', 'ok'),
      |  ('o_orderpriority', '-', 'string', 'extra'),
      |  ('o_orderstatus', 'string', 'string', 'ok'),
      |  ('o_totalprice', 'double', 'double', 'ok'))
      |  t(col_name, expected_type, actual_type, status)
      |ORDER BY col_name""".stripMargin

  /** agg-geo-mean-rate — compound daily growth of event volume: the
    * geometric mean of day-over-day ratios, i.e. the CAGR-style
    * "what constant daily multiplier explains the month". The product
    * of ratios TELESCOPES to (y_last/y_first)^(1/(k−1)) — computed in
    * that closed form (two exact integers, one pow) — while min/max
    * single-day growth come from the lag window over the date-bounded
    * daily frame. The telescoping is the point at scale: no float
    * product fold, no per-day log sum — two boundary values regardless
    * of series length. */
  val aggGeoMeanRate: Q = (s, d) => {
    val daily = events(s, d)
      .groupBy(to_date(col("ts")).as("dt"))
      .agg(count(lit(1)).as("y"))
      .sharedCache()
    val w = Window.orderBy("dt")
    val growth = daily.withColumn("y_prev", lag("y", 1).over(w))
      .filter(col("y_prev").isNotNull)
      .withColumn("g", col("y").cast(DoubleType) / col("y_prev"))
    // min_by/max_by, never orderBy+first: sorting before an aggregate
    // does not survive distributed partial aggregation
    val bounds = daily.agg(count(lit(1)).as("n_days"),
      expr("min_by(y, dt)").as("y_first"), expr("max_by(y, dt)").as("y_last"))
    growth.agg(round(min("g"), 6).as("g_min"), round(max("g"), 6).as("g_max"))
      .crossJoin(broadcast(bounds))
      .select(col("n_days"), col("y_first"), col("y_last"), col("g_min"), col("g_max"),
        round(pow(col("y_last").cast(DoubleType) / col("y_first"),
          lit(1.0) / (col("n_days") - 1)), 6).as("geo_mean_growth"))
  }

  val aggGeoMeanRateSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS dt, count(*) AS y
      |  FROM events GROUP BY 1),
      |growth AS (
      |  SELECT CAST(y AS DOUBLE) / lag(y) OVER (ORDER BY dt) AS g FROM daily),
      |bounds AS (
      |  SELECT count(*) AS n_days,
      |         arg_min(y, dt) AS y_first, arg_max(y, dt) AS y_last
      |  FROM daily)
      |SELECT n_days, y_first, y_last,
      |       round(min(g), 6) AS g_min, round(max(g), 6) AS g_max,
      |       round(pow(CAST(y_last AS DOUBLE) / y_first, 1.0 / (n_days - 1)), 6) AS geo_mean_growth
      |FROM growth CROSS JOIN bounds
      |WHERE g IS NOT NULL
      |GROUP BY n_days, y_first, y_last""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sink-changed-partition-export", sinkChangedPartitionExport, sinkChangedPartitionExportSql),
    Key("emb-cluster-nmi", embClusterNmi, embClusterNmiSql),
    Key("dq-schema-contract-enforce", dqSchemaContractEnforce, dqSchemaContractEnforceSql),
    Key("agg-geo-mean-rate", aggGeoMeanRate, aggGeoMeanRateSql))
}
