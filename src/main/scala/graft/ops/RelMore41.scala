package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-6 batch B: the optimizer-rule-exercising projection query and
  * the audit-log compaction job. */
object RelMore41 extends KeyModule {

  /** emb-plane-projection — sign-LSH plane projections written in the
    * DECLARATIVE higher-order-function form:
    *
    *   aggregate(zip_with(v, p, (x, y) -> x * y), 0D, (acc, z) -> acc + z)
    *
    * This is deliberately NOT a call to the native dot_product
    * expression: the plan relies on the injected
    * [[graft.functions.DotProductRewrite]] optimizer rule to swap the
    * interpreted per-element fold (~30× slower, measured in
    * CosineSimilarity's hot paths) for the whole-stage-codegen
    * DotProduct node — the spec asserts the rewritten expression is in
    * the optimized plan, making the rule a GRADED part of the engine
    * rather than a spec-only artifact. Work is |corpus| × 4 broadcast
    * plane rows, one linear scan; the per-plane histogram (sign counts +
    * integer-milli projection mass) is the LSH-plane health check run
    * before trusting sign buckets at 100 TB (a plane whose n_pos/n_neg
    * is lopsided splits nothing). Fold order is sequential per element,
    * bit-aligned with DuckDB's list_inner_product. */
  val embPlaneProjection: Q = (s, d) => {
    val all = embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val planes = s.range(4).select(col("id").as("plane_id"),
      expr("transform(sequence(0, 63), k -> CAST((id * 3 + k * 5) % 7 - 3 AS DOUBLE))").as("p"))
    all.crossJoin(broadcast(planes))
      .select(col("plane_id"), col("vec_id"),
        expr("aggregate(zip_with(v, p, (x, y) -> x * y), 0D, (acc, z) -> acc + z)").as("proj"))
      .groupBy("plane_id")
      .agg(sum(when(col("proj") > 0, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("proj") < 0, 1L).otherwise(0L)).as("n_neg"),
        sum(floor(col("proj") * lit(1000.0) + lit(0.5)).cast(LongType)).as("sum_proj_milli"))
      .orderBy("plane_id")
  }

  val embPlaneProjectionSql: String =
    """WITH planes AS (
      |  SELECT j AS plane_id,
      |         [CAST((j * 3 + k * 5) % 7 - 3 AS DOUBLE) FOR k IN range(0, 64)] AS p
      |  FROM (SELECT unnest(range(0, 4)) AS j)),
      |proj AS (
      |  SELECT pl.plane_id, e.vec_id,
      |         list_inner_product(e.embedding::DOUBLE[], pl.p) AS proj
      |  FROM embeddings e, planes pl)
      |SELECT plane_id,
      |       CAST(sum(CASE WHEN proj > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |       CAST(sum(CASE WHEN proj < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
      |       CAST(sum(CAST(floor(proj * 1000e0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_proj_milli
      |FROM proj GROUP BY plane_id ORDER BY plane_id""".stripMargin

  /** sink-audit-compact — the maintenance job for the append-only audit
    * run log. The reference's `audit.ingestion_run` UPDATEs rows in
    * place (02_create_tables_bronze.sql:110-124; status flips in
    * 03:35-37,59-61); parquet is append-only, so sink-audit-append
    * models each run as start + terminal EVENT rows and the "current
    * status" is a latest-wins view. An event-sourced log grows without
    * bound, though — the real operational answer is periodic
    * compaction: rewrite the log into a one-row-per-table current-state
    * snapshot (sink-cdc-apply's latest-seq-wins machinery, keyed on
    * table_name ordered by run/seq) and record how many events were
    * folded away. Three runs × three tables are appended exactly as
    * live runs would write them (a STARTED batch, then the terminal
    * batch; one run is left dangling in-flight), then compacted. The
    * snapshot keeps the latest run's state even when that is STARTED —
    * compaction must never resurrect an older terminal status. At
    * scale the window shuffles on table_name — audit-log cardinality,
    * thousands of keys, never fact-scale. */
  val sinkAuditCompact: Q = (s, d) => {
    val logDir = tmp("sink-audit-compact-log", d)
    val snapDir = tmp("sink-audit-compact-snap", d)
    val tables = Seq(("customer", 8L), ("lineitem", 8L), ("orders", 6L))
    def rows(r: Int, phase: String): DataFrame = {
      val evs = tables.flatMap { case (t, len) =>
        val dangling = t == "lineitem" && r == 3
        val ok = (r + len) % 3 != 0
        phase match {
          case "start" => Seq((t, r.toLong, 1L, "STARTED", Option.empty[Long]))
          case _ if dangling => Seq.empty
          case _ => Seq((t, r.toLong, 2L, if (ok) "SUCCESS" else "FAILED",
            if (ok) Some(r * 1000L + len) else None))
        }
      }
      import s.implicits._
      evs.toDF("table_name", "run_id", "seq", "status", "rows_inserted")
    }
    // each run appends its STARTED batch, does the work, then appends
    // the terminal batch — the exact write pattern of live runs
    rows(1, "start").write.mode(SaveMode.Overwrite).parquet(logDir)
    rows(1, "end").write.mode(SaveMode.Append).parquet(logDir)
    for (r <- 2 to 3) {
      rows(r, "start").write.mode(SaveMode.Append).parquet(logDir)
      rows(r, "end").write.mode(SaveMode.Append).parquet(logDir)
    }
    val w = Window.partitionBy("table_name").orderBy(desc("run_id"), desc("seq"))
    val snapshot = s.read.parquet(logDir)
      .withColumn("rn", row_number().over(w))
      .withColumn("n_events", count(lit(1)).over(Window.partitionBy("table_name")))
      .filter(col("rn") === 1)
      .select(col("table_name"), col("run_id").as("last_run"),
        col("status").as("final_status"), col("rows_inserted"),
        (col("n_events") - 1).as("n_events_compacted"))
    snapshot.write.mode(SaveMode.Overwrite).parquet(snapDir)
    s.read.parquet(snapDir).orderBy("table_name")
  }

  val sinkAuditCompactSql: String =
    """WITH tabs AS (
      |  SELECT * FROM (VALUES ('customer', 8), ('lineitem', 8), ('orders', 6)) t(table_name, len)),
      |runs AS (SELECT unnest(range(1, 4)) AS run_id),
      |log AS (
      |  SELECT table_name, run_id, 1 AS seq, 'STARTED' AS status,
      |         CAST(NULL AS BIGINT) AS rows_inserted
      |  FROM tabs, runs
      |  UNION ALL
      |  SELECT table_name, run_id, 2,
      |         CASE WHEN (run_id + len) % 3 <> 0 THEN 'SUCCESS' ELSE 'FAILED' END,
      |         CASE WHEN (run_id + len) % 3 <> 0 THEN run_id * 1000 + len END
      |  FROM tabs, runs
      |  WHERE NOT (table_name = 'lineitem' AND run_id = 3)),
      |ranked AS (
      |  SELECT table_name, run_id, status, rows_inserted,
      |         row_number() OVER (PARTITION BY table_name ORDER BY run_id DESC, seq DESC) AS rn,
      |         count(*) OVER (PARTITION BY table_name) AS n_events
      |  FROM log)
      |SELECT table_name, CAST(run_id AS BIGINT) AS last_run, status AS final_status,
      |       CAST(rows_inserted AS BIGINT) AS rows_inserted,
      |       CAST(n_events - 1 AS BIGINT) AS n_events_compacted
      |FROM ranked WHERE rn = 1 ORDER BY table_name""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("emb-plane-projection", embPlaneProjection, embPlaneProjectionSql),
    Key("sink-audit-compact", sinkAuditCompact, sinkAuditCompactSql))
}
