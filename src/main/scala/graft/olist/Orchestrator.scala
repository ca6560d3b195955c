package graft.olist

import org.apache.spark.sql.SparkSession

/** End-to-end medallion pipeline: CSV → bronze → silver → gold → QA, the
  * Spark re-expression of running `03` + `etl.sp_master_orchestrator`
  * (`05_sp_master_orchestrator_silver.sql`) + `etl.sp_gold_orchestrator`
  * (`07_etl_silver_to_gold.sql:326-358`).
  *
  * Each layer runs its loads concurrently along the reference's
  * dependency edges (`Steps`), and layers are barriers: a layer starts
  * once every load of the one before has ended.
  *  - bronze: the 9 loads are independent;
  *  - silver: products after product_category_translation, the other 8
  *    independent;
  *  - gold: the dim_date guard first; the 4 dims independent;
  *    fact_orders after dim_customer; fact_order_items after
  *    fact_orders, dim_product and dim_seller; fact_reviews after
  *    fact_orders;
  *  - QA: the 15 checks are independent.
  *
  * Fail-fast contract (XACT_ABORT + THROW): a failed silver/gold load
  * aborts every load that depends on it (it neither runs nor leaves an
  * audit row), while independent loads run to the end and are audited,
  * so the audit trail is the same on every run. The layer then throws
  * its first failure in load-list order and no later layer starts.
  * Bronze file failures do NOT cascade (the reference's bulk loader
  * swallows them into the audit row, `03:65-72`).
  */
object Orchestrator {

  case class PipelineResult(
    bronzeRows: Map[String, Long],
    silverRows: Map[String, Long],
    goldRows: Map[String, Long],
    qa: Validate.QaReport)

  def runAll(spark: SparkSession, csvDir: String, warehouse: String,
             assertQa: Boolean = true): PipelineResult = {
    val audit = new Audit(spark, warehouse)
    val bronze = new Bronze(spark, warehouse, audit)
    val bronzeRows = bronze.loadAll(csvDir)
    val silverRows = Silver.run(spark, warehouse, bronze, audit)
    val goldRows = Gold.run(spark, warehouse, audit)
    val qa = Validate.run(spark, warehouse)
    if (assertQa) Validate.assertInvariants(qa)
    PipelineResult(bronzeRows, silverRows, goldRows, qa)
  }
}
