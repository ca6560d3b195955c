package graft.tools

import graft.GraftSession
import graft.olist.{Fixtures, Orchestrator, Gold}

/** Drives the full medallion pipeline end-to-end through the public
  * library surface: writes the sample Olist CSVs, runs CSV → bronze →
  * silver → gold → QA, prints the QA report and a peek at the star
  * schema. Usage: runMain graft.tools.OlistDemo [csvDir] [warehouseDir]
  * (defaults to fresh temp dirs with the bundled fixture data). */
object OlistDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()

    val csvDir = args.headOption.getOrElse {
      val d = java.nio.file.Files.createTempDirectory("olist-csv").toString
      Fixtures.writeAll(d)
      d
    }
    val warehouse = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("olist-wh").toString)

    val result = Orchestrator.runAll(spark, csvDir, warehouse)

    println(s"[demo] bronze rows: ${result.bronzeRows.toSeq.sortBy(_._1)}")
    println(s"[demo] silver rows: ${result.silverRows.toSeq.sortBy(_._1)}")
    println(s"[demo] gold rows:   ${result.goldRows.toSeq.sortBy(_._1)}")
    val qa = result.qa
    println(s"[demo] QA: volumetryDiff=(orders ${qa.ordersVolumetryDiff}, items ${qa.itemsVolumetryDiff}) " +
      s"orphans=${qa.orphanOrders} revenue=${qa.totalRevenue} " +
      s"range=${qa.minPurchaseDate}..${qa.maxPurchaseDate} " +
      s"undelivered=${qa.undeliveredOrders} impossible=${qa.impossibleDeliveries}")
    println(s"[demo] top categories: ${qa.topCategories}")
    Gold.table(spark, warehouse, "fact_orders").show(10, truncate = false)
    println("[demo] PASS — all QA invariants held")
    spark.stop()
  }
}
