package graft.tools

import graft.GraftSession
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Measured read-side evidence for the Gold fact-write tuning
  * (rebalance + parquet column blooms on order_id): for K sampled
  * order ids, walk every row group of gold/fact_orders and count how
  * many a reader must scan — a group is SKIPPED when its footer bloom
  * says the key is definitely absent. Without the bloom the layout
  * (unsorted on order_id) forces a full-table scan for every point
  * lookup: zone-map min/max on a hash-ordered string key spans the
  * whole alphabet in every group. The probe also reports the file
  * size spread (rebalance evidence: the upstream join's skewed
  * post-shuffle partitions would otherwise write a multi-× size
  * spread) and verifies each probed key IS found by an actual
  * filtered read (bloom skipping must be result-invariant).
  *
  * Usage: runMain graft.tools.ScaleSkipProbe <warehouseDir> [nProbes]
  */
object ScaleSkipProbe {

  def main(args: Array[String]): Unit = {
    val warehouse = args.headOption.getOrElse(
      sys.error("usage: ScaleSkipProbe <warehouseDir> [nProbes]"))
    val nProbes = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    val factDir = s"$warehouse/gold/fact_orders"
    // deterministic probe keys: spread across the id space by md5 rank
    val probes = spark.read.parquet(factDir).select(col("order_id"))
      .orderBy(md5(col("order_id"))).limit(nProbes)
      .collect().map(_.getString(0))

    val conf = new Configuration()
    val parts = new java.io.File(factDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.nonEmpty, s"no parquet under $factDir")

    var totalGroups = 0L
    var groupsWithBloom = 0L
    var scanned = Map.empty[String, Long].withDefaultValue(0L)
    parts.foreach { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf))
      try {
        reader.getFooter.getBlocks.asScala.foreach { b =>
          totalGroups += 1
          val okCol = b.getColumns.asScala
            .find(_.getPath.toDotString == "order_id").get
          val bloom = reader.getBloomFilterDataReader(b).readBloomFilter(okCol)
          if (bloom != null) {
            groupsWithBloom += 1
            probes.foreach { id =>
              if (bloom.findHash(bloom.hash(Binary.fromString(id))))
                scanned = scanned.updated(id, scanned(id) + 1)
            }
          } else probes.foreach(id => scanned = scanned.updated(id, scanned(id) + 1))
        }
      } finally reader.close()
    }

    val sizes = parts.map(_.length())
    val perProbe = probes.map(scanned(_))
    val avgScanned = perProbe.sum.toDouble / probes.length
    println(f"[skipprobe] files=${parts.length} " +
      f"size_min=${sizes.min}%d size_max=${sizes.max}%d " +
      f"size_spread=${sizes.max.toDouble / math.max(1L, sizes.min)}%.2f")
    println(f"[skipprobe] row_groups=$totalGroups with_bloom=$groupsWithBloom " +
      f"probes=${probes.length} avg_groups_scanned=$avgScanned%.2f " +
      f"max_groups_scanned=${perProbe.max} " +
      f"skip_ratio=${1.0 - avgScanned / totalGroups}%.4f")

    // result-invariance: every probed key must be found by a real read
    val found = spark.read.parquet(factDir)
      .filter(col("order_id").isin(probes.toSeq: _*)).count()
    println(s"[skipprobe] probe_reads_found=$found expected=${probes.length} " +
      (if (found == probes.length) "PASS" else "FAIL"))
    spark.stop()
  }
}
