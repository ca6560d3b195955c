package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Scale-safe deterministic surrogate-key assignment — the distributed
  * re-expression of the reference's `INT IDENTITY(1,1)` + reseed
  * (`06_create_gold_tables.sql:55` etc., `07_etl_silver_to_gold.sql:198`).
  *
  * Semantics are identical to `row_number() OVER (ORDER BY keyCols)`:
  * dense keys 1..N in natural-key order, reproducible across reruns and
  * partitionings (the oracle twin stays the plain window SQL). The
  * physical plan is NOT a global window, which would funnel the whole
  * table through one partition (`WindowExec: No Partition Defined` —
  * a one-task straggler/OOM on any table that grows with the facts):
  * it is [[PrefixScan]]'s rank scan — range exchange on the key, local
  * sort, one row count per partition prefix-summed on the driver, and a
  * parallel stamp of offset + local position.
  *
  * The only global coordination is |partitions| longs; every stage is
  * bounded by a partition, so the pattern holds at 100 TB facts where
  * the global-window form dies. Keys must be non-null and unique (they
  * are natural/primary keys at every call site) for the order to be
  * total and the assignment partition-count-invariant.
  */
object SurrogateKeys {

  /** Append `skName` = position (1-based, Long unless `skType` says
    * otherwise) of each row under ORDER BY `keyCols`. The input is
    * cached across the scan's two passes under [[PrefixScan]]'s policy
    * (a caller-cached frame is left alone); at the fact call sites that
    * keeps the upstream joins from executing twice. */
  def withSk(df: DataFrame, skName: String, keyCols: Seq[String],
             skType: DataType = LongType): DataFrame = {
    val out = PrefixScan.withRank(df, keyCols.map(col), skName)
    if (skType == LongType) out else out.withColumn(skName, col(skName).cast(skType))
  }
}
