package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.reflect.ClassTag

/** Scale-safe ordered scans — global rank, running sums, running max,
  * neighbor and last-non-null stamps under a total order, and the
  * surrogate keys of [[SurrogateKeys]] — all through one two-pass scan.
  *
  * Semantics are bit-identical to the unpartitioned window each scan
  * replaces (`row_number()`, `sum`, `max`, `lag`, `lead` or
  * `last(c, ignoreNulls)` `OVER (ORDER BY ...)`) — the oracle twins stay
  * plain window SQL — but the physical plan has NO single-partition
  * window (`WindowExec: No Partition Defined`), which at fact/customer
  * cardinality funnels the whole frame through one task. Instead
  * [[scan]] runs:
  *
  *  1. `repartitionByRange` on the order expressions — partition i
  *     holds a contiguous slice of the global order (the same range
  *     exchange a global sort needs anyway);
  *  2. `sortWithinPartitions` — partition order ∘ local order is the
  *     global ORDER BY order;
  *  3. a summary job collects ONE small summary per partition (the only
  *     global coordination), which the driver folds into one seed per
  *     partition;
  *  4. a stamping pass appends each row's columns from its partition's
  *     seed and the rows before it, fully in parallel.
  *
  * The order must be TOTAL (unique tiebreak columns at every call
  * site) so the re-sort between the two passes reproduces the same
  * order. The input is persisted across the two passes (the summary
  * job materializes the range shuffle; the stamping job reuses the
  * shuffle files and re-runs only the post-shuffle partition sort). A
  * frame the caller already cached is left alone, so ops that scan one
  * input several times (e.g. three ntile axes) keep one
  * materialization.
  *
  * Value columns of the sum and max scans must be LongType (cast at the
  * call site); null values count as 0 toward a running sum and never
  * update a running max.
  */
object PrefixScan {

  /** A range-partitioned, locally sorted frame and one summary per
    * partition. With a single partition the summary job waits until
    * `summaries` is read: the lone partition's seed folds no summary, so
    * a scan whose totals nobody reads runs no summary job there (as
    * `zipWithIndex` runs no count job on one partition). */
  private final class Sorted[S](val schema: StructType, val rows: RDD[Row], job: () => Array[S]) {
    lazy val summaries: Array[S] = job()
  }

  private def sorted[S: ClassTag](df: DataFrame, order: Seq[Column],
                                  summarize: Iterator[Row] => S): Sorted[S] = {
    val spark = df.sparkSession
    val parts = math.max(1,
      spark.conf.getOption("spark.sql.shuffle.partitions").flatMap(_.toIntOption)
        .getOrElse(spark.sparkContext.defaultParallelism))
    val callerCached = df.storageLevel != StorageLevel.NONE
    val input = if (callerCached) df else df.persist()
    val ordered = input
      .repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
    val rows = ordered.rdd
    val out = new Sorted(ordered.schema, rows, () => spark.sparkContext.runJob(rows, summarize))
    // the summary job materializes the range shuffle and later jobs reuse
    // its files (map stage skipped), so the input cache is done with here
    if (rows.getNumPartitions > 1) out.summaries
    if (!callerCached) input.unpersist(blocking = false)
    out
  }

  /** Run `summarize` once per partition of `df` range-partitioned and
    * locally sorted on the total order `order`; the summaries come back
    * in partition-id order, i.e. in the global order. For callers that
    * fold the partitions on the driver instead of stamping rows. */
  def summaries[S: ClassTag](df: DataFrame, order: Seq[Column])(
      summarize: Iterator[Row] => S): Array[S] =
    sorted(df, order, summarize).summaries

  /** The ordered scan: [[sorted]], then the driver folds the summaries
    * with `step` into one seed per partition — from `zero` over the
    * partitions before it, or after it when `backward` — and `stamp`
    * pairs each row of a partition with its `added` values, given the
    * partition's seed. A seed never folds its own partition's summary. */
  private def scan[S: ClassTag, T](df: DataFrame, order: Seq[Column], added: Seq[StructField])(
      summarize: Iterator[Row] => S, zero: T)(step: (T, S) => T, backward: Boolean = false)(
      stamp: (T, Iterator[Row]) => Iterator[(Row, Seq[Any])]): (DataFrame, Sorted[S]) = {
    val s = sorted(df, order, summarize)
    val seeds: IndexedSeq[T] =
      if (s.rows.getNumPartitions <= 1) IndexedSeq(zero)
      else if (backward) s.summaries.toIndexedSeq.drop(1).scanRight(zero)((x, t) => step(t, x))
      else s.summaries.toIndexedSeq.scanLeft(zero)(step)
    val stamped = s.rows.mapPartitionsWithIndex { (pid, it) =>
      stamp(seeds(pid), it).map { case (row, values) => Row.fromSeq(row.toSeq ++ values) }
    }
    (df.sparkSession.createDataFrame(stamped, StructType(s.schema.fields ++ added)), s)
  }

  /** Result of [[withRankCumSums]] and [[withRankCumSum]]: the stamped
    * frame plus the grand totals the summary job produced for free
    * (callers that need `count(*) OVER ()` / `sum(v) OVER ()` use these
    * as literals instead of a second global window): the row count and
    * the total of each value column, in `valueCols` order. */
  final case class Scanned(df: DataFrame, n: Long, totals: Seq[Long]) {
    /** The first value column's total (0 without one). */
    def total: Long = totals.headOption.getOrElse(0L)
  }

  /** Append `rankName` (1-based Long position under ORDER BY `order`)
    * and, when `valueCol` is set, `cumName` (inclusive running Long sum
    * of `valueCol` in that order): [[withRankCumSums]] with at most one
    * value column. Runs one eager summary job at call time. */
  def withRankCumSum(df: DataFrame, order: Seq[Column],
                     valueCol: Option[String],
                     rankName: String = "rn",
                     cumName: String = "cum"): Scanned =
    withRankCumSums(df, order, valueCol.toSeq, rankName, valueCol.map(_ => cumName).toSeq)

  /** One rank column plus an inclusive running Long sum per entry of
    * `valueCols` — `row_number() OVER (ORDER BY ...)` and
    * `sum(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)` — all from
    * one scan whose summary is (count, sum per value column) per
    * partition. Use several value columns when an op needs several
    * running sums on the same total order — e.g. per-class cumulative
    * counts for midranks. */
  def withRankCumSums(df: DataFrame, order: Seq[Column], valueCols: Seq[String],
                      rankName: String, cumNames: Seq[String]): Scanned = {
    val (out, s) = rankScan(df, order, valueCols, rankName, cumNames)
    val grand = s.summaries.foldLeft(new Array[Long](1 + valueCols.length))(plus)
    Scanned(out, grand(0), grand.toSeq.tail)
  }

  /** `withRankCumSum(df, order, None, rankName).df` minus its totals, so
    * on one partition no summary job runs: [[SurrogateKeys.withSk]]. */
  private[functions] def withRank(df: DataFrame, order: Seq[Column], rankName: String): DataFrame =
    rankScan(df, order, Nil, rankName, Nil)._1

  private def plus(a: Array[Long], b: Array[Long]): Array[Long] = a.zip(b).map { case (x, y) => x + y }

  /** Seeds and summaries are `[count, sum of each value column]`. */
  private def rankScan(df: DataFrame, order: Seq[Column], valueCols: Seq[String],
                       rankName: String, cumNames: Seq[String]): (DataFrame, Sorted[Array[Long]]) = {
    require(valueCols.length == cumNames.length, "one cum name per value column")
    val vIdx = valueCols.map(df.schema.fieldIndex).toArray
    val k = vIdx.length
    val add: (Array[Long], Row) => Unit = (acc, r) => {
      acc(0) += 1
      var j = 0
      while (j < k) { if (!r.isNullAt(vIdx(j))) acc(j + 1) += r.getLong(vIdx(j)); j += 1 }
    }
    val added = (rankName +: cumNames).map(StructField(_, LongType, nullable = false))
    scan(df, order, added)(
      summarize = it => { val acc = new Array[Long](1 + k); it.foreach(add(acc, _)); acc },
      zero = new Array[Long](1 + k))(step = plus) { (seed, it) =>
      val run = seed.clone()
      it.map { row => add(run, row); (row, run.toSeq) }
    }
  }

  /** Result of [[withRunningMax]]: stamped frame, grand row count, and
    * the grand max (None when every value was null). */
  final case class ScannedMax(df: DataFrame, n: Long, grandMax: Option[Long])

  /** Running MAX under a total order — `max(v) OVER (ORDER BY ...)`
    * (inclusive) or `max(v) OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED
    * PRECEDING AND 1 PRECEDING)` (exclusive — the record-high /
    * prior-peak frame). The summary is (count, max) per partition and a
    * partition's seed is the max of all partitions before it. Max is
    * associative and order-insensitive within the prefix, so the result
    * is bit-identical to the single-partition WindowExec form at any
    * partition count. `maxName` is nullable: exclusive scans have no
    * prior for the global first row (and an all-null prefix has no
    * max). Ports win-drawdown / win-ulcer-index / win-record-highs off
    * the unpartitioned-window allowlist (r10 verdict item 7). */
  def withRunningMax(df: DataFrame, order: Seq[Column], valueCol: String,
                     maxName: String = "runmax",
                     inclusive: Boolean = true): ScannedMax = {
    val v = df.schema.fieldIndex(valueCol)
    val value: Row => Option[Long] = r => if (r.isNullAt(v)) None else Some(r.getLong(v))
    val maxOf: (Option[Long], Option[Long]) => Option[Long] = (a, b) =>
      b.fold(a)(x => Some(a.fold(x)(math.max(_, x))))
    val (out, s) = scan(df, order, Seq(StructField(maxName, LongType, nullable = true)))(
      summarize = it => it.foldLeft((0L, Option.empty[Long])) { case ((n, m), r) => (n + 1, maxOf(m, value(r))) },
      zero = Option.empty[Long])(step = (m, nm) => maxOf(m, nm._2)) { (seed, it) =>
      var run = seed
      it.map { row =>
        val prior = run
        run = maxOf(run, value(row))
        (row, Seq((if (inclusive) run else prior).map(Long.box).orNull))
      }
    }
    ScannedMax(out, s.summaries.map(_._1).sum, s.summaries.map(_._2).foldLeft(Option.empty[Long])(maxOf))
  }

  /** Boundary-stitched neighbor stamp — the scale-safe replacement for
    * `lag(c, 1) OVER (ORDER BY ...)` / `lead(c, 1) OVER (ORDER BY ...)`
    * with NO partition clause, which Spark executes as a full sort into
    * one task. The summary is each partition's FIRST and LAST values of
    * the tracked columns, so the stamping pass fills every partition's
    * edge row from the nearest non-empty neighbor partition's edge value
    * and all interior rows from the adjacent local row. The global first
    * (lag) / last (lead) row gets null, exactly like the window builtin
    * with no default. Stamped columns are named `<col><suffix>` and keep
    * the source type. */
  def withNeighbor(df: DataFrame, order: Seq[Column], cols: Seq[String],
                   lead: Boolean = false, suffix: String = "_adj"): DataFrame = {
    val idxs = cols.map(df.schema.fieldIndex)
    val tracked: Row => Seq[Any] = r => idxs.map(r.get)
    val added = cols.map(c => StructField(c + suffix, df.schema(c).dataType, nullable = true))
    scan(df, order, added)(
      summarize = it => if (!it.hasNext) None else {
        val first = it.next()
        var last = first
        while (it.hasNext) last = it.next()
        Some((tracked(first), tracked(last)))
      },
      zero = (cols.map(_ => null): Seq[Any]))(
      step = (carry, edges) => edges.fold(carry) { case (first, last) => if (lead) first else last },
      backward = lead) { (boundary, it) =>
      if (!lead) {
        var prev = boundary
        it.map { row => val out = (row, prev); prev = tracked(row); out }
      } else {
        val rows = it.buffered
        rows.map(row => (row, if (rows.hasNext) tracked(rows.head) else boundary))
      }
    }._1
  }

  /** Boundary-stitched EXCLUSIVE last-non-null carry — the scale-safe
    * replacement for
    * `last(c, ignoreNulls=true) OVER (ORDER BY ... ROWS BETWEEN
    * UNBOUNDED PRECEDING AND 1 PRECEDING)` with NO partition clause
    * (single-task WindowExec at corpus cardinality). The symmetric
    * `first(c, ignoreNulls=true) OVER (ROWS BETWEEN 1 FOLLOWING AND
    * UNBOUNDED FOLLOWING)` is this same scan under the REVERSED total
    * order — pass `order.map(_.desc)`-style reversed columns.
    *
    * The summary is each partition's LAST non-null value per tracked
    * column, carried across partitions per column independently; each
    * row gets the carry of the rows before it. The global first rows
    * (no preceding non-null) get null, exactly like the window builtin.
    * Stamped columns are `<col><suffix>`, source type kept. */
  def withLastNonNull(df: DataFrame, order: Seq[Column], cols: Seq[String],
                      suffix: String = "_carry"): DataFrame = {
    val idxs = cols.map(df.schema.fieldIndex).toArray
    val carry: (Array[Any], Row) => Unit = (acc, r) => {
      var i = 0
      while (i < idxs.length) { if (!r.isNullAt(idxs(i))) acc(i) = r.get(idxs(i)); i += 1 }
    }
    val added = cols.map(c => StructField(c + suffix, df.schema(c).dataType, nullable = true))
    scan(df, order, added)(
      summarize = it => { val acc = new Array[Any](idxs.length); it.foreach(carry(acc, _)); acc },
      zero = new Array[Any](idxs.length))(
      step = (run, last) => run.zip(last).map { case (r, l) => if (l != null) l else r }) { (seed, it) =>
      val run = seed.clone()
      it.map { row => val out = (row, run.toSeq); carry(run, row); out }
    }._1
  }

  /** Result of [[ntileSpans]]: the span table plus the grand row count. */
  final case class Spans(df: DataFrame, n: Long)

  /** ntile(k) bucket assignment WITHOUT a row-level rank, for ops whose
    * per-bucket statistics depend only on a value histogram: rows that
    * share the leading order value are interchangeable, so collapse to
    * the per-value histogram FIRST (caller does this — map-side
    * combine, |domain| rows out), then split each value's contiguous
    * rank interval across the ntile bucket boundaries it crosses. The
    * output has every histogram column plus `fileName` (1-based bucket,
    * Long) and `rowsName` (rows of that value in that bucket, Long) —
    * ≤ |domain| + k − 1 rows total. Per-bucket min/max/count over the
    * value column aggregate from it exactly as from a row-level
    * ntile with any tiebreak WITHIN the value. The histogram pass is a
    * PrefixScan two-pass, so there is no single-partition sort at any
    * cardinality. */
  def ntileSpans(hist: DataFrame, order: Seq[Column], countCol: String, k: Long,
                 fileName: String = "f", rowsName: String = "rows_f"): Spans = {
    val sc = withRankCumSum(hist, order, Some(countCol),
      rankName = "__vrk", cumName = "__cum")
    val n = sc.total
    val q = n / k; val rem = n % k; val cut = rem * (q + 1)
    def fileOf(r: Column): Column =
      if (q == 0L) r
      else if (rem == 0L) floor((r - 1) / q) + 1
      else when(r <= cut, floor((r - 1) / (q + 1)) + 1)
        .otherwise(lit(rem) + floor((r - 1 - cut) / q) + 1)
    def firstRank(f: Column): Column =
      if (q == 0L) f
      else if (rem == 0L) (f - 1) * q + 1
      else when(f <= rem, (f - 1) * (q + 1) + 1)
        .otherwise(lit(cut) + (f - lit(rem) - 1) * q + 1)
    def lastRank(f: Column): Column =
      if (q == 0L) f
      else if (rem == 0L) f * q
      else when(f <= rem, f * (q + 1)).otherwise(lit(cut) + (f - rem) * q)
    val out = sc.df
      .withColumn("__rs", col("__cum") - col(countCol) + 1)
      .withColumn("__re", col("__cum"))
      .withColumn(fileName, explode(sequence(
        fileOf(col("__rs")).cast(LongType), fileOf(col("__re")).cast(LongType))))
      .withColumn(rowsName,
        least(col("__re"), lastRank(col(fileName))) -
          greatest(col("__rs"), firstRank(col(fileName))) + 1)
      .drop("__vrk", "__cum", "__rs", "__re")
    Spans(out, n)
  }

  /** `ntile(k) OVER (ORDER BY ...)` reconstructed from a [[withRankCumSum]]
    * rank and the total row count — the SQL-standard bucket split (first
    * `n % k` buckets hold `n/k + 1` rows, the rest `n/k`), matching
    * Spark's and DuckDB's ntile exactly. Integer arithmetic via floor of
    * a Long/Long division — exact while ranks stay below 2^53, i.e. for
    * any realizable row count. */
  def ntileFromRank(k: Long, n: Long, rank: Column): Column = {
    val q = n / k; val rem = n % k; val cut = rem * (q + 1)
    val bucket =
      if (q == 0L) rank // n < k: one row per bucket, bucket = rank
      else if (rem == 0L) floor((rank - 1) / q) + 1
      else when(rank <= cut, floor((rank - 1) / (q + 1)) + 1)
        .otherwise(lit(rem) + floor((rank - 1 - cut) / q) + 1)
    bucket.cast(IntegerType)
  }
}
