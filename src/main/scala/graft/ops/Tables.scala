package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers + shared helpers for the driver's synthetic testdata tables
  * (see /root/repo/TESTDATA.md). All queries in graft.ops read through
  * here so schema expectations live in one place.
  *
  * Determinism conventions (load-bearing for the DuckDB-oracle compare):
  *  - Aggregated numerics are cast to explicit DecimalType BEFORE the
  *    aggregation (decimal addition is exact and order-independent;
  *    double sums are not associative across partitions).
  *  - No TimestampType column ever reaches a query output: events.ts is
  *    nanosecond-precision parquet, which Spark truncates to micros but
  *    DuckDB keeps at nanos — outputs use DateType or formatted strings.
  *  - Every query ends in a total ORDER BY (unique tiebreak included),
  *    mirrored in the oracle SQL.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  /** events.ts parquet encoding has drifted between fixture generations:
    * INT64 TIMESTAMP(NANOS) (which Spark 4 rejects outright,
    * PARQUET_TYPE_ILLEGAL, hence the nanosAsLong legacy conf + manual
    * conversion) vs plain timestamp[us] (which reads natively). Dispatch
    * on the dtype Spark actually inferred so either encoding yields the
    * same microsecond TimestampType frame — hard-coding one encoding cost
    * us 55 queries when the fixture was regenerated. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(t(s, d, "events"))
  }

  /** Batch-read events with `ts` normalized to a LONG OF EPOCH NANOS
    * regardless of parquet encoding. The staged-stream ops re-stage
    * events through scratch parquet with a LongType `ts` and convert it
    * back through normalizeEventTs — nanos-long is the representation
    * all of that arithmetic (including the sentinel offsets in nanos)
    * assumes, so normalize here once instead of per-op. micros→nanos
    * (×1000) cannot overflow Long for any timestamp this side of year
    * 2262. */
  def eventsTsNanos(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType            => raw
      case TimestampType       => raw.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case _: TimestampNTZType =>
        raw.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other => throw new IllegalStateException(
        s"events.ts has unaudited parquet encoding $other")
    }
  }

  /** Normalize an events-shaped frame so column `c` is microsecond
    * TimestampType regardless of the parquet encoding it arrived in.
    * LongType = legacy nanos-as-long; NTZ = timestamp[us] without tz
    * (instant-identical under the UTC session timezone every entrypoint
    * sets); TimestampType passes through. Anything else is an encoding
    * we have not audited — fail loudly rather than compute garbage. */
  def normalizeEventTs(df: DataFrame, c: String = "ts"): DataFrame =
    df.schema(c).dataType match {
      case LongType =>
        // floor division, not `div` (truncate-toward-zero): DuckDB's
        // date_trunc('microseconds') floors, and the two disagree by 1µs
        // on pre-epoch timestamps with sub-µs nanos
        df.withColumn(c, expr(s"timestamp_micros(($c - pmod($c, 1000)) div 1000)"))
      case _: TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
      case TimestampType       => df
      case other => throw new IllegalStateException(
        s"events.$c has unaudited parquet encoding $other; expected " +
          "int64-nanos (LongType via nanosAsLong), timestamp[us] NTZ, or timestamp")
    }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Money-style exact decimal: double -> DECIMAL(18,2). Double→decimal
    * rounding is deterministic across engines (no double is exactly .xx5
    * in binary, so half-way rounding-mode differences cannot bite). */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Rate-style exact decimal (discount/tax): double -> DECIMAL(18,4). */
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Final-output cast for aggregated decimals: back to double. The
    * aggregation itself runs in decimal (exact, order-independent); the
    * one terminal decimal→double conversion is correctly rounded in both
    * Spark (BigDecimal.doubleValue) and DuckDB, so the bits match — and
    * the output schema stays decimal-free, which keeps the oracle compare
    * away from engine-specific decimal width/scale conventions. */
  def outNum(c: Column): Column = c.cast(DoubleType)

  /** Exact-ratio output quantizer: floor(n·10^k / d) / 10^k. For ratios
    * of exact integers, round() is a latent cross-engine tie bomb —
    * e.g. 3/640 = 0.0046875 is a perfect half-tie at 6 dp, where Spark
    * rounds the shortest decimal repr HALF_UP and DuckDB scales the
    * binary double (can differ). floor has no ties: both engines run
    * the identical IEEE multiply/divide and truncate the identical
    * double, at ANY data. Use for count/count-style outputs; round()
    * stays fine for continuous values (non-terminating expansions). */
  def ratioFloor(n: Column, d: Column, k: Int): Column = {
    val s = math.pow(10, k)
    floor(n.cast(DoubleType) * lit(s) / d) / lit(s)
  }

  /** The oracle-SQL twin of [[ratioFloor]] — keep textually in sync. */
  def ratioFloorSql(n: String, d: String, k: Int): String = {
    val s = s"1e$k"
    s"floor(CAST($n AS DOUBLE) * $s / $d) / $s"
  }

  type Q = (SparkSession, String) => DataFrame

  /** Cache a frame whose LAST consumer is the plan this op RETURNS.
    *
    * Query builders are lazy: the persisted frame is materialized (and
    * its cache reused by every diamond branch) only when the CALLER
    * runs an action on the returned DataFrame — so a paired unpersist
    * cannot live inside the builder; it would unmark the cache before
    * anything populated it. Ownership therefore passes to the session:
    * the caller releases the entry (Verify and Bench clearCache()
    * after every query), and LRU eviction bounds worst-case growth.
    * Use `.persist()` directly ONLY with a paired `.unpersist()` after
    * the last in-builder consumer (the iterative-loop discipline of
    * RelMore15 k-core / TextDedup dedup-cluster / PrefixScan). */
  implicit class SharedCacheOps(private val df: DataFrame) {
    def sharedCache(): DataFrame = df.persist()
  }

  /** Scope a shuffle-partition count to one query build+execution and
    * restore the session value in a finally. Deep iterative plans
    * (pagerank, BFS, k-core: 5-40 chained join+agg stages) pay
    * per-stage task-scheduling and codegen overhead PROPORTIONAL to
    * the partition count, while AQE's reducer-side coalescing cannot
    * shrink the map-side task count — so iterative ops size the
    * partition count to their per-iteration shuffle volume instead of
    * inheriting the session default. At 100 TB the same dial turns the
    * other way: |E|/target-partition-bytes partitions, set here, not
    * globally. Safe under the sequential Verify/Bench execution model
    * (one query builds+runs at a time on the session).
    *
    * The partition count is read from the session conf at PHYSICAL
    * PLANNING time, not at DataFrame construction — a lazy plan built
    * in this scope but executed after it inherits the restored value.
    * Callers must therefore run the actions they want resized INSIDE
    * the scope (streaming: run the query to completion; batch iterative
    * ops: sharedCache + count the loop output, return the cached frame). */
  def withShufflePartitions[T](s: SparkSession, n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, n.toString)
    try f finally s.conf.set(key, old)
  }

  /** Scoped session-conf override for ops that exercise a specific
    * runtime behavior (AQE skew split, runtime broadcast, coalesce).
    * CAUTION: most runtime confs are read at EXECUTION, not at
    * DataFrame construction — an op returning a lazy frame from this
    * scope would execute under the RESTORED confs. Callers must
    * materialize inside the scope (the results here are report-sized,
    * so `localCheckpoint()` before returning).
    *
    * CAUTION (concurrency): this mutates the SHARED session runtime
    * conf with no guard — the engine's contract is one query builds
    * and runs at a time per session (Verify/Bench/QTime are all
    * sequential; ScalaTest suites here do not enable parallel
    * execution). A future parallel runner must give each worker its
    * own `spark.newSession()` (child session: shared catalog+cache,
    * isolated runtime conf) instead of sharing one session through
    * this scope, or concurrent queries would silently run under —
    * or race the restore of — another op's overrides. */
  def withConfs[T](s: SparkSession, kv: (String, String)*)(f: => T): T = {
    val olds = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Scratch dir for sink round trips, namespaced by op name, dataset
    * dir AND the JVM pid — two interleaved runs must never share a
    * path, whether at different scale factors (a Bench at sf0.1
    * overwriting a Verify's sf0.01 staging mid-query) or at the SAME
    * one (two same-sf JVMs deleting each other's live sink/checkpoint
    * dirs). Scratch is process-private by construction, and the first
    * call registers `scratchHook`, which removes it at JVM exit. */
  def tmp(name: String, d: String): String = {
    scratchHook
    s"$scratchRoot/$name-${d.replaceAll("[^A-Za-z0-9]", "_")}"
  }

  /** This JVM's scratch root under `/tmp/graft-ops`. */
  private[ops] val scratchRoot = new java.io.File(s"/tmp/graft-ops/p${ProcessHandle.current().pid()}")

  /** Deletes `scratchRoot`, and only it, at JVM exit; registered once. */
  private[ops] lazy val scratchHook: Thread = {
    val hook = new Thread(() => org.apache.commons.io.FileUtils.deleteQuietly(scratchRoot), "graft-ops-scratch")
    Runtime.getRuntime.addShutdownHook(hook)
    hook
  }

  /** Per-process parquet fixture with atomic publish — the ONE place
    * the stored-base pattern lives (r14: extracted from the twin
    * copies in TextDedup.minhashSigStored and RelMore168.
    * knnExactStored after the r13 advisor found both latent races).
    * Contract:
    *  - precheck: an existing, readable, non-empty `dir` is served
    *    as-is (path-missing / unreadable-parquet fall through to a
    *    rebuild; fatal Throwables propagate);
    *  - build: `build(tmpDir)` writes into a sibling staging dir whose
    *    name carries a per-ATTEMPT nanoTime suffix, so two in-process
    *    builders racing (queries() is documented sequential, but the
    *    store must not rely on that) can never interleave writes into
    *    a shared staging path and ATOMIC_MOVE a half-written dir live;
    *  - publish: ATOMIC_MOVE staging → dir. If the move fails because
    *    a concurrent builder already published (dir exists), the loser
    *    deletes its own staging and reads the winner. If the move
    *    fails and `dir` does NOT exist (e.g. the filesystem refuses
    *    atomic rename), this is NOT a lost race — fail loudly with the
    *    store named instead of falling through to an opaque
    *    read-of-missing-path AnalysisException. */
  def storedOnce(s: SparkSession, dir: String)(build: String => Unit): DataFrame = {
    val stored =
      if (!new java.io.File(dir).exists()) None
      else try { val x = s.read.parquet(dir); if (x.isEmpty) None else Some(x) }
      catch {
        case _: org.apache.spark.sql.AnalysisException => None
        case _: java.io.IOException => None
      }
    stored.getOrElse {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val tmpDir = dir + ".building-" + java.lang.Long.toHexString(System.nanoTime())
      build(tmpDir)
      try Files.move(Paths.get(tmpDir), Paths.get(dir), StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.nio.file.FileSystemException =>
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpDir))
          if (!new java.io.File(dir).exists())
            throw new IllegalStateException(
              s"storedOnce: publish of $dir failed and no concurrent builder " +
                s"published it either — refusing to read a path that was never " +
                s"written (${e.getClass.getSimpleName}: ${e.getMessage})", e)
      }
      s.read.parquet(dir)
    }
  }
}
