package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-9 batch O: Poisson bootstrap CI, TwoNN intrinsic dimension,
  * CSV codec function suite, exact trimmed/winsorized means. */
object RelMore77 extends KeyModule {

  private val BootReps = 32
  /** Poisson(1) CDF × 2^20, floored — the inverse-CDF table for the
    * hash-derived replicate weights. P(w > 6) < 1e-4 of a 2^20 grid
    * (residual mass collapses into w=7). Constants are the single
    * source for BOTH engines' CASE chains. */
  private val PoisCdf20 = Seq(385749L, 771499L, 964373L, 1028665L,
    1044738L, 1047952L, 1048488L)

  /** 20-bit integer from the first 5 md5 nibbles of `src` — the
    * text-hash-split instr-nibble idiom (RelMore56's v48 at width 5). */
  private def v20Expr(src: String, instr: String): String =
    (1 to 5).map { i =>
      val w = BigInt(16).pow(5 - i)
      s"($instr('0123456789abcdef', substring(md5($src), $i, 1)) - 1) * $w"
    }.mkString("(", " + ", ")")

  private def poisWExpr(u: String): String =
    PoisCdf20.zipWithIndex.map { case (t, k) =>
      s"WHEN $u < $t THEN $k"
    }.mkString("CASE ", " ", " ELSE 7 END")

  /** sample-bootstrap-ci — standard error and CI for the mean order
    * value by the POISSON BOOTSTRAP (Chamandy et al., "Estimating
    * Uncertainty for Massive Data Streams"): instead of B index-based
    * resamples (impossible without materializing the corpus B times),
    * every row draws an independent Poisson(1) weight per replicate —
    * one linear pass producing all B replicate sums map-side, THE
    * bootstrap that scales to 100 TB. Weights are hash-derived
    * (md5(key|rep) → 20-bit uniform → pinned inverse-CDF table), never
    * random(): replicates are reproducible across engines, runs, and
    * partitionings. Replicate sums are exact integer Long sums of
    * w·cents (E[w]=1 ⇒ expected sum ≈ rows × avg-cents ≈ 2.25e18 at
    * the 100 TB orders bar, ~4× under 2⁶³; upgrade to DECIMAL(38,0)
    * if orders rows cross ~5e11 — see SCALING.md "DECIMAL(38) in a
    * per-row hot loop"); each replicate mean is one IEEE division; the
    * 32-replicate variance uses the two-pass mean-anchored form (no
    * catastrophic cancellation), rounded at 4 dp. */
  val sampleBootstrapCi: Q = (s, d) => {
    // r14 opt: the 6-md5-per-row hash batch and the 32-way replicate
    // explode ran inside the one scan task of the single-row-group
    // orders file — repartition after read (guide §2.5) so the hash
    // pass and the exploded partial aggregation parallelize
    val base = orders(s, d)
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .select(col("o_orderkey"),
      floor(col("o_totalprice") * 100).cast(LongType).as("cents"))
      // hash-block batching: one md5 carries SIX 20-bit replicate
      // uniforms (6 slots x 5 hex chars), so 32 replicates cost 6
      // hashes per row instead of 32 - the md5 was ~all of this op's
      // runtime. Hashes are computed BEFORE the replicate explode.
      .withColumn("hs", array((0 to 5).map(k =>
        md5(concat(col("o_orderkey").cast(StringType), lit("#" + k)))): _*))
    val u = "CAST(conv(substring(element_at(hs, CAST(b DIV 6 AS INT) + 1), " +
      "CAST((b % 6) * 5 AS INT) + 1, 5), 16, 10) AS BIGINT)"
    val reps = base
      .select(col("o_orderkey"), col("cents"), col("hs"),
        explode(expr(s"sequence(0, ${BootReps - 1})")).as("b"))
      .withColumn("w", expr(poisWExpr(u)))
    // w <= 7 and cents <= ~5e7: the per-replicate weighted sums stay
    // far inside Long out to billions of rows - Long codegen sums
    // instead of the interpreted DECIMAL(38) multiply path
    val means = reps.groupBy("b")
      .agg(sum(col("w").cast(LongType) * col("cents")).as("wx"),
        sum(col("w").cast(LongType)).as("wn"))
      .select(col("b"),
        (col("wx").cast(DoubleType) / col("wn").cast(DoubleType)).as("mb"))
      .sharedCache()
    val mbar = means.agg(avg("mb").as("mbar"))
    val point = base.agg(count(lit(1)).as("n"),
      sum(col("cents").cast(DecimalType(38, 0))).as("sx"))
      .select(col("n"), (col("sx").cast(DoubleType) / col("n")).as("pm"))
    means.crossJoin(broadcast(mbar)).crossJoin(broadcast(point))
      .agg(max(col("n")).as("n"),
        count(lit(1)).as("b_reps"),
        round(max(col("pm")) / 100, 4).as("point_mean"),
        round(max(col("mbar")) / 100, 4).as("boot_mean"),
        round(sqrt(sum(pow(col("mb") - col("mbar"), 2)) / (BootReps - 1)) / 100, 4)
          .as("boot_se"))
      .withColumn("ci_lo", round(col("point_mean") - lit(1.96) * col("boot_se"), 4))
      .withColumn("ci_hi", round(col("point_mean") + lit(1.96) * col("boot_se"), 4))
  }

  val sampleBootstrapCiSql: String = {
    val u = "CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || '#' || " +
      "CAST(b // 6 AS VARCHAR)), (b % 6) * 5 + 1, 5))::BIGINT AS BIGINT)"
    s"""WITH base AS (
       |  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders),
       |reps AS (
       |  SELECT o_orderkey, cents, b, ${poisWExpr(u)} AS w
       |  FROM base, (SELECT unnest(generate_series(0, ${BootReps - 1})) AS b) t),
       |means AS (
       |  SELECT b, CAST(sum(CAST(w AS BIGINT) * cents) AS DOUBLE)
       |            / CAST(sum(CAST(w AS BIGINT)) AS DOUBLE) AS mb
       |  FROM reps GROUP BY b),
       |mbar AS (SELECT avg(mb) AS mbar FROM means),
       |point AS (
       |  SELECT count(*) AS n,
       |         CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) / count(*) AS pm
       |  FROM base),
       |agg AS (
       |  SELECT max(n) AS n, count(*) AS b_reps,
       |         round(max(pm) / 100, 4) AS point_mean,
       |         round(max(mbar) / 100, 4) AS boot_mean,
       |         round(sqrt(sum((mb - mbar) * (mb - mbar)) / (${BootReps - 1})) / 100, 4) AS boot_se
       |  FROM means CROSS JOIN mbar CROSS JOIN point)
       |SELECT n, b_reps, point_mean, boot_mean, boot_se,
       |       round(point_mean - 1.96 * boot_se, 4) AS ci_lo,
       |       round(point_mean + 1.96 * boot_se, 4) AS ci_hi
       |FROM agg""".stripMargin
  }

  /** emb-intrinsic-dim — the TwoNN intrinsic-dimension estimator
    * (Facco et al. 2017): with r1, r2 the 1st/2nd-nearest-neighbor
    * distances, μ = r2/r1 is Pareto(d)-distributed on a d-dimensional
    * manifold regardless of density, so d̂ = n / Σ ln μ — the standard
    * "how many of the 64 dims are real?" probe before choosing PQ/MRL
    * truncation budgets. Distances are EXACT integer sums on the
    * micro-quantized grid (the emb-kmeans determinism rule), so the
    * 2-NN identity and every ratio are engine-identical; ln μ² is
    * halved outside the sum. Exact-duplicate points (r1 = 0) are
    * excluded, as in the paper. Exact all-pairs 2-NN here is the
    * ACCURACY BASELINE on the bounded fixture (N² on 2k vectors); the
    * 100 TB path swaps in ann-knn-graph's LSH-bucketed candidate kNN —
    * TwoNN only needs each point's two closest, which bucket recall
    * covers. */
  val embIntrinsicDim: Q = (s, d) => {
    // dist² via the aa − 2ab + bb expansion on the codegen'd
    // dot_product expression (exact: integer-valued doubles < 2^53) —
    // the interpreted zip_with/aggregate HOF form costs ~15× more on
    // the N² pair grid. One window pass takes BOTH neighbors (top-2 by
    // (d2, j)): rk2's d2 equals r1² exactly when the old ties_at_r1≥2
    // rule fired, and is the strict next otherwise — same semantics,
    // half the pair evaluations.
    graft.functions.DotProduct.register(s)
    val base = embeddings(s, d).select(col("vec_id"),
      expr("quantize_lattice(embedding, 1000000.0D)").as("v"))
      .withColumn("n2", expr("dot_product(v, v)"))
      .sharedCache()
    // r14 opt: the corpus arrives as ONE parquet row group (one scan
    // task), so the N² scoring pass under the broadcast join inherited
    // a single partition — 31 of 32 cores idle (guide §2.5's
    // unsplittable-input case: repartition right after the read).
    // Round-robin split of the stream side spreads the pair grid; the
    // conf value keeps it scale-adaptive, not a local[32] constant.
    val nParts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val a = base.repartition(nParts)
      .select(col("vec_id").as("i"), col("v").as("va"), col("n2").as("aa"))
    val b = base.select(col("vec_id").as("j"), col("v").as("vb"), col("n2").as("bb"))
    val pairs = a.join(b, col("i") =!= col("j"))
      .select(col("i"), col("j"),
        expr("CAST(aa - 2 * dot_product(va, vb) + bb AS BIGINT)").as("d2"))
    // r14 opt: top-2-per-i via the bounded-heap TopKPerKey operator
    // instead of a WindowExec that shuffles and sorts ALL N² pairs to
    // keep 2 per key (guide §2.3/§2.4: shuffle k·|keys| rows, not the
    // pair grid). Same total order (d2 asc, j asc) → identical rows.
    val top2 = graft.plans.TopKPerKey.of(pairs,
      Seq("i"), Seq("d2" -> true, "j" -> true), 2)
    val nn = top2
      .groupBy("i").agg(min("d2").as("r1sq"), max("d2").as("r2sq"))
      .filter(col("r1sq") > 0)
    nn.agg(count(lit(1)).as("n_used"),
      round(sum(log(col("r2sq").cast(DoubleType) / col("r1sq"))) / 2, 6).as("sum_log_mu"))
      // derived from the ROUNDED sum so both engines divide identical doubles
      .withColumn("id_twonn", round(col("n_used") / col("sum_log_mu"), 4))
  }

  val embIntrinsicDimSql: String =
    """WITH base AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xi
      |  FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS i,
      |         list_aggregate(list_transform(range(1, len(a.xi) + 1),
      |           k -> (a.xi[k] - b.xi[k]) * (a.xi[k] - b.xi[k])), 'sum') AS d2
      |  FROM base a JOIN base b ON a.vec_id <> b.vec_id),
      |r1 AS (SELECT i, min(d2) AS r1sq FROM pairs GROUP BY i),
      |nn AS (
      |  SELECT p.i, max(p2.r1sq) AS r1sq,
      |         CAST(sum(CASE WHEN p.d2 = p2.r1sq THEN 1 ELSE 0 END) AS BIGINT) AS ties_at_r1,
      |         min(CASE WHEN p.d2 > p2.r1sq THEN p.d2 END) AS r2sq_strict
      |  FROM pairs p JOIN r1 p2 ON p.i = p2.i
      |  GROUP BY p.i),
      |mu AS (
      |  SELECT i, r1sq,
      |         CASE WHEN ties_at_r1 >= 2 THEN r1sq ELSE r2sq_strict END AS r2sq
      |  FROM nn WHERE r1sq > 0),
      |agg AS (
      |  SELECT count(*) AS n_used,
      |         round(sum(ln(CAST(r2sq AS DOUBLE) / r1sq)) / 2, 6) AS sum_log_mu
      |  FROM mu)
      |SELECT n_used, sum_log_mu,
      |       round(n_used / sum_log_mu, 4) AS id_twonn
      |FROM agg""".stripMargin

  /** func-csv-suite — the CSV codec functions (to_csv / from_csv /
    * schema_of_csv / str_to_map) driven through a full round trip:
    * serialize three order columns to a CSV line, parse the line back
    * with an explicit schema, and flatten a k:v option string into a
    * map — graded on the reconstructed fields equaling the originals
    * (the identity is the contract). Map/struct values surface as
    * concat_ws strings so the output stays in the engine-neutral
    * scalar types the oracle compare hashes. Pure projection over a
    * LIMITed slice — parallelism-free by design. */
  val funcCsvSuite: Q = (s, d) => {
    val slice = orders(s, d)
      .orderBy("o_orderkey").limit(5)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
    slice
      .withColumn("csv", expr("to_csv(struct(o_orderkey, o_orderstatus, o_orderpriority))"))
      .withColumn("parsed", expr(
        "from_csv(csv, 'k BIGINT, st STRING, pr STRING')"))
      .withColumn("roundtrip_ok",
        col("parsed.k") === col("o_orderkey") &&
          col("parsed.st") === col("o_orderstatus") &&
          col("parsed.pr") === col("o_orderpriority"))
      .withColumn("kv", expr(
        "str_to_map(concat('key:', CAST(o_orderkey AS STRING), ',status:', o_orderstatus), ',', ':')"))
      .select(col("o_orderkey"), col("csv"),
        col("parsed.k").as("parsed_key"), col("parsed.st").as("parsed_status"),
        col("roundtrip_ok"),
        expr("concat_ws('|', map_keys(kv))").as("kv_keys"),
        expr("concat_ws('|', map_values(kv))").as("kv_values"),
        expr("schema_of_csv('1,a')").as("inferred_schema_kind"))
      .orderBy("o_orderkey")
  }

  val funcCsvSuiteSql: String =
    """SELECT o_orderkey,
      |       concat(CAST(o_orderkey AS VARCHAR), ',', o_orderstatus, ',', o_orderpriority) AS csv,
      |       o_orderkey AS parsed_key, o_orderstatus AS parsed_status,
      |       true AS roundtrip_ok,
      |       'key|status' AS kv_keys,
      |       concat(CAST(o_orderkey AS VARCHAR), '|', o_orderstatus) AS kv_values,
      |       'STRUCT<_c0: INT, _c1: STRING>' AS inferred_schema_kind
      |FROM orders
      |ORDER BY o_orderkey
      |LIMIT 5""".stripMargin

  /** agg-trimmed-mean — exact 10%-trimmed and 10%-winsorized means of
    * the order value, the robust location estimates between median
    * (50% trim) and mean (0%): trim DROPS the tail deciles, winsorize
    * CLAMPS them to the decile boundary values. Exact by RANK, not by
    * approximate quantile: the global position comes from the
    * PrefixScan two-pass (range-partition + per-partition offsets —
    * never a single-partition window), the trim set is a rank
    * predicate, and every retained value sums in DECIMAL. The
    * boundary values clamp via min/max over the kept range — one scan
    * + one metadata-sized reduce past the PrefixScan. Total order is
    * (cents, o_orderkey), so the trim set is unique. */
  val aggTrimmedMean: Q = (s, d) => {
    import graft.functions.PrefixScan
    val base = orders(s, d).select(col("o_orderkey"),
      floor(col("o_totalprice") * 100).cast(LongType).as("cents"))
    val scanned = PrefixScan.withRankCumSum(base,
      Seq(col("cents"), col("o_orderkey")), None)
    val n = scanned.n
    val lo = n / 10
    val hi = n - n / 10
    val stamped = scanned.df.sharedCache()
    val kept = stamped.filter(col("rn") > lo && col("rn") <= hi)
    val bounds = kept.agg(min("cents").as("b_lo"), max("cents").as("b_hi"),
      sum(col("cents").cast(DecimalType(38, 0))).as("s_kept"),
      count(lit(1)).as("n_kept"))
    val full = stamped.agg(sum(col("cents").cast(DecimalType(38, 0))).as("s_all"))
    bounds.crossJoin(broadcast(full))
      .select(lit(n).as("n"), col("n_kept"),
        round(col("s_all").cast(DoubleType) / n / 100, 4).as("mean_raw"),
        round(col("s_kept").cast(DoubleType) / col("n_kept") / 100, 4).as("mean_trim10"),
        round((col("s_kept").cast(DoubleType) +
          col("b_lo").cast(DoubleType) * lo +
          col("b_hi").cast(DoubleType) * (n - hi)) / n / 100, 4).as("mean_winsor10"))
  }

  val aggTrimmedMeanSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |ranked AS (
      |  SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey) AS rn,
      |         count(*) OVER () AS n
      |  FROM base),
      |kept AS (
      |  SELECT * FROM ranked WHERE rn > n // 10 AND rn <= n - n // 10),
      |b AS (
      |  SELECT max(n) AS n, min(cents) AS b_lo, max(cents) AS b_hi,
      |         CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) AS s_kept,
      |         count(*) AS n_kept
      |  FROM kept),
      |f AS (SELECT CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) AS s_all FROM base)
      |SELECT n, n_kept,
      |       round(s_all / n / 100, 4) AS mean_raw,
      |       round(s_kept / n_kept / 100, 4) AS mean_trim10,
      |       round((s_kept + CAST(b_lo AS DOUBLE) * (n // 10)
      |              + CAST(b_hi AS DOUBLE) * (n - (n - n // 10))) / n / 100, 4) AS mean_winsor10
      |FROM b CROSS JOIN f""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sample-bootstrap-ci", sampleBootstrapCi, sampleBootstrapCiSql),
    Key("emb-intrinsic-dim", embIntrinsicDim, embIntrinsicDimSql),
    Key("func-csv-suite", funcCsvSuite, funcCsvSuiteSql),
    Key("agg-trimmed-mean", aggTrimmedMean, aggTrimmedMeanSql))
}
