package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Driver-round-10 batch A: four genuinely-new surfaces —
  * SemDeDup-style cluster-then-prune semantic dedup (Abbas et al.
  * 2023 recipe, bounded candidate generation), mergeable-sketch SET
  * ALGEBRA (intersection via inclusion-exclusion over HLL unions),
  * an irregular-gap exponential time-decay aggregate (unlike
  * win-ewma's row-lag taps, decay here is a function of ELAPSED
  * DAYS, so unevenly spaced orders weight correctly), and parquet
  * schema evolution on read (mergeSchema). Four sibling candidates
  * were cut as concept-duplicates at review time: variant access
  * (expr-variant-json), try_* arithmetic (expr-try-arith), null-safe
  * join (join-null-safe), hash-collision budget
  * (dq-hash-collision-budget). */
object RelMore207 extends KeyModule {

  /** dedup-semdedup — SemDeDup (Abbas et al. 2023): cluster the
    * embedding space, then prune near-duplicates ONLY within each
    * cluster — the semantic-dedup recipe whose candidate generation
    * is bounded by construction (per-cluster pairwise, never corpus²).
    * Centroids here are the k lowest-id vectors (deterministic,
    * oracle-expressible; a real run uses k-means — emb-kmeans-update —
    * with k ∝ corpus/target-cell-size so cell population stays O(1)
    * as the corpus grows). Assignment = argmax cosine to centroid
    * (map-side: the centroid table broadcasts at any corpus size);
    * the within-cluster pair join shuffles on the cluster key only.
    * Keep-rule: lowest vec_id of a near-dup pair survives — the same
    * deterministic tie discipline as dedup-exact. Output: per-cluster
    * member/removed counts at cosine ≥ 0.35 — the synthetic corpus
    * has no true duplicates (max within-cluster cosine ≈ 0.49 at
    * sf0.01), so the threshold sits in the upper ~0.5% tail to
    * exercise the prune path; a real corpus runs at ~0.95+. */
  val dedupSemdedup: Q = (s, d) => {
    graft.functions.DotProduct.register(s)
    val e = embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val seeds = e.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("seed_id"), col("v").as("sv"))
    val scored = e.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("v"), col("seed_id"),
        round(expr("dot_product(v, sv)") /
          (sqrt(expr("dot_product(v, v)")) * sqrt(expr("dot_product(sv, sv)"))), 9)
          .as("c9"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("c9").desc, col("seed_id"))
    val assigned = scored
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("seed_id").as("cluster"))
      .sharedCache()
    val pairs = assigned.as("a").join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cluster").as("cluster"), col("b.vec_id").as("victim"),
        round(expr("dot_product(a.v, b.v)") /
          (sqrt(expr("dot_product(a.v, a.v)")) * sqrt(expr("dot_product(b.v, b.v)"))), 9)
          .as("c9"))
      .filter(col("c9") >= 0.35)
    val removed = pairs.select(col("cluster"), col("victim")).distinct()
      .groupBy("cluster").agg(count(lit(1)).as("n_removed"))
    assigned.groupBy("cluster").agg(count(lit(1)).as("n_members"))
      .join(removed, Seq("cluster"), "left")
      .select(col("cluster"), col("n_members"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .orderBy("cluster")
  }

  val dedupSemdedupSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |seeds AS (
      |  SELECT vec_id AS seed_id, v AS sv FROM e ORDER BY vec_id LIMIT 8),
      |scored AS (
      |  SELECT e.vec_id, e.v, s.seed_id,
      |         round(list_inner_product(e.v, s.sv) /
      |               (sqrt(list_inner_product(e.v, e.v)) *
      |                sqrt(list_inner_product(s.sv, s.sv))), 9) AS c9
      |  FROM e CROSS JOIN seeds s),
      |assigned AS (
      |  SELECT vec_id, v, seed_id AS cluster FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |             ORDER BY c9 DESC, seed_id) AS rn FROM scored)
      |  WHERE rn = 1),
      |pairs AS (
      |  SELECT a.cluster, b.vec_id AS victim,
      |         round(list_inner_product(a.v, b.v) /
      |               (sqrt(list_inner_product(a.v, a.v)) *
      |                sqrt(list_inner_product(b.v, b.v))), 9) AS c9
      |  FROM assigned a JOIN assigned b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
      |removed AS (
      |  SELECT cluster, count(*) AS n_removed FROM (
      |    SELECT DISTINCT cluster, victim FROM pairs WHERE c9 >= 0.35)
      |  GROUP BY cluster)
      |SELECT a.cluster, count(*) AS n_members,
      |       coalesce(any_value(r.n_removed), 0) AS n_removed
      |FROM assigned a LEFT JOIN removed r ON a.cluster = r.cluster
      |GROUP BY a.cluster
      |ORDER BY a.cluster""".stripMargin

  /** win-ewma-irregular — exponential time-decay over IRREGULARLY
    * spaced rows: each customer's orders decay by exp(-Δdays/30)
    * against their LATEST order date, summed over a 90-day lookback.
    * EWMA is usually presented as a sequential recursion (y_i = v_i +
    * α·y_{i-1}), which does not distribute; with explicit timestamps
    * it is just a decayed SUM — one max-date window and one
    * aggregation, both hash-partitioned on the key, nothing
    * sequential. The 90-day RANGE bound keeps per-key work O(orders
    * per 90 days) regardless of history length — the unbounded form
    * would re-weight a customer's entire lifetime every refresh.
    * Determinism: each term is quantized to BIGINT cents BEFORE the
    * sum (house ordered-fold rule — the float sum would depend on
    * association order across engines), and the decay factor itself is
    * rounded to 12 dp BEFORE the multiply: floor(cents · exp(Δ/-30))
    * would otherwise flip at integer boundaries on a 1-ulp exp()
    * divergence between JVM Math.exp and the oracle's libm — with the
    * 12-dp quantize the graded value is exact by construction, not by
    * libm coincidence (r10 ADVICE). Δ/30 ≤ 3 so exp ∈ [0.05, 1]; 12 dp
    * keeps ~11 significant digits of the decay, far inside double
    * precision, and a tie at the 12th decimal of a transcendental is
    * not a realistic input. */
  val winEwmaIrregular: Q = (s, d) => {
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("o_custkey")
    orders(s, d)
      .select(col("o_custkey"), col("o_orderdate"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .withColumn("dlast", max(col("o_orderdate")).over(wc))
      .withColumn("delta", datediff(col("dlast"), col("o_orderdate")))
      .filter(col("delta") <= 90)
      .withColumn("term",
        floor(col("cents") *
            round(exp(col("delta").cast(DoubleType) / lit(-30.0)), 12))
          .cast(LongType))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_recent"), sum(col("term")).as("decayed_cents"))
      .orderBy(col("decayed_cents").desc, col("o_custkey"))
      .limit(20)
  }

  val winEwmaIrregularSql: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderdate,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |         max(o_orderdate) OVER (PARTITION BY o_custkey) AS dlast
      |  FROM orders),
      |t AS (
      |  SELECT o_custkey,
      |         CAST(floor(cents * round(exp(CAST(datediff('day', o_orderdate, dlast)
      |           AS DOUBLE) / -30.0), 12)) AS BIGINT) AS term
      |  FROM o WHERE datediff('day', o_orderdate, dlast) <= 90)
      |SELECT o_custkey, count(*) AS n_recent,
      |       CAST(sum(term) AS BIGINT) AS decayed_cents
      |FROM t
      |GROUP BY o_custkey
      |ORDER BY decayed_cents DESC, o_custkey
      |LIMIT 20""".stripMargin

  /** agg-sketch-intersection — set INTERSECTION from mergeable HLL
    * sketches via inclusion-exclusion: |A∩B| = est(A) + est(B) −
    * est(A∪B), where the union is a SKETCH union (hll_union on the
    * serialized registers — associative, mergeable, KB-sized). This
    * is the only way "customers active in BOTH years" runs at 100 TB
    * without co-shuffling both sides: each year's sketch builds
    * map-side in one pass, the algebra happens on two KB blobs at the
    * driver. Grading follows the agg-approx-distinct house pattern:
    * estimates are engine-specific, so the output carries the EXACT
    * counts (both engines) plus a pinned tolerance contract on the
    * Spark estimate — IE compounds three sketch errors, so the band
    * is 3× the lgK=14 single-sketch rsd (~0.8%) against the UNION
    * size, floored for tiny inputs. */
  val aggSketchIntersection: Q = (s, d) => {
    val o = orders(s, d).select(col("o_custkey"),
      year(col("o_orderdate")).as("yr"))
    val yrs = o.agg(
      expr("hll_sketch_agg(CASE WHEN yr = 1996 THEN o_custkey END, 14)").as("sa"),
      expr("hll_sketch_agg(CASE WHEN yr = 1997 THEN o_custkey END, 14)").as("sb"))
    val est = yrs.select(
      expr("hll_sketch_estimate(sa)").as("ea"),
      expr("hll_sketch_estimate(sb)").as("eb"),
      expr("hll_sketch_estimate(hll_union(sa, sb))").as("eu"))
    val exact = o.groupBy("o_custkey").agg(
        max(when(col("yr") === 1996, 1).otherwise(0)).as("ina"),
        max(when(col("yr") === 1997, 1).otherwise(0)).as("inb"))
      .agg(sum(col("ina")).cast(LongType).as("n_a"),
        sum(col("inb")).cast(LongType).as("n_b"),
        sum(col("ina") * col("inb")).cast(LongType).as("n_inter"))
    exact.crossJoin(est).select(
      col("n_a"), col("n_b"), col("n_inter"),
      when(col("n_inter") < 100, lit(1)).otherwise(
        (abs(col("ea") + col("eb") - col("eu") - col("n_inter")) <=
          greatest(lit(8.0), lit(0.024) * (col("n_a") + col("n_b") - col("n_inter"))))
          .cast(IntegerType)).as("within_tolerance"))
  }

  val aggSketchIntersectionSql: String =
    """WITH pc AS (
      |  SELECT o_custkey,
      |         max(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS ina,
      |         max(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END) AS inb
      |  FROM orders GROUP BY o_custkey)
      |SELECT CAST(sum(ina) AS BIGINT) AS n_a,
      |       CAST(sum(inb) AS BIGINT) AS n_b,
      |       CAST(sum(ina * inb) AS BIGINT) AS n_inter,
      |       CAST(1 AS INT) AS within_tolerance
      |FROM pc""".stripMargin

  /** src-schema-evolution — parquet schema evolution on READ: batch 1
    * written before a column existed, batch 2 after; `mergeSchema`
    * unions the footer schemas and backfills NULL for the missing
    * column — the lakehouse upgrade path that never rewrites old
    * files. At 100 TB the alternative (rewrite history to add a
    * column) is a full-table write; evolution-on-read is free at
    * write time and costs one extra footer union at planning. The op
    * asserts the semantics end-to-end: v1 rows surface with NULL
    * priority, v2 rows keep theirs, and the merged read prunes to the
    * 3 requested columns in both footer layouts. Oracle recomputes
    * the same split from the base table. */
  val srcSchemaEvolution: Q = (s, d) => {
    val out = tmp("schema-evo", d)
    val o = orders(s, d)
    o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$out/batch=v1")
    o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$out/batch=v2")
    s.read.option("mergeSchema", "true").parquet(out)
      .groupBy("batch")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("n_null_priority"),
        countDistinct(col("o_orderstatus")).as("n_status"))
      .select(col("batch").cast(StringType).as("batch"), col("n"),
        col("n_null_priority"), col("n_status"))
      .orderBy("batch")
  }

  val srcSchemaEvolutionSql: String =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'v1' ELSE 'v2' END AS batch,
      |       count(*) AS n,
      |       CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_priority,
      |       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status
      |FROM orders
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("src-schema-evolution", srcSchemaEvolution, srcSchemaEvolutionSql),
    Key("dedup-semdedup", dedupSemdedup, dedupSemdedupSql),
    Key("win-ewma-irregular", winEwmaIrregular, winEwmaIrregularSql),
    Key("agg-sketch-intersection", aggSketchIntersection, aggSketchIntersectionSql))
}
