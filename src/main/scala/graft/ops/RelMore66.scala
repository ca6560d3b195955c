package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch D: epoch-capped mix budget, staleness-gated as-of,
  * aspect-ratio bucketing, empirical-Bayes rate smoothing. */
object RelMore66 extends KeyModule {

  /** text-mix-budget — the epoch-capped token-budget allocator: given a
    * training budget (50% of corpus tokens here) and a hard repeat cap
    * (≤ 2 epochs per source), allocate budget ∝ natural share, clip
    * each source at its cap, then redistribute the overflow over the
    * uncapped sources in a SECOND round (clipped again; any residual is
    * reported, not silently dropped — the honest two-round waterfall,
    * vs the exact multi-round fixpoint that needs a sort by cap ratio).
    * This is the allocator behind every published data-mix table that
    * lists "epochs" per source; text-domain-mix flattens to uniform and
    * text-temperature-mix sweeps α — this one respects repeat caps.
    * All integer micro-token arithmetic; two aggregates over a
    * |sources|-row frame — nothing scales with the corpus but the one
    * volumetry pass. */
  val textMixBudget: Q = (s, d) => {
    val Cap = 2L // max epochs per source
    val vol = documents(s, d)
      .select(col("source"), size(split(col("text"), " ")).cast(LongType).as("tok"))
      .groupBy("source").agg(sum("tok").as("tokens"))
    val tot = vol.agg(sum("tokens").as("total")).select(col("total"),
      (col("total") / 2).cast(LongType).as("budget"))
    val r1 = vol.crossJoin(broadcast(tot))
      .withColumn("cap", col("tokens") * Cap)
      // round-1 proportional allocation, floored to whole tokens
      .withColumn("alloc1", expr("budget * tokens div total"))
      .withColumn("take1", least(col("alloc1"), col("cap")))
      .withColumn("capped1", col("alloc1") > col("cap"))
    val over = r1.agg(
      sum(col("alloc1") - col("take1")).as("overflow"),
      sum(when(!col("capped1"), col("tokens")).otherwise(0L)).as("open_tokens"))
    val r2 = r1.crossJoin(broadcast(over))
      .withColumn("alloc2",
        when(col("capped1") || col("open_tokens") === 0, lit(0L))
          .otherwise(expr("overflow * tokens div open_tokens")))
      .withColumn("take2", least(col("alloc2"), col("cap") - col("take1")))
      .withColumn("allocated", col("take1") + col("take2"))
    r2.select(col("source"), col("tokens"),
      ratioFloor(col("tokens"), col("total"), 6).as("natural_share"),
      col("allocated"),
      ratioFloor(col("allocated"), col("budget"), 6).as("budget_share"),
      ratioFloor(col("allocated"), col("tokens"), 3).as("epochs"),
      col("capped1").as("capped"))
      .orderBy("source")
  }

  val textMixBudgetSql: String =
    s"""WITH vol AS (
       |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
       |  FROM documents GROUP BY source),
       |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total,
       |               CAST(sum(tokens) AS BIGINT) // 2 AS budget FROM vol),
       |r1 AS (
       |  SELECT source, tokens, total, budget,
       |         tokens * 2 AS cap,
       |         budget * tokens // total AS alloc1,
       |         least(budget * tokens // total, tokens * 2) AS take1,
       |         budget * tokens // total > tokens * 2 AS capped1
       |  FROM vol, tot),
       |over_ AS (
       |  SELECT CAST(sum(alloc1 - take1) AS BIGINT) AS overflow,
       |         CAST(sum(CASE WHEN NOT capped1 THEN tokens ELSE 0 END) AS BIGINT) AS open_tokens
       |  FROM r1),
       |r2 AS (
       |  SELECT r1.*,
       |         CASE WHEN capped1 OR open_tokens = 0 THEN 0
       |              ELSE overflow * tokens // open_tokens END AS alloc2
       |  FROM r1, over_),
       |fin AS (
       |  SELECT *, take1 + least(alloc2, cap - take1) AS allocated FROM r2)
       |SELECT source, tokens,
       |       ${ratioFloorSql("tokens", "total", 6)} AS natural_share,
       |       CAST(allocated AS BIGINT) AS allocated,
       |       ${ratioFloorSql("allocated", "budget", 6)} AS budget_share,
       |       ${ratioFloorSql("allocated", "tokens", 3)} AS epochs,
       |       capped1 AS capped
       |FROM fin
       |ORDER BY source""".stripMargin

  /** join-asof-tolerance — the staleness-gated as-of join: the feature
    * value is only valid if it is FRESH ENOUGH (here: last click ≤ 48 h
    * before the purchase; older matches are rejected, not silently
    * served — the rule every online feature store enforces). Same
    * single-shuffle union-marker formulation as join-asof, with the
    * tolerance applied AFTER the window (a WHERE on the gap, not a
    * band self-join). Graded per purchase with the gap bucketed to
    * hours and the stale/missing distinction kept explicit. */
  val joinAsofTolerance: Q = (s, d) => {
    val TolMicros = 48L * 3600 * 1000000
    val ev = events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("last_click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("last_click_us",
        last(when(col("event_type") === "click", unix_micros(col("ts"))), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("gap_us", unix_micros(col("ts")) - col("last_click_us"))
      .select(col("event_id"), col("user_id"),
        when(col("gap_us") <= TolMicros, col("last_click_id")).as("click_id"),
        when(col("last_click_us").isNull, "missing")
          .when(col("gap_us") > TolMicros, "stale")
          .otherwise("fresh").as("status"),
        when(col("gap_us") <= TolMicros, (col("gap_us") / 3600000000L).cast(LongType))
          .as("gap_hours"))
      .orderBy("event_id")
  }

  val joinAsofToleranceSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, ts, event_type FROM events
      |  WHERE event_type IN ('click', 'purchase')),
      |w AS (
      |  SELECT *,
      |         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |           OVER win AS last_click_id,
      |         last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
      |           OVER win AS last_click_us
      |  FROM ev
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |p AS (
      |  SELECT *, epoch_us(ts) - last_click_us AS gap_us
      |  FROM w WHERE event_type = 'purchase')
      |SELECT event_id, user_id,
      |       CASE WHEN gap_us <= 172800000000 THEN last_click_id END AS click_id,
      |       CASE WHEN last_click_us IS NULL THEN 'missing'
      |            WHEN gap_us > 172800000000 THEN 'stale'
      |            ELSE 'fresh' END AS status,
      |       CASE WHEN gap_us <= 172800000000
      |            THEN CAST(gap_us // 3600000000 AS BIGINT) END AS gap_hours
      |FROM p
      |ORDER BY event_id""".stripMargin

  /** mm-aspect-bucket — aspect-ratio bucketing for image batch packing
    * (the SDXL-style loader trick): images grouped by floor(10·w/h) so
    * each batch pads to its bucket's max dims instead of one global
    * square. Dims come from the mm family's deterministic stub decode
    * (mm-decode-stub's md5-derived w×h). Graded per bucket: count, the
    * bucket's pad target (max w × max h), total real pixels, and the
    * padding waste vs the naive global square — the number that
    * justifies the bucketing. Exact integer pixel arithmetic; two
    * aggregates, bucket count bounded by the aspect range. */
  val mmAspectBucket: Q = (s, d) => {
    val dims = documents(s, d).select(col("doc_id"), md5(col("text")).as("hash"))
      .select(col("doc_id"),
        (lit(320) + expr("(instr('0123456789abcdef', substring(hash, 1, 1)) - 1) % 8") * 80)
          .cast(IntegerType).as("w"),
        (lit(240) + expr("(instr('0123456789abcdef', substring(hash, 2, 1)) - 1) % 8") * 60)
          .cast(IntegerType).as("h"))
    val naiveSide = dims.agg(max(greatest(col("w"), col("h"))).as("side"))
    dims.withColumn("bucket", expr("w * 10 div h").cast(LongType))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_images"),
        max("w").as("pad_w"), max("h").as("pad_h"),
        sum(col("w").cast(LongType) * col("h")).as("real_pixels"))
      .crossJoin(broadcast(naiveSide))
      .select(col("bucket"), col("n_images"), col("pad_w"), col("pad_h"),
        col("real_pixels"),
        (col("n_images") * col("pad_w").cast(LongType) * col("pad_h") - col("real_pixels"))
          .as("bucket_pad_waste"),
        (col("n_images") * col("side").cast(LongType) * col("side") - col("real_pixels"))
          .as("naive_pad_waste"))
      .orderBy("bucket")
  }

  val mmAspectBucketSql: String =
    """WITH dims AS (
      |  SELECT doc_id,
      |         CAST(320 + ((strpos('0123456789abcdef', substring(md5(text), 1, 1)) - 1) % 8) * 80 AS INT) AS w,
      |         CAST(240 + ((strpos('0123456789abcdef', substring(md5(text), 2, 1)) - 1) % 8) * 60 AS INT) AS h
      |  FROM documents),
      |side AS (SELECT max(greatest(w, h)) AS side FROM dims),
      |b AS (
      |  SELECT w * 10 // h AS bucket, count(*) AS n_images,
      |         max(w) AS pad_w, max(h) AS pad_h,
      |         CAST(sum(CAST(w AS BIGINT) * h) AS BIGINT) AS real_pixels
      |  FROM dims GROUP BY 1)
      |SELECT CAST(bucket AS BIGINT) AS bucket, n_images, pad_w, pad_h, real_pixels,
      |       CAST(n_images * CAST(pad_w AS BIGINT) * pad_h - real_pixels AS BIGINT) AS bucket_pad_waste,
      |       CAST(n_images * CAST(side AS BIGINT) * side - real_pixels AS BIGINT) AS naive_pad_waste
      |FROM b, side
      |ORDER BY bucket""".stripMargin

  /** agg-bayes-smooth — empirical-Bayes (m-estimate) rate smoothing:
    * per-brand return rates shrunk toward the global rate with
    * pseudo-count m=100, the standard fix for small-sample rate
    * features (a brand with 3 lineitems and 1 return must not get a
    * 333‰ feature). smooth = (r_i·N_g + m·R_g) / ((n_i + m)·N_g) —
    * computed as ONE exact integer cross-multiplication chain, floored
    * at ppm. Two aggregates (per-brand + global broadcast); the
    * smoothing itself is constant-time per key at any scale. */
  val aggBayesSmooth: Q = (s, d) => {
    val M = 100L
    val li = lineitem(s, d).join(part(s, d), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), (col("l_returnflag") === "R").cast(LongType).as("ret"))
    val per = li.groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum("ret").as("r"))
    val glob = per.agg(sum("n").as("ng"), sum("r").as("rg"))
    per.crossJoin(broadcast(glob))
      .select(col("p_brand"), col("n"), col("r"),
        expr("r * 1000000 div n").as("raw_ppm"),
        expr(s"(r * ng + $M * rg) * 1000000 div ((n + $M) * ng)").as("smooth_ppm"),
        expr("rg * 1000000 div ng").as("global_ppm"))
      .orderBy("p_brand")
  }

  val aggBayesSmoothSql: String =
    """WITH li AS (
      |  SELECT p_brand, CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |per AS (
      |  SELECT p_brand, count(*) AS n, CAST(sum(ret) AS BIGINT) AS r
      |  FROM li GROUP BY p_brand),
      |g AS (SELECT CAST(sum(n) AS BIGINT) AS ng, CAST(sum(r) AS BIGINT) AS rg FROM per)
      |SELECT p_brand, n, r,
      |       r * 1000000 // n AS raw_ppm,
      |       (r * ng + 100 * rg) * 1000000 // ((n + 100) * ng) AS smooth_ppm,
      |       rg * 1000000 // ng AS global_ppm
      |FROM per, g
      |ORDER BY p_brand""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("text-mix-budget", textMixBudget, textMixBudgetSql),
    Key("join-asof-tolerance", joinAsofTolerance, joinAsofToleranceSql),
    Key("mm-aspect-bucket", mmAspectBucket, mmAspectBucketSql),
    Key("agg-bayes-smooth", aggBayesSmooth, aggBayesSmoothSql))
}
