package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch S: RNG-rule kNN-graph diversification, sort-key
  * advisor from post-sort run bounds, letterbox crop detection on the
  * stub decode grid, Markov removal-effect attribution. */
object RelMore183 extends KeyModule {

  /** ann-rng-diversify — the neighbor-diversification step that turns
    * a kNN list into a navigable graph (HNSW's SELECT-NEIGHBORS
    * heuristic / Vamana's α-RNG rule, α=1, simple variant): candidate
    * c is PRUNED when some closer-ranked candidate s lies closer to c
    * than the node itself does (d(s,c) < d(u,c)) — s already "covers"
    * c's direction, so keeping both wastes degree. Exact integer
    * lattice d² throughout (norm expansion, vec_id tiebreaks).
    * Candidates are label-bucketed (the ann-knn-graph convention), so
    * pair work is Σ_bucket k²·|bucket|, never corpus². Per-label
    * summary: kNN edges vs kept edges and the pruned share — the
    * degree saving the graph index banks. */
  val annRngDiversify: Q = (s, d) => {
    graft.functions.DotProduct.register(s)
    graft.functions.QuantizeLattice.register(s)
    val base = embeddings(s, d).select(col("vec_id"), col("label"),
      expr("quantize_lattice(embedding, 1000.0D)").as("v"))
      .withColumn("nq", expr("dot_product(v, v)"))
      .sharedCache()
    val cand = base.select(col("label"), col("vec_id").as("u"),
      col("v").as("uv"), col("nq").as("un"))
      .join(base.select(col("label"), col("vec_id").as("c"),
        col("v").as("cv"), col("nq").as("cn")), Seq("label"))
      .filter(col("u") =!= col("c"))
      .withColumn("d2", expr("CAST(un + cn - 2 * dot_product(uv, cv) AS BIGINT)"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("u").orderBy(col("d2"), col("c"))))
      .filter(col("rk") <= 6)
      .select(col("label"), col("u"), col("c"), col("cv"), col("cn"),
        col("d2"), col("rk"))
      .sharedCache()
    val pruned = cand.select(col("u"), col("c").as("s"), col("cv").as("sv"),
      col("cn").as("sn"), col("rk").as("rks"))
      .join(cand.select(col("u"), col("c"), col("cv"), col("cn"),
        col("d2").as("duc"), col("rk").as("rkc")), Seq("u"))
      .filter(col("rks") < col("rkc"))
      .withColumn("dsc", expr("CAST(sn + cn - 2 * dot_product(sv, cv) AS BIGINT)"))
      .filter(col("dsc") < col("duc"))
      .select(col("u"), col("c")).distinct()
      .withColumn("cut", lit(1L))
    cand.join(pruned, Seq("u", "c"), "left")
      .groupBy("label")
      .agg(countDistinct(col("u")).as("nodes"),
        count(lit(1)).as("edges_knn"),
        sum(when(col("cut").isNull, 1L).otherwise(0L)).as("edges_kept"))
      .select(col("label"), col("nodes"), col("edges_knn"), col("edges_kept"),
        round((col("edges_knn") - col("edges_kept")).cast(DoubleType) /
          col("edges_knn").cast(DoubleType), 4).as("pruned_share"),
        round(col("edges_kept").cast(DoubleType) /
          col("nodes").cast(DoubleType), 2).as("avg_degree_after"))
      .orderBy("label")
  }

  val annRngDiversifySql: String =
    """WITH base AS MATERIALIZED (
      |  SELECT vec_id, label,
      |         list_transform(embedding, x -> CAST(CAST(floor(CAST(x AS DOUBLE)
      |           * 1000) AS BIGINT) AS DOUBLE)) AS v
      |  FROM embeddings),
      |nrm AS MATERIALIZED (
      |  SELECT vec_id, label, v, list_inner_product(v, v) AS nq FROM base),
      |cand AS MATERIALIZED (
      |  SELECT * FROM (
      |    SELECT a.label, a.vec_id AS u, b.vec_id AS c, b.v AS cv, b.nq AS cn,
      |           CAST(a.nq + b.nq - 2 * list_inner_product(a.v, b.v) AS BIGINT)
      |             AS d2,
      |           row_number() OVER (PARTITION BY a.vec_id
      |             ORDER BY CAST(a.nq + b.nq - 2 * list_inner_product(a.v, b.v)
      |               AS BIGINT), b.vec_id) AS rk
      |    FROM nrm a JOIN nrm b ON a.label = b.label AND a.vec_id <> b.vec_id) t
      |  WHERE rk <= 6),
      |pruned AS (
      |  SELECT DISTINCT sc.u, sc.c
      |  FROM (SELECT s.u, cc.c,
      |               CAST(s.cn + cc.cn - 2 * list_inner_product(s.cv, cc.cv)
      |                 AS BIGINT) AS dsc, cc.d2 AS duc
      |        FROM (SELECT u, c AS sid, cv, cn, rk FROM cand) s
      |        JOIN cand cc ON cc.u = s.u AND s.rk < cc.rk) sc
      |  WHERE sc.dsc < sc.duc)
      |SELECT label, CAST(count(DISTINCT u) AS BIGINT) AS nodes,
      |       CAST(count(*) AS BIGINT) AS edges_knn,
      |       CAST(sum(CASE WHEN p.c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS edges_kept,
      |       round(CAST(count(*) - sum(CASE WHEN p.c IS NULL THEN 1 ELSE 0 END)
      |             AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS pruned_share,
      |       round(CAST(sum(CASE WHEN p.c IS NULL THEN 1 ELSE 0 END) AS DOUBLE) /
      |             CAST(count(DISTINCT u) AS DOUBLE), 2) AS avg_degree_after
      |FROM cand LEFT JOIN pruned p USING (u, c)
      |GROUP BY label ORDER BY label""".stripMargin

  /** layout-sort-key-advisor — which column should the row group be
    * sorted by? For each candidate sort key c and measured column o,
    * the post-sort run count of o is bounded below by the number of
    * DISTINCT (c, o) combinations (each combo opens ≥1 run under the
    * best possible within-key ordering) — an exactly computable,
    * engine-honest stand-in for "encode and measure". The advisor
    * ranks candidates by the total bound over the measured set; the
    * verdict low-cardinality keys barely compress high-cardinality
    * neighbors falls out of the numbers. One scan, 12 distinct-counts
    * (map-side expand), a 4-row verdict frame. */
  val layoutSortKeyAdvisor: Q = (s, d) => {
    val li = lineitem(s, d).select(
      col("l_returnflag").as("k_returnflag"),
      col("l_linestatus").as("k_linestatus"),
      month(col("l_shipdate")).cast(StringType).as("k_shipmonth"),
      col("l_quantity").cast(LongType).cast(StringType).as("k_quantity"),
      col("l_partkey").cast(StringType).as("m_partkey"),
      col("l_quantity").cast(LongType).cast(StringType).as("m_quantity"),
      expr("CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT)")
        .cast(StringType).as("m_discount"))
    val cands = Seq("k_returnflag", "k_linestatus", "k_shipmonth", "k_quantity")
    val meas = Seq("m_partkey", "m_quantity", "m_discount")
    val aggs = for { c <- cands; m <- meas } yield
      countDistinct(concat_ws("|", col(c), col(m))).as(s"${c}__$m")
    val one = li.agg(aggs.head, aggs.tail: _*)
    val stacked = cands.map { c =>
      one.select(lit(c.stripPrefix("k_")).as("sort_key"),
        col(s"${c}__m_partkey").as("runs_partkey"),
        col(s"${c}__m_quantity").as("runs_quantity"),
        col(s"${c}__m_discount").as("runs_discount"))
    }.reduce(_ unionAll _)
      .withColumn("total_runs_bound",
        col("runs_partkey") + col("runs_quantity") + col("runs_discount"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    stacked.withColumn("best",
      col("total_runs_bound") === min("total_runs_bound").over(wAll))
      .orderBy("total_runs_bound", "sort_key")
  }

  val layoutSortKeyAdvisorSql: String = {
    val cands = Seq("returnflag" -> "l_returnflag", "linestatus" -> "l_linestatus",
      "shipmonth" -> "CAST(month(CAST(l_shipdate AS DATE)) AS VARCHAR)",
      "quantity" -> "CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)")
    val meas = Seq("partkey" -> "CAST(l_partkey AS VARCHAR)",
      "quantity" -> "CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)",
      "discount" -> "CAST(CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT) AS VARCHAR)")
    val aggCols = (for { (cn, ce) <- cands; (mn, me) <- meas } yield
      s"CAST(count(DISTINCT ($ce || '|' || $me)) AS BIGINT) AS ${cn}__$mn")
      .mkString(",\n      |         ")
    val rows = cands.map { case (cn, _) =>
      s"SELECT '$cn' AS sort_key, ${cn}__partkey AS runs_partkey, " +
        s"${cn}__quantity AS runs_quantity, ${cn}__discount AS runs_discount FROM one"
    }.mkString("\n      |  UNION ALL ")
    s"""WITH one AS (
       |  SELECT $aggCols
       |  FROM lineitem),
       |stacked AS (
       |  $rows),
       |tot AS (
       |  SELECT *, runs_partkey + runs_quantity + runs_discount
       |           AS total_runs_bound
       |  FROM stacked)
       |SELECT sort_key, runs_partkey, runs_quantity, runs_discount,
       |       total_runs_bound,
       |       total_runs_bound = min(total_runs_bound) OVER () AS best
       |FROM tot ORDER BY total_runs_bound, sort_key""".stripMargin
  }

  /** mm-letterbox-detect — crop-box detection on the stub decode
    * grid: each payload "decodes" to a 16-row luma profile (md5-
    * derived, the Multimodal stub convention — a real pipeline reads
    * per-row pixel sums from the decoder); documents whose hash digit
    * says so carry 0-3 injected black border rows top and bottom.
    * The detector is the production shape: per-row luma → min/max
    * over lit rows → crop offsets, ALL as grouped aggregates (no
    * window, no collect), then the injected-vs-detected reconciliation
    * that proves the detector right on every document. */
  val mmLetterboxDetect: Q = (s, d) => {
    val g = documents(s, d)
      .select(col("doc_id"), col("text"),
        expr("CAST(conv(substring(md5(text), 1, 1), 16, 10) AS INT) % 4").as("b"))
      .select(col("doc_id"), col("b"), col("text"),
        explode(expr("sequence(0, 15)")).as("r"))
      .withColumn("luma", when(col("r") < col("b") || col("r") > lit(15) - col("b"),
        lit(0L)).otherwise(
        expr("CAST(conv(substring(md5(concat(text, '_r', CAST(r AS STRING))), 1, 1), " +
          "16, 10) AS BIGINT) + 1")))
    g.groupBy("doc_id", "b")
      .agg(min(when(col("luma") > 0, col("r"))).as("crop_top"),
        max(when(col("luma") > 0, col("r"))).as("mxlit"),
        sum(when(col("luma") > 0, 1L).otherwise(0L)).as("active_rows"))
      .select(col("doc_id"),
        col("b").cast(IntegerType).as("border_injected"),
        col("crop_top").cast(IntegerType).as("crop_top"),
        (lit(15) - col("mxlit")).cast(IntegerType).as("crop_bottom"),
        col("active_rows"),
        (col("crop_top") > 0).as("letterboxed"),
        (col("crop_top") === col("b") && lit(15) - col("mxlit") === col("b"))
          .as("detector_correct"))
      .orderBy("doc_id")
  }

  val mmLetterboxDetectSql: String =
    """WITH g AS (
      |  SELECT doc_id, b, r,
      |         CASE WHEN r < b OR r > 15 - b THEN 0
      |              ELSE (strpos('0123456789abcdef',
      |                substring(md5(text || '_r' || CAST(r AS VARCHAR)), 1, 1)) - 1)
      |                + 1 END AS luma
      |  FROM (SELECT doc_id, text,
      |               (strpos('0123456789abcdef', substring(md5(text), 1, 1)) - 1) % 4
      |                 AS b
      |        FROM documents) t,
      |       LATERAL (SELECT unnest(generate_series(0, 15)) AS r) u)
      |SELECT doc_id,
      |       CAST(b AS INTEGER) AS border_injected,
      |       CAST(min(CASE WHEN luma > 0 THEN r END) AS INTEGER) AS crop_top,
      |       CAST(15 - max(CASE WHEN luma > 0 THEN r END) AS INTEGER) AS crop_bottom,
      |       CAST(sum(CASE WHEN luma > 0 THEN 1 ELSE 0 END) AS BIGINT) AS active_rows,
      |       min(CASE WHEN luma > 0 THEN r END) > 0 AS letterboxed,
      |       min(CASE WHEN luma > 0 THEN r END) = b AND
      |         15 - max(CASE WHEN luma > 0 THEN r END) = b AS detector_correct
      |FROM g GROUP BY doc_id, b ORDER BY doc_id""".stripMargin

  /** agg-markov-attribution — removal-effect attribution (the Markov
    * cousin of agg-shapley-attribution): user journeys become a
    * first-order chain over channels {click, error, signup, view}
    * with absorbing CONV (purchase) and NULL ends; a channel's credit
    * is how much the START→CONV absorption probability DROPS when the
    * channel is removed (its inbound edges redirected to NULL, its
    * outbound rows dropped). Absorption solved by 14 rounds of the
    * bounded value iteration v ← P_CONV + Q·v on the ≤5-state frame —
    * every round is a ≤175-row join-agg (5 scenarios solved in ONE
    * frame via a scenario column) rounded to 9 dp so cross-engine
    * float noise cannot compound (the PageRank discipline). Fact
    * work: one user-partitioned lag/lead pass to harvest transitions;
    * everything after is constant-size. */
  val aggMarkovAttribution: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ev = events(s, d).select(col("user_id"), col("ts"), col("event_id"),
      col("event_type").as("t"))
      .withColumn("nxt", lead("t", 1).over(w))
      .withColumn("prv", lag("t", 1).over(w))
    val mid = ev.filter(col("t") =!= "purchase")
      .select(col("t").as("src"),
        when(col("nxt").isNull, "NULL")
          .when(col("nxt") === "purchase", "CONV")
          .otherwise(col("nxt")).as("dst"))
    val starts = ev.filter(col("prv").isNull || col("prv") === "purchase")
      .select(lit("START").as("src"),
        when(col("t") === "purchase", "CONV").otherwise(col("t")).as("dst"))
    val cnt = mid.unionAll(starts).groupBy("src", "dst")
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy("src").agg(sum("n").as("nt"))
    val trans = cnt.join(tot, Seq("src"))
      .select(col("src"), col("dst"),
        (col("n").cast(DoubleType) / col("nt").cast(DoubleType)).as("p"))
    val chans = Seq("click", "error", "signup", "view")
    // r14 opt: the transition matrix is bounded BY CONSTRUCTION —
    // src ∈ {4 channels, START}, dst ∈ {4 channels, CONV, NULL}, ≤ 30
    // rows — so the 13 chained scenario join-aggs (≈ 28 tiny exchanges
    // + per-round stage overhead per run) are driver-side no-data work
    // (guide §5; the emb-mmr-rerank precedent). The collected rows
    // carry the SAME p doubles Spark computed; each round applies the
    // identical per-state fold round(Σ term, 9) — the 9-dp rounding is
    // exactly what already absorbed partition-order noise, so a
    // deterministic driver order lands on the same quantized value.
    val tRows = trans.collect().map(r =>
      (r.getString(0), r.getString(1), r.getDouble(2)))
    // bounded BY CONSTRUCTION (src ∈ {4 channels, START} × ≤6 dsts);
    // fail loudly if the key domain ever grows instead of silently
    // scaling an O(states²·rounds) driver loop (r14 advice)
    require(tRows.length <= 64,
      s"agg-markov-attribution: transition matrix has ${tRows.length} rows — " +
        "the ≤30-row construction bound no longer holds; move the loop back to Spark")
    def absorb(removed: Option[String]): Map[String, Double] = {
      val rows = tRows
        .filter { case (src, _, _) => !removed.contains(src) }
        .map { case (src, dst, p) =>
          (src, if (removed.contains(dst)) "NULL" else dst, p) }
      val states = rows.map(_._1).distinct.sorted
      var v = Map.empty[String, Double]
      for (round <- 1 to 14) {
        v = states.map { st =>
          val sum = rows.filter(_._1 == st).sortBy(_._2).foldLeft(0.0) {
            case (acc, (_, dst, p)) =>
              acc + (if (dst == "CONV") p
                     else if (round == 1) 0.0
                     else p * v.getOrElse(dst, 0.0))
          }
          st -> TextDedup.round9(sum)
        }.toMap
      }
      v
    }
    val pFull = absorb(None).getOrElse("START", 0.0)
    import s.implicits._
    val re = chans
      .map(c => (c, pFull, absorb(Some(c)).getOrElse("START", 0.0)))
      .toDF("channel", "p_full", "p_removed")
      .select(col("channel"), col("p_full"), col("p_removed"),
        greatest(lit(0.0), col("p_full") - col("p_removed")).as("re"))
    val reTot = re.agg(sum("re").as("ret"))
    re.crossJoin(broadcast(reTot))
      .select(col("channel"), round(col("p_full"), 6).as("p_conv_full"),
        round(col("p_removed"), 6).as("p_conv_removed"),
        round(col("re"), 6).as("removal_effect"),
        round(col("re") / col("ret"), 4).as("attribution_share"))
      .orderBy("channel")
  }

  val aggMarkovAttributionSql: String = {
    val steps = (2 to 14).map { k =>
      s"""v$k AS (
         |  SELECT t.scen, t.src AS state,
         |         round(sum(CASE WHEN t.dst = 'CONV' THEN t.p
         |                        ELSE t.p * coalesce(v.v, 0) END), 9) AS v
         |  FROM scen t LEFT JOIN v${k - 1} v
         |    ON v.scen = t.scen AND v.state = t.dst
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT user_id, event_type AS t,
       |         lead(event_type) OVER (PARTITION BY user_id
       |           ORDER BY ts, event_id) AS nxt,
       |         lag(event_type) OVER (PARTITION BY user_id
       |           ORDER BY ts, event_id) AS prv
       |  FROM events),
       |mid AS (
       |  SELECT t AS src,
       |         CASE WHEN nxt IS NULL THEN 'NULL'
       |              WHEN nxt = 'purchase' THEN 'CONV'
       |              ELSE nxt END AS dst
       |  FROM ev WHERE t <> 'purchase'),
       |starts AS (
       |  SELECT 'START' AS src,
       |         CASE WHEN t = 'purchase' THEN 'CONV' ELSE t END AS dst
       |  FROM ev WHERE prv IS NULL OR prv = 'purchase'),
       |cnt AS (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT * FROM mid UNION ALL SELECT * FROM starts) u
       |  GROUP BY 1, 2),
       |trans AS (
       |  SELECT src, dst, CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) AS p
       |  FROM cnt JOIN (SELECT src, sum(n) AS nt FROM cnt GROUP BY 1) t
       |  USING (src)),
       |scen AS MATERIALIZED (
       |  SELECT s.scen, tr.src,
       |         CASE WHEN tr.dst = s.scen THEN 'NULL' ELSE tr.dst END AS dst,
       |         tr.p
       |  FROM trans tr CROSS JOIN (SELECT unnest(
       |    ['FULL', 'click', 'error', 'signup', 'view']) AS scen) s
       |  WHERE tr.src <> s.scen),
       |v1 AS (
       |  SELECT scen, src AS state,
       |         round(sum(CASE WHEN dst = 'CONV' THEN p ELSE 0 END), 9) AS v
       |  FROM scen GROUP BY 1, 2),
       |$steps,
       |pstart AS (
       |  SELECT scen, v FROM v14 WHERE state = 'START'),
       |re AS (
       |  SELECT p.scen AS channel, f.v AS p_full, p.v AS p_removed,
       |         greatest(0.0, f.v - p.v) AS re
       |  FROM pstart p CROSS JOIN (SELECT v FROM pstart WHERE scen = 'FULL') f
       |  WHERE p.scen <> 'FULL')
       |SELECT channel, round(p_full, 6) AS p_conv_full,
       |       round(p_removed, 6) AS p_conv_removed,
       |       round(re, 6) AS removal_effect,
       |       round(re / (SELECT sum(re) FROM re), 4) AS attribution_share
       |FROM re ORDER BY channel""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("ann-rng-diversify", annRngDiversify, annRngDiversifySql),
    Key("layout-sort-key-advisor", layoutSortKeyAdvisor, layoutSortKeyAdvisorSql),
    Key("mm-letterbox-detect", mmLetterboxDetect, mmLetterboxDetectSql),
    Key("agg-markov-attribution", aggMarkovAttribution, aggMarkovAttributionSql))
}
