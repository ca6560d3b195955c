package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-8 batch A: survival analysis, time-series diagnostics
  * (autocorrelation, CUSUM changepoint), exact correlation matrix,
  * chi-square categorical drift, local clustering coefficient,
  * assignment-margin curation gate, systematic sampling, RAKE keyword
  * extraction. */
object RelMore57 extends KeyModule {

  /** agg-survival-km — Kaplan-Meier survival over customer order
    * lifetimes: per customer, lifetime = whole days between first and
    * last order; a lifetime is an OBSERVED churn if the customer's last
    * order predates the corpus horizon by more than 365 days, otherwise
    * the customer is right-CENSORED (still active — treating them as
    * churned is the classic retention-analysis bias KM exists to
    * avoid). The estimator S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) over
    * observed-event times.
    *
    * Scale: the per-customer reduce is one map-side-combined groupBy
    * over the fact stream; everything after runs on the |distinct
    * lifetimes|-row aggregate (≤ observation-window days), so the
    * unpartitioned windows are bounded by the calendar, not the data.
    * Determinism: lifetimes/counters are exact integers; the running
    * product is exp∘Σln (the only order-free cumulative-product form
    * both engines share), rounded to 6 dp — ulp-level libm noise is
    * ~1e-15, eight orders below the quantum. */
  val aggSurvivalKm: Q = (s, d) => {
    val ev = orders(s, d).select(col("o_custkey"),
      col("o_orderdate").cast(TimestampType).as("ts"))
    val horizon = ev.agg(max(col("ts")).as("gmax"))
    val durs = ev.groupBy("o_custkey")
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .crossJoin(broadcast(horizon))
      .select(
        expr("(unix_micros(last_ts) - unix_micros(first_ts)) div 86400000000").as("dur"),
        (col("last_ts") < col("gmax") - expr("INTERVAL 365 DAYS"))
          .cast(IntegerType).as("observed"))
    val g = durs.groupBy("dur")
      .agg(count(lit(1)).as("cnt"), sum(col("observed")).as("d"))
    val wRisk = Window.orderBy(col("dur").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSurv = Window.orderBy(col("dur").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("n_risk", sum(col("cnt")).over(wRisk))
      .filter(col("d") > 0)
      .select(col("dur").as("t_days"), col("n_risk"), col("d").as("d_events"),
        round(exp(sum(log(lit(1.0) - col("d").cast(DoubleType) / col("n_risk").cast(DoubleType)))
          .over(wSurv)), 6).as("survival"))
      .orderBy("t_days")
  }

  val aggSurvivalKmSql: String =
    """WITH ev AS (SELECT o_custkey, o_orderdate AS ts FROM orders),
      |durs AS (
      |  SELECT (epoch_us(max(ts)) - epoch_us(min(ts))) // 86400000000 AS dur,
      |         CAST(max(ts) < (SELECT max(ts) FROM ev) - INTERVAL 365 DAY AS INT) AS observed
      |  FROM ev GROUP BY o_custkey),
      |g AS (SELECT dur, count(*) AS cnt, sum(observed) AS d FROM durs GROUP BY dur),
      |r AS (SELECT dur, d,
      |             sum(cnt) OVER (ORDER BY dur DESC
      |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
      |      FROM g)
      |SELECT dur AS t_days, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d_events,
      |       round(exp(sum(ln(1 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)))
      |             OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS survival
      |FROM r WHERE d > 0
      |ORDER BY t_days""".stripMargin

  /** Daily order-count series centered EXACTLY: c_t = x_t·n − Σx is the
    * (x_t − mean) deviation scaled by n, kept in integers so every
    * downstream sum is order-free. Shared by autocorrelation and CUSUM. */
  private def dailyCentered(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("x"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    daily.crossJoin(broadcast(tot))
      .select(col("day"), col("x"), col("n"), col("sx"),
        (col("x") * col("n") - col("sx")).as("c"))
  }

  /** agg-autocorrelation — ACF of the daily order-count series at lags
    * 1–7, the seasonality probe run before fitting any forecast (a
    * weekly cycle shows as an acf₇ spike). acf_k = Σ c_t·c_{t+k} / Σc_t²
    * on the n-scaled integer deviations (see dailyCentered) — numerator
    * and denominator are EXACT bigints (≤ ~5e15 at sf1, inside both
    * int64 and double's 2^53), so the only float op is the final
    * floor-quantized division. Lag pairing is an EQUI-join: each day
    * explodes to 7 (lag, day+lag) probes against the dated series —
    * never a non-equi range join the optimizer can't hash. Scale: the
    * series is |calendar days| regardless of corpus size; the heavy
    * lifting is the one map-side-combined daily rollup. */
  val aggAutocorrelation: Q = (s, d) => {
    val cent = dailyCentered(s, d).select(col("day"), col("c")).sharedCache()
    val den = cent.agg(sum(col("c") * col("c")).as("den"))
    val probes = cent.select(col("day"), col("c").as("ca"),
        explode(expr("sequence(1, 7)")).as("lag"))
      .withColumn("mday", expr("date_add(day, CAST(lag AS INT))"))
      .drop("day")
    probes.join(cent.select(col("day").as("mday"), col("c").as("cb")), Seq("mday"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"), sum(col("ca") * col("cb")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag").cast(IntegerType).as("lag"), col("n_pairs"),
        ratioFloor(col("num"), col("den"), 6).as("acf"))
      .orderBy("lag")
  }

  val aggAutocorrelationSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS x FROM orders GROUP BY 1),
      |tot AS (SELECT count(*) AS n, sum(x) AS sx FROM daily),
      |cent AS (SELECT day, x * n - sx AS c FROM daily CROSS JOIN tot),
      |den AS (SELECT sum(c * c) AS den FROM cent),
      |probes AS (
      |  SELECT c AS ca, k AS lag, day + CAST(k AS INT) AS mday
      |  FROM cent, (SELECT unnest(range(1, 8)) AS k) t)
      |SELECT CAST(p.lag AS INT) AS lag, count(*) AS n_pairs,
      |       floor(CAST(sum(p.ca * b.c) AS DOUBLE) * 1e6 / den) / 1e6 AS acf
      |FROM probes p JOIN cent b ON b.day = p.mday CROSS JOIN den
      |GROUP BY p.lag, den
      |ORDER BY lag""".stripMargin

  /** agg-changepoint-cusum — CUSUM changepoint localization on the
    * daily order-count series: C_t = Σ_{i≤t}(x_i − mean) peaks exactly
    * where the level shifts; report the 5 largest |C_t| with their
    * in-series position. Kept in n-scaled integers (C_t·n = n·Σ_{i≤t}x_i
    * − t·Σx), so the statistic is exact and order-free — no float mean
    * enters. The running sums are one window over the |days|-row
    * aggregate (calendar-bounded, see agg-autocorrelation). */
  val aggChangepointCusum: Q = (s, d) => {
    val cent = dailyCentered(s, d)
    val wAsc = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cent.withColumn("cusum_scaled", sum(col("c")).over(wAsc))
      .withColumn("t_idx", row_number().over(Window.orderBy(col("day").asc)))
      .orderBy(abs(col("cusum_scaled")).desc, col("day").asc)
      .limit(5)
      .withColumn("rk", row_number().over(
        Window.orderBy(abs(col("cusum_scaled")).desc, col("day").asc)).cast(IntegerType))
      .select(col("rk"), col("day"), col("x"), col("t_idx").cast(LongType).as("t_idx"),
        col("cusum_scaled"))
      .orderBy("rk")
  }

  val aggChangepointCusumSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS x FROM orders GROUP BY 1),
      |tot AS (SELECT count(*) AS n, sum(x) AS sx FROM daily),
      |cum AS (
      |  SELECT day, x,
      |         sum(x * n - sx) OVER (ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum_scaled,
      |         row_number() OVER (ORDER BY day) AS t_idx
      |  FROM daily CROSS JOIN tot)
      |SELECT CAST(row_number() OVER (ORDER BY abs(cusum_scaled) DESC, day) AS INT) AS rk,
      |       day, x, CAST(t_idx AS BIGINT) AS t_idx, CAST(cusum_scaled AS BIGINT) AS cusum_scaled
      |FROM cum
      |ORDER BY abs(cusum_scaled) DESC, day
      |LIMIT 5""".stripMargin

  /** agg-correlation-matrix — the pairwise Pearson matrix over
    * lineitem's four numeric measures, the 30-second collinearity
    * screen before any modeling. corr = (nΣxy − ΣxΣy) /
    * √(nΣx²−(Σx)²)·√(nΣy²−(Σy)²) where every Σ runs over EXACT
    * integer-quantized values (cents / basis points) — Spark carries
    * the wide sums in DECIMAL(38,0), DuckDB in HUGEINT, and both cast
    * the identical exact numerators to double for the one sqrt/divide,
    * so the doubles agree to the bit. ONE map-side-combined aggregate
    * computes all 14 moments in a single scan (no per-pair passes),
    * then 6 rows unfold driver-free via stack. */
  val aggCorrelationMatrix: Q = (s, d) => {
    val vars = Seq(
      "qty" -> "CAST(floor(l_quantity * 100) AS DECIMAL(38,0))",
      "price" -> "CAST(floor(l_extendedprice * 100) AS DECIMAL(38,0))",
      "disc" -> "CAST(floor(l_discount * 10000) AS DECIMAL(38,0))",
      "tax" -> "CAST(floor(l_tax * 10000) AS DECIMAL(38,0))")
    val base = lineitem(s, d).select(
      vars.map { case (n, e) => expr(e).as(n) }: _*)
    val pairs = for {
      (a, ia) <- vars.map(_._1).zipWithIndex
      (b, ib) <- vars.map(_._1).zipWithIndex if ia < ib
    } yield (a, b)
    val moments =
      Seq(count(lit(1)).cast(DecimalType(38, 0)).as("n")) ++
      vars.map { case (v, _) => sum(col(v)).as(s"s_$v") } ++
      vars.map { case (v, _) => sum(col(v) * col(v)).as(s"ss_$v") } ++
      pairs.map { case (a, b) => sum(col(a) * col(b)).as(s"sp_${a}_$b") }
    val m = base.agg(moments.head, moments.tail: _*)
    val stackArgs = pairs.map { case (a, b) =>
      s"'${a}_$b', round(CAST(n * sp_${a}_$b - s_$a * s_$b AS DOUBLE) / " +
        s"(sqrt(CAST(n * ss_$a - s_$a * s_$a AS DOUBLE)) * " +
        s"sqrt(CAST(n * ss_$b - s_$b * s_$b AS DOUBLE))), 6)"
    }.mkString(", ")
    m.selectExpr(s"stack(${pairs.size}, $stackArgs) AS (pair, corr)")
      .orderBy("pair")
  }

  val aggCorrelationMatrixSql: String = {
    val vars = Seq("qty" -> "CAST(floor(l_quantity * 100) AS BIGINT)",
      "price" -> "CAST(floor(l_extendedprice * 100) AS BIGINT)",
      "disc" -> "CAST(floor(l_discount * 10000) AS BIGINT)",
      "tax" -> "CAST(floor(l_tax * 10000) AS BIGINT)")
    val pairs = for {
      (a, ia) <- vars.map(_._1).zipWithIndex
      (b, ib) <- vars.map(_._1).zipWithIndex if ia < ib
    } yield (a, b)
    val momentCols =
      vars.map { case (v, e) => s"sum($e) AS s_$v, sum($e * $e) AS ss_$v" } ++
      pairs.map { case (a, b) =>
        val ea = vars.toMap.apply(a); val eb = vars.toMap.apply(b)
        s"sum($ea * $eb) AS sp_${a}_$b" }
    val rows = pairs.map { case (a, b) =>
      s"""SELECT '${a}_$b' AS pair,
         |  round(CAST(n * sp_${a}_$b - s_$a * s_$b AS DOUBLE) /
         |    (sqrt(CAST(n * ss_$a - s_$a * s_$a AS DOUBLE)) *
         |     sqrt(CAST(n * ss_$b - s_$b * s_$b AS DOUBLE))), 6) AS corr
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS (
       |  SELECT count(*) AS n, ${momentCols.mkString(", ")}
       |  FROM lineitem)
       |SELECT pair, corr FROM ($rows)
       |ORDER BY pair""".stripMargin
  }

  /** dq-chi-square — Pearson's χ² homogeneity test between the first
    * and second half of the event window's event-type mix, the
    * categorical counterpart of dq-ks-drift (continuous) and
    * dq-mann-whitney (ordinal): did the composition shift? Expected
    * counts come from the pooled margins; the output is each type's
    * contribution (the drill-down that says WHICH category moved) plus
    * the observed counts. One conditional-count aggregate over the
    * stream + a broadcast of the 1-row margins — the same
    * two-aggregate shape every dq-* gate here uses. Contributions are
    * exact-integer-derived doubles rounded at 6 dp. */
  val dqChiSquare: Q = (s, d) => {
    val ev = events(s, d)
    val split = ev.agg((min(col("ts")) + expr("INTERVAL 15 DAYS")).as("split_ts"))
    val counts = ev.crossJoin(broadcast(split))
      .groupBy("event_type")
      .agg(sum(when(col("ts") < col("split_ts"), 1L).otherwise(0L)).as("o1"),
        sum(when(col("ts") >= col("split_ts"), 1L).otherwise(0L)).as("o2"))
    val margins = counts.agg(sum(col("o1")).as("n1"), sum(col("o2")).as("n2"))
    counts.crossJoin(broadcast(margins))
      .select(col("event_type"), col("o1"), col("o2"),
        round(
          pow(col("o1").cast(DoubleType) - (col("o1") + col("o2")).cast(DoubleType) * col("n1") / (col("n1") + col("n2")), 2)
            / ((col("o1") + col("o2")).cast(DoubleType) * col("n1") / (col("n1") + col("n2"))) +
          pow(col("o2").cast(DoubleType) - (col("o1") + col("o2")).cast(DoubleType) * col("n2") / (col("n1") + col("n2")), 2)
            / ((col("o1") + col("o2")).cast(DoubleType) * col("n2") / (col("n1") + col("n2"))), 6).as("chi2_contrib"))
      .orderBy("event_type")
  }

  val dqChiSquareSql: String =
    """WITH split AS (
      |  SELECT min(ts) + INTERVAL 15 DAY AS split_ts FROM events),
      |counts AS (
      |  SELECT event_type,
      |         sum(CASE WHEN ts < split_ts THEN 1 ELSE 0 END) AS o1,
      |         sum(CASE WHEN ts >= split_ts THEN 1 ELSE 0 END) AS o2
      |  FROM events CROSS JOIN split GROUP BY event_type),
      |margins AS (SELECT sum(o1) AS n1, sum(o2) AS n2 FROM counts)
      |SELECT event_type, CAST(o1 AS BIGINT) AS o1, CAST(o2 AS BIGINT) AS o2,
      |       round(
      |         pow(CAST(o1 AS DOUBLE) - CAST(o1 + o2 AS DOUBLE) * n1 / (n1 + n2), 2)
      |           / (CAST(o1 + o2 AS DOUBLE) * n1 / (n1 + n2)) +
      |         pow(CAST(o2 AS DOUBLE) - CAST(o1 + o2 AS DOUBLE) * n2 / (n1 + n2), 2)
      |           / (CAST(o1 + o2 AS DOUBLE) * n2 / (n1 + n2)), 6) AS chi2_contrib
      |FROM counts CROSS JOIN margins
      |ORDER BY event_type""".stripMargin

  /** graph-clustering-coeff — local clustering coefficient
    * lcc(v) = 2·tri(v)/(deg(v)·(deg(v)−1)) on the co-purchase graph
    * (same %29-thinned part graph as graph-kcore), for the 20
    * highest-degree nodes: how clique-like each hub's neighborhood is —
    * the node-level refinement of graph-triangle-count's global number.
    * Triangles enumerate once as ordered a<b<c via two equi-joins on
    * the ordered edge list (each triangle counted exactly once, then
    * credited to its three corners) — the standard compact-forward
    * pattern whose join fan-out is Σdeg², already bounded by the same
    * df-thinning the pair build applies. Exact integer ratio, floored
    * at 6 dp. */
  val graphClusteringCoeff: Q = (s, d) => {
    val li = lineitem(s, d).filter(col("l_orderkey") % 29 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val e = li.as("a").join(li.as("b"), Seq("ok"))
      .filter(col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .distinct().sharedCache()
    // single-stage fill: the final action reads e five times (degree
    // union + the triangle triple self-join) from concurrent stages
    // (r13 bench-conditions WarnProbe attribution — block-put race)
    e.count()
    val deg = e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.v") === col("e2.u"))
      .join(e.as("e3"), col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    val triPerNode = tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.join(triPerNode, Seq("node"), "left_outer")
      .select(col("node"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("lcc", when(col("deg") >= 2,
        ratioFloor(col("tri") * 2, col("deg") * (col("deg") - 1), 6)).otherwise(lit(0.0)))
      .orderBy(col("deg").desc, col("node").asc)
      .limit(20)
  }

  val graphClusteringCoeffSql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem WHERE l_orderkey % 29 = 0),
       |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
       |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |deg AS (SELECT node, count(*) AS deg FROM (
       |          SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY node),
       |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |        FROM e e1 JOIN e e2 ON e2.u = e1.v
       |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
       |tpn AS (SELECT node, count(*) AS tri FROM (
       |          SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
       |          UNION ALL SELECT c FROM tri) GROUP BY node)
       |SELECT d.node, d.deg, coalesce(t.tri, 0) AS tri,
       |       CASE WHEN d.deg >= 2
       |            THEN ${ratioFloorSql("coalesce(t.tri, 0) * 2", "(d.deg * (d.deg - 1))", 6)}
       |            ELSE 0.0 END AS lcc
       |FROM deg d LEFT JOIN tpn t ON t.node = d.node
       |ORDER BY d.deg DESC, d.node
       |LIMIT 20""".stripMargin

  /** emb-assign-margin — the assignment-confidence gate: per vector,
    * the relative margin (d₂−d₁)/d₂ between its nearest and
    * second-nearest centroid. Low-margin vectors sit on cluster
    * boundaries — the standard curation filter drops them before
    * building IVF training sets or pseudo-labels, because their
    * assignment flips under tiny perturbations. Same codebook,
    * micro-quantization and fold-order discipline as emb-kmeans-assign
    * (exact long centroid sums, one double division, identical
    * dot-product expansion); the margin adds one window picking ranks
    * 1–2 instead of rank 1. Broadcast codebook, no corpus shuffle
    * until the per-vector 2-row pivot. */
  val embAssignMargin: Q = (s, d) => {
    graft.functions.DotProduct.register(s)
    val base = embeddings(s, d).select(col("vec_id"), col("label"),
      expr("quantize_lattice_long(embedding, 1000000.0D)").as("xi"))
    val comp = base.select(col("label"), posexplode(col("xi")).as(Seq("pos", "x")))
    val cent = comp.groupBy(col("label"), col("pos"))
      .agg(sum(col("x")).as("sd"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, sd))), s -> CAST(s.sd AS DOUBLE))").as("sv"),
        max(col("n")).as("n"))
      .select(col("label").as("clabel"),
        expr("transform(sv, x -> x / CAST(n AS DOUBLE))").as("cv"))
    val v = base.withColumn("v", expr("transform(xi, x -> CAST(x AS DOUBLE))"))
    val scored = v.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("clabel"),
        expr("dot_product(v, v) - 2 * dot_product(v, cv) + dot_product(cv, cv)").as("dist2"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist2").asc, col("clabel").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 2)
      .groupBy("vec_id")
      .agg(min(when(col("rk") === 1, col("clabel"))).as("assigned_label"),
        min(when(col("rk") === 1, col("dist2"))).as("d1"),
        min(when(col("rk") === 2, col("dist2"))).as("d2"))
      .select(col("vec_id"), col("assigned_label"),
        floor(col("d1") / lit(1000000.0)).cast(LongType).as("d1_q"),
        when(col("d2") > 0,
          floor((col("d2") - col("d1")) * lit(1000000.0) / col("d2")).cast(LongType))
          .otherwise(lit(0L)).as("margin_ppm"))
      .orderBy("vec_id")
  }

  val embAssignMarginSql: String =
    """WITH base AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xi
      |  FROM embeddings),
      |comp AS (
      |  SELECT label, unnest(xi) AS x, unnest(range(1, len(xi) + 1)) AS pos
      |  FROM base),
      |cent AS (
      |  SELECT label AS clabel,
      |         list(CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY pos) AS cv
      |  FROM (SELECT label, pos, CAST(sum(x) AS BIGINT) AS sd, count(*) AS n
      |        FROM comp GROUP BY 1, 2)
      |  GROUP BY label),
      |v AS (SELECT vec_id, list_transform(xi, x -> CAST(x AS DOUBLE)) AS v FROM base),
      |scored AS (
      |  SELECT vec_id, clabel,
      |         list_inner_product(v, v) - 2 * list_inner_product(v, cv) + list_inner_product(cv, cv) AS dist2
      |  FROM v CROSS JOIN cent),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, clabel) AS rk
      |  FROM scored),
      |piv AS (
      |  SELECT vec_id,
      |         min(CASE WHEN rk = 1 THEN clabel END) AS assigned_label,
      |         min(CASE WHEN rk = 1 THEN dist2 END) AS d1,
      |         min(CASE WHEN rk = 2 THEN dist2 END) AS d2
      |  FROM ranked WHERE rk <= 2 GROUP BY vec_id)
      |SELECT vec_id, assigned_label,
      |       CAST(floor(d1 / 1000000.0) AS BIGINT) AS d1_q,
      |       CASE WHEN d2 > 0
      |            THEN CAST(floor((d2 - d1) * 1000000.0 / d2) AS BIGINT)
      |            ELSE 0 END AS margin_ppm
      |FROM piv
      |ORDER BY vec_id""".stripMargin

  /** sample-systematic — systematic (every-mᵗʰ) sampling on a portable
    * hash order: rank all orders by the same multiplicative hash
    * sample-uniform-k uses, keep ranks ≡ 1 (mod 200). Unlike
    * Bernoulli-by-hash (text-hash-split) the sample size is exactly
    * ⌈n/200⌉ — systematic sampling trades hash-split's per-row
    * independence for a guaranteed rate, and the hash ordering destroys
    * any correlation with insertion/key order that classic
    * every-mᵗʰ-by-rowid suffers from. The global rank comes from the
    * PrefixScan two-pass (range exchange + per-partition offsets) — a
    * Spark no-partition Window would funnel the whole table through one
    * task; the graded output is the per-class rollup, not the sample
    * itself. */
  val sampleSystematic: Q = (s, d) => {
    val h = orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        ((col("o_orderkey") * lit(2654435761L)) % lit(1000000007L)).as("h"))
    graft.functions.PrefixScan.withRankCumSum(h,
        Seq(col("h"), col("o_orderkey")), None, rankName = "rk").df
      .filter(col("rk") % 200 === 1)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_sampled"),
        outNum(sum(dec2(col("o_totalprice")))).as("revenue"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderpriority")
  }

  val sampleSystematicSql: String =
    """WITH h AS (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice,
      |         (o_orderkey * 2654435761) % 1000000007 AS h
      |  FROM orders),
      |r AS (SELECT *, row_number() OVER (ORDER BY h, o_orderkey) AS rk FROM h)
      |SELECT o_orderpriority, count(*) AS n_sampled,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM r WHERE rk % 200 = 1
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** text-keyword-rake — RAKE keyword scoring (Rose et al. 2010) over
    * the document corpus: candidate phrases are maximal stopword-free
    * word runs (the gaps-and-islands trick — ordinal minus kept-rank is
    * constant within a run, so phrase segmentation is pure relational
    * algebra, no per-row UDF); each word scores degree/frequency where
    * degree sums the lengths of every phrase containing it — words
    * living in long phrases outrank bare frequent words, which is
    * RAKE's whole advantage over raw TF for keyword harvesting.
    * Output: top-20 corpus keywords. Scale: explode → two
    * map-side-combined aggregates keyed on (doc, run) then word; the
    * phrase table never materializes text, only lengths. */
  val textKeywordRake: Q = (s, d) => {
    val stop = Seq("the", "a", "an", "of", "and", "to", "in", "is", "on", "for",
      "with", "at", "by", "from", "as", "it", "its", "be", "are", "was",
      "this", "that", "")
    val words = documents(s, d)
      .select(col("doc_id"), posexplode(split(lower(col("text")), " ")).as(Seq("pos", "w")))
    val kept = words.filter(!col("w").isInCollection(stop))
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
    val phrases = kept.groupBy("doc_id", "grp").agg(count(lit(1)).as("plen"))
    kept.join(phrases, Seq("doc_id", "grp"))
      .groupBy(col("w").as("word"))
      .agg(sum(col("plen")).as("degree"), count(lit(1)).as("freq"))
      .filter(col("freq") >= 5)
      .withColumn("score", ratioFloor(col("degree"), col("freq"), 6))
      .orderBy(col("score").desc, col("freq").desc, col("word").asc)
      .limit(20)
  }

  val textKeywordRakeSql: String = {
    val stopList = Seq("the", "a", "an", "of", "and", "to", "in", "is", "on", "for",
      "with", "at", "by", "from", "as", "it", "its", "be", "are", "was",
      "this", "that", "").map(w => s"'$w'").mkString(", ")
    s"""WITH words AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w,
       |         unnest(range(1, len(string_split(lower(text), ' ')) + 1)) AS pos
       |  FROM documents),
       |kept AS (
       |  SELECT doc_id, w, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM words WHERE w NOT IN ($stopList)),
       |phrases AS (
       |  SELECT doc_id, grp, count(*) AS plen FROM kept GROUP BY doc_id, grp),
       |scored AS (
       |  SELECT k.w AS word, sum(p.plen) AS degree, count(*) AS freq
       |  FROM kept k JOIN phrases p ON p.doc_id = k.doc_id AND p.grp = k.grp
       |  GROUP BY k.w)
       |SELECT word, CAST(degree AS BIGINT) AS degree, CAST(freq AS BIGINT) AS freq,
       |       ${ratioFloorSql("degree", "freq", 6)} AS score
       |FROM scored WHERE freq >= 5
       |ORDER BY score DESC, freq DESC, word
       |LIMIT 20""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("agg-survival-km", aggSurvivalKm, aggSurvivalKmSql),
    Key("agg-autocorrelation", aggAutocorrelation, aggAutocorrelationSql),
    Key("agg-changepoint-cusum", aggChangepointCusum, aggChangepointCusumSql),
    Key("agg-correlation-matrix", aggCorrelationMatrix, aggCorrelationMatrixSql),
    Key("dq-chi-square", dqChiSquare, dqChiSquareSql),
    Key("graph-clustering-coeff", graphClusteringCoeff, graphClusteringCoeffSql),
    Key("emb-assign-margin", embAssignMargin, embAssignMarginSql),
    Key("sample-systematic", sampleSystematic, sampleSystematicSql),
    Key("text-keyword-rake", textKeywordRake, textKeywordRakeSql))
}
