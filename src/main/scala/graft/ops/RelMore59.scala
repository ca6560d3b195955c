package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-8 batch C: SQL UNPIVOT surface, semi-additive balance rollup,
  * corpus novelty curve, delta-method ratio variance, degree
  * assortativity, jackknife standard errors. */
object RelMore59 extends KeyModule {

  /** sql-unpivot-clause — the SQL-level UNPIVOT clause (Spark 3.4+
    * syntax, ANSI-adjacent), the declarative twin of agg-unpivot's
    * DataFrame melt: four measures unpivot to (metric, value) rows and
    * aggregate per metric in one statement. UNPIVOT is a generator
    * projection — map-side fan-out, no shuffle until the aggregate —
    * and the SQL spelling is what a BI tool emits. The oracle spells
    * the portable UNION ALL. */
  val sqlUnpivotClause: Q = (s, d) => {
    lineitem(s, d).createOrReplaceTempView("lineitem_unpv")
    s.sql(
      """SELECT metric, count(*) AS n,
        |       CAST(min(value) AS DOUBLE) AS min_v,
        |       CAST(max(value) AS DOUBLE) AS max_v,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
        |FROM (
        |  SELECT * FROM (
        |    SELECT l_quantity, l_extendedprice, l_discount, l_tax FROM lineitem_unpv)
        |  UNPIVOT (value FOR metric IN (
        |    l_quantity, l_extendedprice, l_discount, l_tax)))
        |GROUP BY metric
        |ORDER BY metric""".stripMargin)
  }

  val sqlUnpivotClauseSql: String =
    """WITH long AS (
      |  SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
      |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
      |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
      |SELECT metric, count(*) AS n,
      |       CAST(min(value) AS DOUBLE) AS min_v,
      |       CAST(max(value) AS DOUBLE) AS max_v,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
      |FROM long
      |GROUP BY metric
      |ORDER BY metric""".stripMargin

  /** agg-semi-additive-balance — the semi-additive fact pattern:
    * account balances sum across ACCOUNTS at a point in time but never
    * across TIME (summing month-end balances over months is the classic
    * wrong answer Kimball warns about). Per customer the running
    * lifetime-revenue "balance" is carried over a (customer × month)
    * scaffold from the account's opening month (dense months, LOCF via
    * cumulative sum — a month without orders contributes 0 but the
    * balance persists), then each month reports the point-in-time
    * average balance and open-account count. Scale: the scaffold is
    * |accounts|×|months| (bounded by calendar), the window is
    * partitioned per account — no global sort anywhere. */
  val aggSemiAdditiveBalance: Q = (s, d) => {
    val act = orders(s, d)
      .groupBy(col("o_custkey").as("cust"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mid"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("rev"))
    val months = act.select(col("mid")).distinct()
    val opening = act.groupBy("cust").agg(min(col("mid")).as("fm"))
    val scaffold = opening.crossJoin(months).filter(col("mid") >= col("fm"))
    val wCum = Window.partitionBy("cust").orderBy("mid")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scaffold.join(act, Seq("cust", "mid"), "left_outer")
      .withColumn("balance", sum(coalesce(col("rev"), lit(0L))).over(wCum))
      .groupBy("mid")
      .agg(count(lit(1)).as("n_open"), sum(col("balance")).as("total_balance"))
      .select(
        concat(format_string("%04d", expr("(mid - 1) div 12")),
          lit("-"), format_string("%02d", pmod(col("mid") - 1, lit(12)) + 1)).as("month"),
        col("n_open"),
        ratioFloor(col("total_balance"), col("n_open"), 2).as("avg_balance_cents"))
      .orderBy("month")
  }

  val aggSemiAdditiveBalanceSql: String =
    s"""WITH act AS (
       |  SELECT o_custkey AS cust,
       |         year(o_orderdate) * 12 + month(o_orderdate) AS mid,
       |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
       |  FROM orders GROUP BY 1, 2),
       |months AS (SELECT DISTINCT mid FROM act),
       |opening AS (SELECT cust, min(mid) AS fm FROM act GROUP BY cust),
       |scaffold AS (
       |  SELECT o.cust, m.mid FROM opening o CROSS JOIN months m WHERE m.mid >= o.fm),
       |bal AS (
       |  SELECT s.cust, s.mid,
       |         sum(coalesce(a.rev, 0)) OVER (PARTITION BY s.cust ORDER BY s.mid
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance
       |  FROM scaffold s LEFT JOIN act a ON a.cust = s.cust AND a.mid = s.mid)
       |SELECT printf('%04d-%02d', (mid - 1) // 12, (mid - 1) % 12 + 1) AS month,
       |       count(*) AS n_open,
       |       ${ratioFloorSql("sum(balance)", "count(*)", 2)} AS avg_balance_cents
       |FROM bal
       |GROUP BY mid
       |ORDER BY month""".stripMargin

  /** text-novelty-curve — corpus novelty by ingestion order: docs
    * bucket by doc_id into 10 equal-width cohorts; a 3-gram shingle is
    * NOVEL in the first bucket that contains it (min over buckets —
    * one aggregate, no ordered scan), and each bucket reports the
    * novel fraction of its distinct shingles. A healthy growing corpus
    * holds a high novelty floor; a crawl revisiting itself decays
    * toward 0 — this curve is the cheapest way to see diminishing data
    * returns BEFORE training on the new slice. Exact integer ratios. */
  val textNoveltyCurve: Q = (s, d) => {
    val nb = 10
    val bounds = documents(s, d).agg(
      min(col("doc_id")).as("lo"), (max(col("doc_id")) + 1).as("hi"))
    val sh = documents(s, d).crossJoin(broadcast(bounds))
      .select(least(lit(nb - 1),
          expr(s"((doc_id - lo) * $nb) div (hi - lo)").cast(IntegerType))
        .as("bucket"),
        col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("bucket"),
        explode(expr("transform(sequence(0, size(w) - 3), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))")).as("sh"))
      .distinct()
    val firstSeen = sh.groupBy("sh").agg(min(col("bucket")).as("first_bucket"))
    sh.join(firstSeen, Seq("sh"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_bucket") === col("bucket"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("bucket"), col("n_shingles"), col("n_novel"),
        ratioFloor(col("n_novel"), col("n_shingles"), 6).as("novelty"))
      .orderBy("bucket")
  }

  val textNoveltyCurveSql: String =
    s"""WITH bounds AS (
       |  SELECT min(doc_id) AS lo, max(doc_id) + 1 AS hi FROM documents),
       |words AS (
       |  SELECT least(9, CAST(((doc_id - lo) * 10) // (hi - lo) AS INT)) AS bucket,
       |         string_split(text, ' ') AS w
       |  FROM documents CROSS JOIN bounds
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (
       |  SELECT DISTINCT bucket, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
       |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) t),
       |firstseen AS (SELECT sh, min(bucket) AS first_bucket FROM sh GROUP BY sh)
       |SELECT s.bucket, count(*) AS n_shingles,
       |       CAST(sum(CASE WHEN f.first_bucket = s.bucket THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |       ${ratioFloorSql("sum(CASE WHEN f.first_bucket = s.bucket THEN 1 ELSE 0 END)", "count(*)", 6)} AS novelty
       |FROM sh s JOIN firstseen f ON f.sh = s.sh
       |GROUP BY s.bucket
       |ORDER BY s.bucket""".stripMargin

  /** agg-delta-method-var — delta-method standard error for a RATIO
    * metric (revenue per order, unit = customer), the experimentation
    * statistic naive per-row variance gets WRONG because both numerator
    * and denominator vary per unit: Var(X̄/Ȳ) ≈ (σ²_x − 2Rσ_xy +
    * R²σ²_y)/(n·μ²_y). Companion of agg-abtest-gate / agg-cuped-adjust.
    * All moment sums are exact (cents in DECIMAL(38)/HUGEINT); the
    * closed form runs on exact-integer-derived doubles — bit-identical
    * across engines, rounded at 6 dp. One map-side-combined per-unit
    * reduce, one |nations|-row moment pass. */
  val aggDeltaMethodVar: Q = (s, d) => {
    val perCust = orders(s, d)
      .join(broadcast(customer(s, d).select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("o_custkey"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .cast(DecimalType(38, 0)).as("x"),
        count(lit(1)).cast(DecimalType(38, 0)).as("y"))
    perCust.groupBy("c_nationkey")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("c_nationkey"), col("n").cast(LongType).as("n_custs"),
        ratioFloor(col("sx"), col("sy"), 6).as("ratio"),
        round(sqrt(
          (expr("CAST(n * sxx - sx * sx AS DOUBLE)")
            - lit(2.0) * expr("CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)")
              * expr("CAST(n * sxy - sx * sy AS DOUBLE)")
            + expr("CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)")
              * expr("CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)")
              * expr("CAST(n * syy - sy * sy AS DOUBLE)"))
          / expr("CAST(n AS DOUBLE) * CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)")), 6).as("se"))
      .orderBy("c_nationkey")
  }

  val aggDeltaMethodVarSql: String =
    s"""WITH per_cust AS (
       |  SELECT c.c_nationkey, o.o_custkey,
       |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x,
       |         count(*) AS y
       |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
       |  GROUP BY 1, 2),
       |m AS (
       |  SELECT c_nationkey, count(*) AS n,
       |         sum(x) AS sx, sum(y) AS sy,
       |         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
       |  FROM per_cust GROUP BY 1)
       |SELECT c_nationkey, CAST(n AS BIGINT) AS n_custs,
       |       ${ratioFloorSql("sx", "sy", 6)} AS ratio,
       |       round(sqrt(
       |         (CAST(n * sxx - sx * sx AS DOUBLE)
       |          - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
       |            * CAST(n * sxy - sx * sy AS DOUBLE)
       |          + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
       |            * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
       |            * CAST(n * syy - sy * sy AS DOUBLE))
       |         / (CAST(n AS DOUBLE) * CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS se
       |FROM m
       |ORDER BY c_nationkey""".stripMargin

  /** graph-assortativity — degree assortativity of the co-purchase
    * graph: the Pearson correlation of (deg(u), deg(v)) over directed
    * edge ends. Positive = hubs link hubs (social-network shape),
    * negative = hubs link leaves (dependency/star shape) — the one
    * scalar that says which iteration strategies will skew. Exact
    * integer moments over the edge list (agg-correlation-matrix's
    * discipline applied to a graph), one broadcast degree join, one
    * moment aggregate. */
  val graphAssortativity: Q = (s, d) => {
    val li = lineitem(s, d).filter(col("l_orderkey") % 29 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val pairs = li.as("a").join(li.as("b"), Seq("ok"))
      .filter(col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .distinct()
    val edges = pairs.unionAll(pairs.select(col("v").as("u"), col("u").as("v")))
    val deg = edges.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    edges
      .join(broadcast(deg.select(col("node").as("u"), col("deg").as("xd"))), Seq("u"))
      .join(broadcast(deg.select(col("node").as("v"), col("deg").as("yd"))), Seq("v"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(col("xd")).cast(DecimalType(38, 0)).as("sx"),
        sum(col("yd")).cast(DecimalType(38, 0)).as("sy"),
        sum(col("xd") * col("xd")).cast(DecimalType(38, 0)).as("sxx"),
        sum(col("yd") * col("yd")).cast(DecimalType(38, 0)).as("syy"),
        sum(col("xd") * col("yd")).cast(DecimalType(38, 0)).as("sxy"))
      .select(col("n").cast(LongType).as("n_edge_ends"),
        round(expr("CAST(n * sxy - sx * sy AS DOUBLE)") /
          (sqrt(expr("CAST(n * sxx - sx * sx AS DOUBLE)")) *
           sqrt(expr("CAST(n * syy - sy * sy AS DOUBLE)"))), 6).as("assortativity"))
  }

  val graphAssortativitySql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |            FROM lineitem WHERE l_orderkey % 29 = 0),
      |pairs AS (SELECT DISTINCT a.pk AS u, b.pk AS v
      |          FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
      |deg AS (SELECT u AS node, count(*) AS deg FROM edges GROUP BY 1),
      |m AS (
      |  SELECT count(*) AS n,
      |         sum(du.deg) AS sx, sum(dv.deg) AS sy,
      |         sum(du.deg * du.deg) AS sxx, sum(dv.deg * dv.deg) AS syy,
      |         sum(du.deg * dv.deg) AS sxy
      |  FROM edges e
      |  JOIN deg du ON du.node = e.u
      |  JOIN deg dv ON dv.node = e.v)
      |SELECT CAST(n AS BIGINT) AS n_edge_ends,
      |       round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |             (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |              sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS assortativity
      |FROM m""".stripMargin

  /** agg-jackknife-se — delete-one-group jackknife standard error of
    * mean order revenue over 10 deterministic md5 folds: θ̂ᵢ is the
    * mean with fold i removed — (S − sᵢ)/(n − nᵢ) from the per-fold
    * sums, so the k leave-one-out estimates cost ONE aggregate, not k
    * passes — and SE = √((k−1)/k · Σ(θ̂ᵢ − θ̄)²). The
    * distribution-free companion of agg-delta-method-var (model-based)
    * and agg-abtest-gate (parametric): when the metric is weirder than
    * a ratio, the jackknife still gives an honest error bar, and the
    * hash folds make it reproducible across engines, runs, and
    * repartitioning. Exact cents in the fold sums; the k-term variance
    * runs at k = 10 doubles. */
  val aggJackknifeSe: Q = (s, d) => {
    val folds = orders(s, d)
      .select(expr("(instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 1, 1)) - 1) % 10").as("fold"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy("fold")
      .agg(count(lit(1)).as("ni"), sum(col("cents")).as("si"))
    val tot = folds.agg(count(lit(1)).as("k"),
      sum(col("ni")).as("n"), sum(col("si")).as("s"))
    val thetas = folds.crossJoin(broadcast(tot))
      .select(col("k"), col("n"), col("s"),
        (expr("CAST(s - si AS DOUBLE)") / expr("CAST(n - ni AS DOUBLE)")).as("theta_i"))
    thetas.groupBy("k", "n", "s")
      .agg(sum(col("theta_i")).as("sum_t"), sum(col("theta_i") * col("theta_i")).as("sum_t2"))
      .select(col("k").cast(IntegerType).as("k"), col("n").as("n_orders"),
        ratioFloor(col("s"), col("n"), 2).as("mean_cents"),
        round(sqrt((col("k") - 1).cast(DoubleType) / col("k").cast(DoubleType)
          * (col("sum_t2") - col("sum_t") * col("sum_t") / col("k").cast(DoubleType))), 4).as("jk_se_cents"))
  }

  val aggJackknifeSeSql: String =
    s"""WITH folds AS (
       |  SELECT (strpos('0123456789abcdef', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) % 10 AS fold,
       |         count(*) AS ni,
       |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS si
       |  FROM orders GROUP BY 1),
       |tot AS (SELECT count(*) AS k, sum(ni) AS n, sum(si) AS s FROM folds),
       |thetas AS (
       |  SELECT k, n, s, CAST(s - si AS DOUBLE) / CAST(n - ni AS DOUBLE) AS theta_i
       |  FROM folds CROSS JOIN tot),
       |agg AS (
       |  SELECT k, n, s, sum(theta_i) AS sum_t, sum(theta_i * theta_i) AS sum_t2
       |  FROM thetas GROUP BY k, n, s)
       |SELECT CAST(k AS INT) AS k, CAST(n AS BIGINT) AS n_orders,
       |       ${ratioFloorSql("s", "n", 2)} AS mean_cents,
       |       round(sqrt(CAST(k - 1 AS DOUBLE) / CAST(k AS DOUBLE)
       |         * (sum_t2 - sum_t * sum_t / CAST(k AS DOUBLE))), 4) AS jk_se_cents
       |FROM agg""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sql-unpivot-clause", sqlUnpivotClause, sqlUnpivotClauseSql),
    Key("agg-semi-additive-balance", aggSemiAdditiveBalance, aggSemiAdditiveBalanceSql),
    Key("text-novelty-curve", textNoveltyCurve, textNoveltyCurveSql),
    Key("agg-delta-method-var", aggDeltaMethodVar, aggDeltaMethodVarSql),
    Key("graph-assortativity", graphAssortativity, graphAssortativitySql),
    Key("agg-jackknife-se", aggJackknifeSe, aggJackknifeSeSql))
}
