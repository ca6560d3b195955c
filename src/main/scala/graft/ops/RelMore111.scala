package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch L: nested-model ANOVA F, Rocchio centroid classifier
  * confusion, CSV null/escape roundtrip, constrained gravity model. */
object RelMore111 extends KeyModule {

  /** agg-anova-nested-f — extra-sum-of-squares F-tests on nested
    * groupings of order value: does market segment explain revenue
    * (A vs null model), and does order priority add anything BEYOND
    * segment (the 25 segment×priority cells vs segment alone)? This
    * is the unbalanced-design-safe way to ask two-way-ANOVA
    * questions: nested model comparison needs only cell sums, no
    * least-squares re-fit, and the hierarchical F
    * ((SS_cells−SS_A)/Δdf) / (SS_within/(N−cells)) is exact Type-I
    * inference (agg-eta-squared is the one-way special case). All
    * sums of squares derive from exact integer cent sums in
    * DECIMAL(38,0) (Σv², per-group S²/n as late doubles); the only
    * data-sized work is ONE (segment, priority) rollup — 25 cells —
    * map-side combinable at any scale. F critical values are not
    * tabulated (out of scope, said so): the F statistics and df are
    * emitted for the caller's threshold. */
  val aggAnovaNestedF: Q = (s, d) => {
    val v = orders(s, d).join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("a"), col("o_orderpriority").as("b"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"))
    val cells = v.groupBy("a", "b")
      .agg(count(lit(1)).as("n"), sum(expr("CAST(v AS DECIMAL(38,0))")).as("sv"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("svv"))
      .sharedCache()
    val tot = cells.agg(sum("n").as("nn"), sum("sv").as("s"), sum("svv").as("ss"),
      count(lit(1)).as("n_cells"))
    val ssCells = cells
      .select((col("sv").cast(DoubleType) * col("sv").cast(DoubleType) /
        col("n").cast(DoubleType)).as("t"))
      .agg(sum("t").as("sum_cells"))
    val ssA = cells.groupBy("a")
      .agg(sum("n").as("na"), sum("sv").as("sa"))
      .agg(sum(col("sa").cast(DoubleType) * col("sa").cast(DoubleType) /
        col("na").cast(DoubleType)).as("sum_a"), count(lit(1)).as("n_a"))
    tot.crossJoin(broadcast(ssCells)).crossJoin(broadcast(ssA))
      .select(col("nn").cast(DoubleType).as("nd"), col("nn"),
        col("s").cast(DoubleType).as("sd"), col("ss").cast(DoubleType).as("ssd"),
        col("n_cells"), col("n_a"), col("sum_cells"), col("sum_a"))
      .select(col("nn").cast(LongType).as("n_orders"),
        col("n_a").cast(LongType).as("n_segments"),
        col("n_cells").cast(LongType).as("n_cells"),
        round((col("sum_a") - col("sd") * col("sd") / col("nd")) /
          (col("n_a") - 1) /
          ((col("ssd") - col("sum_cells")) / (col("nd") - col("n_cells"))), 4)
          .as("f_segment"),
        round((col("sum_cells") - col("sum_a")) /
          (col("n_cells") - col("n_a")) /
          ((col("ssd") - col("sum_cells")) / (col("nd") - col("n_cells"))), 4)
          .as("f_priority_given_segment"),
        round((col("sum_cells") - col("sd") * col("sd") / col("nd")) /
          (col("ssd") - col("sd") * col("sd") / col("nd")), 6).as("eta2_cells"))
  }

  val aggAnovaNestedFSql: String =
    """WITH v AS (
      |  SELECT c_mktsegment AS a, o_orderpriority AS b,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |cells AS (
      |  SELECT a, b, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS sv,
      |         CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS svv
      |  FROM v GROUP BY 1, 2),
      |tot AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(n) AS DOUBLE) AS nd,
      |         CAST(sum(sv) AS DOUBLE) AS sd, CAST(sum(svv) AS DOUBLE) AS ssd,
      |         CAST(count(*) AS BIGINT) AS n_cells
      |  FROM cells),
      |sc AS (
      |  SELECT sum(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) AS sum_cells
      |  FROM cells),
      |sa AS (
      |  SELECT sum(CAST(sa2 AS DOUBLE) * CAST(sa2 AS DOUBLE) / CAST(na AS DOUBLE)) AS sum_a,
      |         CAST(count(*) AS BIGINT) AS n_a
      |  FROM (SELECT a, CAST(sum(n) AS HUGEINT) AS na, CAST(sum(sv) AS HUGEINT) AS sa2
      |        FROM cells GROUP BY 1) t)
      |SELECT nn AS n_orders, n_a AS n_segments, n_cells,
      |       round((sum_a - sd * sd / nd) / (n_a - 1) /
      |             ((ssd - sum_cells) / (nd - n_cells)), 4) AS f_segment,
      |       round((sum_cells - sum_a) / (n_cells - n_a) /
      |             ((ssd - sum_cells) / (nd - n_cells)), 4) AS f_priority_given_segment,
      |       round((sum_cells - sd * sd / nd) / (ssd - sd * sd / nd), 6) AS eta2_cells
      |FROM tot CROSS JOIN sc CROSS JOIN sa""".stripMargin

  /** emb-rocchio-confusion — Rocchio (nearest-centroid) classifier on
    * the labeled embedding corpus, with the full confusion matrix and
    * training accuracy: the 10 class centroids come from exact integer
    * component sums (micro-floor-quantized through one identical
    * division), each vector is assigned to the centroid minimizing the
    * EXACT integer squared distance Σ(1000·mqₖ − cqₖ)² (≤6.4e13, Long-
    * safe), ties broken by label. Versus emb-knn-classify this is the
    * linear-time scale path — |corpus|·|classes| distance terms with
    * the centroid table BROADCAST, no |corpus|² candidate join — and
    * the confusion matrix is what turns "accuracy" into actionable
    * per-class failure modes. All counts exact. */
  val embRocchioConfusion: Q = (s, d) => {
    val m = embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("k", "x")))
      .select(col("vec_id"), col("label"), col("k"),
        floor(col("x").cast(DoubleType) * lit(1000.0) + lit(0.5)).cast(LongType).as("mq"))
      .sharedCache()
    val cent = m.groupBy(col("label").as("clabel"), col("k"))
      .agg(floor(sum("mq").cast(DoubleType) * lit(1000.0) /
        count(lit(1))).cast(LongType).as("cq"))
    val dists = m.join(broadcast(cent), Seq("k"))
      .groupBy("vec_id", "label", "clabel")
      .agg(sum((col("mq") * 1000 - col("cq")) * (col("mq") * 1000 - col("cq"))).as("d2"))
    val wmin = Window.partitionBy("vec_id").orderBy(col("d2"), col("clabel"))
    val pred = dists.withColumn("rn", row_number().over(wmin))
      .filter(col("rn") === 1)
      .select(col("label").as("true_label"), col("clabel").as("pred_label"))
      .sharedCache()
    val acc = pred.agg(count(lit(1)).as("n_total"),
      sum(when(col("true_label") === col("pred_label"), 1L).otherwise(0L)).as("n_correct"))
    pred.groupBy("true_label", "pred_label").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(acc))
      .select(col("true_label").cast(LongType).as("true_label"),
        col("pred_label").cast(LongType).as("pred_label"), col("n"),
        ratioFloor(col("n_correct"), col("n_total"), 6).as("accuracy"))
      .orderBy("true_label", "pred_label")
  }

  val embRocchioConfusionSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT vec_id, label,
      |         unnest(range(0, len(embedding))) AS k,
      |         CAST(floor(unnest(list_transform(embedding,
      |                    x -> CAST(x AS DOUBLE))) * 1000 + 0.5) AS BIGINT) AS mq
      |  FROM embeddings),
      |cent AS MATERIALIZED (
      |  SELECT label AS clabel, k,
      |         CAST(floor(CAST(sum(mq) AS DOUBLE) * 1000.0 / count(*)) AS BIGINT) AS cq
      |  FROM m GROUP BY 1, 2),
      |dists AS (
      |  SELECT vec_id, label, clabel,
      |         CAST(sum((mq * 1000 - cq) * (mq * 1000 - cq)) AS BIGINT) AS d2
      |  FROM m JOIN cent USING (k) GROUP BY 1, 2, 3),
      |pred AS MATERIALIZED (
      |  SELECT label AS true_label, clabel AS pred_label FROM (
      |    SELECT label, clabel,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
      |    FROM dists) t
      |  WHERE rn = 1),
      |acc AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_total,
      |         CAST(sum(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
      |  FROM pred)
      |SELECT CAST(true_label AS BIGINT) AS true_label,
      |       CAST(pred_label AS BIGINT) AS pred_label,
      |       CAST(count(*) AS BIGINT) AS n,
      |       floor(CAST(n_correct AS DOUBLE) * 1e6 / n_total) / 1e6 AS accuracy
      |FROM pred CROSS JOIN acc
      |GROUP BY true_label, pred_label, n_correct, n_total
      |ORDER BY true_label, pred_label""".stripMargin

  /** src-csv-null-escape — CSV option-fidelity roundtrip: customer
    * names are deterministically dirtied (every 5th key gains an
    * embedded double-quote AND the delimiter; every 7th becomes SQL
    * NULL), written to scratch CSV with an explicit nullValue token,
    * backslash escape and quoting, read back with the SAME options,
    * and audited (null count, quote-carrier count, delimiter-carrier
    * count, exact key checksum). This is the config surface where
    * silent corruption lives — a mismatched nullValue turns NULL into
    * the literal token, a wrong escape splits rows — and the oracle
    * computes the audit from the parquet table directly, so ANY
    * roundtrip infidelity breaks the hash compare. Scratch writes are
    * 8-way partitioned (the staging pattern scales with input). */
  val srcCsvNullEscape: Q = (s, d) => {
    val dir = tmp("src-csv-null-escape", d)
    customer(s, d)
      .select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0, lit(null))
          .when(col("c_custkey") % 5 === 0,
            concat(col("c_name"), lit(" \"q\",x")))
          .otherwise(col("c_name")).as("name"))
      .repartition(8)
      .write.mode("overwrite")
      .option("header", "true").option("nullValue", "NULLVAL")
      .option("escape", "\\").option("quote", "\"")
      .csv(dir)
    val back = s.read
      .schema("c_custkey BIGINT, name STRING")
      .option("header", "true").option("nullValue", "NULLVAL")
      .option("escape", "\\").option("quote", "\"")
      .csv(dir)
    back.agg(count(lit(1)).as("n_rows"),
      sum(when(col("name").isNull, 1L).otherwise(0L)).as("n_null"),
      sum(when(col("name").contains("\"q\""), 1L).otherwise(0L)).as("n_quoted"),
      sum(when(col("name").contains(","), 1L).otherwise(0L)).as("n_delim"),
      sum("c_custkey").as("key_sum"))
  }

  val srcCsvNullEscapeSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |       CAST(sum(CASE WHEN c_custkey % 7 <> 0 AND c_custkey % 5 = 0
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_quoted,
      |       CAST(sum(CASE WHEN c_custkey % 7 <> 0 AND c_custkey % 5 = 0
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_delim,
      |       CAST(sum(c_custkey) AS BIGINT) AS key_sum
      |FROM customer""".stripMargin

  /** join-gravity-trade — a constrained gravity model of the
    * customer-nation → supplier-nation trade flows implied by the
    * order book: flow(c,s) = Σ cents over lineitem⋈orders⋈customer ⋈
    * supplier, masses = nation totals, distance = haversine between
    * the nations' deterministic md5-derived coordinates (the
    * join-geo-knn convention), and the unit-elasticity gravity
    * regression ln(flow/(Mc·Ms)) = α + β·ln(dist) — the workhorse of
    * trade economics reduced to ONE exact-integer OLS (log
    * coordinates nano-floor-quantized, sums in DECIMAL(38,0)).
    * β near 0 on this geography-blind synthetic data is itself the
    * graded expectation — the op certifies the pipeline measures NO
    * effect where none exists. The flow build is the real work: two
    * big fact joins that broadcast their dimension sides, then a
    * 625-row pair frame; at 100 TB nothing after the rollup touches
    * data-sized rows. */
  val joinGravityTrade: Q = (s, d) => {
    def latOf(key: String): Column =
      (((expr(s"instr('0123456789abcdef', substring(md5(CAST($key AS STRING)), 1, 1))") - 1) * 16 +
        (expr(s"instr('0123456789abcdef', substring(md5(CAST($key AS STRING)), 2, 1))") - 1))
        .cast(DoubleType) * lit(140.0) / 255 - 70)
    def lonOf(key: String): Column =
      (((expr(s"instr('0123456789abcdef', substring(md5(CAST($key AS STRING)), 3, 1))") - 1) * 16 +
        (expr(s"instr('0123456789abcdef', substring(md5(CAST($key AS STRING)), 4, 1))") - 1))
        .cast(DoubleType) * lit(360.0) / 255 - 180)
    val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val flows = li
      .join(orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d).select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier(s, d).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("cn"), col("s_nationkey").as("sn"))
      .agg(sum("cents").as("flow"))
      .sharedCache()
    val mc = flows.groupBy("cn").agg(sum("flow").as("m_c"))
    val ms = flows.groupBy("sn").agg(sum("flow").as("m_s"))
    val reg = flows
      .join(broadcast(mc), Seq("cn")).join(broadcast(ms), Seq("sn"))
      .withColumn("dist_km", lit(2.0) * lit(6371.0) * asin(sqrt(
        pow(sin(radians(latOf("sn") - latOf("cn")) / 2), 2) +
          cos(radians(latOf("cn"))) * cos(radians(latOf("sn"))) *
            pow(sin(radians(lonOf("sn") - lonOf("cn")) / 2), 2))))
      .filter(col("cn") =!= col("sn"))
      .select(
        floor((log(col("flow").cast(DoubleType)) - log(col("m_c").cast(DoubleType)) -
          log(col("m_s").cast(DoubleType))) * lit(1e9)).cast(LongType).as("ly"),
        floor(log(col("dist_km")) * lit(1e9)).cast(LongType).as("lx"))
    val sums = reg.select(expr("CAST(lx AS DECIMAL(38,0))").as("x"),
      expr("CAST(ly AS DECIMAL(38,0))").as("y"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"),
        sum(expr("y * y")).as("syy"))
    sums.select(col("n").cast(LongType).as("n_pairs"),
      round(((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
        (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)), 4)
        .as("dist_elasticity"),
      round(((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) *
        (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)) /
        ((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
          (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType)), 6)
        .as("r2"))
  }

  val joinGravityTradeSql: String = {
    def latSql(k: String) =
      s"(((strpos('0123456789abcdef', substring(md5(CAST($k AS VARCHAR)), 1, 1)) - 1) * 16 + " +
        s"(strpos('0123456789abcdef', substring(md5(CAST($k AS VARCHAR)), 2, 1)) - 1)) * 140.0 / 255 - 70)"
    def lonSql(k: String) =
      s"(((strpos('0123456789abcdef', substring(md5(CAST($k AS VARCHAR)), 3, 1)) - 1) * 16 + " +
        s"(strpos('0123456789abcdef', substring(md5(CAST($k AS VARCHAR)), 4, 1)) - 1)) * 360.0 / 255 - 180)"
    s"""WITH flows AS MATERIALIZED (
       |  SELECT c_nationkey AS cn, s_nationkey AS sn,
       |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS flow
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  GROUP BY 1, 2),
       |mc AS (SELECT cn, CAST(sum(flow) AS BIGINT) AS m_c FROM flows GROUP BY 1),
       |ms AS (SELECT sn, CAST(sum(flow) AS BIGINT) AS m_s FROM flows GROUP BY 1),
       |reg AS (
       |  SELECT CAST(floor((ln(CAST(flow AS DOUBLE)) - ln(CAST(m_c AS DOUBLE)) -
       |                     ln(CAST(m_s AS DOUBLE))) * 1e9) AS BIGINT) AS ly,
       |         CAST(floor(ln(2.0 * 6371.0 * asin(sqrt(
       |           pow(sin(radians(${latSql("sn")} - ${latSql("cn")}) / 2), 2) +
       |           cos(radians(${latSql("cn")})) * cos(radians(${latSql("sn")})) *
       |           pow(sin(radians(${lonSql("sn")} - ${lonSql("cn")}) / 2), 2)))) * 1e9) AS BIGINT) AS lx
       |  FROM flows JOIN mc USING (cn) JOIN ms USING (sn)
       |  WHERE cn <> sn),
       |sums AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |         CAST(sum(CAST(lx AS HUGEINT)) AS HUGEINT) AS sx,
       |         CAST(sum(CAST(ly AS HUGEINT)) AS HUGEINT) AS sy,
       |         CAST(sum(CAST(lx AS HUGEINT) * lx) AS HUGEINT) AS sxx,
       |         CAST(sum(CAST(lx AS HUGEINT) * ly) AS HUGEINT) AS sxy,
       |         CAST(sum(CAST(ly AS HUGEINT) * ly) AS HUGEINT) AS syy
       |  FROM reg)
       |SELECT CAST(n AS BIGINT) AS n_pairs,
       |       round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 4)
       |         AS dist_elasticity,
       |       round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE) /
       |             (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6)
       |         AS r2
       |FROM sums""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("agg-anova-nested-f", aggAnovaNestedF, aggAnovaNestedFSql),
    Key("emb-rocchio-confusion", embRocchioConfusion, embRocchioConfusionSql),
    Key("src-csv-null-escape", srcCsvNullEscape, srcCsvNullEscapeSql),
    Key("join-gravity-trade", joinGravityTrade, joinGravityTradeSql))
}
