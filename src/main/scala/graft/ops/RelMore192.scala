package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-8 batch AA: German-tank serial estimation, survivorship-bias
  * quantifier, functional-dependency discovery, inclusion-dependency
  * (candidate foreign key) discovery. */
object RelMore192 extends KeyModule {

  /** agg-german-tank — the serial-number estimator: from a 5%
    * hash-sample of order keys, the minimum-variance unbiased estimate
    * of the HIGHEST serial is m(1 + 1/k) − 1 (sample max m stretched
    * by one average gap) — the WWII production-estimation trick that
    * still answers "how many IDs has the upstream system issued?" from
    * a partial capture. The naive sample max is reported alongside to
    * show the bias the correction removes. One scan, two scalar
    * aggregates, hash-deterministic sample. */
  val aggGermanTank: Q = (s, d) => {
    val base = orders(s, d).select(col("o_orderkey").as("k"))
      .withColumn("insamp", expr("CAST(conv(substring(md5(concat('gt_', " +
        "CAST(k AS STRING))), 1, 8), 16, 10) AS BIGINT) % 20 = 0"))
    base.agg(max("k").as("true_max"),
      count(lit(1)).as("n_pop"),
      sum(when(col("insamp"), 1L).otherwise(0L)).as("k_sample"),
      max(when(col("insamp"), col("k"))).as("m_sample"))
      .select(col("true_max"), col("n_pop"), col("k_sample"),
        col("m_sample").as("naive_max_estimate"),
        expr("m_sample + m_sample DIV k_sample - 1").as("mvue_estimate"))
      .select(col("true_max"), col("n_pop"), col("k_sample"),
        col("naive_max_estimate"), col("mvue_estimate"),
        round((col("naive_max_estimate") - col("true_max")).cast(DoubleType) *
          100 / col("true_max").cast(DoubleType), 4).as("naive_err_pct"),
        round((col("mvue_estimate") - col("true_max")).cast(DoubleType) *
          100 / col("true_max").cast(DoubleType), 4).as("mvue_err_pct"))
  }

  val aggGermanTankSql: String =
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |         CAST(('0x' || substring(md5('gt_' || CAST(o_orderkey AS VARCHAR)),
      |           1, 8))::BIGINT AS BIGINT) % 20 = 0 AS insamp
      |  FROM orders),
      |agg AS (
      |  SELECT max(k) AS true_max, CAST(count(*) AS BIGINT) AS n_pop,
      |         CAST(sum(CASE WHEN insamp THEN 1 ELSE 0 END) AS BIGINT)
      |           AS k_sample,
      |         max(CASE WHEN insamp THEN k END) AS m_sample
      |  FROM base)
      |SELECT true_max, n_pop, k_sample,
      |       m_sample AS naive_max_estimate,
      |       m_sample + m_sample // k_sample - 1 AS mvue_estimate,
      |       round(CAST(m_sample - true_max AS DOUBLE) * 100 /
      |             CAST(true_max AS DOUBLE), 4) AS naive_err_pct,
      |       round(CAST(m_sample + m_sample // k_sample - 1 - true_max
      |             AS DOUBLE) * 100 / CAST(true_max AS DOUBLE), 4)
      |         AS mvue_err_pct
      |FROM agg""".stripMargin

  /** dq-survivorship-bias — the dashboard trap made measurable:
    * "average order value of our customers" computed over customers
    * still ACTIVE in the final 12 months vs over everyone who ever
    * ordered. Churned customers rarely look like survivors, so the
    * survivor-only mean is biased; the op reports both means, the
    * bias, and the survivor share — the correction factor every
    * cohort metric needs. Two exact moment passes over one cached
    * customer-grain aggregate. */
  val dqSurvivorshipBias: Q = (s, d) => {
    val percust = orders(s, d)
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("sp"), count(lit(1)).as("cnt"),
        max(year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .as("lastmi"))
      .sharedCache()
    val hor = percust.agg(max("lastmi").as("hm"))
    percust.crossJoin(broadcast(hor))
      .withColumn("survivor", col("lastmi") > col("hm") - 12)
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("survivor"), 1L).otherwise(0L)).as("n_survivors"),
        (sum("sp").cast(DoubleType) / sum("cnt").cast(DoubleType))
          .as("mean_all"),
        (sum(when(col("survivor"), col("sp")).otherwise(0L)).cast(DoubleType) /
          sum(when(col("survivor"), col("cnt")).otherwise(0L))
            .cast(DoubleType)).as("mean_surv"))
      .select(col("n_customers"), col("n_survivors"),
        round(col("n_survivors").cast(DoubleType) /
          col("n_customers").cast(DoubleType), 4).as("survivor_share"),
        round(col("mean_all") / 100, 2).as("mean_order_all_usd"),
        round(col("mean_surv") / 100, 2).as("mean_order_survivors_usd"),
        round((col("mean_surv") - col("mean_all")) * 100 /
          col("mean_all"), 4).as("bias_pct"))
  }

  val dqSurvivorshipBiasSql: String =
    """WITH percust AS (
      |  SELECT o_custkey AS ck,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |              AS BIGINT)) AS BIGINT) AS sp,
      |         CAST(count(*) AS BIGINT) AS cnt,
      |         max(year(CAST(o_orderdate AS DATE)) * 12 +
      |             month(CAST(o_orderdate AS DATE))) AS lastmi
      |  FROM orders GROUP BY 1),
      |hor AS (SELECT max(lastmi) AS hm FROM percust),
      |flagged AS (
      |  SELECT *, lastmi > hm - 12 AS survivor
      |  FROM percust CROSS JOIN hor)
      |SELECT CAST(count(*) AS BIGINT) AS n_customers,
      |       CAST(sum(CASE WHEN survivor THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_survivors,
      |       round(CAST(sum(CASE WHEN survivor THEN 1 ELSE 0 END) AS DOUBLE) /
      |             count(*), 4) AS survivor_share,
      |       round(CAST(sum(sp) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) / 100, 2)
      |         AS mean_order_all_usd,
      |       round(CAST(sum(CASE WHEN survivor THEN sp ELSE 0 END) AS DOUBLE) /
      |             CAST(sum(CASE WHEN survivor THEN cnt ELSE 0 END) AS DOUBLE)
      |             / 100, 2) AS mean_order_survivors_usd,
      |       round((CAST(sum(CASE WHEN survivor THEN sp ELSE 0 END) AS DOUBLE) /
      |              CAST(sum(CASE WHEN survivor THEN cnt ELSE 0 END) AS DOUBLE) -
      |              CAST(sum(sp) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)) * 100 /
      |             (CAST(sum(sp) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)), 4)
      |         AS bias_pct
      |FROM flagged""".stripMargin

  /** dq-functional-dependency — FD discovery by the distinct-count
    * identity: A → B holds iff |distinct(A)| = |distinct(A,B)|. Five
    * candidate FDs across three tables (two true by construction —
    * the PK determinations — three plausible-but-false), each scored
    * with its violation share 1 − |A|/|A,B| — the profiling number a
    * schema-inference job emits. Distinct counts are map-side
    * combinable; nothing else touches row scale. */
  val dqFunctionalDependency: Q = (s, d) => {
    def fd(df: DataFrame, lhs: String, rhs: String, label: String): DataFrame =
      df.agg(countDistinct(col(lhs)).as("n_lhs"),
        countDistinct(col(lhs), col(rhs)).as("n_pair"))
        .select(lit(label).as("candidate"), col("n_lhs"), col("n_pair"),
          (col("n_lhs") === col("n_pair")).as("fd_holds"),
          round(lit(1.0) - col("n_lhs").cast(DoubleType) /
            col("n_pair").cast(DoubleType), 6).as("violation_share"))
    val o = orders(s, d)
    val c = customer(s, d)
    val li = lineitem(s, d)
    fd(o, "o_orderkey", "o_custkey", "o_orderkey->o_custkey")
      .unionAll(fd(c, "c_custkey", "c_nationkey", "c_custkey->c_nationkey"))
      .unionAll(fd(o, "o_custkey", "o_orderpriority",
        "o_custkey->o_orderpriority"))
      .unionAll(fd(li, "l_partkey", "l_suppkey", "l_partkey->l_suppkey"))
      .unionAll(fd(c, "c_nationkey", "c_mktsegment",
        "c_nationkey->c_mktsegment"))
      .orderBy("candidate")
  }

  val dqFunctionalDependencySql: String = {
    def fd(table: String, lhs: String, rhs: String, label: String): String =
      s"""SELECT '$label' AS candidate,
         |       CAST(count(DISTINCT $lhs) AS BIGINT) AS n_lhs,
         |       CAST(count(DISTINCT ($lhs, $rhs)) AS BIGINT) AS n_pair,
         |       count(DISTINCT $lhs) = count(DISTINCT ($lhs, $rhs)) AS fd_holds,
         |       round(1.0 - CAST(count(DISTINCT $lhs) AS DOUBLE) /
         |             CAST(count(DISTINCT ($lhs, $rhs)) AS DOUBLE), 6)
         |         AS violation_share
         |FROM $table""".stripMargin
    Seq(
      fd("orders", "o_orderkey", "o_custkey", "o_orderkey->o_custkey"),
      fd("customer", "c_custkey", "c_nationkey", "c_custkey->c_nationkey"),
      fd("orders", "o_custkey", "o_orderpriority", "o_custkey->o_orderpriority"),
      fd("lineitem", "l_partkey", "l_suppkey", "l_partkey->l_suppkey"),
      fd("customer", "c_nationkey", "c_mktsegment",
        "c_nationkey->c_mktsegment"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY candidate")
  }

  /** dq-inclusion-dependency — candidate-FK discovery: A ⊆ B tested
    * as the containment of distinct value sets (left join of
    * distincts, the scalable IND check — never row×row). Three true
    * inclusions (the schema's real FKs) and one decoy, each with its
    * containment share — a fractional IND below 1.0 is exactly how
    * orphaned references surface during schema inference. */
  val dqInclusionDependency: Q = (s, d) => {
    def ind(a: DataFrame, acol: String, b: DataFrame, bcol: String,
            label: String): DataFrame = {
      val da = a.select(col(acol).cast(LongType).as("v")).distinct()
      val db = b.select(col(bcol).cast(LongType).as("v")).distinct()
        .withColumn("hit", lit(1L))
      da.join(db, Seq("v"), "left")
        .agg(count(lit(1)).as("n_lhs_distinct"),
          sum(coalesce(col("hit"), lit(0L))).as("n_contained"))
        .select(lit(label).as("candidate"), col("n_lhs_distinct"),
          col("n_contained"),
          round(col("n_contained").cast(DoubleType) /
            col("n_lhs_distinct").cast(DoubleType), 6).as("containment"),
          (col("n_contained") === col("n_lhs_distinct")).as("is_inclusion"))
    }
    val o = orders(s, d)
    val c = customer(s, d)
    val li = lineitem(s, d)
    val su = supplier(s, d)
    ind(li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey<=orders")
      .unionAll(ind(o, "o_custkey", c, "c_custkey", "orders.o_custkey<=customer"))
      .unionAll(ind(li, "l_suppkey", su, "s_suppkey",
        "lineitem.l_suppkey<=supplier"))
      .unionAll(ind(o, "o_orderkey", c, "c_custkey",
        "orders.o_orderkey<=customer(decoy)"))
      .orderBy("candidate")
  }

  val dqInclusionDependencySql: String = {
    def ind(a: String, acol: String, b: String, bcol: String,
            label: String): String =
      s"""SELECT '$label' AS candidate,
         |       CAST(count(*) AS BIGINT) AS n_lhs_distinct,
         |       CAST(sum(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_contained,
         |       round(CAST(sum(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END)
         |             AS DOUBLE) / count(*), 6) AS containment,
         |       sum(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END) = count(*)
         |         AS is_inclusion
         |FROM (SELECT DISTINCT CAST($acol AS BIGINT) AS v FROM $a) da
         |LEFT JOIN (SELECT DISTINCT CAST($bcol AS BIGINT) AS v, 1 AS hit
         |           FROM $b) db USING (v)""".stripMargin
    Seq(
      ind("lineitem", "l_orderkey", "orders", "o_orderkey",
        "lineitem.l_orderkey<=orders"),
      ind("orders", "o_custkey", "customer", "c_custkey",
        "orders.o_custkey<=customer"),
      ind("lineitem", "l_suppkey", "supplier", "s_suppkey",
        "lineitem.l_suppkey<=supplier"),
      ind("orders", "o_orderkey", "customer", "c_custkey",
        "orders.o_orderkey<=customer(decoy)"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY candidate")
  }

  val keys: Seq[Key] = Seq(
    Key("agg-german-tank", aggGermanTank, aggGermanTankSql),
    Key("dq-survivorship-bias", dqSurvivorshipBias, dqSurvivorshipBiasSql),
    Key("dq-functional-dependency", dqFunctionalDependency, dqFunctionalDependencySql),
    Key("dq-inclusion-dependency", dqInclusionDependency, dqInclusionDependencySql))
}
