package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-6 batch N: CUPED variance reduction, SQL scalar UDFs. */
object RelMore53 extends KeyModule {

  /** agg-cuped-adjust — CUPED, the experimentation-platform variance
    * trick: using each unit's PRE-period metric X as a covariate,
    * adjusted Y′ = Y − θ(X − E[X]) with θ = cov(X,Y)/var(X) cuts metric
    * variance by exactly ρ² — which is the whole A/B-test speedup
    * (same power from (1−ρ²)× the sample). Units are customers, X =
    * 1995 spend, Y = 1996 spend (dollars — the integer moment sums
    * Σx², Σxy then fit BIGINT well past sf1). The six moments are
    * EXACT integer aggregates (one map-side-combinable pass); only the
    * final θ and ρ² divisions run in doubles, as one fixed expression
    * tree over exact inputs, rounded to 9 dp — the cosine-similarity
    * determinism recipe. Output: n, means, theta_milli, and the
    * variance-reduction ρ² in ppm. */
  val aggCupedAdjust: Q = (s, d) => {
    val o = orders(s, d).select(col("o_custkey"),
      year(col("o_orderdate")).as("yr"),
      // dollars via exact cents then integer div: a direct decimal->bigint
      // cast ROUNDS in DuckDB but TRUNCATES in Spark — the *100 cast is
      // exact (integer-valued decimal) in both, div 100 truncates in both
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 100").as("dollars"))
    val per = o.filter(col("yr").isin(1995, 1996))
      .groupBy("o_custkey")
      .agg(sum(when(col("yr") === 1995, col("dollars")).otherwise(0L)).as("x"),
        sum(when(col("yr") === 1996, col("dollars")).otherwise(0L)).as("y"))
    per.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n"),
        expr("sx div n").as("mean_x_dollars"),
        expr("sy div n").as("mean_y_dollars"),
        round(expr(
          "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /" +
            " (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"), 9).as("theta"),
        round(expr(
          "((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) *" +
            " (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)) /" +
            " ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *" +
            "  (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"), 9).as("rho2"))
      .select(col("n"), col("mean_x_dollars"), col("mean_y_dollars"),
        floor(col("theta") * lit(1000.0) + lit(0.5)).cast(LongType).as("theta_milli"),
        floor(col("rho2") * lit(1000000.0) + lit(0.5)).cast(LongType).as("var_reduction_ppm"))
  }

  val aggCupedAdjustSql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |         CAST(sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1995
      |                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 ELSE 0 END) AS BIGINT) AS x,
      |         CAST(sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
      |                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 ELSE 0 END) AS BIGINT) AS y
      |  FROM orders
      |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)
      |  GROUP BY o_custkey),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM per),
      |r AS (
      |  SELECT n, sx // n AS mean_x_dollars, sy // n AS mean_y_dollars,
      |         round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
      |               (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 9) AS theta,
      |         round(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) *
      |                (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)) /
      |               ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
      |                (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 9) AS rho2
      |  FROM m)
      |SELECT n, mean_x_dollars, mean_y_dollars,
      |       CAST(floor(theta * 1000 + 0.5) AS BIGINT) AS theta_milli,
      |       CAST(floor(rho2 * 1000000 + 0.5) AS BIGINT) AS var_reduction_ppm
      |FROM r""".stripMargin

  /** sql-scalar-udf — the SQL-defined scalar function surface
    * (CREATE TEMPORARY FUNCTION … RETURNS … RETURN expr, Spark 4's SQL
    * UDF): business logic named ONCE in SQL and reused across queries,
    * analyzable by Catalyst (inlined into the plan — unlike a Scala
    * UDF black box, the optimizer sees through it: pushdown and
    * codegen still work). The function computes margin in exact
    * integer cents×100 (discount recovered via round(d*100) — the
    * double is IEEE-exact to re-scale, truncating CAST would be the
    * classic off-by-one-ulp bug). Oracle inlines the same expression,
    * which is precisely the semantics of a SQL UDF. */
  val sqlScalarUdf: Q = (s, d) => {
    lineitem(s, d).createOrReplaceTempView("lineitem_udf")
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_margin_c100(
            |  price DOUBLE, disc DOUBLE) RETURNS BIGINT
            |RETURN CAST(CAST(price AS DECIMAL(18,2)) * 100 AS BIGINT)
            |       * (100 - CAST(round(disc * 100) AS BIGINT))""".stripMargin)
    s.sql("""SELECT l_returnflag,
            |       count(*) AS n_items,
            |       sum(graft_margin_c100(l_extendedprice, l_discount)) AS margin_c100
            |FROM lineitem_udf
            |GROUP BY l_returnflag
            |ORDER BY l_returnflag""".stripMargin)
  }

  val sqlScalarUdfSql: String =
    """SELECT l_returnflag,
      |       CAST(count(*) AS BIGINT) AS n_items,
      |       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS margin_c100
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-cuped-adjust", aggCupedAdjust, aggCupedAdjustSql),
    Key("sql-scalar-udf", sqlScalarUdf, sqlScalarUdfSql))
}
