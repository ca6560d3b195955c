package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AQ: column format templates, nested-JSON flatten
  * source, Atkinson inequality family, Lorenz asymmetry. */
object RelMore142 extends KeyModule {

  /** dq-format-templates — string-format profiling: map every value
    * to its character-class template (runs of [A-Z]→A, [a-z]→a,
    * [0-9]→9, punctuation kept literally) and report each column's
    * top 3 templates with coverage. dq-profile-columns counts nulls
    * and distincts but can't see that 2% of keys are
    * 'Aa#9' + a stray 'a 9' — format drift is how upstream schema
    * changes sneak past type checks (the column is still STRING).
    * The template map is three regexp passes (codegen'd, no UDF);
    * per-column tops via one count + window. Columns enter via a
    * stack() unpivot so adding one is one literal. */
  val dqFormatTemplates: Q = (s, d) => {
    val cols = customer(s, d).select(col("c_name").as("customer_name"))
      .select(lit("c_name").as("column_name"), col("customer_name").as("v"))
      .unionAll(part(s, d).select(lit("p_brand").as("column_name"),
        col("p_brand").as("v")))
      .unionAll(part(s, d).select(lit("p_type").as("column_name"),
        col("p_type").as("v")))
      .unionAll(supplier(s, d).select(lit("s_name").as("column_name"),
        col("s_name").as("v")))
    val templ = cols.select(col("column_name"),
      regexp_replace(regexp_replace(regexp_replace(col("v"),
        "[A-Z]+", "A"), "[a-z]+", "a"), "[0-9]+", "9").as("template"))
    val counts = templ.groupBy("column_name", "template")
      .agg(count(lit(1)).as("n"))
    val tot = counts.groupBy("column_name").agg(sum("n").as("col_n"))
    counts.join(broadcast(tot), Seq("column_name"))
      .withColumn("rk", row_number().over(Window.partitionBy("column_name")
        .orderBy(col("n").desc, col("template"))))
      .filter(col("rk") <= 3)
      .select(col("column_name"), col("rk").as("rank"), col("template"), col("n"),
        ratioFloor(col("n").cast(DoubleType), col("col_n"), 6).as("coverage"))
      .orderBy("column_name", "rank")
  }

  val dqFormatTemplatesSql: String =
    """WITH cols AS (
      |  SELECT 'c_name' AS column_name, c_name AS v FROM customer
      |  UNION ALL SELECT 'p_brand', p_brand FROM part
      |  UNION ALL SELECT 'p_type', p_type FROM part
      |  UNION ALL SELECT 's_name', s_name FROM supplier),
      |templ AS (
      |  SELECT column_name,
      |         regexp_replace(regexp_replace(regexp_replace(v,
      |           '[A-Z]+', 'A', 'g'), '[a-z]+', 'a', 'g'), '[0-9]+', '9', 'g')
      |           AS template
      |  FROM cols),
      |counts AS (
      |  SELECT column_name, template, CAST(count(*) AS BIGINT) AS n
      |  FROM templ GROUP BY 1, 2),
      |tot AS (SELECT column_name, CAST(sum(n) AS BIGINT) AS col_n
      |        FROM counts GROUP BY 1),
      |ranked AS (
      |  SELECT column_name, template, n, col_n,
      |         row_number() OVER (PARTITION BY column_name
      |           ORDER BY n DESC, template) AS rk
      |  FROM counts JOIN tot USING (column_name))
      |SELECT column_name, rk AS rank, template, n,
      |       floor(CAST(n AS DOUBLE) * 1e6 / col_n) / 1e6 AS coverage
      |FROM ranked WHERE rk <= 3
      |ORDER BY column_name, rank""".stripMargin

  /** src-json-nested-flatten — the nested-document ingestion round
    * trip: orders serialized as JSON lines with their lineitems as an
    * embedded array of structs (the shape every order-API export
    * actually has), then read back through schema inference, the
    * array exploded and the structs flattened to relational rows.
    * src-json-lines covers flat records; REAL feeds nest — and the
    * graded contract here is that explode+flatten reproduces the
    * relational join EXACTLY (the oracle is the plain orders⋈lineitem
    * projection). Restricted to o_orderkey % 97 = 0 (stated, mirrored
    * in the oracle) to keep the scratch file a fixture, not a second
    * copy of the fact table; the collect_list is per-order (bounded
    * fan-in), sorted in-array for determinism. */
  val srcJsonNestedFlatten: Q = (s, d) => {
    val out = tmp("src-json-nested-flatten", d)
    val items = lineitem(s, d)
      .filter(col("l_orderkey") % 97 === 0)
      .select(col("l_orderkey"), struct(
        col("l_linenumber").as("line"),
        expr("CAST(l_quantity AS BIGINT)").as("qty"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("price_cents"))
        .as("item"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("item"))).as("items"))
    val docs = orders(s, d)
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
      .join(items, col("o_orderkey") === col("l_orderkey"))
      .select(to_json(struct(col("o_orderkey").as("order_id"), col("odate"),
        col("items"))).as("value"))
    docs.coalesce(1).write.mode(SaveMode.Overwrite).text(out)
    s.read.json(out)
      .select(col("order_id"), col("odate"), explode(col("items")).as("it"))
      .select(col("order_id"), col("odate"), col("it.line"), col("it.qty"),
        col("it.price_cents"))
      .orderBy("order_id", "line")
  }

  val srcJsonNestedFlattenSql: String =
    """SELECT o_orderkey AS order_id,
      |       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS odate,
      |       l_linenumber AS line, CAST(l_quantity AS BIGINT) AS qty,
      |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE o_orderkey % 97 = 0
      |ORDER BY order_id, line""".stripMargin

  /** agg-atkinson-index — the Atkinson inequality family over order
    * values at aversion ε ∈ {0.5, 1, 2}: A_ε = 1 − [mean(x^{1−ε})]
    * ^{1/(1−ε)}/mean(x) (geometric mean at ε=1, harmonic at ε=2).
    * Gini (agg-gini) is ONE number with an implicit, fixed weighting
    * of the distribution; Atkinson makes the normative dial explicit
    * — ε=0.5 barely penalizes a thin bottom, ε=2 is dominated by it
    * — so the THREE-row profile says WHERE the inequality lives,
    * which single-index ops cannot. Each generalized mean folds one
    * per-row quantized term (√x at 1e6, ln x at 1e9, 1e15/x — all
    * floor-identical across engines) into exact integer sums; one
    * pass computes all three. */
  val aggAtkinsonIndex: Q = (s, d) => {
    val xs = orders(s, d)
      .select(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("x"))
      .select(col("x"),
        floor(sqrt(col("x").cast(DoubleType)) * lit(1e6)).cast(LongType).as("sq"),
        floor(log(col("x").cast(DoubleType)) * lit(1e9)).cast(LongType).as("lq"),
        floor(lit(1e15) / col("x").cast(DoubleType)).cast(LongType).as("hq"))
    val m = xs.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
      sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
      sum(expr("CAST(sq AS DECIMAL(38,0))")).as("ssq"),
      sum(expr("CAST(lq AS DECIMAL(38,0))")).as("slq"),
      sum(expr("CAST(hq AS DECIMAL(38,0))")).as("shq"))
      .select(col("n").cast(DoubleType).as("n"), col("sx").cast(DoubleType).as("sx"),
        col("ssq").cast(DoubleType).as("ssq"), col("slq").cast(DoubleType).as("slq"),
        col("shq").cast(DoubleType).as("shq"))
    m.select(explode(array(
        struct(lit(0.5).as("epsilon"),
          round(lit(1.0) - (col("ssq") / col("n") / lit(1e6)) *
            (col("ssq") / col("n") / lit(1e6)) / (col("sx") / col("n")), 6)
            .as("atkinson")),
        struct(lit(1.0).as("epsilon"),
          round(lit(1.0) - exp(col("slq") / col("n") / lit(1e9)) /
            (col("sx") / col("n")), 6).as("atkinson")),
        struct(lit(2.0).as("epsilon"),
          round(lit(1.0) - (col("n") / (col("shq") / lit(1e15))) /
            (col("sx") / col("n")), 6).as("atkinson")))).as("r"))
      .select(col("r.epsilon"), col("r.atkinson"))
      .orderBy("epsilon")
  }

  val aggAtkinsonIndexSql: String =
    """WITH xs AS (
      |  SELECT x,
      |         CAST(floor(sqrt(CAST(x AS DOUBLE)) * 1e6) AS BIGINT) AS sq,
      |         CAST(floor(ln(CAST(x AS DOUBLE)) * 1e9) AS BIGINT) AS lq,
      |         CAST(floor(1e15 / CAST(x AS DOUBLE)) AS BIGINT) AS hq
      |  FROM (
      |    SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      |    FROM orders) t),
      |m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |         CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
      |         CAST(sum(CAST(sq AS HUGEINT)) AS DOUBLE) AS ssq,
      |         CAST(sum(CAST(lq AS HUGEINT)) AS DOUBLE) AS slq,
      |         CAST(sum(CAST(hq AS HUGEINT)) AS DOUBLE) AS shq
      |  FROM xs)
      |SELECT epsilon, atkinson FROM (
      |  SELECT 0.5 AS epsilon,
      |         round(1.0 - (ssq / n / 1e6) * (ssq / n / 1e6) / (sx / n), 6) AS atkinson
      |  FROM m
      |  UNION ALL
      |  SELECT 1.0, round(1.0 - exp(slq / n / 1e9) / (sx / n), 6) FROM m
      |  UNION ALL
      |  SELECT 2.0, round(1.0 - (n / (shq / 1e15)) / (sx / n), 6) FROM m) u
      |ORDER BY epsilon""".stripMargin

  /** agg-lorenz-asymmetry — the Lorenz asymmetry coefficient S =
    * F(μ) + L(μ) over per-customer spend: the share of customers
    * below the mean plus the revenue share they hold. agg-gini and
    * agg-lorenz-curve price HOW MUCH inequality; S says WHICH TAIL
    * drives it — S < 1 means inequality comes from many small
    * customers, S > 1 from a few dominant ones, and two portfolios
    * with identical Gini routinely sit on opposite sides (different
    * retention strategies). Both components are exact integer
    * comparisons after clearing the mean's denominator
    * (spendᵢ·n < total), so no rounded mean ever reassigns a
    * customer. Two aggregates, map-side combined. */
  val aggLorenzAsymmetry: Q = (s, d) => {
    val spend = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("v"))
      .sharedCache()
    val tot = spend.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"), sum("v").as("t"))
    val below = spend.crossJoin(broadcast(tot))
      .filter(col("v") * col("n") < col("t"))
      .agg(count(lit(1)).as("n_below"), sum("v").as("v_below"))
    tot.crossJoin(broadcast(below))
      .select(col("n").cast(LongType).as("n_customers"),
        col("n_below"),
        ratioFloor(col("n_below").cast(DoubleType), col("n"), 6).as("f_mu"),
        ratioFloor(col("v_below").cast(DoubleType), col("t"), 6).as("l_mu"))
      .select(col("n_customers"), col("n_below"), col("f_mu"), col("l_mu"),
        round(col("f_mu") + col("l_mu"), 6).as("asymmetry_s"))
      .withColumn("driven_by_small_values", col("asymmetry_s") < lit(1.0))
  }

  val aggLorenzAsymmetrySql: String =
    """WITH spend AS MATERIALIZED (
      |  SELECT o_custkey,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS v
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(v) AS HUGEINT) AS t
      |        FROM spend),
      |below AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_below, CAST(sum(v) AS HUGEINT) AS v_below
      |  FROM spend CROSS JOIN tot WHERE v * n < t),
      |m AS (
      |  SELECT CAST(n AS BIGINT) AS n_customers, n_below,
      |         floor(CAST(n_below AS DOUBLE) * 1e6 / n) / 1e6 AS f_mu,
      |         floor(CAST(v_below AS DOUBLE) * 1e6 / t) / 1e6 AS l_mu
      |  FROM tot CROSS JOIN below)
      |SELECT n_customers, n_below, f_mu, l_mu,
      |       round(f_mu + l_mu, 6) AS asymmetry_s,
      |       round(f_mu + l_mu, 6) < 1.0 AS driven_by_small_values
      |FROM m""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq-format-templates", dqFormatTemplates, dqFormatTemplatesSql),
    Key("src-json-nested-flatten", srcJsonNestedFlatten, srcJsonNestedFlattenSql),
    Key("agg-atkinson-index", aggAtkinsonIndex, aggAtkinsonIndexSql),
    Key("agg-lorenz-asymmetry", aggLorenzAsymmetry, aggLorenzAsymmetrySql))
}
