package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch AG: the training-planning family — DPO preference
  * pairs, repeated-epoch value decay, Chinchilla compute-optimal
  * allocation, Wright's learning curve. */
object RelMore198 extends KeyModule {

  /** sample-dpo-pairs — preference-pair construction for direct
    * preference optimization: within each (lang, source) cell the
    * highest-lexical-diversity document becomes `chosen` and the
    * lowest `rejected` (deterministic TTR-milli score, doc_id
    * tiebreaks), pairs admitted only when the quality gap clears a
    * margin — the distributed shape of every DPO data build: cell-
    * partitioned windows, one tokenize pass, no global ordering.
    * Emits one pair per qualifying cell. */
  val sampleDpoPairs: Q = (s, d) => {
    val scored = documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        split(lower(col("text")), " ").as("w"))
      .select(col("doc_id"), col("lang"), col("source"),
        expr("size(array_distinct(filter(w, x -> x rlike '^[a-z]{2,}$')))")
          .as("dtok"),
        expr("size(filter(w, x -> x rlike '^[a-z]{2,}$'))").as("ntok"))
      .filter(col("ntok") >= 5)
      .withColumn("q", expr("dtok * 1000 DIV ntok"))
    val wUp = Window.partitionBy("lang", "source")
      .orderBy(col("q").desc, col("doc_id"))
    val wDn = Window.partitionBy("lang", "source")
      .orderBy(col("q").asc, col("doc_id"))
    val ranked = scored
      .withColumn("rkc", row_number().over(wUp))
      .withColumn("rkr", row_number().over(wDn))
    val chosen = ranked.filter(col("rkc") === 1)
      .select(col("lang"), col("source"), col("doc_id").as("chosen_doc"),
        col("q").as("chosen_q"))
    val rejected = ranked.filter(col("rkr") === 1)
      .select(col("lang"), col("source"), col("doc_id").as("rejected_doc"),
        col("q").as("rejected_q"))
    chosen.join(rejected, Seq("lang", "source"))
      .filter(col("chosen_q") - col("rejected_q") >= 100L)
      .select(col("lang"), col("source"), col("chosen_doc"),
        col("rejected_doc"),
        (col("chosen_q") - col("rejected_q")).as("quality_gap_milli"))
      .orderBy("lang", "source")
  }

  val sampleDpoPairsSql: String =
    """WITH scored AS (
      |  SELECT doc_id, lang, source,
      |         dtok * 1000 // ntok AS q
      |  FROM (
      |    SELECT doc_id, lang, source,
      |           CAST(len(list_distinct(list_filter(w,
      |                x -> regexp_full_match(x, '[a-z]{2,}')))) AS BIGINT)
      |             AS dtok,
      |           CAST(len(list_filter(w,
      |                x -> regexp_full_match(x, '[a-z]{2,}'))) AS BIGINT)
      |             AS ntok
      |    FROM (SELECT doc_id, lang, source,
      |                 string_split(lower(text), ' ') AS w
      |          FROM documents) t) u
      |  WHERE ntok >= 5),
      |ranked AS (
      |  SELECT *,
      |         row_number() OVER (PARTITION BY lang, source
      |           ORDER BY q DESC, doc_id) AS rkc,
      |         row_number() OVER (PARTITION BY lang, source
      |           ORDER BY q ASC, doc_id) AS rkr
      |  FROM scored),
      |chosen AS (
      |  SELECT lang, source, doc_id AS chosen_doc, q AS chosen_q
      |  FROM ranked WHERE rkc = 1),
      |rejected AS (
      |  SELECT lang, source, doc_id AS rejected_doc, q AS rejected_q
      |  FROM ranked WHERE rkr = 1)
      |SELECT lang, source, chosen_doc, rejected_doc,
      |       chosen_q - rejected_q AS quality_gap_milli
      |FROM chosen JOIN rejected USING (lang, source)
      |WHERE chosen_q - rejected_q >= 100
      |ORDER BY lang, source""".stripMargin

  /** sample-repeat-value-decay — how much is the k-th epoch worth?
    * The data-constrained scaling result (Muennighoff et al. 2022):
    * repeated tokens decay in value, effective data ≈
    * U·R*·(1−e^(−k/R*)) with the fitted R* ≈ 15 — by epoch 16 you
    * have banked barely 10 epochs' worth. The op measures the
    * corpus's unique token supply U, then emits the effective-token
    * table for epoch counts {1,2,4,8,16} with the marginal value of
    * the LAST epoch (e^(−k/R*)) — the numbers that decide whether to
    * crawl more or repeat more. */
  val sampleRepeatValueDecay: Q = (s, d) => {
    val u = documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok").rlike("^[a-z]{2,}$"))
      .agg(count(lit(1)).as("u_tokens"))
    u.select(col("u_tokens"), explode(expr("array(1, 2, 4, 8, 16)"))
      .as("epochs"))
      .select(col("epochs").cast(IntegerType).as("epochs"), col("u_tokens"),
        floor(col("u_tokens").cast(DoubleType) * lit(15.0) *
          (lit(1.0) - exp(-col("epochs").cast(DoubleType) / 15.0)))
          .cast(LongType).as("effective_tokens"),
        round(exp(-col("epochs").cast(DoubleType) / 15.0), 4)
          .as("marginal_epoch_value"))
      .orderBy("epochs")
  }

  val sampleRepeatValueDecaySql: String =
    """WITH u AS (
      |  SELECT CAST(count(*) AS BIGINT) AS u_tokens
      |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
      |        FROM documents) t
      |  WHERE regexp_full_match(tok, '[a-z]{2,}')),
      |grid AS (SELECT unnest([1, 2, 4, 8, 16]) AS epochs)
      |SELECT CAST(epochs AS INTEGER) AS epochs, u_tokens,
      |       CAST(floor(CAST(u_tokens AS DOUBLE) * 15.0 *
      |            (1.0 - exp(-CAST(epochs AS DOUBLE) / 15.0))) AS BIGINT)
      |         AS effective_tokens,
      |       round(exp(-CAST(epochs AS DOUBLE) / 15.0), 4)
      |         AS marginal_epoch_value
      |FROM u CROSS JOIN grid ORDER BY epochs""".stripMargin

  /** agg-chinchilla-allocation — compute-optimal model sizing against
    * THIS corpus: for FLOP budgets 10^18..10^21, the Chinchilla split
    * N_opt = √(C/(6·20)), D_opt = 20·N_opt (C ≈ 6·N·D, 20 tokens per
    * parameter), and — the part generic calculators skip — how many
    * EPOCHS of the measured corpus D_opt demands, flagging the
    * data-constrained budgets where sample-repeat-value-decay takes
    * over. Closed forms off one token count. */
  val aggChinchillaAllocation: Q = (s, d) => {
    val u = documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok").rlike("^[a-z]{2,}$"))
      .agg(count(lit(1)).as("u_tokens"))
    u.select(col("u_tokens"),
      explode(expr("array(1e18, 1e19, 1e20, 1e21)")).as("flops"))
      .select(col("flops"), col("u_tokens"),
        floor(sqrt(col("flops") / 120.0)).cast(LongType).as("params_opt"),
        floor(sqrt(col("flops") / 120.0) * 20.0).cast(LongType)
          .as("tokens_opt"))
      .select(col("flops"), col("params_opt"), col("tokens_opt"),
        col("u_tokens"),
        round(col("tokens_opt").cast(DoubleType) /
          col("u_tokens").cast(DoubleType), 2).as("epochs_needed"),
        (col("tokens_opt").cast(DoubleType) /
          col("u_tokens").cast(DoubleType) > 16.0).as("data_constrained"))
      .orderBy("flops")
  }

  val aggChinchillaAllocationSql: String =
    """WITH u AS (
      |  SELECT CAST(count(*) AS BIGINT) AS u_tokens
      |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
      |        FROM documents) t
      |  WHERE regexp_full_match(tok, '[a-z]{2,}')),
      |grid AS (SELECT unnest([1e18, 1e19, 1e20, 1e21]) AS flops)
      |SELECT flops,
      |       CAST(floor(sqrt(flops / 120.0)) AS BIGINT) AS params_opt,
      |       CAST(floor(sqrt(flops / 120.0) * 20.0) AS BIGINT) AS tokens_opt,
      |       u_tokens,
      |       round(sqrt(flops / 120.0) * 20.0 / CAST(u_tokens AS DOUBLE), 2)
      |         AS epochs_needed,
      |       sqrt(flops / 120.0) * 20.0 / CAST(u_tokens AS DOUBLE) > 16.0
      |         AS data_constrained
      |FROM u CROSS JOIN grid ORDER BY flops""".stripMargin

  /** agg-wright-learning-curve — Wright's law: unit effort falls by a
    * fixed percentage per doubling of cumulative volume. Proxy: the
    * month's mean line-items per order (unit "touch count") against
    * cumulative orders to date; the log-log slope b gives the
    * learning rate 2^b (≈0.8 in Wright's aircraft data — a 20% drop
    * per doubling). Month-grain cumulative (bounded frame), quantized
    * logs, closed-form OLS. */
  val aggWrightLearningCurve: Q = (s, d) => {
    val mon = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("mi"))
      .agg(countDistinct(col("o_orderkey")).as("no"), count(lit(1)).as("nl"))
    val w = Window.orderBy("mi").rowsBetween(Window.unboundedPreceding, 0)
    val pts = mon.withColumn("cum", sum("no").over(w))
      .select(
        floor(log(col("cum").cast(DoubleType)) * 1e9).cast(LongType).as("x"),
        floor(log(col("nl").cast(DoubleType) / col("no").cast(DoubleType)) *
          1e9).cast(LongType).as("y"))
    val m = pts.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
      .select(col("n").cast(DoubleType).as("n"),
        col("sx").cast(DoubleType).as("sx"), col("sy").cast(DoubleType).as("sy"),
        col("sxx").cast(DoubleType).as("sxx"),
        col("sxy").cast(DoubleType).as("sxy"))
    m.select(col("n").cast(LongType).as("n_months"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("wright_b"),
      round(pow(lit(2.0), (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))), 4)
        .as("learning_rate_per_doubling"))
  }

  val aggWrightLearningCurveSql: String =
    """WITH mon AS (
      |  SELECT mi, no, nl,
      |         sum(no) OVER (ORDER BY mi
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM (
      |    SELECT year(CAST(o_orderdate AS DATE)) * 12 +
      |             month(CAST(o_orderdate AS DATE)) AS mi,
      |           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS no,
      |           CAST(count(*) AS BIGINT) AS nl
      |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |    GROUP BY 1) t),
      |pts AS (
      |  SELECT CAST(floor(ln(CAST(cum AS DOUBLE)) * 1e9) AS BIGINT) AS x,
      |         CAST(floor(ln(CAST(nl AS DOUBLE) / CAST(no AS DOUBLE)) * 1e9)
      |              AS BIGINT) AS y
      |  FROM mon),
      |m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
      |         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
      |         CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
      |  FROM pts)
      |SELECT CAST(n AS BIGINT) AS n_months,
      |       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS wright_b,
      |       round(pow(2.0, (n * sxy - sx * sy) / (n * sxx - sx * sx)), 4)
      |         AS learning_rate_per_doubling
      |FROM m""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sample-dpo-pairs", sampleDpoPairs, sampleDpoPairsSql),
    Key("sample-repeat-value-decay", sampleRepeatValueDecay, sampleRepeatValueDecaySql),
    Key("agg-chinchilla-allocation", aggChinchillaAllocation, aggChinchillaAllocationSql),
    Key("agg-wright-learning-curve", aggWrightLearningCurve, aggWrightLearningCurveSql))
}
