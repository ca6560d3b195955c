package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-5 batch L: the count-min width/accuracy curve and a Zipf
  * power-law fit over token frequencies.
  */
object RelMore38 extends KeyModule {

  private val Depth = 3
  private val HashA = Seq(40087L, 55579L, 70001L)
  private val HashB = Seq(59L, 151L, 293L)
  private val Widths = Seq(16, 64, 256)

  private def cellExpr(r: Int, w: Int): String =
    s"((user_id * ${HashA(r)} + ${HashB(r)}) % 1000003) % $w"

  /** agg-cms-width-curve — the count-min sketch accuracy/memory curve,
    * MEASURED: build the same d=3 relational sketch agg-cms-heavyhitters
    * uses at widths 16/64/256, point-query EVERY distinct key, and
    * report per width the overestimate stats (count/max/mean) against
    * exact counts. The guarantee err ≤ 2N/w means each 4× width step
    * should cut the mean overestimate ~4× — this op turns that into
    * data, which is how you SIZE a sketch for a 100 TB stream instead
    * of guessing: pick the width where the measured error crosses your
    * tolerance. Sketch state stays ≤ d·w cells per map partition at any
    * input size; the candidate probe is a broadcast join of d cells per
    * key. Integer multiplicative hashing end-to-end, so the oracle
    * rebuilds identical sketches. */
  val aggCmsWidthCurve: Q = (s, d) => {
    val ev = events(s, d).select(col("user_id"))
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("exact"))
    def curve(w: Int): DataFrame = {
      val coordArr = (0 until Depth)
        .map(r => s"struct($r AS r, ${cellExpr(r, w)} AS c)").mkString("array(", ", ", ")")
      val cells = ev.select(explode(expr(coordArr)).as("rc"))
        .select(col("rc.r").as("r"), col("rc.c").as("c"))
        .groupBy("r", "c").agg(count(lit(1)).as("cnt"))
      val cand = exact.select(col("user_id"), col("exact"), explode(expr(coordArr)).as("rc"))
        .select(col("user_id"), col("exact"), col("rc.r").as("r"), col("rc.c").as("c"))
      val est = cand.join(broadcast(cells), Seq("r", "c"))
        .groupBy("user_id", "exact").agg(min("cnt").as("est"))
      est.agg(
        count(lit(1)).as("n_keys"),
        sum((col("est") > col("exact")).cast(LongType)).as("n_over"),
        max(col("est") - col("exact")).as("max_over"),
        sum(col("est") - col("exact")).as("sum_over"))
        .selectExpr(s"CAST($w AS BIGINT) AS w", s"CAST(${Depth * w} AS BIGINT) AS cells",
          "n_keys", "n_over", "max_over",
          "CAST(floor(sum_over * 1000.0 / n_keys) AS BIGINT) AS avg_over_milli")
    }
    Widths.map(curve).reduce(_.unionAll(_)).orderBy("w")
  }

  val aggCmsWidthCurveSql: String = {
    def block(w: Int): String = {
      val coords = (0 until Depth)
        .map(r => s"SELECT user_id, exact, $r AS r, ${cellExpr(r, w)} AS c FROM exact")
        .mkString("\n    UNION ALL ")
      val cellRows = (0 until Depth)
        .map(r => s"SELECT $r AS r, ${cellExpr(r, w)} AS c FROM ev")
        .mkString("\n    UNION ALL ")
      s"""SELECT CAST($w AS BIGINT) AS w, CAST(${Depth * w} AS BIGINT) AS cells,
         |       count(*) AS n_keys,
         |       CAST(sum(CASE WHEN est > exact THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
         |       CAST(max(est - exact) AS BIGINT) AS max_over,
         |       CAST(floor(sum(est - exact) * 1000.0 / count(*)) AS BIGINT) AS avg_over_milli
         |FROM (
         |  SELECT t.user_id, t.exact, min(s.cnt) AS est
         |  FROM ($coords) t
         |  JOIN (SELECT r, c, count(*) AS cnt FROM ($cellRows) GROUP BY r, c) s
         |    ON t.r = s.r AND t.c = s.c
         |  GROUP BY t.user_id, t.exact)""".stripMargin
    }
    s"""WITH ev AS (SELECT user_id FROM events),
       |exact AS (SELECT user_id, count(*) AS exact FROM ev GROUP BY 1)
       |SELECT * FROM (
       |${Widths.map(block).mkString("\nUNION ALL\n")}
       |) ORDER BY w""".stripMargin
  }

  private val TopTerms = 100

  /** text-zipf-fit — fit the Zipf power law to the corpus token
    * frequencies: rank the top-100 terms, least-squares ln(freq) on
    * ln(rank), report slope/intercept/r² (milli-units). Natural text
    * sits near slope −1; a corpus that drifts far off is a quality
    * signal (template spam flattens the head, boilerplate steepens
    * it), making this a corpus-level companion to text-quality. The
    * fit's running sums are ORDERED window cumsums over the 100-point
    * frame (pick the last row), never an unordered float aggregate —
    * bit-identical under any partitioning and in the oracle. Token
    * counting is one shuffle at corpus scale; the fit frame is 100
    * rows. */
  val textZipfFit: Q = (s, d) => {
    val toks = documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("t"))
      .where(length(col("t")) > 0)
    val freq = toks.groupBy("t").agg(count(lit(1)).as("f"))
    val totals = freq.agg(sum("f").cast(LongType).as("total_tokens"),
      count(lit(1)).as("distinct_terms"))
    val ranked = freq
      .select(col("t"), col("f"),
        row_number().over(Window.orderBy(desc("f"), col("t"))).as("rank"))
      .where(col("rank") <= TopTerms)
      .selectExpr("rank", "ln(CAST(rank AS DOUBLE)) AS lx", "ln(CAST(f AS DOUBLE)) AS ly")
    val cw = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fit = ranked
      .select(col("rank"),
        sum("lx").over(cw).as("sx"), sum("ly").over(cw).as("sy"),
        sum(expr("lx * ly")).over(cw).as("sxy"),
        sum(expr("lx * lx")).over(cw).as("sxx"),
        sum(expr("ly * ly")).over(cw).as("syy"))
      .orderBy(desc("rank")).limit(1)
    fit.crossJoin(totals).selectExpr(
      "CAST(rank AS BIGINT) AS n_terms", "total_tokens", "distinct_terms",
      "CAST(floor((rank * sxy - sx * sy) / (rank * sxx - sx * sx) * 1000 + 0.5) AS BIGINT) AS slope_milli",
      "CAST(floor((sy - (rank * sxy - sx * sy) / (rank * sxx - sx * sx) * sx) / rank * 1000 + 0.5) AS BIGINT) AS intercept_milli",
      "CAST(floor((rank * sxy - sx * sy) * (rank * sxy - sx * sy) * 1000.0 / " +
        "((rank * sxx - sx * sx) * (rank * syy - sy * sy)) + 0.5) AS BIGINT) AS r2_milli")
  }

  val textZipfFitSql: String =
    s"""WITH toks AS (
       |  SELECT t FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents) z
       |  WHERE length(t) > 0),
       |freq AS (SELECT t, count(*) AS f FROM toks GROUP BY 1),
       |totals AS (SELECT CAST(sum(f) AS BIGINT) AS total_tokens,
       |                  CAST(count(*) AS BIGINT) AS distinct_terms FROM freq),
       |ranked AS (
       |  SELECT rank, ln(CAST(rank AS DOUBLE)) AS lx, ln(CAST(f AS DOUBLE)) AS ly
       |  FROM (SELECT f, row_number() OVER (ORDER BY f DESC, t) AS rank FROM freq) z
       |  WHERE rank <= $TopTerms),
       |fit AS (
       |  SELECT rank,
       |         sum(lx) OVER cum AS sx, sum(ly) OVER cum AS sy,
       |         sum(lx * ly) OVER cum AS sxy,
       |         sum(lx * lx) OVER cum AS sxx,
       |         sum(ly * ly) OVER cum AS syy
       |  FROM ranked
       |  WINDOW cum AS (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |  ORDER BY rank DESC LIMIT 1)
       |SELECT CAST(rank AS BIGINT) AS n_terms, total_tokens, distinct_terms,
       |       CAST(floor((rank * sxy - sx * sy) / (rank * sxx - sx * sx) * 1000 + 0.5) AS BIGINT) AS slope_milli,
       |       CAST(floor((sy - (rank * sxy - sx * sy) / (rank * sxx - sx * sx) * sx) / rank * 1000 + 0.5) AS BIGINT) AS intercept_milli,
       |       CAST(floor((rank * sxy - sx * sy) * (rank * sxy - sx * sy) * 1000.0 /
       |            ((rank * sxx - sx * sx) * (rank * syy - sy * sy)) + 0.5) AS BIGINT) AS r2_milli
       |FROM fit, totals""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-cms-width-curve", aggCmsWidthCurve, aggCmsWidthCurveSql),
    Key("text-zipf-fit", textZipfFit, textZipfFitSql))
}
