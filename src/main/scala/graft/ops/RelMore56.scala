package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-7 batch B: engine-neutral HyperLogLog precision curve. */
object RelMore56 extends KeyModule {

  private val HllPs = Seq(6, 9, 12)

  /** 48-bit integer from the first 12 md5 nibbles of the key — the
    * instr-nibble idiom (text-hash-split) unrolled, identical text in
    * both engines modulo instr/strpos. 15·16^11 < 2^48 fits BIGINT. */
  private def v48Expr(src: String, instr: String): String =
    (1 to 12).map { i =>
      val w = BigInt(16).pow(12 - i)
      s"($instr('0123456789abcdef', substring(md5(CAST($src AS STRING)), $i, 1)) - 1) * CAST($w AS BIGINT)"
    }.mkString("(", " + ", ")")

  /** Leading-zero count of w within a (48-p)-bit window, unrolled as
    * pure integer comparisons: lz = Σ_{k=1..48-p} [w < 2^(k-1)].
    * No log2/bin() — float logs are not correctly-rounded-guaranteed
    * across engines and bin() padding differs, but integer compares
    * are exact everywhere. */
  private def lzExpr(w: String, mBits: Int): String =
    (1 to mBits).map { k =>
      val pow = BigInt(2).pow(k - 1)
      s"(CASE WHEN $w < $pow THEN 1 ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private def alpha(m: Int): String = {
    val a = if (m == 64) 0.709 else 0.7213 / (1.0 + 1.079 / m)
    // full-precision literal so both engines parse the identical double
    String.format(java.util.Locale.ROOT, "%.17g", Double.box(a))
  }

  /** agg-hll-precision-curve — HyperLogLog built FROM SCRATCH on
    * md5-derived registers, swept across precisions p = 6/9/12
    * (64/512/4096 registers), graded BIT-IDENTICALLY in both engines —
    * where agg-sketch-union grades Spark's Datasketches HLL against a
    * tolerance contract (sketch bits are engine-specific), this op's
    * sketch is pure relational arithmetic, so the ESTIMATES themselves
    * hash-match: bucket = low p bits of a 48-bit md5 value, register =
    * max(leading-zero rank of the remaining bits), estimate =
    * α·m²/Σ2⁻^Mⱼ with the harmonic sum kept EXACT by scaling each term
    * to 2^(48−Mⱼ) (dyadic integers, ≤ 2^60 total — no float-sum order
    * dependence; the one double division happens last). Per precision:
    * registers are a p-bit groupBy (map-side combinable, m rows out),
    * so the curve costs three metadata-sized aggregates over one
    * hashed scan — the measured-not-guessed sizing discipline of
    * agg-cms-width-curve applied to distinct counting. Raw-HLL regime
    * only (no linear-counting correction): the linear_regime flag is 1
    * where a production sketch would switch estimator (est ≤ 2.5m),
    * which is where the raw bias column err_ppm visibly blows up —
    * that blowup at p=12 on a small corpus IS the curve's lesson. */
  val aggHllPrecisionCurve: Q = (s, d) => {
    val hashed = orders(s, d)
      .select(col("o_orderkey"), expr(v48Expr("o_orderkey", "instr")).as("v48"))
      .sharedCache()
    val nExact = hashed.agg(countDistinct("o_orderkey").as("n_exact"))
    val perP = HllPs.map { p =>
      val m = 1 << p
      val mBits = 48 - p
      val regs = hashed
        .select((col("v48") % lit(m.toLong)).as("bucket"),
          (expr(lzExpr(s"(v48 div $m)", mBits)) + lit(1)).as("rho"))
        .groupBy("bucket").agg(max("rho").as("mj"))
      regs.agg(count(lit(1)).as("n_filled"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), 48 - mj)")).as("s_filled"))
        .select(lit(p).as("p"), lit(m.toLong).as("m"),
          (col("s_filled") +
            (lit(m.toLong) - col("n_filled")) * lit(1L << 48)).as("s_scaled"))
    }.reduce(_ unionAll _)
    perP.crossJoin(broadcast(nExact))
      .select(col("p"), col("m"), col("n_exact"),
        expr(s"CAST(floor((CASE p ${HllPs.map(p => s"WHEN $p THEN ${alpha(1 << p)}").mkString(" ")} END)" +
          s" * (CAST(m AS DOUBLE) * m * ${1L << 48}) / s_scaled + 0.5) AS BIGINT)").as("est"))
      .select(col("p"), col("m"), col("n_exact"), col("est"),
        expr("abs(est - n_exact) * 1000000 div n_exact").as("err_ppm"),
        expr("CASE WHEN est * 2 <= m * 5 THEN 1 ELSE 0 END").as("linear_regime"))
      .orderBy("p")
  }

  val aggHllPrecisionCurveSql: String = {
    val perP = HllPs.map { p =>
      val m = 1 << p
      val mBits = 48 - p
      s"""regs$p AS (
         |  SELECT v48 % $m AS bucket,
         |         max(${lzExpr(s"(v48 // $m)", mBits)} + 1) AS mj
         |  FROM hashed GROUP BY 1),
         |agg$p AS (
         |  SELECT $p AS p, CAST($m AS BIGINT) AS m,
         |         CAST(sum(CAST(1 AS BIGINT) << (48 - mj)) AS BIGINT)
         |           + ($m - count(*)) * ${1L << 48} AS s_scaled
         |  FROM regs$p)""".stripMargin
    }.mkString(",\n")
    val alphaCase =
      s"CASE p ${HllPs.map(p => s"WHEN $p THEN ${alpha(1 << p)}").mkString(" ")} END"
    s"""WITH hashed AS (
       |  SELECT o_orderkey, ${v48Expr("o_orderkey", "strpos")} AS v48 FROM orders),
       |n AS (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_exact FROM hashed),
       |$perP,
       |curve AS (SELECT * FROM agg6 UNION ALL SELECT * FROM agg9
       |          UNION ALL SELECT * FROM agg12),
       |est AS (
       |  SELECT p, m, n_exact,
       |         CAST(floor(($alphaCase) * (CAST(m AS DOUBLE) * m * ${1L << 48})
       |                    / s_scaled + 0.5) AS BIGINT) AS est
       |  FROM curve CROSS JOIN n)
       |SELECT p, m, n_exact, est,
       |       abs(est - n_exact) * 1000000 // n_exact AS err_ppm,
       |       CASE WHEN est * 2 <= m * 5 THEN 1 ELSE 0 END AS linear_regime
       |FROM est
       |ORDER BY p""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("agg-hll-precision-curve", aggHllPrecisionCurve, aggHllPrecisionCurveSql))
}
