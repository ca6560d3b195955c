package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch F: AMS F2 sketch, exact 2-feature OLS, inferred
  * dimension members, crypto-shredding erasure. */
object RelMore68 extends KeyModule {

  private val AmsK = 16

  /** agg-ams-f2 — the AMS/tug-of-war sketch for JOIN SIZE estimation:
    * the self-join size F₂ = Σ f_v² of the l_partkey stream estimated
    * from 16 ±1-signed counters (sign = md5 digit parity, so the
    * "random" hash is deterministic and identical in the oracle),
    * graded against the exact F₂ with the relative error in ppm.
    * Mean-of-16 and median-of-means (4×4, lower median — integer, no
    * tie hazard) both reported: MoM is the variant with concentration
    * guarantees. The sketch is one aggregate over the frequency
    * table — 16 longs of state regardless of cardinality, the reason
    * query optimizers can afford it per column. */
  val aggAmsF2: Q = (s, d) => {
    def signExpr(i: Int) =
      s"((instr('0123456789abcdef', substring(h, ${i + 1}, 1)) - 1) % 2 * 2 - 1)"
    val freq = lineitem(s, d).groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("f"))
      .withColumn("h", md5(concat(lit("ams#"), col("l_partkey").cast(StringType))))
    val sums = (0 until AmsK).map(i =>
      sum(expr(s"${signExpr(i)} * f")).as(s"s$i")) :+
      sum(expr("f * f")).as("exact_f2")
    val wide = freq.agg(sums.head, sums.tail: _*)
    val xs = (0 until AmsK).map(i => s"s$i * s$i")
    val groupMeans = (0 until AmsK / 4).map(g =>
      s"(${(0 until 4).map(j => s"s${4 * g + j} * s${4 * g + j}").mkString(" + ")}) div 4")
    wide.select(col("exact_f2"),
      expr(s"(${xs.mkString(" + ")}) div $AmsK").as("est_mean"),
      expr(s"array_sort(array(${groupMeans.mkString(", ")}))[1]").as("est_mom"))
      .select(col("exact_f2"), col("est_mean"), col("est_mom"),
        expr("abs(est_mean - exact_f2) * 1000000 div exact_f2").as("mean_err_ppm"),
        expr("abs(est_mom - exact_f2) * 1000000 div exact_f2").as("mom_err_ppm"))
  }

  val aggAmsF2Sql: String = {
    def signExpr(i: Int) =
      s"((strpos('0123456789abcdef', substring(h, ${i + 1}, 1)) - 1) % 2 * 2 - 1)"
    val sums = (0 until AmsK).map(i =>
      s"CAST(sum(${signExpr(i)} * f) AS BIGINT) AS s$i").mkString(",\n         ")
    val xs = (0 until AmsK).map(i => s"s$i * s$i")
    val groupMeans = (0 until AmsK / 4).map(g =>
      s"(${(0 until 4).map(j => s"s${4 * g + j} * s${4 * g + j}").mkString(" + ")}) // 4")
    s"""WITH freq AS (
       |  SELECT l_partkey, count(*) AS f,
       |         md5('ams#' || CAST(l_partkey AS VARCHAR)) AS h
       |  FROM lineitem GROUP BY l_partkey),
       |wide AS (
       |  SELECT $sums,
       |         CAST(sum(f * f) AS BIGINT) AS exact_f2
       |  FROM freq),
       |est AS (
       |  SELECT exact_f2,
       |         (${xs.mkString(" + ")}) // $AmsK AS est_mean,
       |         list_sort([${groupMeans.mkString(", ")}])[2] AS est_mom
       |  FROM wide)
       |SELECT exact_f2, est_mean, est_mom,
       |       abs(est_mean - exact_f2) * 1000000 // exact_f2 AS mean_err_ppm,
       |       abs(est_mom - exact_f2) * 1000000 // exact_f2 AS mom_err_ppm
       |FROM est""".stripMargin
  }

  /** agg-ols-normal-eq — two-feature least squares SOLVED EXACTLY by
    * the normal equations: ŷ = β₀ + β₁·quantity + β₂·retail, with the
    * centered cross-moments kept as n-scaled INTEGERS (n·Σxy − SxSy —
    * no mean, no float) and Cramer's rule over the 2×2 system in
    * Decimal(38,0)/HUGEINT. agg-regression fits one feature; this is
    * the multi-feature one-pass fit every "learn a linear probe over
    * 100 TB without a driver loop" needs: ONE aggregate produces the 9
    * moments, the solve is constant-time driver arithmetic expressed
    * in the plan. The only floats are the three output divisions,
    * floored at micro. */
  val aggOlsNormalEq: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val base = lineitem(s, d)
      .join(part(s, d), col("l_partkey") === col("p_partkey"))
      .select(col("l_quantity").cast(LongType).as("x1"),
        floor(col("p_retailprice")).cast(LongType).as("x2"),
        floor(col("l_extendedprice")).cast(LongType).as("y"))
    val m = base.agg(
      count(lit(1)).cast(dec).as("n"),
      sum("x1").cast(dec).as("s1"), sum("x2").cast(dec).as("s2"),
      sum("y").cast(dec).as("sy"),
      sum(col("x1") * col("x1")).cast(dec).as("s11"),
      sum(col("x2") * col("x2")).cast(dec).as("s22"),
      sum(col("x1") * col("x2")).cast(dec).as("s12"),
      sum(col("x1") * col("y")).cast(dec).as("s1y"),
      sum(col("x2") * col("y")).cast(dec).as("s2y"))
      .withColumn("a11", col("n") * col("s11") - col("s1") * col("s1"))
      .withColumn("a22", col("n") * col("s22") - col("s2") * col("s2"))
      .withColumn("a12", col("n") * col("s12") - col("s1") * col("s2"))
      .withColumn("b1", col("n") * col("s1y") - col("s1") * col("sy"))
      .withColumn("b2", col("n") * col("s2y") - col("s2") * col("sy"))
      .withColumn("det", col("a11") * col("a22") - col("a12") * col("a12"))
    m.select(
      col("n").cast(LongType).as("n"),
      floor((col("b1") * col("a22") - col("b2") * col("a12")).cast(DoubleType) /
        col("det").cast(DoubleType) * 1000000).cast(LongType).as("beta1_micro"),
      floor((col("b2") * col("a11") - col("b1") * col("a12")).cast(DoubleType) /
        col("det").cast(DoubleType) * 1000000).cast(LongType).as("beta2_micro"),
      floor((col("sy").cast(DoubleType) -
        (col("b1") * col("a22") - col("b2") * col("a12")).cast(DoubleType) /
          col("det").cast(DoubleType) * col("s1").cast(DoubleType) -
        (col("b2") * col("a11") - col("b1") * col("a12")).cast(DoubleType) /
          col("det").cast(DoubleType) * col("s2").cast(DoubleType)) /
        col("n").cast(DoubleType) * 1000).cast(LongType).as("intercept_milli"))
  }

  val aggOlsNormalEqSql: String =
    """WITH base AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS x1,
      |         CAST(floor(p_retailprice) AS BIGINT) AS x2,
      |         CAST(floor(l_extendedprice) AS BIGINT) AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
      |         CAST(sum(y) AS HUGEINT) AS sy,
      |         CAST(sum(x1 * x1) AS HUGEINT) AS s11,
      |         CAST(sum(x2 * x2) AS HUGEINT) AS s22,
      |         CAST(sum(x1 * x2) AS HUGEINT) AS s12,
      |         CAST(sum(x1 * y) AS HUGEINT) AS s1y,
      |         CAST(sum(x2 * y) AS HUGEINT) AS s2y
      |  FROM base),
      |e AS (
      |  SELECT *,
      |         n * s11 - s1 * s1 AS a11,
      |         n * s22 - s2 * s2 AS a22,
      |         n * s12 - s1 * s2 AS a12,
      |         n * s1y - s1 * sy AS b1,
      |         n * s2y - s2 * sy AS b2,
      |         (n * s11 - s1 * s1) * (n * s22 - s2 * s2) -
      |         (n * s12 - s1 * s2) * (n * s12 - s1 * s2) AS det
      |  FROM m)
      |SELECT CAST(n AS BIGINT) AS n,
      |       CAST(floor(CAST(b1 * a22 - b2 * a12 AS DOUBLE) / CAST(det AS DOUBLE) * 1000000) AS BIGINT) AS beta1_micro,
      |       CAST(floor(CAST(b2 * a11 - b1 * a12 AS DOUBLE) / CAST(det AS DOUBLE) * 1000000) AS BIGINT) AS beta2_micro,
      |       CAST(floor((CAST(sy AS DOUBLE)
      |              - CAST(b1 * a22 - b2 * a12 AS DOUBLE) / CAST(det AS DOUBLE) * CAST(s1 AS DOUBLE)
      |              - CAST(b2 * a11 - b1 * a12 AS DOUBLE) / CAST(det AS DOUBLE) * CAST(s2 AS DOUBLE))
      |             / CAST(n AS DOUBLE) * 1000) AS BIGINT) AS intercept_milli
      |FROM e""".stripMargin

  /** sink-inferred-member — the late-arriving-dimension pattern: facts
    * referencing a dimension key that has not arrived yet get an
    * INFERRED placeholder row (so the FK never dangles and reports
    * never silently drop facts), which the real row replaces when the
    * dimension finally lands. Simulated by withholding every
    * s_suppkey % 13 = 0 from the initial load; the sink round-trips
    * through scratch parquet at each stage (initial+inferred → resolve
    * merge), exactly the two-write shape a warehouse runs. Graded as
    * the member-type census plus the zero-orphan invariant after
    * resolution. Anti-join + broadcast-size dimension merges — the
    * fact table is scanned once. */
  val sinkInferredMember: Q = (s, d) => {
    val dir = tmp("sink-inferred-member", d)
    val sup = supplier(s, d).select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
    val initial = sup.filter(col("s_suppkey") % 13 =!= 0)
      .withColumn("member_type", lit("original"))
    val factKeys = lineitem(s, d).select(col("l_suppkey").as("s_suppkey")).distinct()
    val inferred = factKeys.join(initial, Seq("s_suppkey"), "left_anti")
      .select(col("s_suppkey"), lit("INFERRED").as("s_name"),
        lit(-1L).cast(sup.schema("s_nationkey").dataType).as("s_nationkey"),
        lit("inferred").as("member_type"))
    initial.unionByName(inferred).write.mode("overwrite").parquet(s"$dir/stage1")
    // the withheld rows "arrive": replace placeholders by key
    val late = sup.filter(col("s_suppkey") % 13 === 0)
      .withColumn("member_type", lit("resolved"))
    val stage1 = s.read.parquet(s"$dir/stage1")
    val resolved = stage1.join(late.select(col("s_suppkey").as("lk")),
        col("s_suppkey") === col("lk"), "left_anti")
      .unionByName(late.join(stage1.filter(col("member_type") === "inferred")
        .select(col("s_suppkey").as("ik")), col("s_suppkey") === col("ik"), "left_semi"))
    resolved.write.mode("overwrite").parquet(s"$dir/stage2")
    val fin = s.read.parquet(s"$dir/stage2")
    val orphans = lineitem(s, d).select(col("l_suppkey").as("s_suppkey")).distinct()
      .join(fin, Seq("s_suppkey"), "left_anti")
      .agg(count(lit(1)).as("orphans_after"))
    fin.groupBy("member_type").agg(count(lit(1)).as("n_members"))
      .crossJoin(broadcast(orphans))
      .orderBy("member_type")
  }

  val sinkInferredMemberSql: String =
    """WITH fact_keys AS (SELECT DISTINCT l_suppkey AS k FROM lineitem),
      |census AS (
      |  SELECT CASE WHEN s_suppkey % 13 <> 0 THEN 'original'
      |              ELSE 'resolved' END AS member_type
      |  FROM supplier
      |  WHERE s_suppkey % 13 <> 0
      |     OR s_suppkey IN (SELECT k FROM fact_keys))
      |SELECT member_type, count(*) AS n_members,
      |       CAST(0 AS BIGINT) AS orphans_after
      |FROM census
      |GROUP BY member_type
      |ORDER BY member_type""".stripMargin

  /** sink-crypto-shred — GDPR erasure WITHOUT rewriting data files:
    * payloads are encrypted per user (AES-ECB with a per-user key —
    * ECB for ciphertext determinism; key = md5 of the user key
    * material, 32 bytes), the key table lives beside the data, and
    * "erasure" deletes KEY ROWS only (users % 7 = 0 here). After the
    * shred the data files are untouched but the erased users' payloads
    * are unrecoverable — try_aes_decrypt with no key yields NULL. The
    * immutable-data-file erasure pattern every lakehouse retention
    * design ends at. Graded per event type: total vs still-decryptable
    * rows. */
  val sinkCryptoShred: Q = (s, d) => {
    val dir = tmp("sink-crypto-shred", d)
    val ev = events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), col("props"))
    val keys = ev.select(col("user_id")).distinct()
      .withColumn("k", md5(concat(lit("key#"), col("user_id").cast(StringType))))
    ev.join(broadcast(keys), Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("aes_encrypt(props, CAST(k AS BINARY), 'ECB', 'PKCS')").as("payload"))
      .write.mode("overwrite").parquet(s"$dir/data")
    // the shred: key rows for erased users are DELETED; data untouched
    keys.filter(col("user_id") % 7 =!= 0)
      .write.mode("overwrite").parquet(s"$dir/keys")
    val data = s.read.parquet(s"$dir/data")
    val liveKeys = s.read.parquet(s"$dir/keys")
    data.join(broadcast(liveKeys), Seq("user_id"), "left")
      .withColumn("clear",
        when(col("k").isNotNull,
          expr("try_aes_decrypt(payload, CAST(k AS BINARY), 'ECB', 'PKCS')")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("clear").isNotNull, 1L).otherwise(0L)).as("n_decryptable"))
      .orderBy("event_type")
  }

  val sinkCryptoShredSql: String =
    """SELECT event_type, count(*) AS n_total,
      |       CAST(sum(CASE WHEN user_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_decryptable
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-ams-f2", aggAmsF2, aggAmsF2Sql),
    Key("agg-ols-normal-eq", aggOlsNormalEq, aggOlsNormalEqSql),
    Key("sink-inferred-member", sinkInferredMember, sinkInferredMemberSql),
    Key("sink-crypto-shred", sinkCryptoShred, sinkCryptoShredSql))
}
