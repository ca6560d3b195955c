package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AX: prompt-injection lint, volume profile with
  * point of control, D'Hondt vs Hamilton apportionment, Holm
  * step-down FWER gate. */
object RelMore149 extends KeyModule {

  /** text-injection-lint — prompt-injection pattern scan over the
    * corpus: per pattern class (override phrases, role spoofing,
    * special-token smuggling, prompt-boundary markers), the count of
    * matching documents and total hits. Training text that TALKS TO
    * the model is a first-class contamination channel — the
    * instruction-following sibling of text-pii-mask (leakage) and
    * text-greenlist-watermark (provenance); a clean corpus scoring
    * zero everywhere is the CALIBRATED baseline that makes a nonzero
    * alert meaningful. Pure regexp_count arithmetic (codegen, no
    * UDF), one explode over the fixed pattern table, exact counts. */
  val textInjectionLint: Q = (s, d) => {
    val patterns = Seq(
      ("override_phrase", "(?i)(ignore|disregard) (all )?(previous|prior|above)"),
      ("role_spoof", "(?i)(system:|assistant:|you are a[n]? )"),
      ("token_smuggle", "<\\|[a-z_]+\\|>"),
      ("boundary_marker", "(?i)(BEGIN|END) (PROMPT|INSTRUCTIONS)"))
    val perDoc = documents(s, d).select(col("doc_id") +: patterns.map {
      case (k, re) => regexp_count(col("text"), lit(re)).as(k)
    }: _*)
    val counted = perDoc.select(col("doc_id"), explode(array(patterns.map {
      case (k, _) => struct(lit(k).as("cls"), col(k).cast(LongType).as("hits"))
    }: _*)).as("p"))
      .select(col("p.cls").as("pattern_class"), col("p.hits").as("hits"))
    counted.groupBy("pattern_class")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("docs_with_hits"),
        sum("hits").as("total_hits"))
      .select(col("pattern_class"), col("n_docs"), col("docs_with_hits"),
        col("total_hits"),
        ratioFloor(col("docs_with_hits").cast(DoubleType), col("n_docs"), 6)
          .as("hit_rate"))
      .orderBy("pattern_class")
  }

  val textInjectionLintSql: String =
    """WITH patterns AS (
      |  SELECT * FROM (VALUES
      |    ('override_phrase', '(?i)(ignore|disregard) (all )?(previous|prior|above)'),
      |    ('role_spoof', '(?i)(system:|assistant:|you are a[n]? )'),
      |    ('token_smuggle', '<\|[a-z_]+\|>'),
      |    ('boundary_marker', '(?i)(BEGIN|END) (PROMPT|INSTRUCTIONS)'))
      |    AS t(pattern_class, re)),
      |counted AS (
      |  SELECT pattern_class,
      |         len(regexp_extract_all(text, re)) AS hits
      |  FROM documents CROSS JOIN patterns)
      |SELECT pattern_class, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_hits,
      |       CAST(sum(hits) AS BIGINT) AS total_hits,
      |       floor(CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS DOUBLE) * 1e6 /
      |             count(*)) / 1e6 AS hit_rate
      |FROM counted GROUP BY pattern_class
      |ORDER BY pattern_class""".stripMargin

  /** agg-volume-profile-poc — the market-profile view of order value:
    * counts per $10k price level, the POINT OF CONTROL (the level
    * holding the most volume) and a 70% value area (most-populated
    * levels accumulated until they cover 70% of orders — top-count
    * selection, stated; the exchange convention expands contiguously
    * around the POC). agg-histogram bins for display; a volume
    * profile bins for DECISIONS — where the mass actually sits and
    * how wide the "normal" band is. All counts exact; the value-area
    * accumulation is one window over ≤ ~60 level rows; the VA bounds
    * are min/max levels of the selected set. */
  val aggVolumeProfilePoc: Q = (s, d) => {
    val levels = orders(s, d)
      .groupBy(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) " +
        "div 1000000").as("level"))
      .agg(count(lit(1)).as("c"))
      .sharedCache()
    val tot = levels.agg(sum("c").as("n"))
    val ordered = levels
      .withColumn("rk", row_number().over(Window.orderBy(col("c").desc, col("level"))))
      .withColumn("cum", sum("c").over(Window.orderBy(col("c").desc, col("level"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
    val va = ordered.filter(col("cum") - col("c") < col("n") * 7 / 10)
    va.agg(max(when(col("rk") === 1, col("level"))).as("poc_level"),
        max(when(col("rk") === 1, col("c"))).as("poc_orders"),
        count(lit(1)).as("value_area_levels"),
        min("level").as("va_low_level"), max("level").as("va_high_level"),
        max("n").as("n_orders"), sum("c").as("va_orders"))
      .select(col("n_orders"),
        (col("poc_level") * 10000).as("poc_usd"), col("poc_orders"),
        col("value_area_levels"),
        (col("va_low_level") * 10000).as("va_low_usd"),
        (col("va_high_level") * 10000 + 9999).as("va_high_usd"),
        ratioFloor(col("va_orders").cast(DoubleType), col("n_orders"), 6)
          .as("va_coverage"))
  }

  val aggVolumeProfilePocSql: String =
    """WITH levels AS MATERIALIZED (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 1000000
      |           AS level,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM levels),
      |ordered AS (
      |  SELECT level, c,
      |         row_number() OVER (ORDER BY c DESC, level) AS rk,
      |         sum(c) OVER (ORDER BY c DESC, level
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, n
      |  FROM levels CROSS JOIN tot),
      |va AS (SELECT * FROM ordered WHERE cum - c < n * 7 // 10)
      |SELECT max(n) AS n_orders,
      |       max(CASE WHEN rk = 1 THEN level END) * 10000 AS poc_usd,
      |       max(CASE WHEN rk = 1 THEN c END) AS poc_orders,
      |       CAST(count(*) AS BIGINT) AS value_area_levels,
      |       min(level) * 10000 AS va_low_usd,
      |       max(level) * 10000 + 9999 AS va_high_usd,
      |       floor(CAST(sum(c) AS DOUBLE) * 1e6 / max(n)) / 1e6 AS va_coverage
      |FROM va""".stripMargin

  /** agg-dhondt-apportion — D'Hondt (highest-averages) apportionment
    * of 1000 per-mille seats across brands by revenue, side by side
    * with the Hamilton result: the two canonical apportionment
    * families genuinely DISAGREE (divisor methods favor large
    * parties; largest-remainder suffers the Alabama paradox), and the
    * diff column shows it on this corpus. D'Hondt ranks the 25×1000
    * quotients rev/k — compared EXACTLY by pico-scaled integer floor
    * division (rev·10¹² div k; ties brand-then-k), so no floating
    * quotient ever reorders the seat list; Hamilton reuses the
    * exact remainder machinery of agg-largest-remainder-apportion at
    * the same scale. Bounded: the quotient table is brands × seats
    * rows, never data-sized. */
  val aggDhondtApportion: Q = (s, d) => {
    val seats = 1000
    val rev = lineitem(s, d)
      .join(part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("rev"))
      .sharedCache()
    val quot = rev.select(col("brand"), col("rev"),
        explode(expr(s"sequence(1, $seats)")).as("k"))
      .select(col("brand"),
        expr("CAST((rev * 1000000000000 - pmod(rev * 1000000000000, k)) / k " +
          "AS DECIMAL(38,0))").as("q"), col("k"))
    val dhondt = quot
      .withColumn("rk", row_number().over(Window.orderBy(col("q").desc, col("brand"),
        col("k"))))
      .filter(col("rk") <= seats)
      .groupBy("brand").agg(count(lit(1)).as("dhondt_pm"))
    val tot = rev.agg(sum("rev").as("t"))
    val hamilton = rev.crossJoin(broadcast(tot))
      .select(col("brand"), col("rev"),
        expr(s"CAST((rev * $seats - pmod(rev * $seats, t)) / t AS DECIMAL(38,0))")
          .cast(LongType).as("base"),
        expr(s"pmod(rev * $seats, t)").as("rem"))
    val short = hamilton.agg((lit(seats) - sum("base")).as("left_over"))
    val ham = hamilton.crossJoin(broadcast(short))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("rev").desc, col("brand"))))
      .select(col("brand"),
        (col("base") + when(col("rk") <= col("left_over"), 1L).otherwise(0L))
          .as("hamilton_pm"))
    rev.select("brand").join(dhondt, Seq("brand"), "left")
      .join(ham, Seq("brand"))
      .select(col("brand"), coalesce(col("dhondt_pm"), lit(0L)).as("dhondt_pm"),
        col("hamilton_pm"))
      .withColumn("diff", col("dhondt_pm") - col("hamilton_pm"))
      .orderBy("brand")
  }

  val aggDhondtApportionSql: String =
    """WITH rev AS MATERIALIZED (
      |  SELECT p_brand AS brand,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS rev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
      |quot AS (
      |  SELECT brand, (rev * 1000000000000) // k AS q, k
      |  FROM rev CROSS JOIN (SELECT unnest(range(1, 1001)) AS k) ks),
      |dhondt AS (
      |  SELECT brand, CAST(count(*) AS BIGINT) AS dhondt_pm FROM (
      |    SELECT brand, row_number() OVER (ORDER BY q DESC, brand, k) AS rk
      |    FROM quot) t
      |  WHERE rk <= 1000 GROUP BY 1),
      |tot AS (SELECT CAST(sum(rev) AS HUGEINT) AS t FROM rev),
      |hamilton AS (
      |  SELECT brand, rev, CAST((rev * 1000) // t AS BIGINT) AS base,
      |         (rev * 1000) % t AS rem
      |  FROM rev CROSS JOIN tot),
      |short AS (SELECT 1000 - CAST(sum(base) AS BIGINT) AS left_over FROM hamilton),
      |ham AS (
      |  SELECT brand,
      |         base + CASE WHEN rk <= left_over THEN 1 ELSE 0 END AS hamilton_pm
      |  FROM (
      |    SELECT brand, base,
      |           row_number() OVER (ORDER BY rem DESC, rev DESC, brand) AS rk, left_over
      |    FROM hamilton CROSS JOIN short) t)
      |SELECT rev.brand, coalesce(dhondt_pm, 0) AS dhondt_pm, hamilton_pm,
      |       coalesce(dhondt_pm, 0) - hamilton_pm AS diff
      |FROM rev LEFT JOIN dhondt ON rev.brand = dhondt.brand
      |JOIN ham ON rev.brand = ham.brand
      |ORDER BY rev.brand""".stripMargin

  /** dq-holm-stepdown — Holm's step-down FWER control over the same
    * 25 per-nation Welch tests dq-fdr-bh runs: reject the k-th
    * smallest p only while p₍ₖ₎ ≤ α/(m−k+1) AND every earlier test
    * rejected (the step-down stop). BH bounds the false-discovery
    * RATE (exploratory); Holm bounds the familywise error
    * (confirmatory, no independence assumptions) — running both on
    * identical tests shows the power gap a dashboard pays for the
    * stronger guarantee. Same exact moment machinery and A&S-7.1.26
    * erfc p-values as the BH op (identical double expressions both
    * engines); the step-down is two windows over 25 rows. */
  val dqHolmStepdown: Q = (s, d) => {
    def erfc(x: String): String =
      s"(1.0 / (1.0 + 0.3275911 * $x)) * (0.254829592 + (1.0 / (1.0 + 0.3275911 * $x)) * " +
        s"(-0.284496736 + (1.0 / (1.0 + 0.3275911 * $x)) * (1.421413741 + " +
        s"(1.0 / (1.0 + 0.3275911 * $x)) * (-1.453152027 + (1.0 / (1.0 + 0.3275911 * $x)) * " +
        s"1.061405429)))) * exp(-($x) * ($x))"
    val cents = orders(s, d).join(customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nk"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))").as("v"))
    val perN = cents.groupBy("nk")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n1"),
        sum("v").as("s1"), sum(expr("v * v")).as("ss1"))
      .sharedCache()
    val glob = perN.agg(sum("n1").as("ng"), sum("s1").as("sg"), sum("ss1").as("ssg"))
    val z = perN.crossJoin(broadcast(glob))
      .select(col("nk"),
        // complement moments by subtraction; Welch z
        ((col("s1").cast(DoubleType) / col("n1").cast(DoubleType) -
          (col("sg") - col("s1")).cast(DoubleType) /
            (col("ng") - col("n1")).cast(DoubleType)) /
          sqrt(((col("n1") * col("ss1") - col("s1") * col("s1")).cast(DoubleType) /
              (col("n1") * (col("n1") - 1)).cast(DoubleType) / col("n1").cast(DoubleType)) +
            (((col("ng") - col("n1")) * (col("ssg") - col("ss1")) -
              (col("sg") - col("s1")) * (col("sg") - col("s1"))).cast(DoubleType) /
              ((col("ng") - col("n1")) * (col("ng") - col("n1") - 1)).cast(DoubleType) /
              (col("ng") - col("n1")).cast(DoubleType)))).as("zv"))
      .withColumn("p", expr(erfc("abs(zv) / 1.4142135623730951")))
    val stepped = z
      .withColumn("k", row_number().over(Window.orderBy(col("p"), col("nk"))))
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
      .withColumn("ok", when(col("p") <= lit(0.05) / (col("m") - col("k") + 1), 1)
        .otherwise(0))
      .withColumn("holm_reject", min("ok").over(Window.orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)) === 1)
    stepped.select(col("nk").as("nation"), col("k").as("p_rank"),
        round(col("zv"), 4).as("welch_z"),
        round(col("p"), 8).as("p_value"), col("holm_reject"),
        (col("p") <= lit(0.05) / col("m")).as("bonferroni_reject"))
      .orderBy("p_rank")
  }

  val dqHolmStepdownSql: String = {
    def erfc(x: String): String =
      s"(1.0 / (1.0 + 0.3275911 * $x)) * (0.254829592 + (1.0 / (1.0 + 0.3275911 * $x)) * " +
        s"(-0.284496736 + (1.0 / (1.0 + 0.3275911 * $x)) * (1.421413741 + " +
        s"(1.0 / (1.0 + 0.3275911 * $x)) * (-1.453152027 + (1.0 / (1.0 + 0.3275911 * $x)) * " +
        s"1.061405429)))) * exp(-($x) * ($x))"
    s"""WITH cents AS (
       |  SELECT c_nationkey AS nk,
       |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS v
       |  FROM orders JOIN customer ON o_custkey = c_custkey),
       |per_n AS MATERIALIZED (
       |  SELECT nk, CAST(count(*) AS HUGEINT) AS n1, CAST(sum(v) AS HUGEINT) AS s1,
       |         CAST(sum(v * v) AS HUGEINT) AS ss1
       |  FROM cents GROUP BY 1),
       |gm AS (
       |  SELECT CAST(sum(n1) AS HUGEINT) AS ng, CAST(sum(s1) AS HUGEINT) AS sg,
       |         CAST(sum(ss1) AS HUGEINT) AS ssg
       |  FROM per_n),
       |z AS (
       |  SELECT nk, zv, ${erfc("abs(zv) / 1.4142135623730951")} AS p
       |  FROM (
       |    SELECT nk,
       |      (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
       |       CAST(sg - s1 AS DOUBLE) / CAST(ng - n1 AS DOUBLE)) /
       |      sqrt(CAST(n1 * ss1 - s1 * s1 AS DOUBLE) /
       |             CAST(n1 * (n1 - 1) AS DOUBLE) / CAST(n1 AS DOUBLE) +
       |           CAST((ng - n1) * (ssg - ss1) - (sg - s1) * (sg - s1) AS DOUBLE) /
       |             CAST((ng - n1) * (ng - n1 - 1) AS DOUBLE) / CAST(ng - n1 AS DOUBLE))
       |        AS zv
       |    FROM per_n CROSS JOIN gm) t),
       |stepped AS (
       |  SELECT nk, zv, p,
       |         row_number() OVER (ORDER BY p, nk) AS k,
       |         count(*) OVER () AS m
       |  FROM z),
       |flagged AS (
       |  SELECT nk, zv, p, k, m,
       |         CASE WHEN p <= 0.05 / (m - k + 1) THEN 1 ELSE 0 END AS ok
       |  FROM stepped)
       |SELECT nk AS nation, k AS p_rank, round(zv, 4) AS welch_z,
       |       round(p, 8) AS p_value,
       |       min(ok) OVER (ORDER BY k
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS holm_reject,
       |       p <= 0.05 / m AS bonferroni_reject
       |FROM flagged
       |ORDER BY p_rank""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("text-injection-lint", textInjectionLint, textInjectionLintSql),
    Key("agg-volume-profile-poc", aggVolumeProfilePoc, aggVolumeProfilePocSql),
    Key("agg-dhondt-apportion", aggDhondtApportion, aggDhondtApportionSql),
    Key("dq-holm-stepdown", dqHolmStepdown, dqHolmStepdownSql))
}
