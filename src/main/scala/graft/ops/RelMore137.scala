package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch AL: Moran's I spatial autocorrelation, Cliff's delta
  * effect size, underwater-spell duration, BOM-tolerant CSV source. */
object RelMore137 extends KeyModule {

  /** agg-morans-i — Moran's I spatial autocorrelation of per-nation
    * revenue under a same-region contiguity matrix (wᵢⱼ = 1 iff
    * nations i ≠ j share a region): I = n·Σwᵢⱼẑᵢẑⱼ/(ΣW·Σẑ²). The
    * question "is revenue spatially clustered or is geography just a
    * label" is prior to every per-region rollup in the repo — if I ≈
    * E[I] = −1/(n−1), region-level aggregates are arbitrary grouping,
    * not structure. Clearing the mean's denominator (ẑᵢ = n·xᵢ − Σx)
    * makes every term an exact integer — the n² scaling cancels in
    * the ratio; the contiguity join is region-blocked (never the full
    * n² cross product) and all 25 nation aggregates broadcast. The
    * full-data cost is one customer⋈orders aggregate. */
  val aggMoransI: Q = (s, d) => {
    val rev = orders(s, d)
      .join(customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("x"))
    val nat = nation(s, d).select(col("n_nationkey").as("nk"), col("n_regionkey").as("rk"))
    val xs = nat.join(rev, Seq("nk"), "left")
      .select(col("nk"), col("rk"), coalesce(col("x"), lit(0)).cast(DecimalType(38, 0)).as("x"))
      .sharedCache()
    val tot = xs.agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"), sum("x").as("tx"))
    val z = xs.crossJoin(broadcast(tot))
      .select(col("nk"), col("rk"), (col("n") * col("x") - col("tx")).as("z"),
        col("n"))
      .sharedCache()
    val cross = z.as("a")
      .join(z.as("b"), expr("a.rk = b.rk AND a.nk <> b.nk"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("sw"),
        sum(expr("a.z * b.z")).as("szz"))
    val den = z.agg(sum(expr("z * z")).as("sz2"))
    cross.crossJoin(broadcast(den)).crossJoin(broadcast(tot))
      .select(col("n").cast(LongType).as("n_nations"),
        col("sw").cast(LongType).as("sum_weights"),
        round(col("n").cast(DoubleType) * col("szz").cast(DoubleType) /
          (col("sw").cast(DoubleType) * col("sz2").cast(DoubleType)), 6).as("morans_i"),
        round(lit(-1.0) / (col("n").cast(DoubleType) - 1), 6).as("expected_i"))
      .withColumn("clustered", col("morans_i") > col("expected_i"))
  }

  val aggMoransISql: String =
    """WITH rev AS (
      |  SELECT c_nationkey AS nk,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1),
      |xs AS (
      |  SELECT n_nationkey AS nk, n_regionkey AS rk,
      |         CAST(coalesce(x, 0) AS HUGEINT) AS x
      |  FROM nation LEFT JOIN rev ON nk = n_nationkey),
      |tot AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(x) AS HUGEINT) AS tx FROM xs),
      |z AS MATERIALIZED (
      |  SELECT nk, rk, n * x - tx AS z, n FROM xs CROSS JOIN tot),
      |crossed AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS sw, CAST(sum(a.z * b.z) AS HUGEINT) AS szz
      |  FROM z a JOIN z b ON a.rk = b.rk AND a.nk <> b.nk),
      |den AS (SELECT CAST(sum(z * z) AS HUGEINT) AS sz2 FROM z)
      |SELECT CAST(n AS BIGINT) AS n_nations, CAST(sw AS BIGINT) AS sum_weights,
      |       round(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) /
      |             (CAST(sw AS DOUBLE) * CAST(sz2 AS DOUBLE)), 6) AS morans_i,
      |       round(-1.0 / (CAST(n AS DOUBLE) - 1), 6) AS expected_i,
      |       round(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) /
      |             (CAST(sw AS DOUBLE) * CAST(sz2 AS DOUBLE)), 6) >
      |         round(-1.0 / (CAST(n AS DOUBLE) - 1), 6) AS clustered
      |FROM crossed CROSS JOIN den CROSS JOIN tot""".stripMargin

  /** agg-cliffs-delta — Cliff's delta ordinal effect size between
    * URGENT and LOW order values: δ = P(X>Y) − P(X<Y), computed
    * WITHOUT enumerating the n₁·n₂ pairs via the rank-sum identity
    * U = R₁ − n₁(n₁+1)/2 on midranks. dq-mann-whitney answers "is
    * there a shift" (p-value — at warehouse n, everything is
    * significant); Cliff's delta answers "how BIG", and its
    * |δ| ≈ .147/.33/.474 magnitude ladder is the standard reporting
    * convention. Doubled midranks are exact integers (2·midrank =
    * 2·rank + tiecount − 1), so U and δ's numerator stay integer;
    * the magnitude label is decided by integer inequalities on
    * 1000·|2U − n₁n₂| vs thresholds·n₁n₂ — no rounded δ ever flips
    * the label. One sort-shuffle over the two groups. */
  val aggCliffsDelta: Q = (s, d) => {
    val v = orders(s, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0).as("g"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"))
    // doubled midranks from the shared value-domain helper: the rank
    // table is |distinct cents| rows via one histogram aggregate +
    // PrefixScan, never a rank()/count() window over every order row.
    // Σ_{g=1 rows} mr2 = Σ_values n1(v)·mr2(v) exactly.
    val mrt = graft.functions.Midranks.doubled(v, "c",
      Seq("n1c" -> (col("g") === 1)))
    val agg = mrt.agg(
      sum("n1c").as("n1"),
      sum(col("cnt") - col("n1c")).as("n2"),
      // rank products are O(n²) — exact decimal, not a Long that
      // saturates past ~3e9 rows
      sum(expr("CAST(n1c AS DECIMAL(38,0)) * mr2")).as("r1x2"))
    agg.select(col("n1"), col("n2"),
        // 2U = 2R₁ − n₁(n₁+1)
        ((col("r1x2") - col("n1").cast(DecimalType(38, 0)) * (col("n1") + 1))).as("u2"),
        (col("n1").cast(DecimalType(38, 0)) * col("n2")).as("nn"))
      .select(col("n1"), col("n2"),
        (col("u2").cast(DoubleType) / 2).cast(LongType).as("u_stat"),
        ratioFloor((col("u2") - col("nn")).cast(DoubleType), lit(2) * col("nn"), 6)
          .as("cliffs_delta"),
        ratioFloor(col("u2").cast(DoubleType), lit(2) * col("nn"), 6).as("cl_effect"),
        when(abs(col("u2") - col("nn")) * 1000 < col("nn") * 294, "negligible")
          .when(abs(col("u2") - col("nn")) * 1000 < col("nn") * 660, "small")
          .when(abs(col("u2") - col("nn")) * 1000 < col("nn") * 948, "medium")
          .otherwise("large").as("magnitude"))
  }

  val aggCliffsDeltaSql: String =
    """WITH v AS (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |ranked AS (
      |  SELECT g, 2 * rank() OVER (ORDER BY c) +
      |            count(*) OVER (PARTITION BY c) - 1 AS mr2
      |  FROM v),
      |agg AS (
      |  SELECT CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |         CAST(sum(CASE WHEN g = 1 THEN mr2 ELSE 0 END) AS BIGINT) AS r1x2
      |  FROM ranked),
      |m AS (
      |  SELECT n1, n2, r1x2 - n1 * (n1 + 1) AS u2, n1 * n2 AS nn FROM agg)
      |SELECT n1, n2, u2 // 2 AS u_stat,
      |       floor(CAST(u2 - nn AS DOUBLE) * 1e6 / (2 * nn)) / 1e6 AS cliffs_delta,
      |       floor(CAST(u2 AS DOUBLE) * 1e6 / (2 * nn)) / 1e6 AS cl_effect,
      |       CASE WHEN abs(u2 - nn) * 1000 < nn * 294 THEN 'negligible'
      |            WHEN abs(u2 - nn) * 1000 < nn * 660 THEN 'small'
      |            WHEN abs(u2 - nn) * 1000 < nn * 948 THEN 'medium'
      |            ELSE 'large' END AS magnitude
      |FROM m""".stripMargin

  /** win-underwater-spell — drawdown DURATION per year: the longest
    * consecutive run of days with revenue strictly below the running
    * year-to-date peak, plus the underwater share of days.
    * win-drawdown prices the DEPTH of the worst dip; recovery TIME is
    * the orthogonal axis (a shallow dip that lasts a quarter reads
    * fine on depth and terrible here). Pure integer machinery: the
    * running peak is a prefix max of exact daily cents, underwater is
    * a strict integer compare, and spells are gaps-and-islands (flag
    * change → island id via running sum) — all in two window passes
    * over the daily grain, partitioned by year. */
  val winUnderwaterSpell: Q = (s, d) => {
    val daily = orders(s, d)
      .groupBy(year(col("o_orderdate")).as("yr"), to_date(col("o_orderdate")).as("dt"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .as("v"))
    val wy = Window.partitionBy("yr").orderBy("dt")
    val flagged = daily
      .withColumn("peak", max("v").over(wy.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)))
      .withColumn("uw", when(col("v") < col("peak"), 1).otherwise(0))
      .withColumn("isl", sum(when(col("uw") =!=
        lag("uw", 1, 0).over(wy), 1).otherwise(0)).over(wy))
    val spells = flagged.filter(col("uw") === 1)
      .groupBy("yr", "isl").agg(count(lit(1)).as("len"))
    val perYear = flagged.groupBy("yr")
      .agg(count(lit(1)).as("n_days"), sum("uw").as("uw_days"))
    perYear.join(spells.groupBy("yr").agg(max("len").as("max_spell")), Seq("yr"), "left")
      .select(col("yr").as("year"), col("n_days"),
        col("uw_days").as("underwater_days"),
        coalesce(col("max_spell"), lit(0L)).as("max_underwater_spell"),
        ratioFloor(col("uw_days").cast(DoubleType), col("n_days"), 6)
          .as("underwater_share"))
      .orderBy("year")
  }

  val winUnderwaterSpellSql: String =
    """WITH daily AS (
      |  SELECT year(o_orderdate) AS yr, CAST(date_trunc('day', o_orderdate) AS DATE) AS dt,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |              AS HUGEINT) AS v
      |  FROM orders GROUP BY 1, 2),
      |flagged AS (
      |  SELECT yr, dt, v,
      |         CASE WHEN v < max(v) OVER (PARTITION BY yr ORDER BY dt
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) THEN 1 ELSE 0 END AS uw
      |  FROM daily),
      |changes AS (
      |  SELECT yr, dt, uw,
      |         CASE WHEN uw <> coalesce(lag(uw) OVER (PARTITION BY yr ORDER BY dt), 0)
      |              THEN 1 ELSE 0 END AS chg
      |  FROM flagged),
      |islands AS (
      |  SELECT yr, dt, uw,
      |         sum(chg) OVER (PARTITION BY yr ORDER BY dt
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |  FROM changes),
      |spells AS (
      |  SELECT yr, CAST(max(len) AS BIGINT) AS max_spell FROM (
      |    SELECT yr, isl, count(*) AS len FROM islands WHERE uw = 1 GROUP BY 1, 2) t
      |  GROUP BY 1),
      |per_year AS (
      |  SELECT yr, CAST(count(*) AS BIGINT) AS n_days,
      |         CAST(sum(uw) AS BIGINT) AS uw_days
      |  FROM islands GROUP BY 1)
      |SELECT yr AS year, n_days, uw_days AS underwater_days,
      |       coalesce(max_spell, 0) AS max_underwater_spell,
      |       floor(CAST(uw_days AS DOUBLE) * 1e6 / n_days) / 1e6 AS underwater_share
      |FROM per_year LEFT JOIN spells USING (yr)
      |ORDER BY year""".stripMargin

  /** src-csv-bom — ingestion of a CSV whose producer prepended a UTF-8
    * byte-order mark and ships CRLF line endings (the default output
    * of most Windows tooling): a naive reader silently binds the BOM
    * into the first header/field name, so downstream `n_nationkey`
    * lookups miss — the classic invisible-character incident. The op
    * stages nation through such a file (BOM + CRLF injected at the
    * byte level) and runs the preclean read: text source → strip
    * BOM/CR → parse. The oracle is the clean nation table, so the
    * grade IS the round trip. Reference analog: the bulk CSV loads of
    * 03_load_csv_to_bronze.sql:41-52, which assume pre-cleaned input;
    * this documents the cleaning contract. */
  val srcCsvBom: Q = (s, d) => {
    val out = tmp("src-csv-bom", d)
    nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true").csv(out)
    // inject the quirk bytes: BOM at file start, CRLF line endings
    val dir = new java.io.File(out)
    dir.listFiles().filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".csv")).foreach { f =>
      val body = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      java.nio.file.Files.write(f.toPath,
        ("\uFEFF" + body.replace("\n", "\r\n"))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // the local FS keeps a CRC sidecar from the Spark write; the
      // byte-level rewrite invalidates it and ChecksumFileSystem would
      // fail the whole read \u2014 drop it (a real landing file has none)
      val crc = new java.io.File(f.getParentFile, "." + f.getName + ".crc")
      if (crc.exists()) crc.delete()
    }
    s.read.text(out)
      .select(regexp_replace(regexp_replace(col("value"), "^\\uFEFF", ""), "\r$", "")
        .as("line"))
      .filter(col("line") =!= "n_nationkey,n_name,n_regionkey" &&
        length(col("line")) > 0)
      .select(split(col("line"), ",").as("p"))
      .select(expr("CAST(p[0] AS INT)").as("n_nationkey"),
        col("p")(1).as("n_name"),
        expr("CAST(p[2] AS INT)").as("n_regionkey"))
      .orderBy("n_nationkey")
  }

  val srcCsvBomSql: String =
    """SELECT n_nationkey, n_name, n_regionkey
      |FROM nation
      |ORDER BY n_nationkey""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-morans-i", aggMoransI, aggMoransISql),
    Key("agg-cliffs-delta", aggCliffsDelta, aggCliffsDeltaSql),
    Key("win-underwater-spell", winUnderwaterSpell, winUnderwaterSpellSql),
    Key("src-csv-bom", srcCsvBom, srcCsvBomSql))
}
