package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-11 batch BM: inequality-panel completion (Palma, Hoover,
  * quintile shares), inter-rater agreement beyond kappa (Krippendorff
  * alpha, Gwet AC1), and a lexical-richness panel. */
object RelMore164 extends KeyModule {

  /** agg-inequality-panel — the Palma ratio (top-10% share / bottom-40%
    * share), Hoover/Robin-Hood index (half the relative mean absolute
    * deviation — the share of total revenue that would have to move to
    * equalize), and the five quintile shares, all on per-customer
    * revenue. Complements the existing Gini/Theil/Atkinson singletons:
    * Palma reads the TAILS specifically (its point vs Gini's
    * middle-sensitivity), Hoover is the transfer interpretation.
    * Rank cuts are exact order statistics (floor(q·n) customers per
    * block via the PrefixScan rank); all shares from exact decimal
    * sums. */
  val aggInequalityPanel: Q = (s, d) => {
    // rank + grand totals via the PrefixScan two-pass: rn is the range-
    // partitioned rank, and the stats pass hands back n and Σv for free —
    // the old global row_number + count()/sum() OVER () trio funneled the
    // whole per-customer frame through one WindowExec task.
    val base = orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"))
        .cast(LongType).as("v"))
    val sc = graft.functions.PrefixScan.withRankCumSum(base,
      Seq(col("v"), col("o_custkey")), Some("v"), rankName = "rn", cumName = "cumv")
    val cust = sc.df.drop("cumv")
      .withColumn("v", col("v").cast(DecimalType(38, 0)))
      .withColumn("n", lit(sc.n))
      .withColumn("sv", lit(sc.total).cast(DecimalType(38, 0)))
      .sharedCache()
    // quintile = smallest q with rn <= floor(q*n/5): exact integer cut
    val quint = cust
      .withColumn("q", least(expr("CAST((rn * 5 + n - 1) div n AS INT)"), lit(5)))
      .groupBy("q")
      .agg(sum("v").as("qs"), max("sv").as("svv"), count(lit(1)).as("k"))
      .select(concat(lit("quintile_"), col("q")).as("block"),
        col("k").as("n_customers"),
        ratioFloor(col("qs").cast(DoubleType), col("svv"), 6).as("share"))
    val palma = cust
      .withColumn("top10", col("rn") > col("n") - expr("(n - pmod(n, 10)) div 10"))
      .withColumn("bot40", col("rn") <= expr("(n * 4 - pmod(n * 4, 10)) div 10"))
      .agg(sum(when(col("top10"), col("v")).otherwise(lit(0).cast(DecimalType(38, 0))))
        .as("t10"),
        sum(when(col("bot40"), col("v")).otherwise(lit(0).cast(DecimalType(38, 0))))
          .as("b40"),
        max("n").as("nn"))
      .select(lit("palma_ratio").as("block"), col("nn").as("n_customers"),
        // the Palma ratio rides in the shared `share` column so all
        // panel rows carry one schema
        round(col("t10").cast(DoubleType) / col("b40").cast(DoubleType), 6)
          .as("share"))
    val hoover = cust
      .agg(max("n").as("nn"),
        sum(abs(col("v") * col("n") - col("sv"))).as("sad"),
        max("sv").as("svv"))
      .select(lit("hoover_index").as("block"), col("nn").as("n_customers"),
        // Hoover = Σ|v_i − μ| / (2Σv) = Σ|n·v_i − S| / (2nS), exact ints → double
        round(col("sad").cast(DoubleType) /
          (lit(2.0) * col("nn").cast(DoubleType) * col("svv").cast(DoubleType)), 6)
          .as("share"))
    quint.unionAll(palma).unionAll(hoover).orderBy("block")
  }

  val aggInequalityPanelSql: String =
    """WITH cust AS MATERIALIZED (
      |  SELECT v, row_number() OVER (ORDER BY v, o_custkey) AS rn,
      |         count(*) OVER () AS n, sum(v) OVER () AS sv
      |  FROM (SELECT o_custkey,
      |               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |                    AS HUGEINT)) AS HUGEINT) AS v
      |        FROM orders GROUP BY 1) t),
      |quint AS (
      |  SELECT 'quintile_' || q AS block, CAST(count(*) AS BIGINT) AS n_customers,
      |         floor(CAST(sum(v) AS DOUBLE) * 1e6 / CAST(max(sv) AS DOUBLE)) / 1e6
      |           AS share
      |  FROM (SELECT v, sv, least(CAST((rn * 5 + n - 1) // n AS INT), 5) AS q
      |        FROM cust) b
      |  GROUP BY q),
      |palma AS (
      |  SELECT 'palma_ratio' AS block, CAST(max(n) AS BIGINT) AS n_customers,
      |         round(CAST(sum(CASE WHEN rn > n - (n - n % 10) // 10 THEN v
      |                             ELSE 0 END) AS DOUBLE) /
      |               CAST(sum(CASE WHEN rn <= (n * 4 - (n * 4) % 10) // 10 THEN v
      |                             ELSE 0 END) AS DOUBLE), 6) AS share
      |  FROM cust),
      |hoover AS (
      |  SELECT 'hoover_index' AS block, CAST(max(n) AS BIGINT) AS n_customers,
      |         round(CAST(sum(abs(v * n - sv)) AS DOUBLE) /
      |               (2.0 * CAST(max(n) AS DOUBLE) * CAST(max(sv) AS DOUBLE)), 6)
      |           AS share
      |  FROM cust)
      |SELECT * FROM quint UNION ALL SELECT * FROM palma
      |UNION ALL SELECT * FROM hoover
      |ORDER BY block""".stripMargin

  /** Two "coders" rating every order into the same 5-category space:
    * coder A = the declared priority class (1-5 from o_orderpriority),
    * coder B = the price-derived class (exact totalprice quintile,
    * 1 = cheapest … 5 = priciest, aligned so that if urgent orders
    * were expensive the two would agree). The agreement ops quantify
    * how far that holds above chance — same construction for both so
    * alpha and AC1 are directly comparable. */
  private def coders(s: SparkSession, d: String): DataFrame = {
    // price-quintile coder via the PrefixScan two-pass rank (and its
    // free grand total n) — the old global row_number + count() OVER ()
    // pair was a single-partition WindowExec over all of orders
    val sc = graft.functions.PrefixScan.withRankCumSum(
      orders(s, d).select(col("o_orderkey"),
        substring(col("o_orderpriority"), 1, 1).cast(IntegerType).as("a"),
        col("o_totalprice")),
      Seq(col("o_totalprice"), col("o_orderkey")), None, rankName = "rn")
    sc.df
      .withColumn("b", least(expr(s"CAST((rn * 5 + ${sc.n}L - 1) div ${sc.n}L AS INT)"),
        lit(5)))
      .select(col("o_orderkey"), col("a"), col("b"))
  }

  private val codersSql: String =
    """SELECT o_orderkey,
      |       CAST(substring(o_orderpriority, 1, 1) AS INT) AS a,
      |       least(CAST((rn * 5 + n - 1) // n AS INT), 5) AS b
      |FROM (SELECT o_orderkey, o_orderpriority,
      |             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
      |             count(*) OVER () AS n
      |      FROM orders) t""".stripMargin

  /** agg-krippendorff-alpha — Krippendorff's α (nominal metric, two
    * coders, no missing data) over the priority-vs-price-class
    * ratings: α = 1 − D_o/D_e with observed disagreement the mismatch
    * rate and expected disagreement computed from the POOLED value
    * frequencies (both coders' labels thrown into one urn — the
    * design choice that distinguishes α from Cohen's κ, which chances
    * on per-coder margins; α also generalizes to many coders/missing
    * data, which is why content-analysis standards require it).
    * Exact integer counting throughout: D_o = mismatches/n, D_e =
    * Σ n_c(n_c−1) summed over categories on the pooled 2n labels. */
  val aggKrippendorffAlpha: Q = (s, d) => {
    val cd = coders(s, d).sharedCache()
    val n = cd.agg(count(lit(1)).as("n"),
      sum(when(col("a") =!= col("b"), 1L).otherwise(0L)).as("mis"))
    val pooled = cd.select(col("a").as("c")).unionAll(cd.select(col("b").as("c")))
      .groupBy("c").agg(count(lit(1)).as("nc"))
      .agg(sum(col("nc") * (col("nc") - 1)).as("sde"), sum("nc").as("tot"))
    n.crossJoin(broadcast(pooled))
      .select(col("n").cast(LongType).as("n_units"),
        ratioFloor(col("mis").cast(DoubleType), col("n"), 6).as("observed_disagreement"),
        (col("sde").cast(DoubleType) /
          (col("tot").cast(DoubleType) * (col("tot").cast(DoubleType) - 1)))
          .as("de_raw"),
        col("mis").cast(DoubleType).as("mis"), col("n").cast(DoubleType).as("nd"))
      .select(col("n_units"), col("observed_disagreement"),
        round(lit(1.0) - col("de_raw"), 6).as("expected_disagreement"),
        round(lit(1.0) - (col("mis") / col("nd")) / (lit(1.0) - col("de_raw")), 6)
          .as("krippendorff_alpha"))
  }

  val aggKrippendorffAlphaSql: String =
    s"""WITH cd AS MATERIALIZED ($codersSql),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(CASE WHEN a <> b THEN 1 ELSE 0 END) AS BIGINT) AS mis
      |      FROM cd),
      |pooled AS (
      |  SELECT CAST(sum(nc * (nc - 1)) AS BIGINT) AS sde,
      |         CAST(sum(nc) AS BIGINT) AS tot
      |  FROM (SELECT CAST(count(*) AS BIGINT) AS nc
      |        FROM (SELECT a AS c FROM cd UNION ALL SELECT b AS c FROM cd) u
      |        GROUP BY c) f)
      |SELECT n AS n_units,
      |       floor(CAST(mis AS DOUBLE) * 1e6 / n) / 1e6 AS observed_disagreement,
      |       round(1.0 - CAST(sde AS DOUBLE) /
      |             (CAST(tot AS DOUBLE) * (CAST(tot AS DOUBLE) - 1)), 6)
      |         AS expected_disagreement,
      |       round(1.0 - (CAST(mis AS DOUBLE) / n) /
      |             (1.0 - CAST(sde AS DOUBLE) /
      |              (CAST(tot AS DOUBLE) * (CAST(tot AS DOUBLE) - 1))), 6)
      |         AS krippendorff_alpha
      |FROM n CROSS JOIN pooled""".stripMargin

  /** agg-gwet-ac1 — Gwet's AC1 on the same two-coder ratings: chance
    * agreement P_e = Σ_c π_c(1−π_c)/(K−1) with π_c the pooled category
    * prevalence — the "agreement by pure randomness" model that stays
    * small when one category dominates, curing the kappa paradox
    * (high observed agreement + skewed margins → near-zero κ). The op
    * reports AC1 next to the Cohen-style P_e so the paradox gap is
    * visible. Counting exact; one closed-form double per output. */
  val aggGwetAc1: Q = (s, d) => {
    val cd = coders(s, d).sharedCache()
    val po = cd.agg(count(lit(1)).as("n"),
      sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"))
    val prev = cd.select(col("a").as("c")).unionAll(cd.select(col("b").as("c")))
      .groupBy("c").agg(count(lit(1)).as("nc"))
      .agg(sum(col("nc") * col("nc")).as("s2"), sum("nc").as("tot"),
        count(lit(1)).as("k"))
    po.crossJoin(broadcast(prev))
      .select(col("n").cast(LongType).as("n_units"),
        col("k").cast(IntegerType).as("n_categories"),
        ratioFloor(col("agree").cast(DoubleType), col("n"), 6).as("observed_agreement"),
        col("agree").cast(DoubleType).as("pa"), col("n").cast(DoubleType).as("nd"),
        col("s2").cast(DoubleType).as("s2"), col("tot").cast(DoubleType).as("tot"),
        col("k").cast(DoubleType).as("kd"))
      // P_e(AC1) = Σ π_c (1 − π_c) / (K − 1); Σπ_c = 1 ⇒ (1 − Σπ²)/(K−1)
      .withColumn("pe", (lit(1.0) - col("s2") / (col("tot") * col("tot"))) /
        (col("kd") - 1))
      .select(col("n_units"), col("n_categories"), col("observed_agreement"),
        round(col("pe"), 6).as("chance_agreement_ac1"),
        round((col("pa") / col("nd") - col("pe")) / (lit(1.0) - col("pe")), 6)
          .as("gwet_ac1"))
  }

  val aggGwetAc1Sql: String =
    s"""WITH cd AS MATERIALIZED ($codersSql),
      |po AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |              CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
      |       FROM cd),
      |prev AS (
      |  SELECT CAST(sum(nc * nc) AS BIGINT) AS s2, CAST(sum(nc) AS BIGINT) AS tot,
      |         CAST(count(*) AS BIGINT) AS k
      |  FROM (SELECT CAST(count(*) AS BIGINT) AS nc
      |        FROM (SELECT a AS c FROM cd UNION ALL SELECT b AS c FROM cd) u
      |        GROUP BY c) f)
      |SELECT n AS n_units, CAST(k AS INT) AS n_categories,
      |       floor(CAST(agree AS DOUBLE) * 1e6 / n) / 1e6 AS observed_agreement,
      |       round((1.0 - CAST(s2 AS DOUBLE) / (CAST(tot AS DOUBLE) * tot)) /
      |             (CAST(k AS DOUBLE) - 1), 6) AS chance_agreement_ac1,
      |       round((CAST(agree AS DOUBLE) / n -
      |              (1.0 - CAST(s2 AS DOUBLE) / (CAST(tot AS DOUBLE) * tot)) /
      |              (CAST(k AS DOUBLE) - 1)) /
      |             (1.0 - (1.0 - CAST(s2 AS DOUBLE) / (CAST(tot AS DOUBLE) * tot)) /
      |              (CAST(k AS DOUBLE) - 1)), 6) AS gwet_ac1
      |FROM po CROSS JOIN prev""".stripMargin

  /** text-lexical-richness-panel — four classical vocabulary-richness
    * statistics per language over the documents corpus: Guiraud's R =
    * V/√N, Brunet's W = N^(V^−0.165), Honoré's H = 100·ln N/(1−V₁/V)
    * (hapax-sensitive), Sichel's S = V₂/V (dis-legomena share). All
    * four are length-adjusted alternatives to raw type-token ratio
    * (text-msttr owns the windowed TTR; this panel owns the closed
    * forms used in stylometry). Tokenization = the corpus-standard
    * lowercase word regex; V/V₁/V₂/N are exact counts; each statistic
    * is one deterministic double expression. The per-language groupBy
    * is the scale story: token explode → (lang, token) count →
    * frequency-class rollup, all map-side combinable. */
  val textLexicalRichnessPanel: Q = (s, d) => {
    val toks = documents(s, d)
      .select(col("lang"), explode(expr(
        "filter(split(lower(text), '[^a-z]+'), x -> x <> '')")).as("tok"))
    val freq = toks.groupBy("lang", "tok").agg(count(lit(1)).as("f"))
    freq.groupBy("lang")
      .agg(sum("f").as("n_tokens"), count(lit(1)).as("v_types"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("v1_hapax"),
        sum(when(col("f") === 2, 1L).otherwise(0L)).as("v2_dis"))
      .select(col("lang"), col("n_tokens"), col("v_types"), col("v1_hapax"),
        col("v2_dis"),
        round(col("v_types").cast(DoubleType) /
          sqrt(col("n_tokens").cast(DoubleType)), 4).as("guiraud_r"),
        round(pow(col("n_tokens").cast(DoubleType),
          pow(col("v_types").cast(DoubleType), lit(-0.165))), 4).as("brunet_w"),
        round(lit(100.0) * log(col("n_tokens").cast(DoubleType)) /
          (lit(1.0) - col("v1_hapax").cast(DoubleType) /
            col("v_types").cast(DoubleType)), 4).as("honore_h"),
        ratioFloor(col("v2_dis").cast(DoubleType), col("v_types"), 6).as("sichel_s"))
      .orderBy("lang")
  }

  val textLexicalRichnessPanelSql: String =
    """WITH toks AS (
      |  SELECT lang, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                      x -> x <> '')) AS tok
      |  FROM documents),
      |freq AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS f
      |         FROM toks GROUP BY 1, 2)
      |SELECT lang, CAST(sum(f) AS BIGINT) AS n_tokens,
      |       CAST(count(*) AS BIGINT) AS v_types,
      |       CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1_hapax,
      |       CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2_dis,
      |       round(CAST(count(*) AS DOUBLE) / sqrt(CAST(sum(f) AS DOUBLE)), 4)
      |         AS guiraud_r,
      |       round(pow(CAST(sum(f) AS DOUBLE),
      |                 pow(CAST(count(*) AS DOUBLE), -0.165)), 4) AS brunet_w,
      |       round(100.0 * ln(CAST(sum(f) AS DOUBLE)) /
      |             (1.0 - CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
      |              count(*)), 4) AS honore_h,
      |       floor(CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS DOUBLE) * 1e6 /
      |             count(*)) / 1e6 AS sichel_s
      |FROM freq GROUP BY lang
      |ORDER BY lang""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg-inequality-panel", aggInequalityPanel, aggInequalityPanelSql),
    Key("agg-krippendorff-alpha", aggKrippendorffAlpha, aggKrippendorffAlphaSql),
    Key("agg-gwet-ac1", aggGwetAc1, aggGwetAc1Sql),
    Key("text-lexical-richness-panel", textLexicalRichnessPanel, textLexicalRichnessPanelSql))
}
