package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-8 batch E: corpus statistics for LM data work — Simple
  * Good-Turing smoothing, moving-average TTR, Juilland/Gries term
  * dispersion, and TextRank keyword extraction. All start from the
  * corpus-standard lowercase word tokenization; every fact-scale pass
  * is a map-side-combinable token aggregate. */
object RelMore169 extends KeyModule {

  private def toks(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"), col("lang"),
      expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')").as("ts"))

  private val toksSql: String =
    """SELECT doc_id, lang,
      |       list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                   x -> x <> '') AS ts
      |FROM documents""".stripMargin

  /** text-good-turing — Simple Good-Turing (Gale & Sampson) smoothing
    * of the corpus unigram counts: the frequency-of-frequencies table
    * N_r, Gale's Z-transform Z_r = 2N_r/(t−q) over the neighbor gaps
    * (so empty r-cells don't zero the regression), the log-log OLS
    * slope b, and the smoothed counts r* = (r+1)·((r+1)/r)^b for
    * r = 1…5 plus the unseen mass P₀ = N₁/N. THE classical answer to
    * "how much probability belongs to words we never saw" — the
    * number every add-one smoother gets wrong by an order of
    * magnitude. Neighbor gaps via the PrefixScan boundary stitch over
    * the bounded r-table; OLS on nano-quantized logs (exact integer
    * sums, DECIMAL(38) squares); slope and r* are terminal doubles.
    * SGT requires b < −1 for the renormalization to be proper — the
    * op reports the check as a boolean. */
  val textGoodTuring: Q = (s, d) => {
    val freq = toks(s, d).select(explode(col("ts")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
    val nr = freq.groupBy(col("f").as("r")).agg(count(lit(1)).as("nr"))
    val lagged = graft.functions.PrefixScan.withNeighbor(nr, Seq(col("r")),
      Seq("r"), lead = false, suffix = "_prev")
    val both = graft.functions.PrefixScan.withNeighbor(lagged, Seq(col("r")),
      Seq("r"), lead = true, suffix = "_next")
    val z = both.select(col("r"), col("nr"),
      coalesce(col("r_prev"), lit(0L)).as("q"),
      coalesce(col("r_next"), col("r") * 2 - coalesce(col("r_prev"), lit(0L))).as("t"))
      .select(col("r"), col("nr"),
        (col("nr").cast(DoubleType) * 2 / (col("t") - col("q")).cast(DoubleType)).as("zr"))
      .select(
        expr("CAST(floor(ln(CAST(r AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)").as("lx"),
        expr("CAST(floor(ln(zr) * 1e9 + 0.5) AS BIGINT)").as("lz"))
    val ols = z.agg(count(lit(1)).as("np"), sum("lx").as("sx"), sum("lz").as("sy"),
      sum(col("lx").cast(DecimalType(38, 0)) * col("lx")).as("sxx"),
      sum(col("lx").cast(DecimalType(38, 0)) * col("lz")).as("sxy"))
    val tot = freq.agg(sum("f").as("n_tokens"), count(lit(1)).as("n_types"),
      sum(when(col("f") === 1, 1L).otherwise(0L)).as("n1"))
    val dn = col("np").cast(DoubleType)
    val dx = col("sx").cast(DoubleType) / 1e9; val dy = col("sy").cast(DoubleType) / 1e9
    val dxx = col("sxx").cast(DoubleType) / 1e18
    val dxy = col("sxy").cast(DoubleType) / 1e18
    val b = (dn * dxy - dx * dy) / (dn * dxx - dx * dx)
    def rstar(r: Int) =
      round(lit(r + 1.0) * pow(lit((r + 1.0) / r), b), 4).as(s"rstar_$r")
    ols.crossJoin(broadcast(tot))
      .select(col("n_tokens"), col("n_types"),
        ratioFloor(col("n1"), col("n_tokens"), 6).as("p0_unseen"),
        round(b, 6).as("sgt_slope"),
        (b < -1.0).as("slope_proper"),
        rstar(1), rstar(2), rstar(3), rstar(4), rstar(5))
  }

  val textGoodTuringSql: String =
    s"""WITH tk AS ($toksSql),
      |freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS f
      |         FROM (SELECT unnest(ts) AS tok FROM tk) u GROUP BY tok),
      |nr AS (SELECT f AS r, CAST(count(*) AS BIGINT) AS nr FROM freq GROUP BY f),
      |z AS (
      |  SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS lx,
      |         CAST(floor(ln(CAST(nr AS DOUBLE) * 2 /
      |           (COALESCE(lead(r) OVER (ORDER BY r),
      |                     r * 2 - COALESCE(lag(r) OVER (ORDER BY r), 0)) -
      |            COALESCE(lag(r) OVER (ORDER BY r), 0))) * 1e9 + 0.5) AS BIGINT) AS lz
      |  FROM nr),
      |ols AS (
      |  SELECT CAST(count(*) AS BIGINT) AS np,
      |         CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(lz) AS BIGINT) AS sy,
      |         CAST(sum(CAST(lx AS HUGEINT) * lx) AS HUGEINT) AS sxx,
      |         CAST(sum(CAST(lx AS HUGEINT) * lz) AS HUGEINT) AS sxy
      |  FROM z),
      |tot AS (
      |  SELECT CAST(sum(f) AS BIGINT) AS n_tokens, CAST(count(*) AS BIGINT) AS n_types,
      |         CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      |  FROM freq),
      |f AS (
      |  SELECT n_tokens, n_types, n1,
      |         (CAST(np AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e18) -
      |          (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9)) /
      |         (CAST(np AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e18) -
      |          (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9)) AS b
      |  FROM ols CROSS JOIN tot)
      |SELECT n_tokens, n_types,
      |       floor(CAST(n1 AS DOUBLE) * 1e6 / n_tokens) / 1e6 AS p0_unseen,
      |       round(b, 6) AS sgt_slope, b < -1.0 AS slope_proper,
      |       round(2.0 * pow(2.0 / 1, b), 4) AS rstar_1,
      |       round(3.0 * pow(3.0 / 2, b), 4) AS rstar_2,
      |       round(4.0 * pow(4.0 / 3, b), 4) AS rstar_3,
      |       round(5.0 * pow(5.0 / 4, b), 4) AS rstar_4,
      |       round(6.0 * pow(6.0 / 5, b), 4) AS rstar_5
      |FROM f""".stripMargin

  /** text-mattr — Moving-Average Type-Token Ratio (window W = 25) per
    * language: the TTR of every 25-token sliding window, averaged.
    * Covington's MATTR removes the text-length confound that makes raw
    * TTR incomparable across documents (longer text ⇒ lower TTR,
    * mechanically); unlike text-msttr's disjoint segments the sliding
    * window uses every position. The average is kept EXACT as
    * Σ distinct_w / (25 · n_windows) — integer sums, one terminal
    * division. Docs shorter than W are excluded (declared). Cost:
    * position × window-start range join, bounded per doc by L·W. */
  val textMattr: Q = (s, d) => {
    val W = 25
    val tp = toks(s, d)
      .select(col("doc_id"), col("lang"), posexplode(col("ts")).as(Seq("pos", "tok")))
      .sharedCache()
    val lens = tp.groupBy("doc_id", "lang").agg((max("pos") + 1).as("len"))
    val starts = lens.filter(col("len") >= W)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(0), col("len") - W)).as("st"))
    val wins = starts.join(tp.select(col("doc_id"), col("pos"), col("tok")), Seq("doc_id"))
      .filter(col("pos").between(col("st"), col("st") + (W - 1)))
      .groupBy("lang", "doc_id", "st")
      .agg(count_distinct(col("tok")).as("types"))
    wins.groupBy("lang")
      .agg(count(lit(1)).as("n_windows"), sum("types").as("stypes"))
      .select(col("lang"), col("n_windows"),
        ratioFloor(col("stypes"), col("n_windows") * W, 6).as("mattr"))
      .orderBy("lang")
  }

  val textMattrSql: String =
    s"""WITH tk AS ($toksSql),
      |tp AS (
      |  SELECT doc_id, lang, unnest(ts) AS tok,
      |         CAST(unnest(range(len(ts))) AS INT) AS pos
      |  FROM tk),
      |lens AS (SELECT doc_id, lang, max(pos) + 1 AS len
      |         FROM tp GROUP BY 1, 2),
      |starts AS (
      |  SELECT doc_id, lang, CAST(unnest(generate_series(0, len - 25)) AS INT) AS st
      |  FROM lens WHERE len >= 25),
      |wins AS (
      |  SELECT s.lang, s.doc_id, s.st,
      |         CAST(count(DISTINCT t.tok) AS BIGINT) AS types
      |  FROM starts s JOIN tp t ON s.doc_id = t.doc_id
      |  WHERE t.pos BETWEEN s.st AND s.st + 24
      |  GROUP BY 1, 2, 3)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_windows,
      |       floor(CAST(sum(types) AS DOUBLE) * 1e6 / (count(*) * 25)) / 1e6 AS mattr
      |FROM wins
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** text-juilland-d — term dispersion over k = 10 equal document
    * buckets (doc_id % 10) for the top-20 corpus terms: Juilland's
    * D = 1 − CV/√(k−1) on the per-bucket RELATIVE frequencies (1 =
    * perfectly even, 0 = concentrated in one bucket) next to Gries'
    * DP = ½·Σ|obs share − bucket-size share| (0 = even). A corpus
    * term that is frequent but bursty (high freq, low D) is a topical
    * artifact, not core vocabulary — frequency lists without a
    * dispersion column systematically over-rank it. Missing
    * (term, bucket) cells are genuine zeros via the top-20 × bucket
    * scaffold; all shares exact integer cross-products with terminal
    * doubles. */
  val textJuillandD: Q = (s, d) => {
    val tb = toks(s, d)
      .select(col("doc_id"), explode(col("ts")).as("tok"))
      .select((col("doc_id") % 10).as("b"), col("tok"))
      .sharedCache()
    val bucketTot = tb.groupBy("b").agg(count(lit(1)).as("tb"))
    val grand = tb.agg(count(lit(1)).as("tt")).sharedCache()
    val top = tb.groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), col("tok")).limit(20).sharedCache()
    val cells = top.crossJoin(s.sql("SELECT explode(sequence(0, 9)) AS b"))
      .join(tb.groupBy("tok", "b").agg(count(lit(1)).as("c")), Seq("tok", "b"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .join(broadcast(bucketTot), Seq("b"))
      .crossJoin(broadcast(grand))
    // v_b = c/tb; μ = Σv/10; D = 1 − sd/μ/3; DP = ½Σ|c/freq − tb/tt|
    cells.groupBy("tok", "freq")
      .agg(sum(col("c").cast(DoubleType) / col("tb")).as("sv"),
        sum((col("c").cast(DoubleType) / col("tb")) *
          (col("c").cast(DoubleType) / col("tb"))).as("svv"),
        sum(abs(col("c").cast(DoubleType) / col("freq") -
          col("tb").cast(DoubleType) / col("tt"))).as("sad"))
      .select(col("tok").as("term"), col("freq"),
        round(lit(1.0) - sqrt(col("svv") / 10 - (col("sv") / 10) * (col("sv") / 10)) /
          (col("sv") / 10) / lit(3.0), 4).as("juilland_d"),
        round(col("sad") / 2, 4).as("gries_dp"))
      .orderBy(desc("freq"), col("term"))
  }

  val textJuillandDSql: String =
    s"""WITH tk AS ($toksSql),
      |tb AS (SELECT doc_id % 10 AS b, unnest(ts) AS tok FROM tk),
      |bucket_tot AS (SELECT b, CAST(count(*) AS BIGINT) AS tbn FROM tb GROUP BY b),
      |grand AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM tb),
      |top AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM tb
      |        GROUP BY tok ORDER BY freq DESC, tok LIMIT 20),
      |cells AS (
      |  SELECT t.tok, t.freq, s.b, COALESCE(c.c, 0) AS c, bt.tbn, g.tt
      |  FROM top t
      |  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS b) s
      |  LEFT JOIN (SELECT tok, b, CAST(count(*) AS BIGINT) AS c
      |             FROM tb GROUP BY 1, 2) c ON c.tok = t.tok AND c.b = s.b
      |  JOIN bucket_tot bt ON bt.b = s.b
      |  CROSS JOIN grand g)
      |SELECT tok AS term, freq,
      |       round(1.0 - sqrt(sum((CAST(c AS DOUBLE) / tbn) * (CAST(c AS DOUBLE) / tbn)) / 10 -
      |                        (sum(CAST(c AS DOUBLE) / tbn) / 10) *
      |                        (sum(CAST(c AS DOUBLE) / tbn) / 10)) /
      |                  (sum(CAST(c AS DOUBLE) / tbn) / 10) / 3.0, 4) AS juilland_d,
      |       round(sum(abs(CAST(c AS DOUBLE) / freq - CAST(tbn AS DOUBLE) / tt)) / 2, 4)
      |         AS gries_dp
      |FROM cells
      |GROUP BY tok, freq
      |ORDER BY freq DESC, term""".stripMargin

  /** text-textrank — TextRank keyword extraction: undirected
    * co-occurrence graph of adjacent content tokens (length ≥ 4,
    * adjacency within a document, edge weight = co-occurrence count),
    * scored by 4 rounds of weighted PageRank (d = 0.85, ranks rounded
    * to 8 dp each round so partition-order float noise cannot compound
    * — the graph-pagerank discipline). Degree-normalized random-walk
    * centrality beats raw frequency for keywords because a term that
    * co-occurs with many DISTINCT well-connected terms outranks one
    * repeated in a single phrase. Top-15 with term tiebreak. */
  val textTextrank: Q = (s, d) => withShufflePartitions(s, 8) {
    // adjacency AFTER the length filter (content-word chain, declared).
    // r14 opt (§2.3, the mm-cdc-chunking treatment): consecutive-pair
    // formation is a PER-DOCUMENT computation — the old shape exploded
    // every token, shuffled them through a doc-partitioned row_number
    // window and self-joined on (doc, k+1), moving the whole token
    // stream twice for information that never leaves the row. The
    // filtered token array pairs adjacently in place (filter preserves
    // order, so fts[i], fts[i+1] ARE consecutive content words = the
    // old consecutive ranks); the §2.5 repartition spreads the one
    // document-scan task. Same pairs, same weights.
    val adj = toks(s, d)
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .select(expr("filter(ts, t -> length(t) >= 4)").as("fts"))
      .filter(size(col("fts")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(fts) - 2), i -> struct(fts[i] AS ta, fts[i + 1] AS tb))"))
        .as("p"))
      .filter(col("p.ta") =!= col("p.tb"))
      .select(least(col("p.ta"), col("p.tb")).as("u"),
        greatest(col("p.ta"), col("p.tb")).as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("wt"))
      .sharedCache()
    val dirE = adj.select(col("u").as("src"), col("v").as("dst"), col("wt"))
      .unionAll(adj.select(col("v").as("src"), col("u").as("dst"), col("wt")))
    val wdeg = dirE.groupBy("src").agg(sum("wt").as("wsum")).sharedCache()
    val edgesW = dirE.join(wdeg, Seq("src")).sharedCache()
    var ranks = wdeg.select(col("src").as("node"), lit(1.0).as("r"))
    for (_ <- 1 to 4) {
      ranks = edgesW
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst"))
        .agg(round(lit(0.15) + lit(0.85) *
          sum(col("r") * col("wt") / col("wsum")), 8).as("r"))
        .select(col("dst").as("node"), col("r"))
    }
    val out = ranks.select(col("node").as("term"), col("r").as("textrank"))
      .orderBy(desc("textrank"), col("term")).limit(15)
      .sharedCache()
    out.count()
    out
  }

  val textTextrankSql: String = {
    val iters = (1 to 4).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |         round(0.15 + 0.85 * sum(p.r * e.wt / e.wsum), 8) AS r
         |  FROM edgesw e JOIN r${i - 1} p ON p.node = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH tk AS ($toksSql),
      |tp AS (
      |  SELECT doc_id, tok, pos FROM (
      |    SELECT doc_id, unnest(ts) AS tok,
      |           CAST(unnest(range(len(ts))) AS INT) AS pos
      |    FROM tk) u
      |  WHERE length(tok) >= 4),
      |seqd AS (
      |  SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS k
      |  FROM tp),
      |adj AS (
      |  SELECT least(a.tok, b.tok) AS u, greatest(a.tok, b.tok) AS v,
      |         CAST(count(*) AS BIGINT) AS wt
      |  FROM seqd a JOIN seqd b ON a.doc_id = b.doc_id AND b.k = a.k + 1
      |  WHERE a.tok <> b.tok
      |  GROUP BY 1, 2),
      |dire AS (SELECT u AS src, v AS dst, wt FROM adj
      |         UNION ALL SELECT v, u, wt FROM adj),
      |wdeg AS (SELECT src, CAST(sum(wt) AS BIGINT) AS wsum FROM dire GROUP BY src),
      |edgesw AS (SELECT d.src, d.dst, d.wt, w.wsum
      |           FROM dire d JOIN wdeg w ON d.src = w.src),
      |r0 AS (SELECT src AS node, 1.0 AS r FROM wdeg),
      |$iters
      |SELECT node AS term, r AS textrank
      |FROM r4
      |ORDER BY textrank DESC, term
      |LIMIT 15""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("text-good-turing", textGoodTuring, textGoodTuringSql),
    Key("text-mattr", textMattr, textMattrSql),
    Key("text-juilland-d", textJuillandD, textJuillandDSql),
    Key("text-textrank", textTextrank, textTextrankSql))
}
