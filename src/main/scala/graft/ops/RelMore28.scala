package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-5 batch B: depth on the LLM-pipeline families — the two-stage
  * PQ/ADC retrieval shape, IVF-bucketed semantic dedup, bounded per-key
  * reservoir sampling through the custom TopKPerKey plan, CCNet-style
  * quality bucketing on approximate boundaries, per-dimension embedding
  * standardization, and an integer-exact share-drift monitor.
  */
object RelMore28 extends KeyModule {

  private val NumQueries = 10 // vec_id < 10 are the query vectors
  private val Shortlist = 50  // ADC candidates per query before rerank (10× k)
  private val TopK = 5

  /** ann-adc-rerank — the two-stage retrieval every production vector
    * store runs at 100 TB: (1) cheap approximate scoring of the WHOLE
    * corpus from 8-byte PQ codes via an asymmetric-distance lookup
    * table (ADC: per query, per subspace, distance to every codebook
    * entry — |Q|·m·|codebook| cells, broadcast), (2) exact rerank of
    * only the top-C shortlist against full-precision vectors. The
    * corpus-side scan touches codes, never floats: candidate work is
    * |Q|·|corpus| LUT additions with map-side partial aggregation, and
    * the expensive exact distance runs C·|Q| times instead of
    * |corpus|·|Q|. Codebook/code construction reuses emb-pq-assign's
    * determinism discipline (micro-unit floor quantization, exact long
    * centroid sums, fixed fold order); the 8-term ADC sum is floor-
    * quantized at 10^6 granularity so double partition-order noise
    * (~ulp of a ~1e13 sum) can never flip a bucket boundary. At larger
    * scale you compose this with ann-ivf's coarse quantizer to prune
    * the code scan to nprobe buckets first. */
  val annAdcRerank: Q = (s, d) => {
    graft.functions.DotProduct.register(s)
    val base = embeddings(s, d).select(col("vec_id"), col("label"),
      expr("quantize_lattice_long(embedding, 1000000.0D)").as("xi"))
    // codebook: per-(label, subspace) centroid of the 8-dim slices, exact long sums
    val comp = base.select(col("label"), posexplode(col("xi")).as(Seq("pos", "x")))
      .select(col("label"), (col("pos") / 8).cast(IntegerType).as("sub"),
        (col("pos") % 8).cast(IntegerType).as("dim"), col("x"))
    val cent = comp.groupBy("label", "sub", "dim")
      .agg(sum(col("x")).as("sd"), count(lit(1)).as("n"))
      .groupBy(col("label").as("clabel"), col("sub"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, sd))), s -> CAST(s.sd AS DOUBLE))").as("sv"),
        max(col("n")).as("n"))
      .select(col("clabel"), col("sub"),
        expr("transform(sv, x -> x / CAST(n AS DOUBLE))").as("cv"))
    val subs = base.select(col("vec_id"),
      posexplode(expr("transform(sequence(0, 7), k -> transform(slice(xi, k*8 + 1, 8), x -> CAST(x AS DOUBLE)))"))
        .as(Seq("sub", "vs")))
      .select(col("vec_id"), col("sub").cast(IntegerType).as("sub"), col("vs"))
    val wCode = Window.partitionBy("vec_id", "sub").orderBy(col("dist2").asc, col("clabel").asc)
    val codes = subs.join(broadcast(cent), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("clabel"),
        expr("dot_product(vs, vs) - 2 * dot_product(vs, cv) + dot_product(cv, cv)").as("dist2"))
      .withColumn("rk", row_number().over(wCode)).filter(col("rk") === 1)
      .select(col("vec_id"), col("sub"), col("clabel"))
    // query-side asymmetric LUT: |Q| × 8 subspaces × |codebook| distances
    val lut = subs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("sub"), col("vs").as("qs"))
      .join(broadcast(cent), Seq("sub"))
      .select(col("query_id"), col("sub"), col("clabel"),
        expr("dot_product(qs, qs) - 2 * dot_product(qs, cv) + dot_product(cv, cv)").as("qd"))
    val adc = codes.join(broadcast(lut), Seq("sub", "clabel"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy("query_id", "vec_id")
      .agg(floor(sum(col("qd")) / lit(1000000.0)).cast(LongType).as("adc_q"))
    val wShort = Window.partitionBy("query_id").orderBy(col("adc_q").asc, col("vec_id").asc)
    val short = adc.withColumn("rn", row_number().over(wShort))
      .filter(col("rn") <= Shortlist)
    // exact rerank: full-precision distance on the shortlist only
    val full = base.select(col("vec_id"), expr("transform(xi, x -> CAST(x AS DOUBLE))").as("xd"))
    val qfull = full.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("xd").as("qx"))
    val wRank = Window.partitionBy("query_id").orderBy(col("ed_q").asc, col("vec_id").asc)
    short.join(full, Seq("vec_id")).join(broadcast(qfull), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("adc_q"),
        expr("CAST(floor((dot_product(xd, xd) - 2 * dot_product(xd, qx) + dot_product(qx, qx)) / 1000000) AS BIGINT)").as("ed_q"))
      .withColumn("rank", row_number().over(wRank).cast(IntegerType))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("adc_q"), col("ed_q"))
      .orderBy("query_id", "rank")
  }

  val annAdcRerankSql: String =
    s"""WITH base AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xi
       |  FROM embeddings),
       |comp AS (
       |  SELECT label, CAST((pos - 1) // 8 AS INT) AS sub,
       |         CAST((pos - 1) % 8 AS INT) AS dim, x
       |  FROM (SELECT label, unnest(xi) AS x, unnest(range(1, len(xi) + 1)) AS pos FROM base)),
       |cent AS (
       |  SELECT label AS clabel, sub,
       |         list(CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY dim) AS cv
       |  FROM (SELECT label, sub, dim, CAST(sum(x) AS BIGINT) AS sd, count(*) AS n
       |        FROM comp GROUP BY 1, 2, 3)
       |  GROUP BY label, sub),
       |subs AS (
       |  SELECT vec_id, k AS sub,
       |         list_transform(xi[k*8 + 1 : k*8 + 8], x -> CAST(x AS DOUBLE)) AS vs
       |  FROM base, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS k) t),
       |scored AS (
       |  SELECT vec_id, s.sub, clabel,
       |         list_inner_product(vs, vs) - 2 * list_inner_product(vs, cv)
       |           + list_inner_product(cv, cv) AS dist2
       |  FROM subs s JOIN cent c ON c.sub = s.sub),
       |codes AS (
       |  SELECT vec_id, sub, clabel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist2, clabel) AS rk
       |    FROM scored) WHERE rk = 1),
       |lut AS (
       |  SELECT s.vec_id AS query_id, s.sub, c.clabel,
       |         list_inner_product(vs, vs) - 2 * list_inner_product(vs, cv)
       |           + list_inner_product(cv, cv) AS qd
       |  FROM subs s JOIN cent c ON c.sub = s.sub
       |  WHERE s.vec_id < $NumQueries),
       |adc AS (
       |  SELECT query_id, vec_id, CAST(floor(sum(qd) / 1000000.0) AS BIGINT) AS adc_q
       |  FROM codes JOIN lut USING (sub, clabel)
       |  WHERE query_id <> vec_id
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT query_id, vec_id, adc_q,
       |         row_number() OVER (PARTITION BY query_id ORDER BY adc_q, vec_id) AS rn
       |  FROM adc),
       |fullv AS (SELECT vec_id, list_transform(xi, x -> CAST(x AS DOUBLE)) AS xd FROM base),
       |rr AS (
       |  SELECT s.query_id, s.vec_id, s.adc_q,
       |         CAST(floor((list_inner_product(f.xd, f.xd) - 2 * list_inner_product(f.xd, q.xd)
       |           + list_inner_product(q.xd, q.xd)) / 1000000) AS BIGINT) AS ed_q
       |  FROM short s
       |  JOIN fullv f ON f.vec_id = s.vec_id
       |  JOIN fullv q ON q.vec_id = s.query_id
       |  WHERE s.rn <= $Shortlist),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ed_q, vec_id) AS rank
       |  FROM rr)
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, adc_q, ed_q
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  private val cosSqlTemplate =
    """round(list_inner_product(%s::DOUBLE[], %s::DOUBLE[]) /
      |             (sqrt(list_inner_product(%s::DOUBLE[], %s::DOUBLE[])) *
      |              sqrt(list_inner_product(%s::DOUBLE[], %s::DOUBLE[]))), 9)""".stripMargin
  private def cosSql(a: String, b: String): String =
    cosSqlTemplate.format(a, b, a, a, b, b)

  /** dedup-semantic-ivf — semantic near-dup candidates through an IVF
    * coarse quantizer: every vector is assigned to its nearest of 8
    * centroids (one broadcast join), candidate pairs are generated only
    * WITHIN a bucket, and the top-20 most-similar pairs are reported.
    * The approximate sibling of dedup-embedding-cosine's exact grid:
    * the grid pays B×|corpus| shuffle to cover every pair; this pays
    * one |corpus| shuffle and Σ|bucket|² compute — at 100 TB you raise
    * the centroid count so each bucket fits a task, and the price is
    * missed cross-bucket pairs (the recall trade that ann-recall-measure
    * quantifies for the same quantizer). Bucket skew is the failure
    * mode to watch: ann-cell-balance audits exactly that. */
  val dedupSemanticIvf: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val all = embeddings(s, d)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val cent = all.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(desc("ccos"), col("centroid_id"))
    val assign = all.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("centroid_id"),
        round(expr("cosine_similarity(v, cv)"), 9).as("ccos"))
      .withColumn("rn", row_number().over(wAssign)).filter(col("rn") === 1)
      .select(col("vec_id"), col("centroid_id"))
    val av = all.join(assign, Seq("vec_id"))
    val a = av.select(col("centroid_id"), col("vec_id").as("vec_a"), col("v").as("va"))
    val b = av.select(col("centroid_id"), col("vec_id").as("vec_b"), col("v").as("vb"))
    a.join(b, Seq("centroid_id")).filter(col("vec_a") < col("vec_b"))
      .select(col("centroid_id").as("bucket"), col("vec_a"), col("vec_b"),
        round(expr("cosine_similarity(va, vb)"), 9).as("cosine"))
      .orderBy(desc("cosine"), col("vec_a"), col("vec_b"))
      .limit(20)
  }

  val dedupSemanticIvfSql: String =
    s"""WITH cscore AS (
       |  SELECT e.vec_id, c.vec_id AS centroid_id,
       |         ${cosSql("e.embedding", "c.embedding")} AS ccos
       |  FROM embeddings e JOIN embeddings c ON c.vec_id < 8),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT vec_id, centroid_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
       |    FROM cscore) WHERE rn = 1)
       |SELECT a.centroid_id AS bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |       ${cosSql("ea.embedding", "eb.embedding")} AS cosine
       |FROM assign a
       |JOIN assign b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
       |JOIN embeddings ea ON ea.vec_id = a.vec_id
       |JOIN embeddings eb ON eb.vec_id = b.vec_id
       |ORDER BY cosine DESC, vec_a, vec_b
       |LIMIT 20""".stripMargin

  /** sample-reservoir-key — deterministic per-key reservoir: keep the
    * k=5 documents with the smallest md5(doc_id) per source. Hash-rank
    * sampling is the reproducible per-stratum sample (re-runs, restarts
    * and backfills all pick the same rows — no RNG state), and the
    * engine's custom TopKPerKey plan executes it with k-bounded heaps
    * map-side: only k rows per key per partition reach the exchange,
    * where a window-rank would shuffle and sort EVERY row of the
    * stratum. This is the bounded-memory "sample 5 docs per domain for
    * eyeballing" primitive of corpus curation at 100 TB. */
  val sampleReservoirKey: Q = (s, d) => {
    val docs = documents(s, d).select(col("source"), col("doc_id"),
      md5(col("doc_id").cast(StringType)).as("h"))
    graft.plans.TopKPerKey.of(docs, keys = Seq("source"),
      order = Seq("h" -> true, "doc_id" -> true), k = TopK)
      .orderBy("source", "h", "doc_id")
  }

  val sampleReservoirKeySql: String =
    s"""SELECT source, doc_id, h FROM (
       |  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |  FROM documents)
       |WHERE rn <= $TopK
       |ORDER BY source, h, doc_id""".stripMargin

  /** text-quality-buckets — CCNet-style head/middle/tail corpus split,
    * on approximate boundaries: each document's quality proxy is its
    * mean token corpus-frequency (integer ppb — docs made of globally
    * rare tokens score low = "rare-heavy"), tertile boundaries come
    * from ONE bounded-memory approx_percentile sketch, and rows bucket
    * themselves by comparing against the broadcast boundary array —
    * the agg-decile-approx mechanism applied where CCNet applies it.
    * No total order anywhere: the only shuffles are |vocab|-bounded
    * token counts and the per-doc aggregate. At 100 TB the sketch pass
    * and the bucket pass are both embarrassingly parallel; the exact
    * PrefixScan alternative would pay a range exchange of the corpus
    * for boundary precision nobody needs in a quality tier. */
  val textQualityBuckets: Q = (s, d) => {
    val toks = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val cnts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = cnts.agg(sum(col("c")).as("t"))
    val perdoc = toks.join(cnts, Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("c")).as("sc"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tokens"),
        floor(col("sc") * lit(1000000000L) / (col("n_tokens") * col("t")))
          .cast(LongType).as("score_q"))
    // EXACTNESS PRECONDITION: accuracy=1e6 makes approx_percentile exact
    // while n_docs < 1e6 AND both engines agree on the discrete-percentile
    // rank convention; grading this against DuckDB quantile_disc by hash
    // relies on it. If the documents fixture ever grows past the accuracy
    // (or a boundary tie appears), this assertion fails LOUDLY here
    // instead of surfacing as a mystery hash mismatch downstream.
    require(documents(s, d).count() < 1000000L,
      "text-quality-buckets: fixture outgrew approx_percentile accuracy=1e6; " +
        "raise the accuracy or switch the oracle to a sketch-tolerant compare")
    val bounds = perdoc.agg(
      expr("approx_percentile(score_q, array(CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3), 1000000)").as("bounds"))
    perdoc.crossJoin(broadcast(bounds))
      .withColumn("bucket", (size(expr("filter(bounds, x -> x < score_q)")) + 1).cast(IntegerType))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), min("score_q").as("min_score_q"),
        max("score_q").as("max_score_q"), sum("n_tokens").as("n_tokens"))
      .withColumn("tier",
        expr("CASE bucket WHEN 1 THEN 'rare-heavy' WHEN 2 THEN 'middle' ELSE 'common-heavy' END"))
      .select(col("bucket"), col("tier"), col("n_docs"),
        col("min_score_q"), col("max_score_q"), col("n_tokens"))
      .orderBy("bucket")
  }

  val textQualityBucketsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE length(tok) > 0),
      |cnts AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cnts),
      |perdoc AS (
      |  SELECT doc_id, count(*) AS n_tokens, CAST(sum(c) AS BIGINT) AS sc
      |  FROM toks JOIN cnts USING (tok)
      |  GROUP BY doc_id),
      |scoredoc AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(floor(sc * 1000000000 / (n_tokens * t)) AS BIGINT) AS score_q
      |  FROM perdoc, tot),
      |b AS (SELECT quantile_disc(score_q, [1.0/3, 2.0/3]) AS bounds FROM scoredoc)
      |SELECT CAST(1 + len(list_filter(b.bounds, x -> x < s.score_q)) AS INT) AS bucket,
      |       CASE 1 + len(list_filter(b.bounds, x -> x < s.score_q))
      |            WHEN 1 THEN 'rare-heavy' WHEN 2 THEN 'middle'
      |            ELSE 'common-heavy' END AS tier,
      |       count(*) AS n_docs,
      |       min(s.score_q) AS min_score_q,
      |       max(s.score_q) AS max_score_q,
      |       CAST(sum(s.n_tokens) AS BIGINT) AS n_tokens
      |FROM scoredoc s, b
      |GROUP BY 1, 2
      |ORDER BY bucket""".stripMargin

  /** emb-dim-standardize — per-dimension standardization statistics and
    * outlier-cell census: mean and std of every embedding dimension
    * (exact long sums over micro-quantized cells — the shuffle is
    * |dims|-bounded, never corpus-bounded), then each cell tests
    * |x − μ| > 3σ against the broadcast 64-row stats table. The
    * feature-normalization pre-pass of every embedding-space model
    * (and the drift detector's baseline). Determinism: n/Σx/Σx² are
    * exact integers in both engines, μ and σ derive from them by the
    * same double expression, and outputs are floor-quantized. At 100 TB
    * the Σx² longs need DECIMAL(38,0) headroom — the shape (explode →
    * dim-keyed partial agg → broadcast back) is unchanged. */
  val embDimStandardize: Q = (s, d) => {
    val cells = embeddings(s, d).select(col("vec_id"),
      posexplode(expr("quantize_lattice_long(embedding, 1000000.0D)"))
        .as(Seq("dim", "xq")))
    val stats = cells.groupBy("dim")
      .agg(count(lit(1)).as("n"), sum(col("xq")).as("s"),
        sum(col("xq") * col("xq")).as("ss"))
      .withColumn("mu", col("s").cast(DoubleType) / col("n"))
      .withColumn("sd",
        sqrt(col("ss").cast(DoubleType) / col("n") - col("mu") * col("mu")))
    val outliers = cells.join(broadcast(stats.select("dim", "mu", "sd")), Seq("dim"))
      .filter(abs(col("xq").cast(DoubleType) - col("mu")) > lit(3.0) * col("sd"))
      .groupBy("dim").agg(count(lit(1)).as("n_outliers"))
    stats.join(outliers, Seq("dim"), "left")
      .select(col("dim"), col("n"),
        floor(col("mu")).cast(LongType).as("mu_q"),
        floor(col("sd")).cast(LongType).as("sd_q"),
        coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
      .orderBy("dim")
  }

  val embDimStandardizeSql: String =
    """WITH cells AS (
      |  SELECT vec_id, CAST(pos - 1 AS INT) AS dim, xq
      |  FROM (SELECT vec_id,
      |               unnest(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS xq,
      |               unnest(range(1, len(embedding) + 1)) AS pos
      |        FROM embeddings)),
      |stats AS (
      |  SELECT dim, count(*) AS n, CAST(sum(xq) AS BIGINT) AS s,
      |         CAST(sum(xq * xq) AS BIGINT) AS ss
      |  FROM cells GROUP BY dim),
      |st2 AS (
      |  SELECT dim, n, CAST(s AS DOUBLE) / n AS mu,
      |         sqrt(CAST(ss AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS sd
      |  FROM stats),
      |outl AS (
      |  SELECT c.dim, count(*) AS n_outliers
      |  FROM cells c JOIN st2 ON c.dim = st2.dim
      |  WHERE abs(CAST(c.xq AS DOUBLE) - st2.mu) > 3.0 * st2.sd
      |  GROUP BY c.dim)
      |SELECT st2.dim, st2.n,
      |       CAST(floor(mu) AS BIGINT) AS mu_q,
      |       CAST(floor(sd) AS BIGINT) AS sd_q,
      |       COALESCE(o.n_outliers, 0) AS n_outliers
      |FROM st2 LEFT JOIN outl o ON o.dim = st2.dim
      |ORDER BY st2.dim""".stripMargin

  /** dq-drift-ppm — per-category share drift between two deterministic
    * cohorts (even vs odd epoch-day), in exact ppm integers: the
    * PSI-lite monitor that catches a source whose category mix shifts
    * between pipeline runs. One scan, one |categories|-bounded shuffle,
    * the two cohort totals broadcast back as a single row. No logs, no
    * doubles until the final ppm floor — both engines agree bit-for-bit
    * by construction. At 100 TB the cohort split key becomes the
    * ingest-batch id; the plan is unchanged. */
  val dqDriftPpm: Q = (s, d) => {
    val e = events(s, d).select(col("event_type"),
      (datediff(to_date(col("ts")), to_date(lit("1970-01-01"))) % 2).as("par"))
    val byType = e.groupBy("event_type")
      .agg(sum(when(col("par") === 0, 1L).otherwise(0L)).as("n_even"),
        sum(when(col("par") === 1, 1L).otherwise(0L)).as("n_odd"))
    val tot = byType.agg(sum(col("n_even")).as("t_even"), sum(col("n_odd")).as("t_odd"))
    byType.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_even"), col("n_odd"),
        floor(col("n_even") * lit(1000000L) / col("t_even")).cast(LongType).as("share_even_ppm"),
        floor(col("n_odd") * lit(1000000L) / col("t_odd")).cast(LongType).as("share_odd_ppm"))
      .withColumn("drift_ppm", abs(col("share_even_ppm") - col("share_odd_ppm")))
      .orderBy("event_type")
  }

  val dqDriftPpmSql: String =
    """WITH e AS (
      |  SELECT event_type,
      |         datediff('day', DATE '1970-01-01',
      |                  CAST(date_trunc('microseconds', ts) AS DATE)) % 2 AS par
      |  FROM events),
      |bt AS (
      |  SELECT event_type,
      |         CAST(sum(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even,
      |         CAST(sum(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_odd
      |  FROM e GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_even) AS BIGINT) AS t_even,
      |               CAST(sum(n_odd) AS BIGINT) AS t_odd FROM bt)
      |SELECT event_type, n_even, n_odd,
      |       CAST(floor(n_even * 1000000 / t_even) AS BIGINT) AS share_even_ppm,
      |       CAST(floor(n_odd * 1000000 / t_odd) AS BIGINT) AS share_odd_ppm,
      |       abs(CAST(floor(n_even * 1000000 / t_even) AS BIGINT)
      |           - CAST(floor(n_odd * 1000000 / t_odd) AS BIGINT)) AS drift_ppm
      |FROM bt, tot
      |ORDER BY event_type""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("ann-adc-rerank", annAdcRerank, annAdcRerankSql),
    Key("dedup-semantic-ivf", dedupSemanticIvf, dedupSemanticIvfSql),
    Key("sample-reservoir-key", sampleReservoirKey, sampleReservoirKeySql),
    Key("text-quality-buckets", textQualityBuckets, textQualityBucketsSql),
    Key("emb-dim-standardize", embDimStandardize, embDimStandardizeSql),
    Key("dq-drift-ppm", dqDriftPpm, dqDriftPpmSql))
}
