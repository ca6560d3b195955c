package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-8 batch K: DSIR-style importance weighting for pretraining
  * data selection, and the audio VAD pipeline shape over stubbed PCM. */
object RelMore175 extends KeyModule {

  /** sample-dsir-weights — Data Selection via Importance Resampling
    * (hashed n-gram form): the target domain is the 'en' slice, every
    * document scores Σ_tokens [ln p̂_target(b) − ln p̂_source(b)] over
    * 512 hashed unigram buckets (add-one smoothing), and a positive
    * score marks a source document that LOOKS like the target — the
    * exact quantity DSIR exponentiates into resampling weights. This
    * is the published scalable recipe for "give me more data like my
    * domain corpus" (hashed features ⇒ fixed 512-row weight table at
    * ANY corpus size, broadcast to the scoring pass). Bucket weights
    * are nano-quantized so per-document sums are EXACT integer folds;
    * per-language rollups report mean score and the target-like
    * share. */
  val sampleDsirWeights: Q = (s, d) => {
    val toks = documents(s, d).select(col("doc_id"), col("lang"),
        explode(expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')")).as("tok"))
      .withColumn("b",
        expr("CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % 512"))
      .sharedCache()
    val tgt = toks.filter(col("lang") === "en").groupBy("b")
      .agg(count(lit(1)).as("tc"))
    val src = toks.filter(col("lang") =!= "en").groupBy("b")
      .agg(count(lit(1)).as("sc"))
    val tot = toks.agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tt"),
      sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("st"))
    val buckets = s.sql("SELECT explode(sequence(0, 511)) AS b")
      .join(tgt, Seq("b"), "left").join(src, Seq("b"), "left")
      .na.fill(0L, Seq("tc", "sc"))
      .crossJoin(broadcast(tot))
      .select(col("b"),
        expr("CAST(floor((ln((tc + 1) / CAST(tt + 512 AS DOUBLE)) - " +
          "ln((sc + 1) / CAST(st + 512 AS DOUBLE))) * 1e9 + 0.5) AS BIGINT)").as("wq"))
    val scored = toks.filter(col("lang") =!= "en")
      .join(broadcast(buckets), Seq("b"))
      .groupBy("lang", "doc_id")
      .agg(sum("wq").as("score_q"))
    scored.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("score_q").cast(DoubleType) / 1e9), 4).as("mean_log_ratio"),
        sum(when(col("score_q") > 0, 1L).otherwise(0L)).as("n_target_like"))
      .select(col("lang"), col("n_docs"), col("mean_log_ratio"),
        col("n_target_like"),
        ratioFloor(col("n_target_like"), col("n_docs"), 4).as("target_like_share"))
      .orderBy("lang")
  }

  val sampleDsirWeightsSql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, lang,
      |         CAST(('0x' || substring(md5(tok), 1, 8))::BIGINT AS BIGINT) % 512 AS b
      |  FROM (SELECT doc_id, lang,
      |               unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                                  x -> x <> '')) AS tok
      |        FROM documents) u),
      |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS tc FROM toks
      |        WHERE lang = 'en' GROUP BY b),
      |srcb AS (SELECT b, CAST(count(*) AS BIGINT) AS sc FROM toks
      |         WHERE lang <> 'en' GROUP BY b),
      |tot AS (
      |  SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tt,
      |         CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS st
      |  FROM toks),
      |buckets AS (
      |  SELECT g.b,
      |         CAST(floor((ln((COALESCE(tc, 0) + 1) / CAST(tt + 512 AS DOUBLE)) -
      |                     ln((COALESCE(sc, 0) + 1) / CAST(st + 512 AS DOUBLE))) * 1e9 + 0.5)
      |              AS BIGINT) AS wq
      |  FROM (SELECT unnest(generate_series(0, 511)) AS b) g
      |  LEFT JOIN tgt ON g.b = tgt.b
      |  LEFT JOIN srcb ON g.b = srcb.b
      |  CROSS JOIN tot),
      |scored AS (
      |  SELECT lang, doc_id, CAST(sum(wq) AS BIGINT) AS score_q
      |  FROM toks JOIN buckets USING (b)
      |  WHERE lang <> 'en'
      |  GROUP BY 1, 2)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |       round(avg(CAST(score_q AS DOUBLE) / 1e9), 4) AS mean_log_ratio,
      |       CAST(sum(CASE WHEN score_q > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_target_like,
      |       floor(CAST(sum(CASE WHEN score_q > 0 THEN 1 ELSE 0 END) AS DOUBLE) * 1e4 /
      |             count(*)) / 1e4 AS target_like_share
      |FROM scored
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** mm-audio-vad-stub — the voice-activity-detection dataflow over
    * stubbed PCM: each document's bytes stand in for audio samples
    * (STUB: a real pipeline decodes the container; the frame/energy/
    * segment plumbing is the production shape), framed at 20 samples,
    * per-frame energy Σ ascii², a frame is ACTIVE when its energy
    * exceeds its clip's mean, and consecutive active frames merge into
    * SEGMENTS via the islands trick (frame_idx − active-rank). The
    * segment census (count, coverage, mean/max length) is exactly what
    * an audio-curation pipeline computes to drop silence-heavy or
    * wall-of-sound clips before transcription. All counts exact; the
    * only shuffle is per-clip. */
  val mmAudioVadStub: Q = (s, d) => {
    // r15 opt: frame energies, the activity threshold, and the
    // consecutive-active-frame segments are all PER-CLIP computations —
    // derived row-locally (guide §2.3/§2.4: the frame explode shuffled
    // every frame through a per-clip window + two groupBys + a join for
    // information that never leaves the clip). One linear aggregate()
    // pass over the energy array replaces the islands trick: same
    // threshold compare (energy·nf > Σe, exact longs), same segment
    // census. Also repartitions after the single-row-group read so the
    // Σ ascii² sweep parallelizes (guide §2.5). Output unchanged.
    val perClip = documents(s, d)
      .filter(length(col("text")) >= 20)
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .select(col("doc_id"),
        expr("transform(sequence(0, CAST(length(text) div 20 AS INT) - 1), " +
          "i -> aggregate(transform(split(substring(text, i * 20 + 1, 20), ''), " +
          "ch -> ascii(ch) * ascii(ch)), 0L, (acc, x) -> acc + x))").as("es"))
      .select(col("doc_id"), size(col("es")).cast(LongType).as("nf"),
        expr("aggregate(es, 0L, (acc, x) -> acc + x)").as("se"), col("es"))
      .select(col("doc_id"), col("nf"),
        // one pass over the per-frame energies: cur = length of the
        // running active segment, nseg/act/mx = the per-clip census the
        // exploded form computed via row_number islands + groupBys
        expr("aggregate(es, named_struct('cur', 0L, 'nseg', 0L, 'act', 0L, 'mx', 0L), " +
          "(s, e) -> IF(e * nf > se, " +
          "named_struct('cur', s.cur + 1L, 'nseg', s.nseg + IF(s.cur = 0L, 1L, 0L), " +
          "'act', s.act + 1L, 'mx', greatest(s.mx, s.cur + 1L)), " +
          "named_struct('cur', 0L, 'nseg', s.nseg, 'act', s.act, 'mx', s.mx)))").as("st"))
      .select(col("doc_id"), col("nf"), col("st.nseg").as("n_segments"),
        col("st.act").as("active_frames"), col("st.mx").as("max_seg"))
    perClip
      .agg(count(lit(1)).as("n_clips"), sum("nf").as("n_frames"),
        sum("active_frames").as("n_active"),
        sum("n_segments").as("n_segments"),
        max("max_seg").as("max_segment_len"))
      .select(col("n_clips"), col("n_frames"), col("n_active"),
        ratioFloor(col("n_active"), col("n_frames"), 4).as("active_share"),
        col("n_segments"),
        ratioFloor(col("n_active"), greatest(col("n_segments"), lit(1L)), 4)
          .as("mean_segment_len"),
        col("max_segment_len"))
  }

  val mmAudioVadStubSql: String =
    """WITH frames AS MATERIALIZED (
      |  SELECT doc_id, i AS frame_idx,
      |         CAST(list_sum(list_transform(string_split(substring(text, i * 20 + 1, 20), ''),
      |              ch -> ascii(ch) * ascii(ch))) AS BIGINT) AS energy
      |  FROM documents,
      |       LATERAL (SELECT unnest(generate_series(0, CAST(length(text) // 20 AS INT) - 1)) AS i) t
      |  WHERE length(text) >= 20),
      |clip AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nf, CAST(sum(energy) AS BIGINT) AS se
      |  FROM frames GROUP BY doc_id),
      |active AS (
      |  SELECT f.doc_id, f.frame_idx,
      |         f.frame_idx - row_number() OVER (PARTITION BY f.doc_id ORDER BY f.frame_idx)
      |           AS island
      |  FROM frames f JOIN clip c ON f.doc_id = c.doc_id
      |  WHERE f.energy * c.nf > c.se),
      |segs AS (
      |  SELECT doc_id, island, CAST(count(*) AS BIGINT) AS seg_len
      |  FROM active GROUP BY 1, 2),
      |per_clip AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
      |         CAST(sum(seg_len) AS BIGINT) AS active_frames,
      |         CAST(max(seg_len) AS BIGINT) AS max_seg
      |  FROM segs GROUP BY doc_id),
      |f AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_clips, CAST(sum(nf) AS BIGINT) AS n_frames,
      |         CAST(sum(COALESCE(active_frames, 0)) AS BIGINT) AS n_active,
      |         CAST(sum(COALESCE(n_segments, 0)) AS BIGINT) AS n_segments,
      |         CAST(max(COALESCE(max_seg, 0)) AS BIGINT) AS max_segment_len
      |  FROM clip LEFT JOIN per_clip USING (doc_id))
      |SELECT n_clips, n_frames, n_active,
      |       floor(CAST(n_active AS DOUBLE) * 1e4 / n_frames) / 1e4 AS active_share,
      |       n_segments,
      |       floor(CAST(n_active AS DOUBLE) * 1e4 / greatest(n_segments, 1)) / 1e4
      |         AS mean_segment_len,
      |       max_segment_len
      |FROM f""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sample-dsir-weights", sampleDsirWeights, sampleDsirWeightsSql),
    Key("mm-audio-vad-stub", mmAudioVadStub, mmAudioVadStubSql))
}
