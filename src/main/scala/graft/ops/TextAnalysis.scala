package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Text-analysis operators for training-data curation: language ID
  * (marker n-gram scoring), quality scoring (length/stopword/diversity
  * ratios), token counting (whitespace + BPE-ish regex + chars/4
  * heuristic), and document fingerprinting (min-hash over rolling word
  * 5-grams). All are narrow per-document projections (no shuffle except
  * the langid argmax window keyed by doc) — they stream through the
  * corpus at scan speed, which is what a 100 TB curation pass needs.
  */
object TextAnalysis extends KeyModule {

  /** Marker words per language, scored by exact-word hit count. The
    * real-world version swaps in character-n-gram frequency profiles;
    * the plumbing (score → argmax with deterministic tie-break) is
    * identical. */
  private[ops] val Markers = Seq(
    "en" -> "the", "es" -> "data", "de" -> "join", "fr" -> "filter", "zh" -> "spark")

  /** text-langid — predicted language = argmax over per-language marker
    * scores, ties broken alphabetically. */
  val textLangid: Q = (s, d) => {
    val withScores = Markers.foldLeft(
      documents(s, d).select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))) {
      case (df, (langCode, marker)) =>
        df.withColumn(s"s_$langCode",
          expr(s"size(filter(w, x -> x = '$marker'))").cast(LongType))
    }
    val stackArgs = Markers.map { case (lc, _) => s"'$lc', s_$lc" }.mkString(", ")
    val unp = withScores.selectExpr(
      "doc_id", "lang", s"stack(${Markers.size}, $stackArgs) AS (cand, score)")
    val w = Window.partitionBy(col("doc_id")).orderBy(desc("score"), col("cand"))
    unp.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("cand").as("predicted_lang"),
        col("score").as("marker_hits"),
        when(col("cand") === col("lang"), 1).otherwise(0).cast(IntegerType).as("is_match"))
      .orderBy("doc_id")
  }

  val textLangidSql: String = {
    val scoreCols = Markers.map { case (lc, m) =>
      s"CAST(len(list_filter(string_split(text, ' '), x -> x = '$m')) AS BIGINT) AS s_$lc"
    }.mkString(",\n         ")
    val caseExpr = Markers.map { case (lc, _) => s"WHEN '$lc' THEN s_$lc" }.mkString(" ")
    val candList = Markers.map { case (lc, _) => s"'$lc'" }.mkString(", ")
    s"""WITH scores AS (
       |  SELECT doc_id, lang,
       |         $scoreCols
       |  FROM documents),
       |unp AS (
       |  SELECT doc_id, lang, cand, CASE cand $caseExpr END AS score
       |  FROM scores, (SELECT unnest([$candList]) AS cand) c),
       |ranked AS (
       |  SELECT doc_id, lang, cand, score,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
       |  FROM unp)
       |SELECT doc_id, lang, cand AS predicted_lang, score AS marker_hits,
       |       CAST(CASE WHEN cand = lang THEN 1 ELSE 0 END AS INT) AS is_match
       |FROM ranked WHERE rn = 1
       |ORDER BY doc_id""".stripMargin
  }

  /** text-quality — per-document quality metrics: char/word counts,
    * average word length, stopword ratio, vocabulary-diversity ratio.
    * Integer-exact numerators/denominators into one rounded double
    * division each (engine bit-parity, see Tables). */
  val textQuality: Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("w"))
      .select(
        col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars"),
        size(col("w")).cast(LongType).as("n_words"),
        round(length(regexp_replace(col("text"), " ", "")) * lit(1.0) / size(col("w")), 9).as("avg_word_len"),
        round(expr("size(filter(w, x -> x = 'the' OR x = 'a'))") * lit(1.0) / size(col("w")), 9).as("stopword_ratio"),
        round(expr("size(array_distinct(w))") * lit(1.0) / size(col("w")), 9).as("distinct_ratio"))
      .orderBy("doc_id")

  val textQualitySql: String =
    """SELECT doc_id,
      |       CAST(length(text) AS BIGINT) AS n_chars,
      |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |       round(length(replace(text, ' ', '')) * 1.0 / len(string_split(text, ' ')), 9) AS avg_word_len,
      |       round(len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a')) * 1.0
      |             / len(string_split(text, ' ')), 9) AS stopword_ratio,
      |       round(len(list_distinct(string_split(text, ' '))) * 1.0
      |             / len(string_split(text, ' ')), 9) AS distinct_ratio
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** text-tokencount — whitespace tokens, BPE-ish regex tokens
    * (letter runs / digit runs / single punctuation), and the chars/4
    * transformer-token heuristic. */
  val textTokencount: Q = (s, d) =>
    documents(s, d).select(
      col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("n_ws_tokens"),
      regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]")).cast(LongType).as("n_regex_tokens"),
      ceil(length(col("text")) / lit(4.0)).cast(LongType).as("est_bpe_tokens"))
      .orderBy("doc_id")

  val textTokencountSql: String =
    """SELECT doc_id,
      |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
      |       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_regex_tokens,
      |       CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** text-fingerprint — rolling-window document fingerprint: md5 over
    * each word 5-gram, keep the minimum (content-defined sampling à la
    * winnowing) plus a seeded second hash for collision resistance. */
  val textFingerprint: Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(0, size(w) - 5), i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))")).as("g"))
      .groupBy("doc_id")
      .agg(
        min(md5(col("g"))).as("fingerprint"),
        min(md5(concat(lit("seed2|"), col("g")))).as("fingerprint2"),
        count(lit(1)).as("n_grams"))
      .orderBy("doc_id")

  val textFingerprintSql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 5),
      |grams AS (
      |  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS g
      |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w) - 4)) AS i) t)
      |SELECT doc_id, min(md5(g)) AS fingerprint,
      |       min(md5('seed2|' || g)) AS fingerprint2,
      |       count(*) AS n_grams
      |FROM grams GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** text-hash-split — deterministic dataset splitting: assign each
    * document to train/val/test by a digest of its id, never by random()
    * (hash splits are reproducible across runs, engines, partitionings,
    * and dataset growth — the only split discipline that survives a
    * 100 TB corpus rebuild). Two md5 nibbles give a 0-255 bucket:
    * <205 train / <230 val / else test ≈ 80.1 / 9.8 / 10.2. Rows with a
    * NULL id are rejected up front — a null digest would otherwise dump
    * them all into one split. */
  val textHashSplit: Q = (s, d) =>
    documents(s, d)
      .filter(col("doc_id").isNotNull)
      .withColumn("bucket", expr(
        "(instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 1, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 2, 1)) - 1)"))
      .select(col("doc_id"),
        when(col("bucket") < 205, "train")
          .when(col("bucket") < 230, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  val textHashSplitSql: String =
    """SELECT doc_id,
      |       CASE WHEN bucket < 205 THEN 'train'
      |            WHEN bucket < 230 THEN 'val'
      |            ELSE 'test' END AS split
      |FROM (
      |  SELECT doc_id,
      |         (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 +
      |         (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket
      |  FROM documents WHERE doc_id IS NOT NULL)
      |ORDER BY doc_id""".stripMargin

  /** The diacritic fold map shared with the medallion engine's CI_AI
    * collation emulation (graft.olist.Functions.accentFoldLower) — one
    * canonical map, mirrored verbatim in the oracle SQL. */
  private val FoldFrom = "áàâãäéèêëíìîïóòôõöúùûüçñý"
  private val FoldTo = "aaaaaeeeeiiiiooooouuuucny"

  /** text-normalize — corpus normalization pass: lowercase, diacritic
    * fold (explicit translate map — identical in both engines, unlike
    * locale-dependent collations), whitespace squeeze (any \s runs →
    * one space) and trim. The testdata corpus is already clean, so a
    * deterministic dirty prefix (uppercase, accents, mixed whitespace)
    * is injected identically on both sides — the normalization logic is
    * actually exercised, not vacuously correct. */
  val textNormalize: Q = (s, d) => {
    val dirty = concat(lit("  ÁGUA\tJÁ  çÃo \n "), col("text"), lit("   "))
    documents(s, d).select(
      col("doc_id"),
      trim(regexp_replace(
        graft.olist.Functions.accentFoldLower(dirty), "\\s+", " ")).as("text_norm"))
      .orderBy("doc_id")
  }

  val textNormalizeSql: String =
    s"""SELECT doc_id,
       |       trim(regexp_replace(
       |         translate(lower('  ÁGUA\tJÁ  çÃo \n ' || text || '   '),
       |                   '$FoldFrom', '$FoldTo'),
       |         '\\s+', ' ', 'g')) AS text_norm
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** text-repetition — Gopher/MassiveText-style repetition signals, the
    * standard quality gate against degenerate (looping) documents:
    * top-word fraction, top-bigram fraction, duplicate-trigram fraction.
    * All three are single int/int→double divisions of exact counts, so
    * both engines produce identical bits. Shape: explode → two-level
    * groupBy (map-side combined) keyed on doc — shuffle volume is
    * |docs × distinct grams|, narrow joins back on doc_id. */
  val textRepetition: Q = (s, d) => {
    val w = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
    // one explode + one two-level aggregation per gram size: the
    // (doc, gram) count pass yields the total (sum of counts), the max
    // count, and the distinct-gram count in the same shuffle — no
    // separate n_words scan, each explode computed exactly once
    val words = w.select(col("doc_id"), explode(col("w")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum(col("c")).as("n_words"), max(col("c")).as("top_word"))
    val bigrams = w.select(col("doc_id"),
      explode(expr("transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram"))
    val trigrams = w.select(col("doc_id"),
      explode(expr("transform(sequence(0, size(w) - 3), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum(col("c")).as("n_tri"), count(lit(1)).as("distinct_tri"))
    words.join(bigrams, Seq("doc_id")).join(trigrams, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"),
        (col("top_word") * lit(1.0) / col("n_words")).as("top_word_frac"),
        (col("top_bigram") * lit(1.0) / col("n_bigrams")).as("top_bigram_frac"),
        ((col("n_tri") - col("distinct_tri")) * lit(1.0) / col("n_tri"))
          .as("dup_trigram_frac"))
      .orderBy("doc_id")
  }

  val textRepetitionSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |words AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, CAST(max(c) AS BIGINT) AS top_word FROM (
      |           SELECT doc_id, g, count(*) AS c
      |           FROM (SELECT doc_id, unnest(w) AS g FROM w) GROUP BY doc_id, g)
      |         GROUP BY doc_id),
      |bigrams AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, CAST(max(c) AS BIGINT) AS top_bigram FROM (
      |             SELECT doc_id, g, count(*) AS c FROM (
      |               SELECT doc_id, w[i] || ' ' || w[i+1] AS g
      |               FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) t)
      |             GROUP BY doc_id, g)
      |           GROUP BY doc_id),
      |trigrams AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tri, count(*) AS distinct_tri FROM (
      |              SELECT doc_id, g, count(*) AS c FROM (
      |                SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      |                FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) t)
      |              GROUP BY doc_id, g)
      |            GROUP BY doc_id)
      |SELECT doc_id, n_words,
      |       top_word * 1.0 / n_words AS top_word_frac,
      |       top_bigram * 1.0 / n_bigrams AS top_bigram_frac,
      |       (n_tri - distinct_tri) * 1.0 / n_tri AS dup_trigram_frac
      |FROM words JOIN bigrams USING (doc_id) JOIN trigrams USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** text-contamination — benchmark decontamination: training documents
    * sharing any 5-word-gram with the held-out eval set (docs with
    * doc_id % 20 == 0 stand in for it) are flagged with their shared
    * distinct-gram count. Grams join on 16-hex digests (fixed-width
    * shuffle keys, same trick as dedup-ngram-jaccard); the eval side is
    * dim-sized and broadcastable, so at 100 TB this is one narrow scan
    * of the corpus + a broadcast semi-join — the shape of every
    * decontamination pass in LLM data pipelines (real deployments use
    * 8-13-gram windows; 5 here because the synthetic vocabulary is
    * tiny). */
  val textContamination: Q = (s, d) => {
    val grams = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 5), i -> concat(w[i],' ',w[i+1],' ',w[i+2],' ',w[i+3],' ',w[i+4]))")).as("g"))
      .select(col("doc_id"), substring(md5(col("g")), 1, 16).as("g"))
      .distinct().sharedCache()
    val evalGrams = grams.filter(col("doc_id") % 20 === 0).select("g").distinct()
    grams.filter(col("doc_id") % 20 =!= 0)
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_grams"))
      .orderBy("doc_id")
  }

  val textContaminationSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 5),
      |grams AS (
      |  SELECT DISTINCT doc_id,
      |         substring(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]), 1, 16) AS g
      |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 4)) AS i) t),
      |ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0)
      |SELECT doc_id, count(*) AS n_shared_grams
      |FROM grams JOIN ev USING (g)
      |WHERE doc_id % 20 <> 0
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** text-vocab-stats — corpus-LEVEL vocabulary statistics (the
    * analysis pass that precedes tokenizer training): vocabulary size,
    * total token count, the token share captured by the 100 most
    * frequent words, and the hapax-legomenon fraction (words seen
    * exactly once — the Zipf tail a BPE vocab budget has to cut).
    * Shape: one word groupBy (map-side combined, shuffle = |vocab|)
    * followed by scalar aggregates; ties in the top-100 cut are broken
    * by word for a deterministic share on both engines. */
  val textVocabStats: Q = (s, d) => {
    val counts = documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("c"))
      .sharedCache()
    // top-100 cut by global position: |vocab| grows into the millions
    // on raw web corpora, so the rank rides the PrefixScan two-pass
    // (r14 port) instead of a single-partition row_number sort
    val ranked = graft.functions.PrefixScan.withRankCumSum(
      counts, Seq(col("c").desc, col("word")), None, rankName = "rn").df
    val top100 = ranked.filter(col("rn") <= 100).agg(sum(col("c")).as("top100_tokens"))
    val totals = counts.agg(
      count(lit(1)).as("vocab_size"),
      sum(col("c")).as("total_tokens"),
      sum(when(col("c") === 1, 1).otherwise(0)).as("hapax_words"))
    totals.crossJoin(top100).select(
      col("vocab_size"), col("total_tokens"),
      (col("top100_tokens") * lit(1.0) / col("total_tokens")).as("top100_share"),
      (col("hapax_words") * lit(1.0) / col("vocab_size")).as("hapax_fraction"))
  }

  val textVocabStatsSql: String =
    """WITH counts AS (
      |  SELECT word, count(*) AS c
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE word <> ''
      |  GROUP BY word),
      |ranked AS (
      |  SELECT c, row_number() OVER (ORDER BY c DESC, word) AS rn FROM counts),
      |top100 AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS top100_tokens FROM ranked WHERE rn <= 100),
      |totals AS (
      |  SELECT count(*) AS vocab_size,
      |         CAST(sum(c) AS BIGINT) AS total_tokens,
      |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_words
      |  FROM counts)
      |SELECT vocab_size, total_tokens,
      |       top100_tokens * 1.0 / total_tokens AS top100_share,
      |       hapax_words * 1.0 / vocab_size AS hapax_fraction
      |FROM totals, top100""".stripMargin

  /** text-pii-mask — PII scrubbing, the redaction pass every
    * training-data pipeline runs before a corpus ships: regex-mask
    * emails and phone-shaped tokens, count redactions per record. The
    * testdata is synthetic word-salad with no real PII, so the
    * contact string is synthesized deterministically per customer and
    * the op grades the masking pipeline itself. Narrow projection —
    * runs at scan speed; the regexes are RE2-compatible so the oracle
    * twin executes them byte-identically. */
  private val emailPat = "[a-z0-9.]+@[a-z.]+"
  private val phonePat = "555-[0-9]{4}"

  val textPiiMask: Q = (s, d) => {
    val raw = concat(
      col("c_name"), lit(" <"),
      lower(translate(col("c_name"), "#", ".")), lit("@example.com> call 555-"),
      lpad((col("c_custkey") % 10000).cast(StringType), 4, "0"))
    customer(s, d)
      .select(col("c_custkey"), raw.as("raw"))
      .select(
        col("c_custkey"),
        regexp_replace(regexp_replace(col("raw"), emailPat, "[EMAIL]"),
          phonePat, "[PHONE]").as("masked"),
        (size(regexp_extract_all(col("raw"), lit(emailPat), lit(0)))
          + size(regexp_extract_all(col("raw"), lit(phonePat), lit(0))))
          .cast(IntegerType).as("n_pii"))
      .orderBy("c_custkey")
  }

  val textPiiMaskSql: String =
    s"""WITH raw AS (
       |  SELECT c_custkey,
       |         c_name || ' <' || lower(translate(c_name, '#', '.'))
       |           || '@example.com> call 555-'
       |           || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS raw
       |  FROM customer)
       |SELECT c_custkey,
       |       regexp_replace(regexp_replace(raw, '$emailPat', '[EMAIL]', 'g'),
       |                      '$phonePat', '[PHONE]', 'g') AS masked,
       |       CAST(length(regexp_extract_all(raw, '$emailPat'))
       |          + length(regexp_extract_all(raw, '$phonePat')) AS INT) AS n_pii
       |FROM raw
       |ORDER BY c_custkey""".stripMargin

  /** dedup-url — URL canonicalization + exact dedup, the first dedup
    * pass of a web-crawl pipeline (far cheaper than content hashing:
    * most crawl duplicates are the same URL with tracking params /
    * case / fragment noise). Canonicalization: lowercase the host,
    * strip the fragment, drop utm_* tracking params. URLs are
    * synthesized deterministically per document (testdata has no URL
    * column); dedup is then hash-partitioned groupBy(canonical) —
    * one shuffle on the canonical string, map-side combined, the
    * exact-dedup scale shape. */
  val dedupUrl: Q = (s, d) => {
    val url = concat(
      lit("https://"), upper(col("source")), lit(".Example.COM/"), col("lang"),
      lit("/item/"), (col("doc_id") % 40).cast(StringType),
      lit("?utm_source=feed&id="), (col("doc_id") % 7).cast(StringType),
      lit("#sec"), (col("doc_id") % 3).cast(StringType))
    val host = lower(regexp_extract(col("url"), "^https?://([^/]+)", 1))
    val rest = regexp_extract(col("url"), "^https?://[^/]+([^#]*)", 1)
    val canon = concat(lit("https://"), host,
      regexp_replace(regexp_replace(rest, "utm_[a-z_]+=[^&]*&", ""),
        "[?&]utm_[a-z_]+=[^&]*$", ""))
    documents(s, d)
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), canon.as("canonical_url"))
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keeper"))
      .orderBy("canonical_url")
  }

  val dedupUrlSql: String =
    """WITH urls AS (
      |  SELECT doc_id,
      |         'https://' || upper(source) || '.Example.COM/' || lang
      |           || '/item/' || CAST(doc_id % 40 AS VARCHAR)
      |           || '?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR)
      |           || '#sec' || CAST(doc_id % 3 AS VARCHAR) AS url
      |  FROM documents),
      |canon AS (
      |  SELECT doc_id,
      |         'https://' || lower(regexp_extract(url, '^https?://([^/]+)', 1))
      |           || regexp_replace(regexp_replace(
      |                regexp_extract(url, '^https?://[^/]+([^#]*)', 1),
      |                'utm_[a-z_]+=[^&]*&', '', 'g'),
      |                '[?&]utm_[a-z_]+=[^&]*$', '', 'g') AS canonical_url
      |  FROM urls)
      |SELECT canonical_url, count(*) AS n_dups, min(doc_id) AS keeper
      |FROM canon
      |GROUP BY canonical_url
      |ORDER BY canonical_url""".stripMargin

  /** sample-stratified — per-stratum deterministic subsampling, the
    * domain-mixing primitive of corpus assembly (keep 25% of the
    * over-represented `en` stratum, 75% of everything else): a digest
    * of the id maps each doc to a 0-255 bucket (same discipline as
    * text-hash-split — never random(), so the sample is reproducible
    * across runs, engines and partitionings, and a doc's membership
    * never flips when the corpus grows), and the keep threshold is a
    * per-stratum constant. Narrow scan-speed filter; no shuffle. */
  val sampleStratified: Q = (s, d) =>
    documents(s, d)
      .filter(col("doc_id").isNotNull)
      .withColumn("bucket", expr(
        "(instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 1, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 2, 1)) - 1)"))
      .filter(col("bucket") < when(col("lang") === "en", 64).otherwise(192))
      .select(col("doc_id"), col("lang"), col("bucket").cast(IntegerType).as("bucket"))
      .orderBy("doc_id")

  val sampleStratifiedSql: String =
    """SELECT doc_id, lang, CAST(bucket AS INT) AS bucket
      |FROM (
      |  SELECT doc_id, lang,
      |         (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 +
      |         (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket
      |  FROM documents WHERE doc_id IS NOT NULL)
      |WHERE bucket < CASE WHEN lang = 'en' THEN 64 ELSE 192 END
      |ORDER BY doc_id""".stripMargin

  /** text-idf-rarity — corpus-grounded rarity scoring (the integer-exact
    * core of a unigram-LM quality filter): pass 1 computes each word's
    * document frequency (groupBy word — map-side combined, shuffle =
    * |vocab|), pass 2 joins it back to the distinct doc-word pairs and
    * aggregates per doc: rarest word's df, count of near-hapax words
    * (df ≤ 2, the OOV-risk signal), and mean df. All sums are BIGINT —
    * exact and order-independent — with the single terminal division
    * rounded, so both engines emit identical bits (a float log-prob sum
    * would be partition-order-dependent; see Tables determinism notes). */
  val textIdfRarity: Q = (s, d) => {
    val dw = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .distinct().sharedCache()
    val df = dw.groupBy("word").agg(count(lit(1)).as("df"))
    dw.join(df, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct_words"),
        min(col("df")).as("min_df"),
        sum(when(col("df") <= 2, 1).otherwise(0)).as("rare_words"),
        sum(col("df")).as("sum_df"))
      .select(col("doc_id"), col("n_distinct_words"), col("min_df"),
        col("rare_words"),
        round(col("sum_df") * lit(1.0) / col("n_distinct_words"), 9).as("avg_df"))
      .orderBy("doc_id")
  }

  val textIdfRaritySql: String =
    """WITH dw AS (
      |  SELECT DISTINCT doc_id, word
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE word <> ''),
      |df AS (SELECT word, count(*) AS df FROM dw GROUP BY word)
      |SELECT doc_id,
      |       count(*) AS n_distinct_words,
      |       CAST(min(df) AS BIGINT) AS min_df,
      |       CAST(sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS rare_words,
      |       round(sum(df) * 1.0 / count(*), 9) AS avg_df
      |FROM dw JOIN df USING (word)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** text-html-strip — markup removal, the first transform of any
    * web-crawl text pipeline: strip tags, decode the common entities,
    * squeeze whitespace. The testdata corpus is plain text, so markup
    * is injected deterministically on both sides (tags with attributes,
    * a self-closing tag, literal entities) — the stripper is exercised
    * against structure it actually has to remove, not vacuously. Narrow
    * scan-speed projection; the regex is RE2-compatible (no backrefs)
    * so both engines execute it identically. */
  val textHtmlStrip: Q = (s, d) => {
    val dirty = concat(
      lit("<html><body><div id=\"d1\" class='x'>Tom &amp; Jerry &lt;3</div><br/><p>"),
      col("text"), lit("</p>\n</body></html>"))
    val noTags = regexp_replace(dirty, "<[^>]*>", " ")
    val decoded = regexp_replace(regexp_replace(regexp_replace(
      noTags, "&amp;", "&"), "&lt;", "<"), "&gt;", ">")
    documents(s, d).select(
      col("doc_id"),
      trim(regexp_replace(decoded, "\\s+", " ")).as("text_clean"))
      .orderBy("doc_id")
  }

  val textHtmlStripSql: String =
    """SELECT doc_id,
      |       trim(regexp_replace(
      |         replace(replace(replace(
      |           regexp_replace(
      |             '<html><body><div id="d1" class=''x''>Tom &amp; Jerry &lt;3</div><br/><p>'
      |               || text || '</p>' || chr(10) || '</body></html>',
      |             '<[^>]*>', ' ', 'g'),
      |           '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
      |         '\s+', ' ', 'g')) AS text_clean
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** text-domain-mix — domain-mixing weights, the companion of
    * sample-stratified: per-source document and token volumetry, each
    * source's token share, and the downsampling weight that flattens
    * the mix to uniform (weight = uniform_target / share, capped at 1 —
    * over-represented domains get down-weighted, under-represented ones
    * keep everything). This is the computation behind every published
    * pretraining mix table. One map-side-combined groupBy on source
    * (|domains| rows out), then a scalar-totals crossJoin — integer
    * sums throughout, two terminal rounded divisions. */
  val textDomainMix: Q = (s, d) => {
    val perSrc = documents(s, d)
      .select(col("source"), size(split(col("text"), " ")).cast(LongType).as("tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).as("t"), count(lit(1)).as("s"))
    perSrc.crossJoin(tot)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") * lit(1.0) / col("t"), 9).as("token_share"),
        round(least(lit(1.0), col("t") * lit(1.0) / (col("s") * col("n_tokens"))), 9)
          .as("mix_weight"))
      .orderBy("source")
  }

  val textDomainMixSql: String =
    """WITH per AS (
      |  SELECT source, count(*) AS n_docs,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t, count(*) AS s FROM per)
      |SELECT source, n_docs, n_tokens,
      |       round(n_tokens * 1.0 / t, 9) AS token_share,
      |       round(least(CAST(1 AS DOUBLE), t * 1.0 / (s * n_tokens)), 9) AS mix_weight
      |FROM per, tot
      |ORDER BY source""".stripMargin

  /** text-line-dedup — CCNet-style boilerplate removal at sub-document
    * granularity: documents are segmented into fixed 10-word paragraphs
    * (the corpus has no newlines; real pipelines split on them — the
    * plumbing is identical), each paragraph's corpus-wide DISTINCT-doc
    * frequency is computed on a 16-hex digest (fixed-width shuffle
    * keys), and paragraphs appearing in more than BoilerplateDf
    * documents (headers, footers, nav text in a real crawl) are
    * dropped. Output is per-doc paragraph retention. Shape: one
    * explode + distinct + digest groupBy (map-side combined, shuffle =
    * |distinct paragraphs|) and a join back — the exact-dedup recipe
    * applied one level below the document. */
  private val BoilerplateDf = 3

  val textLineDedup: Q = (s, d) => {
    val paras = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, cast(floor((size(w) - 1) / 10) as int)), " +
          "i -> array_join(slice(w, i * 10 + 1, 10), ' '))")).as("para"))
      .select(col("doc_id"), substring(md5(col("para")), 1, 16).as("ph"))
    val df = paras.distinct().groupBy("ph").agg(count(lit(1)).as("pdf"))
    paras.join(df, Seq("ph"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("pdf") <= BoilerplateDf, 1L).otherwise(0L)).as("n_kept"))
      .select(col("doc_id"), col("n_paras"), col("n_kept"),
        round(col("n_kept") * lit(1.0) / col("n_paras"), 9).as("retained_frac"))
      .orderBy("doc_id")
  }

  val textLineDedupSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |paras AS (
       |  SELECT doc_id,
       |         substring(md5(array_to_string(w[i * 10 + 1 : i * 10 + 10], ' ')), 1, 16) AS ph
       |  FROM w, LATERAL (SELECT unnest(generate_series(0, CAST(floor((len(w) - 1) / 10) AS INT))) AS i) t),
       |pdfs AS (
       |  SELECT ph, count(*) AS pdf FROM (SELECT DISTINCT doc_id, ph FROM paras) GROUP BY ph)
       |SELECT doc_id, count(*) AS n_paras,
       |       CAST(sum(CASE WHEN pdf <= $BoilerplateDf THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       round(sum(CASE WHEN pdf <= $BoilerplateDf THEN 1 ELSE 0 END) * 1.0 / count(*), 9) AS retained_frac
       |FROM paras JOIN pdfs USING (ph)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** text-pack-sequences — GPT-style concat-and-chunk sequence packing:
    * documents are concatenated in id order within a shard and cut into
    * fixed CtxTokens-token context windows; the op reports per-shard
    * packing stats (bins produced, docs straddling a window boundary).
    * The prefix-sum that assigns each doc its token offset is a window
    * partitioned BY SHARD — never a global single-partition window: at
    * 100 TB the shard count is O(10k) and each shard's offsets are an
    * independent task, which is exactly how real packing jobs shard
    * (packing quality is per-shard, global order is irrelevant). */
  private val CtxTokens = 512
  private val PackShards = 8

  val textPackSequences: Q = (s, d) => {
    val docs = documents(s, d).select(col("doc_id"),
      (col("doc_id") % PackShards).as("shard"),
      size(split(col("text"), " ")).cast(LongType).as("tok"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = docs
      .withColumn("off", coalesce(sum(col("tok")).over(w), lit(0L)))
      .withColumn("first_bin", floor(col("off") / CtxTokens).cast(LongType))
      .withColumn("last_bin",
        floor((col("off") + col("tok") - 1) / CtxTokens).cast(LongType))
    off.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("n_tokens"),
        (max(col("last_bin")) + 1).as("n_bins"),
        sum(when(col("first_bin") =!= col("last_bin"), 1L).otherwise(0L))
          .as("n_straddlers"))
      .withColumn("straddle_frac",
        round(col("n_straddlers") * lit(1.0) / col("n_docs"), 9))
      .orderBy("shard")
  }

  val textPackSequencesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, doc_id % $PackShards AS shard,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents),
       |o AS (
       |  SELECT shard, tok,
       |         coalesce(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM t),
       |b AS (
       |  SELECT shard, tok, off,
       |         CAST(floor(off / CAST($CtxTokens AS DOUBLE)) AS BIGINT) AS first_bin,
       |         CAST(floor((off + tok - 1) / CAST($CtxTokens AS DOUBLE)) AS BIGINT) AS last_bin
       |  FROM o)
       |SELECT shard, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens,
       |       max(last_bin) + 1 AS n_bins,
       |       CAST(sum(CASE WHEN first_bin <> last_bin THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers,
       |       round(sum(CASE WHEN first_bin <> last_bin THEN 1 ELSE 0 END) * 1.0 / count(*), 9) AS straddle_frac
       |FROM b
       |GROUP BY shard
       |ORDER BY shard""".stripMargin

  /** text-bpe-pairs — the core BPE-training statistic: adjacent-pair
    * frequencies across the corpus, top-20 merge candidates. Pairs come
    * from zipping the token array against itself shifted by one (empty
    * when a doc has a single token — no descending-sequence trap), so
    * the whole op is one explode + one map-side-combined groupBy +
    * TakeOrdered: shuffle volume is |distinct pairs|, never corpus
    * size, and the top-k never materializes a global sort. */
  val textBpePairs: Q = (s, d) => {
    val pairs = documents(s, d)
      .select(split(col("text"), " ").as("w"))
      .select(explode(expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), " +
          "(a, b) -> struct(a AS l, b AS r))")).as("p"))
      .select(col("p.l").as("tok_left"), col("p.r").as("tok_right"))
    pairs.groupBy("tok_left", "tok_right")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("tok_left"), col("tok_right"))
      .limit(20)
  }

  val textBpePairsSql: String =
    """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
      |p AS (
      |  SELECT w[i] AS tok_left, w[i + 1] AS tok_right
      |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) t)
      |SELECT tok_left, tok_right, count(*) AS cnt
      |FROM p
      |GROUP BY 1, 2
      |ORDER BY cnt DESC, tok_left, tok_right
      |LIMIT 20""".stripMargin

  /** text-substring-dedup — exact-substring duplication signal (the
    * suffix-array dedup of Lee et al. 2022, re-expressed for a
    * distributed engine): overlapping 16-token windows at stride 8 are
    * digested, a window is "duplicated" when its digest occurs in ≥ 2
    * distinct documents, and each doc reports its duplicated-window
    * fraction — the retain/trim signal. Stride-8 windows bound the blowup
    * at 2 digests per 16 tokens (vs 16 for stride-1 suffixes); shuffle
    * is |distinct digests|, and the digest keys are fixed-width 16-hex
    * strings. Docs shorter than one window contribute a single short
    * window (greatest(...) keeps the start sequence non-descending). */
  val textSubstringDedup: Q = (s, d) => {
    // persist: the window-digest table (tokenize + stride-window + md5 —
    // the dominant cost) feeds both the doc-frequency aggregate and the
    // per-doc join; unpersisted it would be computed twice
    val wins = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, greatest(size(w) - 16, 0), 8), " +
          "i -> array_join(slice(w, i + 1, 16), ' '))")).as("win"))
      .select(col("doc_id"), substring(md5(col("win")), 1, 16).as("wh"))
      .sharedCache()
    val df = wins.distinct().groupBy("wh")
      .agg(count(lit(1)).as("ndocs"))
    wins.join(df, Seq("wh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        ratioFloor(col("n_dup_windows"), col("n_windows"), 9).as("dup_frac"))
      .orderBy("doc_id")
  }

  val textSubstringDedupSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |wins AS (
      |  SELECT doc_id,
      |         substring(md5(array_to_string(w[i + 1 : i + 16], ' ')), 1, 16) AS wh
      |  FROM w, LATERAL (SELECT unnest(generate_series(0, greatest(len(w) - 16, 0), 8)) AS i) t),
      |dfs AS (
      |  SELECT wh, count(*) AS ndocs
      |  FROM (SELECT DISTINCT doc_id, wh FROM wins) GROUP BY wh)
      |SELECT doc_id, count(*) AS n_windows,
      |       CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
      |       floor(CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) * 1e9 / count(*)) / 1e9 AS dup_frac
      |FROM wins JOIN dfs USING (wh)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** agg-entropy — per-source Shannon entropy of the token distribution
    * (low entropy = templated/repetitive source, a corpus-mix quality
    * signal). Two map-side-combined groupBys: (source, token) counts,
    * then the entropy fold per source — shuffle is |vocab|, never
    * corpus size. Each p·log2(p) term is bit-identical across engines
    * (integer-ratio division, one log2); only the final sum is
    * order-sensitive, so it alone carries the 6-dp contract. */
  val aggEntropy: Q = (s, d) => {
    // persist: the token explode feeds both the (source, tok) counts and
    // the per-source totals
    val toks = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .sharedCache()
    val cnts = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val tot = toks.groupBy("source").agg(count(lit(1)).as("n_tokens"))
    cnts.join(tot, Seq("source"))
      .withColumn("p", col("c") * lit(1.0) / col("n_tokens"))
      .groupBy("source")
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"),
        round(-sum(col("p") * log2(col("p"))), 6).as("entropy_bits"))
      .orderBy("source")
  }

  val aggEntropySql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      |cnts AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2),
      |tot AS (SELECT source, count(*) AS n_tokens FROM toks GROUP BY 1)
      |SELECT source, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
      |       count(*) AS n_distinct_tokens,
      |       round(-sum((c * 1.0 / n_tokens) * log2(c * 1.0 / n_tokens)), 6) AS entropy_bits
      |FROM cnts JOIN tot USING (source)
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** text-perplexity-proxy — unigram cross-entropy of each document
    * against the corpus's own unigram LM (the CCNet/Gopher
    * "perplexity filter" with the corpus as its own language model):
    * docs whose tokens are globally rare score high and are trim
    * candidates. Two shuffles, both bounded by |vocab|, never corpus
    * size: token counts (map-side combined), then a broadcast of the
    * single-row total into the per-token probability. The per-doc sum
    * of log2 p is a double fold whose partition-order noise (~1e-16
    * relative) is absorbed by the 6-dp output contract. */
  val textPerplexityProxy: Q = (s, d) => {
    val toks = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val cnts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = cnts.agg(sum(col("c")).cast(DoubleType).as("t"))
    val probs = cnts.crossJoin(broadcast(tot))
      .select(col("tok"), (col("c").cast(DoubleType) / col("t")).as("p"))
    toks.join(probs, Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (-sum(log2(col("p"))) / count(lit(1))).as("xent"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("xent"), 6).as("xent_bits"),
        round(pow(lit(2.0), col("xent")), 4).as("ppl"))
      .orderBy("doc_id")
  }

  val textPerplexityProxySql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |cnts AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM cnts),
      |probs AS (SELECT tok, CAST(c AS DOUBLE) / t AS p FROM cnts, tot),
      |perdoc AS (
      |  SELECT doc_id, count(*) AS n_tokens, -sum(log2(p)) / count(*) AS xent
      |  FROM toks JOIN probs USING (tok)
      |  GROUP BY doc_id)
      |SELECT doc_id, n_tokens, round(xent, 6) AS xent_bits,
      |       round(pow(2.0, xent), 4) AS ppl
      |FROM perdoc
      |ORDER BY doc_id""".stripMargin

  /** text-mix-sample — deterministic weighted data mixing: each source
    * gets a target sampling rate (derived here from the source id; in
    * production, the tuned mixture weights), and a document survives
    * iff its hash bucket clears the source's threshold. Hash-threshold
    * sampling is THE reproducible mixing primitive: no RNG state, no
    * shuffle, any worker can re-derive membership, and re-runs/restarts
    * keep exactly the same sample. The keep test is pure integer math
    * (bucket·100 < rate·256 — no float boundary), one scan, map-side
    * combined aggregate. */
  val textMixSample: Q = (s, d) => {
    val bucket = expr(
      "(instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 1, 1)) - 1) * 16 + " +
        "(instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 2, 1)) - 1)")
    val rate = (expr("CAST(substring(source, 4, 10) AS INT)") % 6) * 15 + 20
    documents(s, d)
      .withColumn("rate", rate)
      .withColumn("kept", (bucket * 100 < col("rate") * 256).cast(IntegerType))
      .groupBy("source")
      .agg(max(col("rate")).as("target_pct"),
        count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"))
      .withColumn("realized", ratioFloor(col("n_kept"), col("n_docs"), 6))
      .orderBy("source")
  }

  val textMixSampleSql: String =
    """WITH t AS (
      |  SELECT source,
      |         (CAST(substring(source, 4, 10) AS INT) % 6) * 15 + 20 AS rate,
      |         CASE WHEN ((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 +
      |                    (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) * 100
      |                   < rate * 256 THEN 1 ELSE 0 END AS kept
      |  FROM documents)
      |SELECT source, max(rate) AS target_pct, count(*) AS n_docs,
      |       CAST(sum(kept) AS BIGINT) AS n_kept,
      |       floor(CAST(sum(kept) AS DOUBLE) * 1e6 / count(*)) / 1e6 AS realized
      |FROM t
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** text-bigram-lm — bigram conditional probabilities over the corpus
    * (the n-gram LM table: P(b|a) = c(a,b)/c(a·)): the statistic behind
    * classic LM perplexity filters and tokenizer-transition analysis.
    * Adjacent pairs come from one generator pass over the token array
    * (no self-join); both counts are map-side-combined groupBys with
    * shuffle = |bigram vocab|. The conditional is one integer-ratio
    * division. Top-20 with a full tiebreak keeps the output stable. */
  val textBigramLm: Q = (s, d) => {
    val pairs = documents(s, d)
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .sharedCache() // feeds both the bigram and the left-marginal counts
    val big = pairs.groupBy("a", "b").agg(count(lit(1)).as("cnt"))
    val lefts = pairs.groupBy("a").agg(count(lit(1)).as("left_cnt"))
    big.join(lefts, Seq("a"))
      .withColumn("p_b_given_a", ratioFloor(col("cnt"), col("left_cnt"), 6))
      .select("a", "b", "cnt", "left_cnt", "p_b_given_a")
      .orderBy(desc("cnt"), col("a"), col("b"))
      .limit(20)
  }

  val textBigramLmSql: String =
    """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 2),
      |pairs AS (
      |  SELECT unnest(w[1:len(w)-1]) AS a, unnest(w[2:len(w)]) AS b FROM w),
      |big AS (SELECT a, b, count(*) AS cnt FROM pairs GROUP BY 1, 2),
      |lefts AS (SELECT a, count(*) AS left_cnt FROM pairs GROUP BY 1)
      |SELECT a, b, cnt, left_cnt,
      |       floor(CAST(cnt AS DOUBLE) * 1e6 / left_cnt) / 1e6 AS p_b_given_a
      |FROM big JOIN lefts USING (a)
      |ORDER BY cnt DESC, a, b
      |LIMIT 20""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("text-mix-sample", textMixSample, textMixSampleSql),
    Key("text-bigram-lm", textBigramLm, textBigramLmSql),
    Key("text-perplexity-proxy", textPerplexityProxy, textPerplexityProxySql),
    Key("text-substring-dedup", textSubstringDedup, textSubstringDedupSql),
    Key("agg-entropy", aggEntropy, aggEntropySql),
    Key("text-pack-sequences", textPackSequences, textPackSequencesSql),
    Key("text-bpe-pairs", textBpePairs, textBpePairsSql),
    Key("text-line-dedup", textLineDedup, textLineDedupSql),
    Key("text-domain-mix", textDomainMix, textDomainMixSql),
    Key("sample-stratified", sampleStratified, sampleStratifiedSql),
    Key("text-idf-rarity", textIdfRarity, textIdfRaritySql),
    Key("text-html-strip", textHtmlStrip, textHtmlStripSql),
    Key("text-pii-mask", textPiiMask, textPiiMaskSql),
    Key("dedup-url", dedupUrl, dedupUrlSql),
    Key("text-vocab-stats", textVocabStats, textVocabStatsSql),
    Key("text-hash-split", textHashSplit, textHashSplitSql),
    Key("text-normalize", textNormalize, textNormalizeSql),
    Key("text-langid", textLangid, textLangidSql),
    Key("text-quality", textQuality, textQualitySql),
    Key("text-tokencount", textTokencount, textTokencountSql),
    Key("text-fingerprint", textFingerprint, textFingerprintSql),
    Key("text-repetition", textRepetition, textRepetitionSql),
    Key("text-contamination", textContamination, textContaminationSql))
}
