package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch O: the two Spark-4 SQL surfaces that
  * landed with 4.x (WITH RECURSIVE, VARIANT), incremental-view
  * maintenance by partial-aggregate merge, the null-semantics corner
  * suite, Markov event transitions, quality-aware dedup
  * canonicalization, and the manifest-commit atomic-publish sink.
  */
object RelMore14 extends KeyModule {

  /** sql-recursive-cte — WITH RECURSIVE (new in Spark 4): ancestry
    * walk over a synthetic parent edge (parent = floor(key/7) — a
    * 7-ary tree, depth ~4 at sf0.01) submitted as ONE SQL string valid
    * in both engines. floor() before the BIGINT cast because the
    * engines disagree on bare CAST(double) rounding (Spark truncates,
    * DuckDB rounds half-even) — the recursive step must produce
    * IDENTICAL keys or the closures diverge. Spark executes this as
    * iterative UnionLoop; recursion depth is bounded by the key
    * domain, not a config guess. */
  val sqlRecursiveCte: Q = (s, d) => {
    customer(s, d).createOrReplaceTempView("customer")
    s.sql(sqlRecursiveCteSql)
  }

  val sqlRecursiveCteSql: String =
    """WITH RECURSIVE anc(start_key, cur_key, depth) AS (
      |  SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey % 100 = 0
      |  UNION ALL
      |  SELECT start_key, CAST(floor(cur_key / 7) AS BIGINT), depth + 1
      |  FROM anc WHERE cur_key > 0)
      |SELECT start_key, max(depth) AS chain_len, min(cur_key) AS root_key
      |FROM anc
      |GROUP BY start_key
      |ORDER BY start_key""".stripMargin

  /** expr-variant-json — the VARIANT type (Spark 4): parse_json once
    * into the binary variant encoding, then typed path extraction via
    * variant_get — unlike expr-json-extract's per-path string
    * re-parse, the variant parse cost is paid once per row however
    * many paths read it, which is the semi-structured scan model at
    * 100 TB (same reason Parquet shredding of variants exists).
    * VARIANT itself never crosses the output boundary — only typed
    * scalars do. try_variant_get on a missing path → NULL, not
    * error. */
  val exprVariantJson: Q = (s, d) =>
    events(s, d)
      .filter(col("event_id") % 20 === 0)
      .withColumn("vj", expr("parse_json(props)"))
      .select(
        col("event_id"),
        expr("variant_get(vj, '$.k', 'int')").as("k_int"),
        expr("variant_get(vj, '$.k', 'long') * 2").as("k_doubled"),
        expr("try_variant_get(vj, '$.missing', 'int')").as("k_missing"),
        expr("try_variant_get(vj, '$.k', 'string')").as("k_str"))
      .orderBy("event_id")

  val exprVariantJsonSql: String =
    """SELECT event_id,
      |       CAST(json_extract(props, '$.k') AS INT) AS k_int,
      |       CAST(json_extract(props, '$.k') AS BIGINT) * 2 AS k_doubled,
      |       CAST(NULL AS INT) AS k_missing,
      |       CAST(CAST(json_extract(props, '$.k') AS BIGINT) AS VARCHAR) AS k_str
      |FROM events
      |WHERE event_id % 20 = 0
      |ORDER BY event_id""".stripMargin

  /** agg-ivm-merge — incremental view maintenance: a materialized
    * aggregate is refreshed by merging the OLD partial state with the
    * DELTA's partial state — never rescanning history. Works because
    * count/sum/min/max are decomposable (merge = sum/sum/min/max of
    * partials); avg must be carried as (sum, count). At 100 TB this is
    * the difference between an incremental refresh touching one day's
    * partition and a full-history rescan. The oracle computes the same
    * aggregate directly over the full table — merged partials must be
    * indistinguishable from a cold rebuild. */
  val aggIvmMerge: Q = (s, d) => {
    def partial(df: DataFrame): DataFrame = df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("sum_cents"),
        min(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("min_cents"),
        max(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("max_cents"))
    val cut = lit("1999-01-01").cast(TimestampType)
    val base = partial(orders(s, d).filter(col("o_orderdate") < cut))
    val delta = partial(orders(s, d).filter(col("o_orderdate") >= cut))
    base.unionByName(delta)
      .groupBy("o_orderstatus")
      .agg(sum("n").as("n"),
        sum("sum_cents").as("sum_cents"),
        min("min_cents").as("min_cents"),
        max("max_cents").as("max_cents"))
      .orderBy("o_orderstatus")
  }

  val aggIvmMergeSql: String =
    """SELECT o_orderstatus,
      |       count(*) AS n,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents,
      |       min(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS min_cents,
      |       max(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS max_cents
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** func-null-suite — the null-semantics corners that differ ACROSS
    * engines by default and must be pinned explicitly: sort placement
    * (Spark default NULLS FIRST asc, DuckDB default NULLS LAST — so
    * both sides spell NULLS FIRST), null-safe equality (Spark `<=>`,
    * ANSI IS NOT DISTINCT FROM in the oracle), coalesce/nvl2, and
    * count(col) vs count(*) divergence under nulls. Nulls induced
    * deterministically (custkey%7). */
  val funcNullSuite: Q = (s, d) => {
    val base = customer(s, d)
      .filter(col("c_custkey") % 10 === 0)
      .withColumn("seg",
        when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_mktsegment")))
    base.select(
      col("c_custkey"), col("seg"),
      coalesce(col("seg"), lit("NONE")).as("seg_coal"),
      (col("seg") <=> "BUILDING").as("is_building_nullsafe"),
      when(col("seg").isNull, "absent").otherwise("present").as("presence"))
      .orderBy(col("seg").asc_nulls_first, col("c_custkey"))
  }

  val funcNullSuiteSql: String =
    """SELECT c_custkey, seg,
      |       coalesce(seg, 'NONE') AS seg_coal,
      |       seg IS NOT DISTINCT FROM 'BUILDING' AS is_building_nullsafe,
      |       CASE WHEN seg IS NULL THEN 'absent' ELSE 'present' END AS presence
      |FROM (SELECT c_custkey,
      |             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg
      |      FROM customer WHERE c_custkey % 10 = 0)
      |ORDER BY seg ASC NULLS FIRST, c_custkey""".stripMargin

  /** agg-event-transitions — first-order Markov transition matrix over
    * per-user event streams: lag(event_type) within (user, time)
    * order, then (from, to) counts and per-source-state probabilities
    * in exact ppm. The per-user window is partition-local (no global
    * window) and the transition matrix is |event_types|² rows — the
    * session-flow model behind next-event prediction and funnel
    * anomaly detection. Ordering key carries the unique event_id
    * tiebreak: microsecond ts collisions would otherwise let each
    * engine pick a different predecessor. */
  val aggEventTransitions: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag("event_type", 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val wTot = Window.partitionBy("from_type")
    trans
      .withColumn("p_ppm",
        floor(col("n") * lit(1000000L) / sum("n").over(wTot)).cast(LongType))
      .orderBy("from_type", "to_type")
  }

  val aggEventTransitionsSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         lag(event_type) OVER (PARTITION BY user_id
      |                               ORDER BY date_trunc('microseconds', ts), event_id) AS from_type
      |  FROM events),
      |trans AS (
      |  SELECT from_type, event_type AS to_type, count(*) AS n
      |  FROM seq WHERE from_type IS NOT NULL
      |  GROUP BY from_type, event_type)
      |SELECT from_type, to_type, n,
      |       CAST(floor(n * 1000000 / sum(n) OVER (PARTITION BY from_type)) AS BIGINT) AS p_ppm
      |FROM trans
      |ORDER BY from_type, to_type""".stripMargin

  /** dedup-keep-best — the CHOOSE step after near-dup detection:
    * within each dedup-cluster component, keep the highest-quality
    * member (longest text, doc_id tiebreak) instead of dedup-cluster's
    * min-id canonical — the policy real corpus dedup ships (quality
    * score beats arrival order). Reuses the connected components
    * verbatim; one window pick per cluster; emits only multi-member
    * clusters (the ones where the choice mattered). */
  val dedupKeepBest: Q = (s, d) => {
    val labels = TextDedup.dedupCluster(s, d)
      .select("doc_id", "cluster_id")
    val sized = labels.join(
      documents(s, d).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    // r15 opt (guide §2.3 "aggregate before you shuffle"): the per-
    // cluster argmax (n_chars DESC, doc_id ASC) is a single lexicographic
    // max of struct(n_chars, -doc_id) — a hash aggregate with map-side
    // partials instead of row_number() over a full shuffle+sort of every
    // labeled doc. doc_id ≥ 0 (int64 ids), so negation is order-reversing
    // and injective; the kept row is the window's rk=1 row exactly.
    sized
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("best"))
      .filter(col("n_docs") >= 2)
      .select(col("cluster_id"), col("n_docs"),
        (-col("best.nid")).as("kept_doc"),
        col("best.n_chars").as("kept_chars"),
        (col("n_docs") - 1).as("n_dropped"))
      .orderBy("cluster_id")
  }

  def dedupKeepBestSql: String =
    s"""WITH cl AS (SELECT doc_id, cluster_id FROM (${TextDedup.dedupClusterSql})),
       |sized AS (
       |  SELECT cl.cluster_id, cl.doc_id, d.n_chars,
       |         row_number() OVER (PARTITION BY cl.cluster_id
       |                            ORDER BY d.n_chars DESC, cl.doc_id) AS rk
       |  FROM cl JOIN documents d ON d.doc_id = cl.doc_id)
       |SELECT cluster_id, count(*) AS n_docs,
       |       min(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc,
       |       min(CASE WHEN rk = 1 THEN n_chars END) AS kept_chars,
       |       count(*) - 1 AS n_dropped
       |FROM sized
       |GROUP BY cluster_id
       |HAVING count(*) >= 2
       |ORDER BY cluster_id""".stripMargin

  /** sink-manifest-atomic — atomic publish without a table format:
    * writers land data files in private dirs, then a single manifest
    * write (tmp + atomic rename) COMMITS exactly the finished file
    * set; readers resolve the manifest and scan only listed files. An
    * orphan dir from a simulated failed writer sits next to the
    * committed data and must never be read — the poor-man's
    * Iceberg/Delta commit protocol, and the only safe multi-writer
    * publish on plain object storage (directory listings see partial
    * writes; manifests don't). Manifest I/O is driver-side metadata —
    * bytes never move through the driver. */
  val sinkManifestAtomic: Q = (s, d) => {
    val out = tmp("sink-manifest-atomic", d)
    val root = java.nio.file.Paths.get(out)
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    def land(status: String, sub: String): String = {
      val dir = s"$out/data/$sub"
      orders(s, d).filter(col("o_orderstatus") === status)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode(SaveMode.Overwrite).parquet(dir)
      dir
    }
    val committed = Seq(land("F", "commit-f"), land("O", "commit-o"))
    land("P", "orphan-uncommitted") // failed writer: never manifested
    val files = committed.flatMap { dir =>
      new java.io.File(dir).listFiles().toSeq
        .filter(f => f.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath)
    }.sorted
    val manifest = root.resolve("manifest.json")
    val tmpManifest = root.resolve("manifest.json.tmp")
    java.nio.file.Files.writeString(tmpManifest,
      files.mkString("{\"files\":[\"", "\",\"", "\"]}"))
    java.nio.file.Files.move(tmpManifest, manifest,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // reader side: resolve the manifest, scan ONLY its files
    val listed = java.nio.file.Files.readString(manifest)
      .stripPrefix("{\"files\":[\"").stripSuffix("\"]}").split("\",\"").toSeq
    s.read.parquet(listed: _*)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  val sinkManifestAtomicSql: String =
    """SELECT o_orderstatus, count(*) AS n,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders
      |WHERE o_orderstatus IN ('F', 'O')
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sql-recursive-cte", sqlRecursiveCte, sqlRecursiveCteSql),
    Key("expr-variant-json", exprVariantJson, exprVariantJsonSql),
    Key("agg-ivm-merge", aggIvmMerge, aggIvmMergeSql),
    Key("func-null-suite", funcNullSuite, funcNullSuiteSql),
    Key("agg-event-transitions", aggEventTransitions, aggEventTransitionsSql),
    Key("dedup-keep-best", dedupKeepBest, dedupKeepBestSql),
    Key("sink-manifest-atomic", sinkManifestAtomic, sinkManifestAtomicSql))
}
