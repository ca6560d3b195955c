package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-6 batch K: MRL truncation curve on clusterable data, vacuum
  * after compaction, optimistic commit fencing. */
object RelMore50 extends KeyModule {

  /** emb-mrl-curve-clustered — the Matryoshka truncation CURVE on the
    * clustered fixture (RelMore40): recall@3 of prefix-dims ∈ {2,4,8}
    * retrieval against full-dimension exact top-3, per 10 sampled
    * queries. emb-mrl-recall prices ONE truncation on the isotropic
    * corpus (where recall has no signal to lose); this is the sweep on
    * data where truncation actually costs something — the dims=8 row
    * is full-vs-full (exact 1.0 by construction, the curve's anchor),
    * and the curve shows what serving at 4× / 2× less compute buys.
    * Same broadcast-query audit shape as ann-topk-bruteforce, once per
    * prefix width, all sharing one corpus scan. */
  val embMrlCurveClustered: Q = (s, _) => {
    val all = RelMore40.cvecs(s).select(col("vec_id"), col("v")).sharedCache()
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    def top3(dims: Int): DataFrame = {
      val wR = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
      broadcast(q).crossJoin(all)
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(expr(s"cosine_similarity(slice(qv, 1, $dims), slice(v, 1, $dims))"), 9).as("cosine"))
        .withColumn("rank", row_number().over(wR)).filter(col("rank") <= 3)
        .select(col("query_id"), col("neighbor_id"))
    }
    val full = top3(8).withColumn("hit", lit(1L))
    Seq(2, 4, 8).map { dims =>
      top3(dims)
        .join(full, Seq("query_id", "neighbor_id"), "left_outer")
        .agg(coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
        .select(lit(dims.toLong).as("dims"), col("n_hits"),
          floor(col("n_hits") * lit(1000000L) / lit(30L)).cast(LongType).as("recall_micro"))
    }.reduce(_ unionAll _).orderBy("dims")
  }

  val embMrlCurveClusteredSql: String = {
    def cos(a: String, b: String, dims: Int): String = {
      val (x, y) = (s"$a[1:$dims]", s"$b[1:$dims]")
      s"""round(list_inner_product($x, $y) /
         |             (sqrt(list_inner_product($x, $x)) *
         |              sqrt(list_inner_product($y, $y))), 9)""".stripMargin
    }
    def top3(dims: Int, name: String): String =
      s"""$name AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${cos("q.v", "c.v", dims)} DESC, c.vec_id) AS rank
         |    FROM cvecs q JOIN cvecs c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE rank <= 3)""".stripMargin
    def scoreRow(dims: Int): String =
      s"""SELECT CAST($dims AS BIGINT) AS dims,
         |       CAST(coalesce(sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_hits,
         |       CAST(floor(coalesce(sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 END), 0) * 1000000 / 30) AS BIGINT) AS recall_micro
         |FROM t$dims t
         |LEFT JOIN full8 f ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id""".stripMargin
    s"""WITH ${RelMore40.compsSql},
       |${RelMore40.cvecsSql},
       |${top3(8, "full8")},
       |${top3(2, "t2")},
       |${top3(4, "t4")},
       |${top3(8, "t8")}
       |SELECT * FROM (
       |${scoreRow(2)}
       |UNION ALL
       |${scoreRow(4)}
       |UNION ALL
       |${scoreRow(8)}
       |) ORDER BY dims""".stripMargin
  }

  /** sink-vacuum-expire — what makes time travel AFFORDABLE: compaction
    * rewrites the live data (manifest v2 = one compacted file set),
    * the retention policy expires manifest v1, and vacuum identifies
    * every data dir no RETAINED manifest references — v1's original
    * deltas AND a failed writer's orphan dir that never made any
    * manifest. Without this job, sink-time-travel's history grows
    * forever; with it, storage is bounded by the retention window.
    * The audit proves safety: HEAD's row count is identical before and
    * after the eligible set is dropped, because vacuum by construction
    * only touches unreferenced files. Manifest/list I/O is driver-side
    * metadata; data movement is executor-side parquet. */
  val sinkVacuumExpire: Q = (s, d) => {
    import java.nio.file.{Files, Paths}
    val base = tmp("sink-vacuum-expire", d)
    Files.createDirectories(Paths.get(base))
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))
    val d1 = s"$base/delta-001"; val d2 = s"$base/delta-002"
    val compact = s"$base/compact-001"; val orphan = s"$base/orphan-tmp"
    o.filter(col("o_orderkey") % 3 === 0).write.mode(SaveMode.Overwrite).parquet(d1)
    o.filter(col("o_orderkey") % 3 === 1).write.mode(SaveMode.Overwrite).parquet(d2)
    Files.writeString(Paths.get(base, "manifest-v1.txt"), s"$d1\n$d2")
    // a failed writer left files but never committed a manifest
    o.filter(col("o_orderkey") % 3 === 2).write.mode(SaveMode.Overwrite).parquet(orphan)
    // compaction: rewrite v1's live set as one dir, commit v2
    s.read.parquet(d1).unionByName(s.read.parquet(d2))
      .write.mode(SaveMode.Overwrite).parquet(compact)
    Files.writeString(Paths.get(base, "manifest-v2.txt"), compact)
    Files.writeString(Paths.get(base, "HEAD"), "v2")
    val retained = Set("v2") // retention: keep only the last manifest
    def manifestDirs(v: String): Set[String] =
      Files.readString(Paths.get(base, s"manifest-$v.txt")).trim.split("\n").toSet
    val referenced = retained.flatMap(manifestDirs)
    val allDirs = Seq(d1, d2, compact, orphan)
    val headBefore = referenced.toSeq.sorted.map(s.read.parquet(_)).reduce(_ unionByName _).count()
    val rows = allDirs.map { dir =>
      val everManifested = manifestDirs("v1").contains(dir) || manifestDirs("v2").contains(dir)
      val live = referenced.contains(dir)
      val status =
        if (live) "LIVE"
        else if (everManifested) "EXPIRED_VACUUM"
        else "ORPHAN_VACUUM"
      val n = s.read.parquet(dir).count()
      (dir.split("/").last, status, n)
    }
    // vacuum: drop every non-live dir, then prove HEAD still serves
    rows.filter(_._2 != "LIVE").foreach { case (name, _, _) =>
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
      }
      rm(new java.io.File(s"$base/$name"))
    }
    val headAfter = referenced.toSeq.sorted.map(s.read.parquet(_)).reduce(_ unionByName _).count()
    import s.implicits._
    rows.map { case (name, status, n) =>
      (name, status, n, headBefore, headAfter)
    }.toDF("file_set", "status", "n_rows", "head_rows_before", "head_rows_after")
      .orderBy("file_set")
  }

  val sinkVacuumExpireSql: String =
    """WITH c0 AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 3 = 0),
      |c1 AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 3 = 1),
      |c2 AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 3 = 2),
      |head AS (SELECT CAST(c0.n + c1.n AS BIGINT) AS h FROM c0, c1)
      |SELECT * FROM (
      |  SELECT 'compact-001' AS file_set, 'LIVE' AS status,
      |         CAST(c0.n + c1.n AS BIGINT) AS n_rows, head.h AS head_rows_before,
      |         head.h AS head_rows_after
      |  FROM c0, c1, head
      |  UNION ALL
      |  SELECT 'delta-001', 'EXPIRED_VACUUM', CAST(c0.n AS BIGINT), head.h, head.h FROM c0, head
      |  UNION ALL
      |  SELECT 'delta-002', 'EXPIRED_VACUUM', CAST(c1.n AS BIGINT), head.h, head.h FROM c1, head
      |  UNION ALL
      |  SELECT 'orphan-tmp', 'ORPHAN_VACUUM', CAST(c2.n AS BIGINT), head.h, head.h FROM c2, head
      |) ORDER BY file_set""".stripMargin

  /** sink-commit-fence — optimistic concurrency on the manifest
    * protocol: a commit is (read HEAD as base → write your manifest →
    * compare-and-swap HEAD from base). Two writers race from the same
    * base v0: w1's CAS lands (HEAD v0→v1); w2's CAS sees HEAD ≠ its
    * base, ABORTS the blind write (which would have silently dropped
    * w1's rows — the lost-update anomaly this fence exists to stop),
    * rebases on v1 and commits v2 with BOTH deltas. The attempt log is
    * the graded output, plus the final row count proving no delta was
    * lost. This is the commit loop every table format (Iceberg/Delta)
    * runs under the hood; deterministic here because the race is
    * simulated sequentially. */
  val sinkCommitFence: Q = (s, d) => {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = tmp("sink-commit-fence", d)
    Files.createDirectories(Paths.get(base))
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))
    val dA = s"$base/delta-a"; val dB = s"$base/delta-b"
    o.filter(col("o_orderkey") % 4 === 0).write.mode(SaveMode.Overwrite).parquet(dA)
    o.filter(col("o_orderkey") % 4 === 1).write.mode(SaveMode.Overwrite).parquet(dB)
    Files.writeString(Paths.get(base, "manifest-v0.txt"), "")
    Files.writeString(Paths.get(base, "HEAD"), "v0")
    def head(): String = Files.readString(Paths.get(base, "HEAD")).trim
    def dirsOf(v: String): Seq[String] =
      Files.readString(Paths.get(base, s"manifest-$v.txt")).trim
        .split("\n").filter(_.nonEmpty).toSeq
    /** CAS commit: atomic-rename the HEAD pointer only if base still
      * current (sequentialized simulation of the object-store CAS). */
    def tryCommit(baseV: String, newV: String, dirs: Seq[String]): Boolean = {
      if (head() != baseV) false
      else {
        Files.writeString(Paths.get(base, s"manifest-$newV.txt"), dirs.mkString("\n"))
        val tmpP = Paths.get(base, s"HEAD.tmp-$newV")
        Files.writeString(tmpP, newV)
        Files.move(tmpP, Paths.get(base, "HEAD"),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        true
      }
    }
    val log = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String, String)]
    // both writers read base v0
    val w1Base = head(); val w2Base = head()
    val ok1 = tryCommit(w1Base, "v1", dirsOf(w1Base) :+ dA)
    log += (("w1", 1L, w1Base, if (ok1) "COMMITTED_v1" else "CONFLICT"))
    val ok2 = tryCommit(w2Base, "v2", dirsOf(w2Base) :+ dB)
    log += (("w2", 1L, w2Base, if (ok2) "COMMITTED_v2" else "CONFLICT"))
    // w2 rebases: re-read HEAD, merge ITS delta on top of what landed
    val w2Base2 = head()
    val ok3 = tryCommit(w2Base2, "v2", dirsOf(w2Base2) :+ dB)
    log += (("w2", 2L, w2Base2, if (ok3) "COMMITTED_v2" else "CONFLICT"))
    val finalRows = dirsOf(head()).map(s.read.parquet(_)).reduce(_ unionByName _).count()
    import s.implicits._
    log.toSeq.map { case (w, att, b, out) => (w, att, b, out, finalRows) }
      .toDF("writer", "attempt", "base_seen", "outcome", "final_rows")
      .orderBy("writer", "attempt")
  }

  val sinkCommitFenceSql: String =
    """WITH ca AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 4 = 0),
      |cb AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 4 = 1),
      |tot AS (SELECT CAST(ca.n + cb.n AS BIGINT) AS t FROM ca, cb)
      |SELECT * FROM (
      |  SELECT 'w1' AS writer, CAST(1 AS BIGINT) AS attempt, 'v0' AS base_seen,
      |         'COMMITTED_v1' AS outcome, tot.t AS final_rows FROM tot
      |  UNION ALL
      |  SELECT 'w2', 1, 'v0', 'CONFLICT', tot.t FROM tot
      |  UNION ALL
      |  SELECT 'w2', 2, 'v1', 'COMMITTED_v2', tot.t FROM tot
      |) ORDER BY writer, attempt""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("emb-mrl-curve-clustered", embMrlCurveClustered, embMrlCurveClusteredSql),
    Key("sink-vacuum-expire", sinkVacuumExpire, sinkVacuumExpireSql),
    Key("sink-commit-fence", sinkCommitFence, sinkCommitFenceSql))
}
