package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-11 batch C: lake-metadata scaling — two-level stats pruning. */
object RelMore213 extends KeyModule {

  private val FilesPerMonth = 8

  /** layout-manifest-prune — the metadata tier layout-zonemap-skipping
    * (RelMore55.scala:33) deliberately flattens: at 100 TB a table has
    * millions of files, and the STATS CHECKS themselves become the
    * bottleneck — a flat zone-map reader touches every (file, min,
    * max) row per query. Iceberg/Delta answer with a hierarchy:
    * partition-level manifests (min/max over their files) are checked
    * first, file stats only inside surviving manifests. This op models
    * an orders table laid out as month partitions × 8 key-sorted files
    * (ntile within month — a PARTITIONED window), computes both stats
    * tiers, and replays two probe panels against them, counting stats
    * checks and files scanned:
    *  - point-month probes (month = M AND key = K): the manifest tier
    *    prunes 79/80 months, so hier checks |manifests| + 8 rows vs
    *    |files| flat — the metadata win, ~7× here and ~|files|/|parts|
    *    at lake scale;
    *  - key-range probes WITHOUT the partition column: every month's
    *    manifest key-range covers ~the full domain (keys arrive across
    *    all months), nothing prunes, and hier degrades to flat PLUS
    *    the manifest overhead — the honest negative case, and exactly
    *    why a layout's sort/cluster columns must match the predicate
    *    columns (layout-sort-key-advisor's decision).
    * files_scanned is emitted for both tiers from the same join, so
    * the op also certifies hierarchical pruning loses no files. The
    * oracle replays the identical model in SQL (ntile parity as in
    * layout-zonemap-skipping's oracle). SCALE: both stats relations
    * are metadata-sized (|files|, |partitions| rows — never the fact);
    * the fact is touched once to build the grid, with one partitioned
    * window; probe replay is a broadcast join against metadata. */
  val layoutManifestPrune: Q = (s, d) => {
    val o = orders(s, d).select(
      to_date(date_trunc("month", col("o_orderdate"))).as("m"),
      col("o_orderkey").as("k"))
    // the file grid: per-month key-sorted ntile — file key ranges are
    // disjoint within a month, overlapping across months
    val fs = o
      .withColumn("fid",
        ntile(FilesPerMonth).over(Window.partitionBy("m").orderBy("k")))
      .groupBy("m", "fid")
      .agg(min("k").as("kmin"), max("k").as("kmax"))
      .sharedCache()
    val nFiles = fs.count() // metadata-sized; also the single-stage fill
    val mf = fs.groupBy("m")
      .agg(min("kmin").as("mkmin"), max("kmax").as("mkmax"))
      .sharedCache()
    val nManifests = mf.count()
    val probes = orders(s, d).filter(col("o_orderkey") % 997 === 0)
      .select(col("o_orderkey").as("pk"),
        to_date(date_trunc("month", col("o_orderdate"))).as("pm"))
      .sharedCache()
    probes.count()

    // panel 1: point-month — manifest tier prunes on the partition col
    val pmMonths = probes.join(broadcast(mf),
      col("pm") === col("m") &&
        col("pk") >= col("mkmin") && col("pk") <= col("mkmax"))
    val pmChecks = pmMonths.join(broadcast(fs.withColumnRenamed("m", "fm")),
        col("m") === col("fm"))
      .groupBy("pk")
      .agg(count(lit(1)).as("file_stats_read"),
        sum(when(col("pk") >= col("kmin") && col("pk") <= col("kmax"), 1L)
          .otherwise(0L)).as("files_scanned"))
      .select(lit("point-month").as("kind"), col("pk"),
        (lit(nManifests) + col("file_stats_read")).as("stats_hier"),
        lit(nFiles).as("stats_flat"),
        col("files_scanned"))

    // panel 2: key-range, no partition column — manifests can't prune
    val lo = col("pk")
    val hi = col("pk") + lit(1500L)
    val krMonths = probes.join(broadcast(mf),
      col("mkmax") >= lo && col("mkmin") < hi)
    val krChecks = krMonths.join(broadcast(fs.withColumnRenamed("m", "fm")),
        col("m") === col("fm"))
      .groupBy("pk")
      .agg(count(lit(1)).as("file_stats_read"),
        sum(when(col("kmax") >= lo && col("kmin") < hi, 1L)
          .otherwise(0L)).as("files_scanned"))
      .select(lit("key-range").as("kind"), col("pk"),
        (lit(nManifests) + col("file_stats_read")).as("stats_hier"),
        lit(nFiles).as("stats_flat"),
        col("files_scanned"))

    pmChecks.unionByName(krChecks).orderBy("kind", "pk")
  }

  val layoutManifestPruneSql: String =
    s"""WITH o AS (
       |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
       |         o_orderkey AS k
       |  FROM orders),
       |f AS (SELECT m, ntile($FilesPerMonth) OVER (PARTITION BY m ORDER BY k) AS fid, k FROM o),
       |fs AS (SELECT m, fid, min(k) AS kmin, max(k) AS kmax FROM f GROUP BY m, fid),
       |mf AS (SELECT m, min(kmin) AS mkmin, max(kmax) AS mkmax FROM fs GROUP BY m),
       |nf AS (SELECT CAST(count(*) AS BIGINT) AS n_files FROM fs),
       |nm AS (SELECT CAST(count(*) AS BIGINT) AS n_manifests FROM mf),
       |probes AS (
       |  SELECT o_orderkey AS pk,
       |         CAST(date_trunc('month', o_orderdate) AS DATE) AS pm
       |  FROM orders WHERE o_orderkey % 997 = 0),
       |pm AS (
       |  SELECT 'point-month' AS kind, p.pk,
       |         nm.n_manifests + CAST(count(*) AS BIGINT) AS stats_hier,
       |         nf.n_files AS stats_flat,
       |         CAST(sum(CASE WHEN p.pk >= fs.kmin AND p.pk <= fs.kmax
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned
       |  FROM probes p
       |  JOIN mf ON p.pm = mf.m AND p.pk >= mf.mkmin AND p.pk <= mf.mkmax
       |  JOIN fs ON fs.m = mf.m
       |  CROSS JOIN nf CROSS JOIN nm
       |  GROUP BY p.pk, nf.n_files, nm.n_manifests),
       |kr AS (
       |  SELECT 'key-range' AS kind, p.pk,
       |         nm.n_manifests + CAST(count(*) AS BIGINT) AS stats_hier,
       |         nf.n_files AS stats_flat,
       |         CAST(sum(CASE WHEN fs.kmax >= p.pk AND fs.kmin < p.pk + 1500
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned
       |  FROM probes p
       |  JOIN mf ON mf.mkmax >= p.pk AND mf.mkmin < p.pk + 1500
       |  JOIN fs ON fs.m = mf.m
       |  CROSS JOIN nf CROSS JOIN nm
       |  GROUP BY p.pk, nf.n_files, nm.n_manifests)
       |SELECT * FROM pm UNION ALL SELECT * FROM kr
       |ORDER BY kind, pk""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("layout-manifest-prune", layoutManifestPrune, layoutManifestPruneSql))
}
