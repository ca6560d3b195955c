package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-8 batch H: Brandes betweenness from a fixed seed sample and
  * the eccentricity/diameter sweep, both over the co-purchase part
  * graph. Both ops are depth-capped at L = 6 (declared): dependencies
  * and eccentricities count only shortest paths of length ≤ 6, which
  * makes the unrolled level structure identical in both engines and
  * keeps the cost bounded at ANY corpus size (6 frontier expansions,
  * not a diameter-dependent loop). */
object RelMore172 extends KeyModule {

  private val MaxLev = 6

  /** The sampled co-purchase edge list — both directions of the shared
    * per-process pair fixture (GraphOps.pairs29Stored; r14 opt — the
    * knnExactStored lever, SCALING.md r14 lesson 3). */
  private def edgesOf(s: SparkSession, d: String): DataFrame = {
    val prs = GraphOps.pairs29Stored(s, d)
    prs.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(prs.select(col("v").as("src"), col("u").as("dst")))
  }

  /** The 4-seed forward BFS with shortest-path counting, staged once
    * per process (r14 opt): the 6-level frontier loop (6 × join +
    * anti-join + aggregate + localCheckpoint ≈ 20 sequential stages)
    * is the dominant shared cost of both consumers — betweenness'
    * backward pass and eccentricity's per-seed max both read ONLY this
    * table. Content is identical to the per-query loop it replaces
    * (same edges, same seeds, same level arithmetic; sigma is an exact
    * Long sum). */
  private def bfsStored(s: SparkSession, d: String): DataFrame =
    Tables.storedOnce(s, tmp("graph-copurch29-bfs6", d)) { tmpDir =>
      val edges = edgesOf(s, d).persist()
      val nodes = edges.select(col("src").as("node")).distinct()
      val seeds = nodes.orderBy("node").limit(4)
      var frontier = seeds.select(col("node").as("seed"), col("node"),
        lit(0).as("dist"), lit(1L).as("sigma")).localCheckpoint()
      var bfs = frontier
      for (i <- 1 to MaxLev) {
        val cand = frontier.join(edges, col("node") === col("src"))
          .select(col("seed"), col("dst").as("node"), col("sigma"))
        val nxt = cand
          .join(bfs.select("seed", "node"), Seq("seed", "node"), "left_anti")
          .groupBy("seed", "node").agg(sum("sigma").as("sigma"))
          .withColumn("dist", lit(i))
          .select("seed", "node", "dist", "sigma")
          .localCheckpoint()
        bfs = bfs.unionByName(nxt).localCheckpoint()
        frontier = nxt
      }
      bfs.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmpDir)
      edges.unpersist()
    }

  /** Serve the per-process BFS/edge fixtures, cached + single-stage
    * filled for the consumer's diamond reads (the r11 block-race
    * rule). */
  private def bfsSigma(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val edges = edgesOf(s, d).sharedCache()
    val nodes = edges.select(col("src").as("node")).distinct().sharedCache()
    val bfsC = bfsStored(s, d).sharedCache()
    bfsC.count()
    (bfsC, edges, nodes)
  }

  /** The shared BFS SQL: lv0..lv6 CTEs with NOT-IN visited guards,
    * union'd into bfs(seed, node, dist, sigma). */
  private def bfsSqlCtes: String = {
    val levels = (1 to MaxLev).map { i =>
      val vis = (0 until i).map(j => s"SELECT seed, node FROM lv$j").mkString(" UNION ALL ")
      s"""lv$i AS MATERIALIZED (
         |  SELECT c.seed, c.node, $i AS dist, CAST(sum(c.sigma) AS BIGINT) AS sigma
         |  FROM (
         |    SELECT f.seed, e.dst AS node, f.sigma
         |    FROM lv${i - 1} f JOIN edges e ON f.node = e.src) c
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM ($vis) v WHERE v.seed = c.seed AND v.node = c.node)
         |  GROUP BY c.seed, c.node)""".stripMargin
    }.mkString(",\n")
    val union = (0 to MaxLev).map(i => s"SELECT * FROM lv$i").mkString(" UNION ALL ")
    s"""li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |       FROM lineitem WHERE l_orderkey % 29 = 0),
       |prs AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
       |        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |edges AS MATERIALIZED (SELECT u AS src, v AS dst FROM prs
       |          UNION ALL SELECT v, u FROM prs),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       |seeds AS MATERIALIZED (SELECT node FROM nodes ORDER BY node LIMIT 4),
       |lv0 AS MATERIALIZED (SELECT node AS seed, node, 0 AS dist, CAST(1 AS BIGINT) AS sigma
       |        FROM seeds),
       |$levels,
       |bfs AS MATERIALIZED ($union)""".stripMargin
  }

  /** graph-betweenness-sampled — Brandes' dependency accumulation
    * from a 4-seed sample, depth-capped at 6: forward BFS counts
    * shortest paths σ, then the backward pass folds
    * δ(v) = Σ_{w∈succ(v)} σ(v)/σ(w)·(1+δ(w)) level by level, each
    * level's deltas rounded to 9 dp (the pagerank discipline — float
    * noise cannot compound across levels). The score Σ_seeds δ is the
    * sampled betweenness estimate — the standard scalable form
    * (exact Brandes is one BFS per NODE; seeds-to-all is the
    * estimator every large-graph library ships). Top-10 brokers with
    * node tiebreak. Closeness (graph-closeness-centrality) finds the
    * CENTER; betweenness finds the BOTTLENECKS — the nodes whose
    * removal disconnects flow, invisible to degree and closeness. */
  val graphBetweennessSampled: Q = (s, d) => withShufflePartitions(s, 8) {
    val (bfs, edges, _) = bfsSigma(s, d)
    // The per-level localCheckpoint is LOAD-BEARING here even though
    // each level reads deltaPrev once (the lazyChain criterion's other
    // clause): the final union takes EVERY level as a branch, so a lazy
    // dlev_k would re-execute inside dlev_(k-1)'s subtree AND as its
    // own union branch — O(levels) re-execution (measured r13: the lazy
    // form was no faster under load; the checkpoint form keeps each
    // level computed exactly once for 5 cheap driver actions).
    var deltaPrev: DataFrame = bfs.filter(col("dist") === MaxLev)
      .select(col("seed"), col("node"), lit(0.0).as("delta"))
      .localCheckpoint()
    val perLevel = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (lev <- (MaxLev - 1) to 1 by -1) {
      val wSide = bfs.filter(col("dist") === lev + 1)
        .join(deltaPrev.select(col("seed"), col("node"), col("delta")),
          Seq("seed", "node"), "left")
        .na.fill(0.0, Seq("delta"))
        .select(col("seed"), col("node").as("w"), col("sigma").as("sw"),
          col("delta").as("dw"))
      val dlev = bfs.filter(col("dist") === lev)
        .select(col("seed"), col("node"), col("sigma").as("sv"))
        .join(edges, col("node") === col("src"))
        .select(col("seed"), col("node"), col("sv"), col("dst").as("w"))
        .join(wSide, Seq("seed", "w"))
        .groupBy("seed", "node")
        .agg(round(sum(col("sv").cast(DoubleType) / col("sw") *
          (lit(1.0) + col("dw"))), 9).as("delta"))
        .localCheckpoint()
      perLevel += dlev
      deltaPrev = dlev
    }
    val out = perLevel.reduce(_ unionByName _)
      .groupBy("node")
      .agg(round(sum("delta"), 6).as("betweenness"),
        count(lit(1)).as("n_seed_paths"))
      .orderBy(desc("betweenness"), col("node"))
      .limit(10)
      .sharedCache()
    out.count()
    out
  }

  val graphBetweennessSampledSql: String = {
    val backs = ((MaxLev - 1) to 1 by -1).map { lev =>
      val prevDelta =
        if (lev == MaxLev - 1) s"SELECT seed, node, 0.0 AS delta FROM bfs WHERE dist = $MaxLev"
        else s"SELECT seed, node, delta FROM d${lev + 1}"
      s"""d$lev AS MATERIALIZED (
         |  SELECT v.seed, v.node,
         |         round(sum(CAST(v.sigma AS DOUBLE) / w.sigma * (1.0 + COALESCE(pd.delta, 0.0))), 9)
         |           AS delta
         |  FROM (SELECT seed, node, sigma FROM bfs WHERE dist = $lev) v
         |  JOIN edges e ON v.node = e.src
         |  JOIN (SELECT seed, node, sigma FROM bfs WHERE dist = ${lev + 1}) w
         |    ON w.seed = v.seed AND w.node = e.dst
         |  LEFT JOIN ($prevDelta) pd ON pd.seed = w.seed AND pd.node = w.node
         |  GROUP BY v.seed, v.node)""".stripMargin
    }.mkString(",\n")
    val unionD = ((MaxLev - 1) to 1 by -1).map(l => s"SELECT * FROM d$l").mkString(" UNION ALL ")
    s"""WITH $bfsSqlCtes,
       |$backs
       |SELECT node, round(sum(delta), 6) AS betweenness,
       |       CAST(count(*) AS BIGINT) AS n_seed_paths
       |FROM ($unionD) u
       |GROUP BY node
       |ORDER BY betweenness DESC, node
       |LIMIT 10""".stripMargin
  }

  /** graph-eccentricity-sweep — capped eccentricity from the same
    * 4-seed BFS: per seed the farthest reached level (≤ 6), how many
    * nodes were reached, and the reach share; the max over seeds is
    * the standard multi-sweep DIAMETER lower bound. The companion
    * number to graph-closeness-centrality's per-node view: one sweep
    * prices "how wide is this graph" before anyone schedules an
    * all-pairs job. */
  val graphEccentricitySweep: Q = (s, d) => withShufflePartitions(s, 8) {
    val (bfs, _, nodes) = bfsSigma(s, d)
    val nn = nodes.agg(count(lit(1)).as("n_nodes"))
    val per = bfs.groupBy("seed")
      .agg(max("dist").as("ecc_capped"), count(lit(1)).as("n_reached"))
    val diam = per.agg(max("ecc_capped").as("diameter_lb"))
    val out = per.crossJoin(broadcast(nn)).crossJoin(broadcast(diam))
      .select(col("seed"), col("ecc_capped").cast(LongType).as("ecc_capped"),
        col("n_reached"), col("n_nodes"),
        ratioFloor(col("n_reached"), col("n_nodes"), 4).as("reach_share"),
        col("diameter_lb").cast(LongType).as("diameter_lb"))
      .orderBy("seed")
      .sharedCache()
    out.count()
    out
  }

  val graphEccentricitySweepSql: String =
    s"""WITH $bfsSqlCtes,
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
       |per AS (
       |  SELECT seed, max(dist) AS ecc_capped,
       |         CAST(count(*) AS BIGINT) AS n_reached
       |  FROM bfs GROUP BY seed),
       |diam AS (SELECT max(ecc_capped) AS diameter_lb FROM per)
       |SELECT seed, CAST(ecc_capped AS BIGINT) AS ecc_capped, n_reached, n_nodes,
       |       floor(CAST(n_reached AS DOUBLE) * 1e4 / n_nodes) / 1e4 AS reach_share,
       |       CAST(diameter_lb AS BIGINT) AS diameter_lb
       |FROM per CROSS JOIN nn CROSS JOIN diam
       |ORDER BY seed""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("graph-betweenness-sampled", graphBetweennessSampled, graphBetweennessSampledSql),
    Key("graph-eccentricity-sweep", graphEccentricitySweep, graphEccentricitySweepSql))
}
