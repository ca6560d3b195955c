package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-9 batch B: weighted bipartite projection, multimodal shard
  * mix audit, fixed-width legacy ingestion, path trigram mining. */
object RelMore64 extends KeyModule {

  /** graph-bipartite-weight — the WEIGHTED co-purchase projection: the
    * graph family's edge lists throw the multiplicity away, but the
    * weight (number of shared orders per part pair) is what
    * collaborative filtering and edge-pruning thresholds actually
    * consume. Graded as the weight histogram (weight → edge count) —
    * size O(max weight), scale-invariant — rather than the edge list.
    * Same %29-thinned graph and scoped-partition discipline as the
    * family; the projection self-join is bounded by per-order basket
    * size, never all-pairs. */
  val graphBipartiteWeight: Q = (s, d) => withShufflePartitions(s, 8) {
    // r14 opt: base lines from the per-process fixture
    // (GraphOps.li29Stored) instead of a per-rep scan + distinct;
    // the WEIGHTED self-join (pair multiplicities) stays per-query —
    // the distinct pair fixture cannot carry counts
    val li = GraphOps.li29Stored(s, d)
    val weighted = li.as("a").join(li.as("b"), Seq("ok"))
      .filter(col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("weight"))
    val out = weighted.groupBy("weight")
      .agg(count(lit(1)).as("n_edges")).sharedCache()
    out.count() // materialize inside the partition scope
    out.orderBy("weight")
  }

  val graphBipartiteWeightSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |            FROM lineitem WHERE l_orderkey % 29 = 0),
      |w AS (SELECT a.pk AS u, b.pk AS v, count(*) AS weight
      |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |      GROUP BY a.pk, b.pk)
      |SELECT weight, count(*) AS n_edges
      |FROM w
      |GROUP BY weight
      |ORDER BY weight""".stripMargin

  /** mm-modality-balance — the shard-mix audit for multimodal training:
    * each shard streamed into a trainer should look like the global
    * modality distribution, or the data loader sees modality "bursts"
    * that destabilize the loss. Modality is the deterministic md5
    * assignment the mm family uses; shards are doc_id % 16. Graded
    * per (shard, modality): count, shard share, global share, and the
    * absolute deviation — all shares quantized by the exact-integer
    * floor, so the comparison is bit-stable. Two aggregates (corpus →
    * shard×modality, corpus → modality) joined on a 4-row broadcast:
    * nothing here grows with corpus size except the linear scans. */
  val mmModalityBalance: Q = (s, d) => {
    val modality = expr(
      "element_at(array('image', 'audio', 'video', 'text'), " +
        "CAST((instr('0123456789abcdef', substring(md5(concat('mb#', CAST(doc_id AS STRING))), 1, 1)) - 1) % 4 + 1 AS INT))")
    val tagged = documents(s, d)
      .select((col("doc_id") % 16).as("shard"), modality.as("modality"))
    val global = tagged.groupBy("modality").agg(count(lit(1)).as("n_global"))
      .withColumn("n_total", sum("n_global").over(Window.partitionBy()))
    val perShard = tagged.groupBy("shard", "modality").agg(count(lit(1)).as("n"))
      .withColumn("n_shard", sum("n").over(Window.partitionBy("shard")))
    perShard.join(broadcast(global), "modality")
      .select(col("shard"), col("modality"), col("n"),
        ratioFloor(col("n"), col("n_shard"), 6).as("shard_share"),
        ratioFloor(col("n_global"), col("n_total"), 6).as("global_share"))
      .withColumn("abs_dev", abs(col("shard_share") - col("global_share")))
      .orderBy("shard", "modality")
  }

  val mmModalityBalanceSql: String =
    s"""WITH tagged AS (
       |  SELECT doc_id % 16 AS shard,
       |         ['image', 'audio', 'video', 'text']
       |           [CAST((strpos('0123456789abcdef', substring(md5('mb#' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 4 + 1 AS INT)]
       |           AS modality
       |  FROM documents),
       |g AS (
       |  SELECT modality, count(*) AS n_global,
       |         sum(count(*)) OVER () AS n_total
       |  FROM tagged GROUP BY modality),
       |p AS (
       |  SELECT shard, modality, count(*) AS n,
       |         sum(count(*)) OVER (PARTITION BY shard) AS n_shard
       |  FROM tagged GROUP BY shard, modality)
       |SELECT p.shard, p.modality, p.n,
       |       ${ratioFloorSql("p.n", "p.n_shard", 6)} AS shard_share,
       |       ${ratioFloorSql("g.n_global", "g.n_total", 6)} AS global_share,
       |       abs(${ratioFloorSql("p.n", "p.n_shard", 6)} -
       |           ${ratioFloorSql("g.n_global", "g.n_total", 6)}) AS abs_dev
       |FROM p JOIN g USING (modality)
       |ORDER BY p.shard, p.modality""".stripMargin

  /** src-fixed-width — mainframe/legacy fixed-width ingestion, the one
    * classic text format the src family lacked: stage orders as padded
    * fixed-offset records (key@12, status@1, amount@15, date@10 — no
    * delimiter at all), read back with the plain text source, and
    * recover the columns by substring offsets + trim + cast. The graded
    * aggregate (per-status count and exact-decimal revenue) proves the
    * byte-offset parse round-trips every field. Scale: the text scan is
    * splittable by line, the parse is pure projection — no shuffle
    * before the terminal aggregate. */
  val srcFixedWidth: Q = (s, d) => {
    val dir = tmp("src-fixed-width", d)
    orders(s, d).select(concat(
      lpad(col("o_orderkey").cast(StringType), 12, " "),
      col("o_orderstatus"),
      lpad(dec2(col("o_totalprice")).cast(StringType), 15, " "),
      col("o_orderdate").cast(StringType)).as("value"))
      .write.mode("overwrite").text(dir)
    val parsed = s.read.text(dir).select(
      trim(substring(col("value"), 1, 12)).cast(LongType).as("okey"),
      substring(col("value"), 13, 1).as("status"),
      trim(substring(col("value"), 14, 15)).cast(DecimalType(18, 2)).as("price"),
      substring(col("value"), 29, 10).cast(DateType).as("odate"))
    parsed.groupBy("status")
      .agg(count(lit(1)).as("n_orders"),
        outNum(sum(col("price"))).as("revenue"),
        min("odate").as("first_date"),
        max("odate").as("last_date"))
      .orderBy("status")
  }

  val srcFixedWidthSql: String =
    """SELECT o_orderstatus AS status, count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       min(o_orderdate) AS first_date,
      |       max(o_orderdate) AS last_date
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY status""".stripMargin

  /** agg-path-trigrams — 3-step behavioral path mining over the event
    * stream (agg-event-transitions' bigram sibling): per user, events
    * ordered by (ts, event_id), every consecutive event-type trigram,
    * global top-10 paths. Two lead() calls on ONE per-user sort — no
    * self-join — then a count over at most |event_types|³ = 125
    * distinct paths: the reduce side is constant-size at any corpus
    * scale. */
  val aggPathTrigrams: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e2", lead("event_type", 1).over(w))
      .withColumn("e3", lead("event_type", 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
    ev.select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(10)
  }

  val aggPathTrigramsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS e1,
      |         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
      |         lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
      |  FROM events)
      |SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
      |FROM seq
      |WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      |GROUP BY 1
      |ORDER BY n DESC, path
      |LIMIT 10""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("graph-bipartite-weight", graphBipartiteWeight, graphBipartiteWeightSql),
    Key("mm-modality-balance", mmModalityBalance, mmModalityBalanceSql),
    Key("src-fixed-width", srcFixedWidth, srcFixedWidthSql),
    Key("agg-path-trigrams", aggPathTrigrams, aggPathTrigramsSql))
}
