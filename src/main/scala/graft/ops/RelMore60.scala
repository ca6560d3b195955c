package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-8 batch D: SELECT * EXCEPT surface, log-scale histograms,
  * exact Markov stationary iteration, embedding centroid drift. */
object RelMore60 extends KeyModule {

  /** sql-select-except — the SELECT * EXCEPT projection (Spark 3.4+,
    * BigQuery/DuckDB lineage): project everything BUT the named
    * columns, the ergonomic star for wide tables where listing 200
    * kept columns to drop 2 is the maintenance hazard. Catalyst
    * expands the star minus the exclusions at analysis time, so column
    * pruning sees an ordinary explicit projection. The oracle spells
    * the expansion (DuckDB's own form is EXCLUDE). */
  val sqlSelectExcept: Q = (s, d) => {
    orders(s, d).createOrReplaceTempView("orders_sexc")
    s.sql(
      """SELECT * EXCEPT (o_custkey, o_orderpriority) FROM orders_sexc
        |WHERE o_orderkey % 500 = 0
        |ORDER BY o_orderkey""".stripMargin)
  }

  val sqlSelectExceptSql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
      |FROM orders
      |WHERE o_orderkey % 500 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** agg-log2-histogram — powers-of-two histogram of document lengths,
    * the right binning for heavy-tailed size distributions where
    * fixed-width bins (agg-histogram) put everything in bucket 0: a
    * corpus length profile, token-budget planning, and the shard-size
    * model all read log-scale. The bucket index floor(log₂ n)+1 comes
    * from the BINARY STRING LENGTH — exact integer, immune to the
    * ln(2ᵏ)/ln 2 ulp-boundary hazard a float log₂ would hit exactly at
    * every bucket edge. One map-side-combined aggregate. */
  val aggLog2Histogram: Q = (s, d) => {
    documents(s, d)
      .select(col("n_chars"), length(bin(col("n_chars"))).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"),
        sum(col("n_chars")).as("total_chars"))
      .select(col("bucket").cast(IntegerType).as("bucket"), col("n_docs"),
        col("min_chars"), col("max_chars"), col("total_chars"))
      .orderBy("bucket")
  }

  val aggLog2HistogramSql: String =
    """SELECT CAST(length(printf('%b', n_chars)) AS INT) AS bucket,
      |       count(*) AS n_docs,
      |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** agg-markov-stationary — stationary distribution of the event-type
    * Markov chain by EXACT integer power iteration: the transition
    * matrix in floored ppm (agg-event-transitions' convention), then 5
    * steps of v ← ⌊v·M/10⁶⌋ from the uniform start, all in scaled
    * integers — no float ever enters, so the iterate is bit-exact on
    * both engines by construction (where a double iteration would
    * accumulate libm noise across steps). The matrix is |types|² rows;
    * each step is a tiny join+sum — the pattern scales to any state
    * count whose matrix fits a broadcast, and the heavy work stays in
    * the one per-user lag window that builds the counts. */
  val aggMarkovStationary: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag("event_type", 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val wTot = Window.partitionBy("from_type")
    val m = trans
      .withColumn("p_ppm",
        floor(col("n") * lit(1000000L) / sum("n").over(wTot)).cast(LongType))
      .select("from_type", "to_type", "p_ppm")
      .sharedCache()
    val states = m.select(col("from_type").as("state")).distinct()
    val nStates = states.count()
    var v = states.select(col("state"), lit(1000000L / nStates).as("v_ppm"))
    for (_ <- 1 to 5) {
      v = v.join(m, col("state") === col("from_type"))
        .groupBy(col("to_type").as("state"))
        .agg(floor(sum(col("v_ppm") * col("p_ppm")) / lit(1000000L))
          .cast(LongType).as("v_ppm"))
    }
    v.orderBy("state")
  }

  val aggMarkovStationarySql: String = {
    val iters = (1 to 5).map { i =>
      s"""v$i AS (
         |  SELECT m.to_type AS state,
         |         CAST(floor(sum(v.v_ppm * m.p_ppm) / 1000000) AS BIGINT) AS v_ppm
         |  FROM v${i - 1} v JOIN m ON m.from_type = v.state
         |  GROUP BY m.to_type)""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS (
       |  SELECT user_id, event_type,
       |         lag(event_type) OVER (PARTITION BY user_id
       |                               ORDER BY date_trunc('microseconds', ts), event_id) AS from_type
       |  FROM events),
       |trans AS (
       |  SELECT from_type, event_type AS to_type, count(*) AS n
       |  FROM seq WHERE from_type IS NOT NULL
       |  GROUP BY from_type, event_type),
       |m AS (
       |  SELECT from_type, to_type,
       |         CAST(floor(n * 1000000 / sum(n) OVER (PARTITION BY from_type)) AS BIGINT) AS p_ppm
       |  FROM trans),
       |states AS (SELECT DISTINCT from_type AS state FROM m),
       |v0 AS (SELECT state,
       |              CAST(1000000 // (SELECT count(*) FROM states) AS BIGINT) AS v_ppm
       |       FROM states),
       |$iters
       |SELECT state, v_ppm FROM v5
       |ORDER BY state""".stripMargin
  }

  /** emb-centroid-drift — per-label centroid displacement between the
    * first and second half of the corpus (vec_id split at the midpoint):
    * ‖c_A − c_B‖² per label, the embedding-space counterpart of
    * dq-drift-ppm — a re-embedded or re-crawled corpus whose class
    * centroids moved is a model/data drift alarm BEFORE any model
    * retrains on it. Complements emb-drift-dims (per-dimension) with
    * the per-class view. Same exact-sum/one-division centroid
    * discipline as emb-kmeans-assign; the displacement is the identical
    * dot-product expansion, floor-quantized. */
  val embCentroidDrift: Q = (s, d) => {
    graft.functions.DotProduct.register(s)
    val bounds = embeddings(s, d).agg(
      expr("(min(vec_id) + max(vec_id) + 1) div 2").as("mid"))
    val base = embeddings(s, d).crossJoin(broadcast(bounds))
      .select(col("label"), (col("vec_id") < col("mid")).as("first_half"),
        expr("quantize_lattice_long(embedding, 1000000.0D)").as("xi"))
    val comp = base.select(col("label"), col("first_half"),
      posexplode(col("xi")).as(Seq("pos", "x")))
    val cent = comp.groupBy("label", "first_half", "pos")
      .agg(sum(col("x")).as("sd"), count(lit(1)).as("n"))
      .groupBy("label", "first_half")
      .agg(expr("transform(array_sort(collect_list(struct(pos, sd))), s -> CAST(s.sd AS DOUBLE))").as("sv"),
        max(col("n")).as("n"))
      .select(col("label"), col("first_half"),
        expr("transform(sv, x -> x / CAST(n AS DOUBLE))").as("cv"), col("n"))
    val a = cent.filter(col("first_half"))
      .select(col("label"), col("cv").as("ca"), col("n").as("n_a"))
    val b = cent.filter(!col("first_half"))
      .select(col("label"), col("cv").as("cb"), col("n").as("n_b"))
    a.join(b, Seq("label"))
      .select(col("label"), col("n_a"), col("n_b"),
        floor(expr("dot_product(ca, ca) - 2 * dot_product(ca, cb) + dot_product(cb, cb)"))
          .cast(LongType).as("disp2_q"))
      .orderBy("label")
  }

  val embCentroidDriftSql: String =
    """WITH bounds AS (
      |  SELECT (min(vec_id) + max(vec_id) + 1) // 2 AS mid FROM embeddings),
      |base AS (
      |  SELECT label, vec_id < mid AS first_half,
      |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xi
      |  FROM embeddings CROSS JOIN bounds),
      |comp AS (
      |  SELECT label, first_half, unnest(xi) AS x, unnest(range(1, len(xi) + 1)) AS pos
      |  FROM base),
      |cent AS (
      |  SELECT label, first_half,
      |         list(CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY pos) AS cv,
      |         max(n) AS n
      |  FROM (SELECT label, first_half, pos, CAST(sum(x) AS BIGINT) AS sd, count(*) AS n
      |        FROM comp GROUP BY 1, 2, 3)
      |  GROUP BY label, first_half)
      |SELECT a.label, a.n AS n_a, b.n AS n_b,
      |       CAST(floor(list_inner_product(a.cv, a.cv)
      |              - 2 * list_inner_product(a.cv, b.cv)
      |              + list_inner_product(b.cv, b.cv)) AS BIGINT) AS disp2_q
      |FROM cent a JOIN cent b ON b.label = a.label AND NOT b.first_half
      |WHERE a.first_half
      |ORDER BY a.label""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sql-select-except", sqlSelectExcept, sqlSelectExceptSql),
    Key("agg-log2-histogram", aggLog2Histogram, aggLog2HistogramSql),
    Key("agg-markov-stationary", aggMarkovStationary, aggMarkovStationarySql),
    Key("emb-centroid-drift", embCentroidDrift, embCentroidDriftSql))
}
