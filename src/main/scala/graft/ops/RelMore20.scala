package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch U: training-shard packing (the
  * WebDataset builder), functional-dependency and column profiling
  * audits, and market-concentration indexes.
  */
object RelMore20 extends KeyModule {

  /** mm-shard-pack — WebDataset-style training-shard assignment: docs
    * in deterministic id order, each shard holding ~20 KB by START
    * offset (a doc starting before the boundary belongs to the shard
    * even if it straddles it — the standard greedy pack). Per-shard
    * manifest: doc count, byte total, id range. The running sum is the
    * PrefixScan two-pass — per-partition byte totals to the driver
    * (one long each), prefix offsets stamped back in parallel —
    * identical assignment to the window form the oracle keeps, no
    * single-partition window at corpus scale. Companion of
    * text-pack-sequences one level up: tokens→sequences there,
    * docs→shards here. */
  val mmShardPack: Q = (s, d) => {
    documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .transform(df => graft.functions.PrefixScan.withRankCumSum(
        df, Seq(col("doc_id")), Some("n_chars"),
        rankName = "rn", cumName = "cum_end").df)
      .withColumn("shard_id",
        floor((col("cum_end") - col("n_chars")) / lit(20000L)).cast(LongType))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("bytes"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy("shard_id")
  }

  val mmShardPackSql: String =
    """WITH packed AS (
      |  SELECT doc_id, n_chars,
      |         sum(n_chars) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end
      |  FROM documents)
      |SELECT CAST(floor((cum_end - n_chars) / 20000) AS BIGINT) AS shard_id,
      |       count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS bytes,
      |       min(doc_id) AS first_doc,
      |       max(doc_id) AS last_doc
      |FROM packed
      |GROUP BY 1
      |ORDER BY shard_id""".stripMargin

  /** dq-fd-check — functional-dependency audit: does X → Y actually
    * hold in the data? One countDistinct per LHS group, violations =
    * groups with >1 RHS value. Checks a dependency that must hold
    * (custkey → nationkey) next to one that must NOT (brand → type) —
    * the schema-inference signal profilers mine and constraint
    * migrations must verify BEFORE declaring a key. One aggregate per
    * FD, map-side combined. */
  val dqFdCheck: Q = (s, d) => {
    def fd(df: DataFrame, name: String, x: String, y: String): DataFrame =
      df.groupBy(col(x)).agg(countDistinct(col(y)).as("k"))
        .agg(count(lit(1)).as("n_lhs"),
          count(when(col("k") > 1, 1)).as("n_violating"))
        .select(lit(name).as("fd"), col("n_lhs"), col("n_violating"))
    fd(customer(s, d), "custkey->nationkey", "c_custkey", "c_nationkey")
      .unionByName(fd(part(s, d), "brand->type", "p_brand", "p_type"))
      .unionByName(fd(orders(s, d), "orderkey->custkey", "o_orderkey", "o_custkey"))
      .orderBy("fd")
  }

  val dqFdCheckSql: String =
    """SELECT fd, n_lhs, n_violating FROM (
      |  SELECT 'custkey->nationkey' AS fd, count(*) AS n_lhs,
      |         count(CASE WHEN k > 1 THEN 1 END) AS n_violating
      |  FROM (SELECT c_custkey, count(DISTINCT c_nationkey) AS k
      |        FROM customer GROUP BY c_custkey)
      |  UNION ALL
      |  SELECT 'brand->type', count(*),
      |         count(CASE WHEN k > 1 THEN 1 END)
      |  FROM (SELECT p_brand, count(DISTINCT p_type) AS k
      |        FROM part GROUP BY p_brand)
      |  UNION ALL
      |  SELECT 'orderkey->custkey', count(*),
      |         count(CASE WHEN k > 1 THEN 1 END)
      |  FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS k
      |        FROM orders GROUP BY o_orderkey))
      |ORDER BY fd""".stripMargin

  /** dq-profile-columns — the column-profiling pass every dataset
    * lands with: per column, row count, distinct count, null count,
    * distinct ratio in exact ppm — in ONE scan via a multi-aggregate
    * row unpivoted with stack (the dq-rule-engine discipline: adding a
    * column adds zero passes; a profiler that scans per column reads
    * 100 TB × |columns|). */
  val dqProfileColumns: Q = (s, d) =>
    orders(s, d)
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("o_custkey")).as("d1"),
        count(when(col("o_custkey").isNull, 1)).as("u1"),
        countDistinct(col("o_orderstatus")).as("d2"),
        count(when(col("o_orderstatus").isNull, 1)).as("u2"),
        countDistinct(col("o_orderpriority")).as("d3"),
        count(when(col("o_orderpriority").isNull, 1)).as("u3"))
      .select(expr(
        """stack(3,
          |  'o_custkey', n, d1, u1,
          |  'o_orderstatus', n, d2, u2,
          |  'o_orderpriority', n, d3, u3) AS (column_name, n_rows, n_distinct, n_null)""".stripMargin))
      .withColumn("distinct_ppm",
        floor(col("n_distinct") * lit(1000000L) / col("n_rows")).cast(LongType))
      .orderBy("column_name")

  val dqProfileColumnsSql: String =
    """SELECT column_name, n_rows, n_distinct, n_null,
      |       CAST(floor(n_distinct * 1000000 / n_rows) AS BIGINT) AS distinct_ppm
      |FROM (
      |  SELECT 'o_custkey' AS column_name, count(*) AS n_rows,
      |         count(DISTINCT o_custkey) AS n_distinct,
      |         count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_null
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus', count(*), count(DISTINCT o_orderstatus),
      |         count(CASE WHEN o_orderstatus IS NULL THEN 1 END) FROM orders
      |  UNION ALL
      |  SELECT 'o_orderpriority', count(*), count(DISTINCT o_orderpriority),
      |         count(CASE WHEN o_orderpriority IS NULL THEN 1 END) FROM orders)
      |ORDER BY column_name""".stripMargin

  /** agg-hhi-concentration — Herfindahl–Hirschman market-concentration
    * index per year: brand revenue shares in floor-ppm, HHI = Σ share²
    * (scaled back to ppm by integer division) — the antitrust-grade
    * "how concentrated is this market" scalar, and the skew early-
    * warning for partitioning keys (HHI over key frequencies predicts
    * shuffle hotspots). Quantizing shares BEFORE squaring keeps every
    * term in BIGINT — squaring raw cent totals would overflow at
    * sf0.1 already. */
  val aggHhiConcentration: Q = (s, d) => {
    val rev = lineitem(s, d)
      .join(part(s, d).select("p_partkey", "p_brand"),
        col("p_partkey") === col("l_partkey"))
      .groupBy(year(col("l_shipdate")).as("yr"), col("p_brand"))
      .agg(sum(expr("CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) * 10000 AS BIGINT)"))
        .as("rev_u"))
    val wYr = Window.partitionBy("yr")
    rev
      .withColumn("share_ppm",
        floor(col("rev_u") * lit(1000000L) / sum("rev_u").over(wYr)).cast(LongType))
      .groupBy("yr")
      .agg(count(lit(1)).as("n_brands"),
        floor(sum(col("share_ppm") * col("share_ppm")) / lit(1000000L)).cast(LongType)
          .as("hhi_ppm"))
      .orderBy("yr")
  }

  val aggHhiConcentrationSql: String =
    """WITH rev AS (
      |  SELECT year(l.l_shipdate) AS yr, p.p_brand,
      |         CAST(sum(CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
      |                       * 10000 AS BIGINT)) AS BIGINT) AS rev_u
      |  FROM lineitem l
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY year(l.l_shipdate), p.p_brand),
      |shares AS (
      |  SELECT yr, p_brand,
      |         CAST(floor(rev_u * 1000000 / sum(rev_u) OVER (PARTITION BY yr)) AS BIGINT) AS share_ppm
      |  FROM rev)
      |SELECT yr, count(*) AS n_brands,
      |       CAST(floor(sum(share_ppm * share_ppm) / 1000000) AS BIGINT) AS hhi_ppm
      |FROM shares
      |GROUP BY yr
      |ORDER BY yr""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("mm-shard-pack", mmShardPack, mmShardPackSql),
    Key("dq-fd-check", dqFdCheck, dqFdCheckSql),
    Key("dq-profile-columns", dqProfileColumns, dqProfileColumnsSql),
    Key("agg-hhi-concentration", aggHhiConcentration, aggHhiConcentrationSql))
}
