package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-4 continuation batch H: TPC-H Q18 (IN-subquery + HAVING),
  * decile reporting, URL parsing, weighted shortest paths, and
  * funnel time-to-convert statistics.
  */
object RelMore8 extends KeyModule {

  /** sql-tpch-q18 — large-volume customers: IN over a HAVING-filtered
    * aggregate subquery, a 3-table join, top-k — SQL front door #5.
    *
    * r15 (§2.4 remove shuffles outright / §1.2 the distributed
    * algorithm): the raw-SQL form made Catalyst aggregate lineitem by
    * orderkey TWICE (the IN-subquery became two LeftSemi builds — one
    * against lineitem, one against orders — with NO exchange reuse
    * between them) and then re-aggregate the joined lineitem rows a
    * third time for sum_qty: 3 lineitem scans, 3 orderkey aggregates.
    * Because o_orderkey is unique in orders and c_custkey unique in
    * customer (generator PK invariant, TESTDATA.md), the per-group
    * sum after the 3-table join IS the per-orderkey sum, so one
    * aggregate does all three jobs: aggregate lineitem once, HAVING-
    * filter it (sum > 150 keeps a handful of orders — that cut is
    * what keeps the broadcast side small at 100 TB), broadcast the
    * survivors into orders, broadcast that into customer. 1 lineitem
    * scan, 1 orderkey exchange, no re-aggregation. Declared output
    * identical (oracle unchanged): sum over the joined rows of each
    * surviving group = the orderkey sum by PK-uniqueness. */
  val sqlTpchQ18: Q = (s, d) => {
    val qty = lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec2(col("l_quantity"))).as("qsum"))
      .filter(col("qsum") > 150)
    val o = orders(s, d).join(broadcast(qty), col("o_orderkey") === col("l_orderkey"))
    customer(s, d).join(o, col("c_custkey") === col("o_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("orderdate"),
        outNum(dec2(col("o_totalprice"))).as("totalprice"),
        outNum(col("qsum")).as("sum_qty"))
      .orderBy(desc("totalprice"), col("o_orderkey"))
      .limit(100)
  }

  val sqlTpchQ18Sql: String =
    """SELECT c.c_name, c.c_custkey, o.o_orderkey,
      |       CAST(o.o_orderdate AS DATE) AS orderdate,
      |       CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice,
      |       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |WHERE o.o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey
      |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150)
      |GROUP BY c.c_name, c.c_custkey, o.o_orderkey, CAST(o.o_orderdate AS DATE),
      |         CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
      |ORDER BY totalprice DESC, o.o_orderkey
      |LIMIT 100""".stripMargin

  /** agg-decile-report — decile analysis: orders ranked into 10 equal
    * buckets by price (ntile), then per-decile count, exact total, and
    * share of grand revenue in integer micro-units. The classic
    * warehouse concentration report ("top decile carries X% of
    * revenue"); grand total via a window over the 10-row aggregate,
    * not a second scan. The ntile itself is NOT a global window: rank
    * comes from the PrefixScan two-pass (range partition + per-
    * partition offsets — no single-partition sort at fact scale) and
    * the SQL-standard bucket formula reconstructs ntile(10) from
    * (rank, N) exactly, so the oracle stays plain window SQL. The
    * approximate sibling (agg-decile-approx) trades exact equal-depth
    * buckets for approx_percentile boundaries + comparison bucketing. */
  val aggDecileReport: Q = (s, d) => {
    val base = orders(s, d)
      .select(col("o_orderkey"),
        (dec2(col("o_totalprice")) * 100).cast(LongType).as("cents"))
    val scanned = graft.functions.PrefixScan.withRankCumSum(
      base, Seq(col("cents").desc, col("o_orderkey")), None, rankName = "rn")
    val deciled = scanned.df.withColumn("decile",
      graft.functions.PrefixScan.ntileFromRank(10, scanned.n, col("rn")))
    val byDecile = deciled.groupBy("decile")
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("c"))
      .sharedCache()
    // r13: grand-total share via broadcast of a 1-row agg instead of an
    // unpartitioned window over the 10 decile rows (same value, census-
    // clean shape; the window was bounded but the window-free form costs
    // nothing and keeps the census allowlist honest)
    byDecile.count()
    val tot = byDecile.agg(sum("c").as("tot_c"))
    byDecile.crossJoin(broadcast(tot))
      .withColumn("share_micro",
        floor(col("c") * lit(1000000L) / col("tot_c")).cast(LongType))
      .select(col("decile").cast(IntegerType).as("decile"), col("n_orders"),
        outNum(col("c") / 100).as("revenue"), col("share_micro"))
      .orderBy("decile")
  }

  val aggDecileReportSql: String =
    """WITH deciled AS (
      |  SELECT o_orderkey,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |         ntile(10) OVER (ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DESC,
      |                         o_orderkey) AS decile
      |  FROM orders),
      |agg AS (
      |  SELECT decile, count(*) AS n_orders, CAST(sum(cents) AS BIGINT) AS c
      |  FROM deciled GROUP BY decile)
      |SELECT CAST(decile AS INT) AS decile, n_orders,
      |       CAST(c / 100 AS DOUBLE) AS revenue,
      |       CAST(floor(c * 1000000 / sum(c) OVER ()) AS BIGINT) AS share_micro
      |FROM agg
      |ORDER BY decile""".stripMargin

  /** func-url-suite — URL parsing: synthesize a deterministic URL per
    * customer, then extract host / path / a query parameter with
    * Spark's native parse_url (codegen'd). DuckDB has no URL parser —
    * the twins are the equivalent anchored regexes, which pins the
    * exact component grammar. The production use is dedup-url's
    * canonicalization; this op exposes the component-level surface. */
  val funcUrlSuite: Q = (s, d) =>
    customer(s, d)
      .select(col("c_custkey"),
        concat(lit("https://shop"), col("c_custkey") % 5,
          lit(".example.com/cat/"), lower(col("c_mktsegment")),
          lit("/item?id="), col("c_custkey"),
          lit("&ref=mail")).as("url"))
      .select(col("c_custkey"), col("url"),
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY')").as("query"),
        expr("parse_url(url, 'QUERY', 'id')").as("param_id"),
        expr("parse_url(url, 'PROTOCOL')").as("protocol"))
      .orderBy("c_custkey")

  val funcUrlSuiteSql: String =
    """WITH u AS (
      |  SELECT c_custkey,
      |         'https://shop' || (c_custkey % 5) || '.example.com/cat/' ||
      |         lower(c_mktsegment) || '/item?id=' || c_custkey || '&ref=mail' AS url
      |  FROM customer)
      |SELECT c_custkey, url,
      |       regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
      |       regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
      |       regexp_extract(url, '\?([^#]*)', 1) AS query,
      |       regexp_extract(url, '[?&]id=([^&#]*)', 1) AS param_id,
      |       regexp_extract(url, '^([a-z]+)://', 1) AS protocol
      |FROM u
      |ORDER BY c_custkey""".stripMargin

  /** graph-shortest-path — weighted single-source shortest paths,
    * 3 Bellman-Ford relaxation rounds over the part↔supplier graph
    * (edge weight = the minimum observed line quantity, integer-exact):
    * dist' = min(dist, min over in-edges of dist[src] + w). Each round
    * is one join frontier×edges + one min-aggregate — the weighted
    * generalization of graph-bfs, and the same bounded-iteration
    * discipline as graph-pagerank (3 rounds ≈ diameter of interest;
    * convergence detection would add a driver-side count per round).
    * Oracle: the identical three relaxations as chained CTEs. */
  val graphShortestPath: Q = (s, d) => withShufflePartitions(s, 8) {
    // r14 opt: the relax loop runs on 8-byte even/odd long node ids
    // (the graph-pagerank encoding — GraphOps.longNodeToStr maps back
    // at output): string keys paid UTF8String concat + hashing on
    // every edge row and every relaxation probe (guide §2.3 narrower
    // types). Grouping on the longs yields the identical groups (the
    // encoding is injective), so every min and every relaxed distance
    // is unchanged; seed 's1' is node 2·1+1 = 3.
    val e1 = lineitem(s, d)
      .groupBy((col("l_suppkey") * 2 + 1).as("src"),
        (col("l_partkey") * 2).as("dst"))
      .agg(min(col("l_quantity").cast(LongType)).as("w"))
    val edges = e1.unionAll(
      e1.select(col("dst").as("src"), col("src").as("dst"), col("w"))).sharedCache()
    var dist = s.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(3L, 0L)),
      new StructType().add("node", LongType).add("dist", LongType))
    for (_ <- 1 to 3) {
      val relaxed = dist.join(edges, dist("node") === edges("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionAll(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .sharedCache()
    }
    dist.count() // materialize the relax rounds inside the partition scope
    dist.select(GraphOps.longNodeToStr(col("node")).as("node"), col("dist"))
      .orderBy("node")
  }

  val graphShortestPathSql: String =
    """WITH e1 AS (
      |  SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst,
      |         CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |edges AS (SELECT src, dst, w FROM e1 UNION ALL SELECT dst, src, w FROM e1),
      |d0 AS (SELECT 's1' AS node, CAST(0 AS BIGINT) AS dist),
      |d1 AS (
      |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
      |    SELECT node, dist FROM d0
      |    UNION ALL
      |    SELECT e.dst, d0.dist + e.w FROM d0 JOIN edges e ON e.src = d0.node)
      |  GROUP BY node),
      |d2 AS (
      |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
      |    SELECT node, dist FROM d1
      |    UNION ALL
      |    SELECT e.dst, d1.dist + e.w FROM d1 JOIN edges e ON e.src = d1.node)
      |  GROUP BY node),
      |d3 AS (
      |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
      |    SELECT node, dist FROM d2
      |    UNION ALL
      |    SELECT e.dst, d2.dist + e.w FROM d2 JOIN edges e ON e.src = d2.node)
      |  GROUP BY node)
      |SELECT node, dist FROM d3
      |ORDER BY node""".stripMargin

  /** agg-time-to-convert — funnel latency distribution: per user, the
    * exact seconds from first view to first subsequent purchase (the
    * agg-funnel dependency chain), summarized per first-view hour as
    * count / min / max / exact average in integer micro-units. Same
    * single-scan shape as the rewritten agg-funnel — sorted per-type
    * arrays resolve the sequential dependency without join chains. */
  val aggTimeToConvert: Q = (s, d) => {
    val ev = events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val perUser = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        array_sort(collect_list(when(col("event_type") === "purchase", col("ts")))).as("purchases"))
      .withColumn("t_purchase", expr("get(filter(purchases, p -> p >= t_view), 0)"))
      .filter(col("t_view").isNotNull && col("t_purchase").isNotNull)
      .select(col("user_id"),
        date_format(date_trunc("hour", col("t_view")), "yyyy-MM-dd HH").as("view_hour"),
        (unix_timestamp(col("t_purchase")) - unix_timestamp(col("t_view"))).as("secs"))
    perUser.groupBy("view_hour")
      .agg(count(lit(1)).as("n_converts"),
        min(col("secs")).as("min_secs"), max(col("secs")).as("max_secs"),
        floor(sum(col("secs")) * lit(1000000L) / count(lit(1))).cast(LongType).as("avg_secs_micro"))
      .orderBy("view_hour")
  }

  val aggTimeToConvertSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts FROM events),
      |v AS (SELECT user_id, min(ts) AS t_view FROM ev
      |      WHERE event_type = 'view' GROUP BY user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS t_purchase
      |  FROM ev e JOIN v ON v.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= v.t_view
      |  GROUP BY e.user_id),
      |conv AS (
      |  SELECT v.user_id,
      |         strftime(date_trunc('hour', v.t_view), '%Y-%m-%d %H') AS view_hour,
      |         CAST(floor(epoch(p.t_purchase)) - floor(epoch(v.t_view)) AS BIGINT) AS secs
      |  FROM v JOIN p ON p.user_id = v.user_id)
      |SELECT view_hour, count(*) AS n_converts,
      |       min(secs) AS min_secs, max(secs) AS max_secs,
      |       CAST(floor(sum(secs) * 1000000 / count(*)) AS BIGINT) AS avg_secs_micro
      |FROM conv
      |GROUP BY view_hour
      |ORDER BY view_hour""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sql-tpch-q18", sqlTpchQ18, sqlTpchQ18Sql),
    Key("agg-decile-report", aggDecileReport, aggDecileReportSql),
    Key("func-url-suite", funcUrlSuite, funcUrlSuiteSql),
    Key("graph-shortest-path", graphShortestPath, graphShortestPathSql),
    Key("agg-time-to-convert", aggTimeToConvert, aggTimeToConvertSql))
}
