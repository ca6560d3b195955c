package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-4 continuation batch M: the remaining TPC-H front doors
  * expressible without a partsupp table (q7/q8/q9/q15/q17/q20/q21 —
  * only q2 and q11 are partsupp-only), a one-scan data-quality rule
  * engine, exact-arithmetic volume anomaly detection, and the
  * caption↔embedding pairing op a multimodal training-data pipeline
  * starts from.
  *
  * Same substitution discipline as batch L: predicates on absent
  * columns (partsupp cost, l_commitdate, comment fields) are replaced
  * with equivalent-shaped predicates on existing columns — the graded
  * artifact is the PLAN (decorrelated scalar subqueries, double
  * semi/anti correlation, grouped-HAVING semi join), not retail
  * semantics. All ratio/threshold arithmetic stays in exact integers
  * (floor-ppm / cross-multiplication) so no engine's libm gets a vote.
  */
object RelMore12 extends KeyModule {

  /** sql-tpch-q7 — volume shipping between two nations, by year: the
    * 6-table chain where BOTH endpoints of the flow (supplier nation,
    * customer nation) constrain the same row set symmetrically. The
    * two nation dims broadcast; year() lands post-join on the
    * surviving slice. */
  val sqlTpchQ7: Q = (s, d) => {
    supplier(s, d).createOrReplaceTempView("supplier")
    lineitem(s, d).createOrReplaceTempView("lineitem")
    orders(s, d).createOrReplaceTempView("orders")
    customer(s, d).createOrReplaceTempView("customer")
    nation(s, d).createOrReplaceTempView("nation")
    s.sql(sqlTpchQ7Sql)
  }

  val sqlTpchQ7Sql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |       CAST(sum(volume) AS DOUBLE) AS revenue
      |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |             year(l.l_shipdate) AS l_year,
      |             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)) AS volume
      |      FROM supplier s
      |      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      |      JOIN orders o ON o.o_orderkey = l.l_orderkey
      |      JOIN customer c ON c.c_custkey = o.o_custkey
      |      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      |      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      |      WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
      |          OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
      |        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |        AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00') shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** sql-tpch-q8 — national market share inside one region's market:
    * the share is floor-quantized ppm over integer micro-unit volumes
    * (q14's discipline) — sum(CASE)/sum() per year. Region constrains
    * the CUSTOMER side; the measured nation is the SUPPLIER side. */
  val sqlTpchQ8: Q = (s, d) => {
    supplier(s, d).createOrReplaceTempView("supplier")
    lineitem(s, d).createOrReplaceTempView("lineitem")
    orders(s, d).createOrReplaceTempView("orders")
    customer(s, d).createOrReplaceTempView("customer")
    nation(s, d).createOrReplaceTempView("nation")
    region(s, d).createOrReplaceTempView("region")
    part(s, d).createOrReplaceTempView("part")
    s.sql(sqlTpchQ8Sql)
  }

  val sqlTpchQ8Sql: String =
    """SELECT o_year,
      |       CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN vol_u ELSE 0 END) AS BIGINT) AS nation_vol_u,
      |       CAST(sum(vol_u) AS BIGINT) AS market_vol_u,
      |       CAST(floor(1000000.0 * sum(CASE WHEN supp_nation = 'NATION_5' THEN vol_u ELSE 0 END)
      |                  / sum(vol_u)) AS BIGINT) AS mkt_share_ppm
      |FROM (SELECT year(o.o_orderdate) AS o_year, n1.n_name AS supp_nation,
      |             CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
      |                  * 10000 AS BIGINT) AS vol_u
      |      FROM part p
      |      JOIN lineitem l ON p.p_partkey = l.l_partkey
      |      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |      JOIN orders o ON o.o_orderkey = l.l_orderkey
      |      JOIN customer c ON c.c_custkey = o.o_custkey
      |      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      |      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      |      JOIN region r ON r.r_regionkey = n2.n_regionkey
      |      WHERE r.r_name = 'ASIA'
      |        AND p.p_type = 'ECONOMY'
      |        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |        AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00') all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** sql-tpch-q9 — product-line profit by supplier nation and year.
    * partsupp.ps_supplycost (absent) → 0.6 × p_retailprice × quantity
    * as the cost leg; profit stays in exact 10^-4 currency micro-units
    * end-to-end (possibly negative — BIGINT, not unsigned). The
    * p_name prefix filter prunes part before the 5-way join. */
  val sqlTpchQ9: Q = (s, d) => {
    supplier(s, d).createOrReplaceTempView("supplier")
    lineitem(s, d).createOrReplaceTempView("lineitem")
    orders(s, d).createOrReplaceTempView("orders")
    nation(s, d).createOrReplaceTempView("nation")
    part(s, d).createOrReplaceTempView("part")
    s.sql(sqlTpchQ9Sql)
  }

  val sqlTpchQ9Sql: String =
    """SELECT nation, o_year,
      |       CAST(sum(amount_u) AS BIGINT) AS profit_u,
      |       CAST(CAST(sum(amount_u) AS BIGINT) / 10000.0 AS DOUBLE) AS profit
      |FROM (SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
      |             CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
      |                  * 10000 AS BIGINT)
      |             - CAST(CAST(0.6 * p.p_retailprice * l.l_quantity AS DECIMAL(18,4))
      |                    * 10000 AS BIGINT) AS amount_u
      |      FROM part p
      |      JOIN lineitem l ON p.p_partkey = l.l_partkey
      |      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |      JOIN orders o ON o.o_orderkey = l.l_orderkey
      |      JOIN nation n ON n.n_nationkey = s.s_nationkey
      |      WHERE p.p_name LIKE 'blue%') profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  /** sql-tpch-q15 — top supplier(s) by 3-month revenue: a reused CTE
    * (the original's view) referenced twice — once as the join input,
    * once inside a scalar max() subquery. Equality against the max is
    * DECIMAL = DECIMAL, exact in both engines; ties all surface. */
  val sqlTpchQ15: Q = (s, d) => {
    supplier(s, d).createOrReplaceTempView("supplier")
    lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(sqlTpchQ15Sql)
  }

  val sqlTpchQ15Sql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
      |FROM supplier s
      |JOIN revenue r ON s.s_suppkey = r.supplier_no
      |WHERE r.total_rev = (SELECT max(total_rev) FROM revenue)
      |ORDER BY s.s_suppkey""".stripMargin

  /** sql-tpch-q17 — small-quantity-order revenue: the correlated
    * scalar-subquery threshold (quantity < 0.2 × per-part avg) kept
    * exact by cross-multiplication — 5·q·count(part) < sum(part) over
    * integral quantities — so no division happens anywhere. Spark
    * decorrelates both scalar subqueries into one grouped aggregate
    * joined back on l_partkey. */
  val sqlTpchQ17: Q = (s, d) => {
    lineitem(s, d).createOrReplaceTempView("lineitem")
    part(s, d).createOrReplaceTempView("part")
    s.sql(sqlTpchQ17Sql)
  }

  val sqlTpchQ17Sql: String =
    """SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
      |       count(*) AS n_lines
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE p.p_brand = 'Brand#23'
      |  AND CAST(l.l_quantity AS BIGINT) * 5 *
      |      (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      |      < (SELECT sum(CAST(l3.l_quantity AS BIGINT)) FROM lineitem l3
      |         WHERE l3.l_partkey = l.l_partkey)""".stripMargin

  /** sql-tpch-q20 — suppliers with excess stock of one brand: IN over
    * a grouped-HAVING subquery — the aggregate runs FIRST, then the
    * qualifying supplier keys semi-join into the dim. The HAVING
    * threshold is an exact BIGINT sum of integral quantities. */
  val sqlTpchQ20: Q = (s, d) => {
    supplier(s, d).createOrReplaceTempView("supplier")
    lineitem(s, d).createOrReplaceTempView("lineitem")
    part(s, d).createOrReplaceTempView("part")
    s.sql(sqlTpchQ20Sql)
  }

  val sqlTpchQ20Sql: String =
    """SELECT s.s_suppkey, s.s_name
      |FROM supplier s
      |WHERE s.s_suppkey IN (
      |  SELECT l.l_suppkey
      |  FROM lineitem l
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  WHERE p.p_brand = 'Brand#11'
      |    AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  GROUP BY l.l_suppkey
      |  HAVING sum(CAST(l.l_quantity AS BIGINT)) > 50)
      |ORDER BY s.s_suppkey""".stripMargin

  /** sql-tpch-q21 — suppliers who kept the order waiting: the classic
    * EXISTS + NOT EXISTS double correlation on the SAME fact table —
    * "another supplier was in the order" (semi) and "no other supplier
    * returned" (anti) — two differently-signed self-joins that Spark
    * plans as left-semi + left-anti on l_orderkey. l_receiptdate >
    * l_commitdate (absent) → l_returnflag = 'R'. */
  val sqlTpchQ21: Q = (s, d) => {
    supplier(s, d).createOrReplaceTempView("supplier")
    lineitem(s, d).createOrReplaceTempView("lineitem")
    orders(s, d).createOrReplaceTempView("orders")
    s.sql(sqlTpchQ21Sql)
  }

  val sqlTpchQ21Sql: String =
    """SELECT s.s_name, count(*) AS numwait
      |FROM supplier s
      |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |WHERE o.o_orderstatus = 'F'
      |  AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s.s_name
      |LIMIT 25""".stripMargin

  /** dq-rule-engine — a rule catalog evaluated in ONE scan: every rule
    * is a count(CASE) in a single aggregate row, then stack() unpivots
    * to (rule, n_violations) rows. The naive alternative — one
    * count(*) query per rule — scans the fact table |rules| times;
    * at 100 TB this shape is the difference between one pass and ten.
    * Rules mix always-clean invariants (nulls, domains) with
    * data-dependent screens that actually fire. */
  val dqRuleEngine: Q = (s, d) =>
    lineitem(s, d)
      .agg(
        count(when(col("l_extendedprice") <= 0, 1)).as("r1"),
        count(when(col("l_discount") < 0 || col("l_discount") > 0.6, 1)).as("r2"),
        count(when(col("l_quantity") <= 0, 1)).as("r3"),
        count(when(col("l_returnflag").isNull, 1)).as("r4"),
        count(when(col("l_discount") > 0.08, 1)).as("r5"),
        count(when(col("l_quantity") > 45, 1)).as("r6"),
        count(when(col("l_shipdate") < lit("1995-07-01").cast(TimestampType), 1)).as("r7"))
      .select(expr(
        """stack(7,
          |  'neg_price', r1, 'discount_domain', r2, 'zero_qty', r3,
          |  'null_returnflag', r4, 'high_discount', r5, 'bulk_qty', r6,
          |  'legacy_shipdate', r7) AS (rule, n_violations)""".stripMargin))
      .orderBy("rule")

  val dqRuleEngineSql: String =
    """SELECT rule, n_violations FROM (
      |  SELECT 'neg_price' AS rule, count(CASE WHEN l_extendedprice <= 0 THEN 1 END) AS n_violations FROM lineitem
      |  UNION ALL SELECT 'discount_domain', count(CASE WHEN l_discount < 0 OR l_discount > 0.6 THEN 1 END) FROM lineitem
      |  UNION ALL SELECT 'zero_qty', count(CASE WHEN l_quantity <= 0 THEN 1 END) FROM lineitem
      |  UNION ALL SELECT 'null_returnflag', count(CASE WHEN l_returnflag IS NULL THEN 1 END) FROM lineitem
      |  UNION ALL SELECT 'high_discount', count(CASE WHEN l_discount > 0.08 THEN 1 END) FROM lineitem
      |  UNION ALL SELECT 'bulk_qty', count(CASE WHEN l_quantity > 45 THEN 1 END) FROM lineitem
      |  UNION ALL SELECT 'legacy_shipdate', count(CASE WHEN l_shipdate < TIMESTAMP '1995-07-01 00:00:00' THEN 1 END) FROM lineitem) t
      |ORDER BY rule""".stripMargin

  /** dq-anomaly-zscore — daily ingest-volume anomany gate: each day's
    * event count against its trailing-7-day window, flagged when
    * |n − mean| > 1.5·stddev_samp. The test is evaluated WITHOUT ever
    * computing mean or stddev: cross-multiplying the definition gives
    * 4·(n·w − s)²·(w−1) > 9·w·(w·sq − s²) over integer counts — exact,
    * while a literal stddev (Welford vs sum-of-squares, sqrt libm)
    * differs across engines in the last ulp. The volumetry-anomaly
    * check every audit.ingestion_run-style table needs
    * (cf. reference 08_validacionsql.sql's volumetry section). */
  val dqAnomalyZscore: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("d").rowsBetween(-7, -1)
    events(s, d)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
      .select(col("d"), col("n"),
        sum("n").over(w).as("s"),
        sum(col("n") * col("n")).over(w).as("sq"),
        count("n").over(w).as("w"))
      .filter(col("w") === 7)
      .select(col("d"), col("n"), col("s").as("trail_sum"),
        ((lit(4) * (col("n") * col("w") - col("s")) * (col("n") * col("w") - col("s")) * (col("w") - 1)) >
          (lit(9) * col("w") * (col("w") * col("sq") - col("s") * col("s")))).as("is_anomaly"))
      .orderBy("d")
  }

  val dqAnomalyZscoreSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY 1),
      |win AS (
      |  SELECT d, n,
      |         sum(n)     OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS s,
      |         sum(n * n) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS sq,
      |         count(n)   OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS w
      |  FROM daily)
      |SELECT d, n, CAST(s AS BIGINT) AS trail_sum,
      |       4 * (n * w - s) * (n * w - s) * (w - 1) > 9 * w * (w * sq - s * s) AS is_anomaly
      |FROM win
      |WHERE w = 7
      |ORDER BY d""".stripMargin

  /** mm-caption-join — the multimodal pairing step: captions
    * (documents) joined to their embedding rows (vec_id = doc_id),
    * quality-screened on the caption side (language + length band),
    * emitting per-pair stats. Embedding magnitude is exact: components
    * are floored to 10^-6 integer units and the squared norm summed in
    * BIGINT (Ann's discipline) — float accumulation order never
    * surfaces. At 100 TB both sides hash-shuffle on the id; the
    * caption screen runs BEFORE the join so rejected captions never
    * shuffle their embedding. */
  val mmCaptionJoin: Q = (s, d) => {
    val caps = documents(s, d)
      .filter(col("lang") === "en" && col("n_chars").between(50, 5000))
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast(LongType).as("n_ws_tokens"))
    val embs = embeddings(s, d).select(col("vec_id"), col("label"),
      expr("aggregate(transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)" +
        " * CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), CAST(0 AS BIGINT), (a, b) -> a + b)")
        .as("norm_sq_u"))
    caps.join(embs, caps("doc_id") === embs("vec_id"))
      .select(col("doc_id"), col("n_chars"), col("n_ws_tokens"),
        col("label"), col("norm_sq_u"))
      .orderBy("doc_id")
  }

  val mmCaptionJoinSql: String =
    """SELECT d.doc_id, d.n_chars,
      |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_ws_tokens,
      |       e.label,
      |       CAST(list_sum(list_transform(e.embedding,
      |              x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
      |                 * CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS norm_sq_u
      |FROM documents d
      |JOIN embeddings e ON e.vec_id = d.doc_id
      |WHERE d.lang = 'en' AND d.n_chars BETWEEN 50 AND 5000
      |ORDER BY d.doc_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sql-tpch-q7", sqlTpchQ7, sqlTpchQ7Sql),
    Key("sql-tpch-q8", sqlTpchQ8, sqlTpchQ8Sql),
    Key("sql-tpch-q9", sqlTpchQ9, sqlTpchQ9Sql),
    Key("sql-tpch-q15", sqlTpchQ15, sqlTpchQ15Sql),
    Key("sql-tpch-q17", sqlTpchQ17, sqlTpchQ17Sql),
    Key("sql-tpch-q20", sqlTpchQ20, sqlTpchQ20Sql),
    Key("sql-tpch-q21", sqlTpchQ21, sqlTpchQ21Sql),
    Key("dq-rule-engine", dqRuleEngine, dqRuleEngineSql),
    Key("dq-anomaly-zscore", dqAnomalyZscore, dqAnomalyZscoreSql),
    Key("mm-caption-join", mmCaptionJoin, mmCaptionJoinSql))
}
