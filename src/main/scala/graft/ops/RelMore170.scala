package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-8 batch F: bloom-filter sizing with a MEASURED false-positive
  * curve, a row-group sizing advisor, and three modern SQL surfaces
  * (IDENTIFIER clause, named function arguments, session variables). */
object RelMore170 extends KeyModule {

  /** (bits-per-key, optimal hash count ⌈b·ln2⌋) ladder shared by the
    * bloom op's Spark and oracle sides. Declared before the SQL val
    * that closes over it (object init order). */
  private val configs = Seq((4, 3), (8, 6), (12, 8), (16, 11))

  /** layout-bloom-fpp-curve — bloom-filter sizing priced with REAL
    * collisions, not just the formula: for bits-per-key b ∈
    * {4, 8, 12, 16} (k = ⌈b·ln2⌋ hashes = 3/6/8/11), build the actual
    * bit set of the distinct orderkeys (positions = md5-derived 32-bit
    * hashes mod m, engine-identical arithmetic), probe 20,000
    * guaranteed NON-members, and report measured FPP next to the
    * textbook (1 − e^{−k/b})^k. The measured column is the honest one
    * — the model assumes ideal hashes, and this op shows how close a
    * cheap md5-slice gets. This is the sizing table behind every
    * sink-bloom-index / join-bloom-prefilter decision: 8 bits/key ≈ 2%
    * FPP, 16 ≈ 0.05%, and the curve makes the bits→scan-savings
    * trade explicit. Set + probe tables are n·k rows, never m. */
  val layoutBloomFppCurve: Q = (s, d) => {
    // r11 hash family: slice-one-strong-hash (the MinHash trick). The
    // old form paid one md5 + one interpreted conv() PER (key, hash,
    // config) — 28 digests per key across the ladder. Now each key is
    // digested exactly 3× (96 hex chars = 12 independent 32-bit
    // slices, enough for k ≤ 11) into ONE cached table all four
    // configs slice via hex_slice_long (codegen). Same for the probe
    // side. Measured FPP still tracks the model — the columns are the
    // proof the slice family is bloom-grade.
    def digested(df: DataFrame): DataFrame =
      df.select(col("key"), concat(
        md5(concat(col("key").cast(StringType), lit(":0"))),
        md5(concat(col("key").cast(StringType), lit(":1"))),
        md5(concat(col("key").cast(StringType), lit(":2")))).as("h"))
    val hk = digested(orders(s, d).select(col("o_orderkey").as("key")).distinct())
      .sharedCache()
    // single-stage cache fills: the four config branches of the final
    // union otherwise race to first-materialize these blocks
    val n = hk.count()
    val nProbes = 20000L
    val ph = digested(s.range(1, nProbes + 1).select((-col("id")).as("key")))
      .sharedCache()
    ph.count()
    // r14 opt (§2.4 remove shuffles outright): the four configs ran
    // four separate bits-distinct/probe-join/agg pipelines (4× the
    // stages for the same total rows). The config ladder is now a
    // 4-row broadcast dimension carrying (b, k, m = n·b): ONE position
    // explode per side, ONE distinct over (b, pos), ONE join, ONE
    // hit-count aggregate. Rows and per-row arithmetic are unchanged —
    // duplicate positions within a (config, key) still count toward
    // hits exactly as before — and zero-FP configs survive via the
    // left join from the config dim.
    import s.implicits._
    // the merged pipeline keys bit-sets and FP counts on b alone — a
    // future ladder comparing two k values at the same b would silently
    // merge their bit sets; assert the invariant instead (r14 advice)
    require(configs.map(_._1).distinct.size == configs.size,
      "layout-bloom-fpp-curve: bits_per_key values must be unique across " +
        "configs — the merged pipeline groups on b alone")
    val cfg = configs.map { case (b, k) => (b, k, n * b) }.toDF("b", "kh", "m")
    val posCol = expr(
      "transform(sequence(0, kh - 1), i -> hex_slice_long(h, i * 8 + 1, 8) % m)")
    val bits = hk.crossJoin(broadcast(cfg))
      .select(col("b"), explode(posCol).as("pos")).distinct()
    val probes = ph.crossJoin(broadcast(cfg))
      .select(col("b"), col("kh"), col("key"), explode(posCol).as("pos"))
    val fpPerB = probes.join(bits, Seq("b", "pos"))
      .groupBy("b", "kh", "key").agg(count(lit(1)).as("hits"))
      .filter(col("hits") === col("kh"))
      .groupBy("b").agg(count(lit(1)).as("n_fp"))
    cfg.join(fpPerB, Seq("b"), "left")
      .select(col("b").as("bits_per_key"), col("kh").as("k_hashes"),
        round(pow(lit(1.0) - exp(-col("kh").cast(DoubleType) / col("b")),
          col("kh").cast(DoubleType)), 6).as("modeled_fpp"),
        coalesce(col("n_fp"), lit(0L)).as("false_positives"),
        round(coalesce(col("n_fp"), lit(0L)).cast(DoubleType) / nProbes, 6)
          .as("measured_fpp"))
      .orderBy("bits_per_key")
  }

  val layoutBloomFppCurveSql: String = {
    def cfg(b: Int, k: Int): String =
      s"""SELECT $b AS bits_per_key, $k AS k_hashes,
         |       round(pow(1.0 - exp(-$k.0 / $b), $k), 6) AS modeled_fpp,
         |       COALESCE((
         |         SELECT CAST(count(*) AS BIGINT) FROM (
         |           SELECT pk FROM (
         |             SELECT p.pk, CAST(('0x' || substring(p.h, i.i * 8 + 1, 8))::BIGINT
         |                          AS BIGINT) % ((SELECT n FROM nk) * $b) AS pos
         |             FROM probes p CROSS JOIN (SELECT unnest(generate_series(0, ${k - 1})) AS i) i) pp
         |           WHERE pos IN (
         |             SELECT DISTINCT
         |               CAST(('0x' || substring(hk.h, j.j * 8 + 1, 8))::BIGINT
         |                    AS BIGINT) % ((SELECT n FROM nk) * $b)
         |             FROM hk CROSS JOIN (SELECT unnest(generate_series(0, ${k - 1})) AS j) j)
         |           GROUP BY pk HAVING count(*) = $k)), 0) AS false_positives,
         |       round(COALESCE((
         |         SELECT CAST(count(*) AS BIGINT) FROM (
         |           SELECT pk FROM (
         |             SELECT p.pk, CAST(('0x' || substring(p.h, i.i * 8 + 1, 8))::BIGINT
         |                          AS BIGINT) % ((SELECT n FROM nk) * $b) AS pos
         |             FROM probes p CROSS JOIN (SELECT unnest(generate_series(0, ${k - 1})) AS i) i) pp
         |           WHERE pos IN (
         |             SELECT DISTINCT
         |               CAST(('0x' || substring(hk.h, j.j * 8 + 1, 8))::BIGINT
         |                    AS BIGINT) % ((SELECT n FROM nk) * $b)
         |             FROM hk CROSS JOIN (SELECT unnest(generate_series(0, ${k - 1})) AS j) j)
         |           GROUP BY pk HAVING count(*) = $k)), 0) / 20000.0, 6) AS measured_fpp""".stripMargin
    s"""WITH keys AS (SELECT DISTINCT o_orderkey AS key FROM orders),
       |nk AS (SELECT CAST(count(*) AS BIGINT) AS n FROM keys),
       |hk AS (SELECT key, md5(CAST(key AS VARCHAR) || ':0')
       |                || md5(CAST(key AS VARCHAR) || ':1')
       |                || md5(CAST(key AS VARCHAR) || ':2') AS h FROM keys),
       |probes AS (SELECT pk, md5(CAST(pk AS VARCHAR) || ':0')
       |                   || md5(CAST(pk AS VARCHAR) || ':1')
       |                   || md5(CAST(pk AS VARCHAR) || ':2') AS h
       |           FROM (SELECT -CAST(g AS BIGINT) AS pk
       |                 FROM (SELECT unnest(generate_series(1, 20000)) AS g)))
       |${configs.map { case (b, k) => cfg(b, k) }.mkString("\nUNION ALL\n")}
       |ORDER BY bits_per_key""".stripMargin
  }

  /** layout-rowgroup-advisor — row-group sizing from MEASURED
    * dictionary widths: per key column the exact ndv gives the dict
    * code width ⌈log₂ndv⌉/8 bytes (min 1); the advised rows-per-
    * row-group is target 128 MiB over the summed per-row bytes, and
    * each column's pages-per-row-group follows at 1 MiB granularity.
    * This is the knob parquet writers expose as numbers users guess
    * at; deriving it from ndv makes the guess a measurement. Output:
    * one row per column plus the shared advisory columns. All
    * integer arithmetic (ceil-div via (a + b − 1) div b). */
  val layoutRowgroupAdvisor: Q = (s, d) => {
    val li = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
      col("l_suppkey"), col("l_returnflag"),
      to_date(col("l_shipdate")).as("l_shipdate")).sharedCache()
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_shipdate")
    val aggs = cols.map(c => count_distinct(col(c)).as(s"ndv_$c"))
    val stats = li.agg(count(lit(1)).as("n"), aggs: _*)
    val widths = cols.map { c =>
      greatest(ceil(log(2.0, col(s"ndv_$c").cast(DoubleType)) / 8).cast(LongType), lit(1L))
        .as(s"w_$c")
    }
    val w = stats.select((col("n") +: cols.map(c => col(s"ndv_$c"))) ++ widths: _*)
      .withColumn("row_bytes", cols.map(c => col(s"w_$c")).reduce(_ + _))
      .withColumn("rg_rows", expr("(134217728 + row_bytes - 1) div row_bytes"))
    val rows = cols.map { c =>
      w.select(lit(c).as("column_name"), col(s"ndv_$c").as("ndv"),
        col(s"w_$c").as("bytes_per_value"), col("row_bytes"), col("rg_rows"),
        expr(s"(rg_rows * w_$c + 1048575) div 1048576").as("pages_per_rowgroup"))
    }
    rows.reduce(_ unionAll _).orderBy("column_name")
  }

  val layoutRowgroupAdvisorSql: String = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_shipdate")
    val ndvs = cols.map(c =>
      if (c == "l_shipdate") s"CAST(count(DISTINCT CAST($c AS DATE)) AS BIGINT) AS ndv_$c"
      else s"CAST(count(DISTINCT $c) AS BIGINT) AS ndv_$c").mkString(",\n       |         ")
    val widths = cols.map(c =>
      s"greatest(CAST(ceil(log2(ndv_$c) / 8) AS BIGINT), 1) AS w_$c")
      .mkString(",\n       |         ")
    val rowBytes = cols.map(c => s"w_$c").mkString(" + ")
    val branches = cols.map { c =>
      s"""SELECT '$c' AS column_name, ndv_$c AS ndv, w_$c AS bytes_per_value,
         |       row_bytes, rg_rows,
         |       (rg_rows * w_$c + 1048575) // 1048576 AS pages_per_rowgroup
         |FROM w3""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         $ndvs
       |  FROM lineitem),
       |w AS (
       |  SELECT *,
       |         $widths
       |  FROM stats),
       |w2 AS (SELECT *, ($rowBytes) AS row_bytes FROM w),
       |w3 AS (SELECT *, (134217728 + row_bytes - 1) // row_bytes AS rg_rows FROM w2)
       |SELECT column_name, ndv, bytes_per_value, row_bytes, rg_rows, pages_per_rowgroup
       |FROM (
       |$branches
       |) u
       |ORDER BY column_name""".stripMargin
  }

  /** sql-identifier-clause — the IDENTIFIER() clause (SQL 2023 /
    * Spark 3.4+): table and column names supplied as VALUES, the
    * injection-safe alternative to string-built SQL. The op registers
    * a view, then both the table name AND an aggregated column name
    * arrive via IDENTIFIER('…') — the query text itself never
    * concatenates a name. Oracle runs the resolved query directly
    * (DuckDB spells the same need COLUMNS(...) / query()); the
    * contract graded here is that the indirection resolves to
    * identical results. */
  val sqlIdentifierClause: Q = (s, d) => {
    orders(s, d).createOrReplaceTempView("ident_orders_v")
    s.sql(
      """SELECT o_orderstatus AS status,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(CAST(IDENTIFIER('o_totalprice') AS DECIMAL(18,2)) * 100
        |                AS BIGINT)) AS BIGINT) AS cents
        |FROM IDENTIFIER('ident_orders_v')
        |GROUP BY o_orderstatus
        |ORDER BY status""".stripMargin)
  }

  val sqlIdentifierClauseSql: String =
    """SELECT o_orderstatus AS status,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |            AS BIGINT) AS cents
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY status""".stripMargin

  /** sql-named-arguments — named function arguments (Spark 3.5+):
    * mask() with out-of-order named parameters redacts customer
    * names. The graded contract: named-arg invocation ≡ the manual
    * regexp chain (spelled out in the oracle), so the surface can be
    * adopted without semantic drift. */
  val sqlNamedArguments: Q = (s, d) => {
    customer(s, d).createOrReplaceTempView("named_cust_v")
    s.sql(
      """SELECT c_custkey,
        |       mask(c_name, lowerChar => 'x', digitChar => '#', upperChar => 'X')
        |         AS masked_name
        |FROM named_cust_v
        |ORDER BY c_custkey
        |LIMIT 50""".stripMargin)
  }

  val sqlNamedArgumentsSql: String =
    """SELECT c_custkey,
      |       regexp_replace(regexp_replace(regexp_replace(c_name,
      |         '[a-z]', 'x', 'g'), '[A-Z]', 'X', 'g'), '[0-9]', '#', 'g')
      |         AS masked_name
      |FROM customer
      |ORDER BY c_custkey
      |LIMIT 50""".stripMargin

  /** sql-session-variable — SQL session variables (Spark 4 DECLARE /
    * SET VAR): a revenue threshold parameterizes the query through
    * session state instead of string interpolation — the scripting
    * primitive that replaces driver-side f-strings (and their quoting
    * bugs) in procedural SQL. DECLARE OR REPLACE keeps the op
    * re-runnable in one session. Oracle inlines the same constant. */
  val sqlSessionVariable: Q = (s, d) => {
    orders(s, d).createOrReplaceTempView("var_orders_v")
    s.sql("DECLARE OR REPLACE VARIABLE rev_floor DOUBLE DEFAULT 0.0")
    s.sql("SET VAR rev_floor = 400000.0")
    s.sql(
      """SELECT o_orderpriority AS priority,
        |       CAST(count(*) AS BIGINT) AS n_big
        |FROM var_orders_v
        |WHERE o_totalprice >= rev_floor
        |GROUP BY o_orderpriority
        |ORDER BY priority""".stripMargin)
  }

  val sqlSessionVariableSql: String =
    """SELECT o_orderpriority AS priority,
      |       CAST(count(*) AS BIGINT) AS n_big
      |FROM orders
      |WHERE o_totalprice >= 400000.0
      |GROUP BY o_orderpriority
      |ORDER BY priority""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("layout-bloom-fpp-curve", layoutBloomFppCurve, layoutBloomFppCurveSql),
    Key("layout-rowgroup-advisor", layoutRowgroupAdvisor, layoutRowgroupAdvisorSql),
    Key("sql-identifier-clause", sqlIdentifierClause, sqlIdentifierClauseSql),
    Key("sql-named-arguments", sqlNamedArguments, sqlNamedArgumentsSql),
    Key("sql-session-variable", sqlSessionVariable, sqlSessionVariableSql))
}
