package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-6 batch H: SCD2 as-of joins, write-audit-publish, tokenizer
  * fertility. */
object RelMore47 extends KeyModule {

  /** join-scd2-asof — the point-in-time fact→dimension join that SCD2
    * history exists FOR: every order resolves the customer-segment
    * version valid AT ITS ORDER DATE (valid_from ≤ d < valid_to, open
    * version = null valid_to), so revenue attributes to the segment the
    * customer was in when the order happened — joining is_current
    * instead silently rewrites history, the classic reporting bug. Dim
    * built with sink-scd2's deterministic change (every 10th customer
    * flips to PREMIUM at 1995-06-01, mid-fact-range so both eras carry
    * orders). Scale shape: one equi-join shuffled on the customer key
    * (the validity predicate is a per-row filter, not a join
    * explosion — each fact matches exactly one version, asserted by
    * the spec's conservation check). */
  val joinScd2Asof: Q = (s, d) => {
    val cust = customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    val dim = cust
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        to_date(lit("1992-01-01")).as("valid_from"),
        when(col("c_custkey") % 10 === 0, to_date(lit("1995-06-01")))
          .otherwise(lit(null).cast(DateType)).as("valid_to"))
      .unionByName(cust.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), lit("PREMIUM").as("segment"),
          to_date(lit("1995-06-01")).as("valid_from"),
          lit(null).cast(DateType).as("valid_to")))
    val facts = orders(s, d).select(col("o_custkey").as("c_custkey"),
      to_date(col("o_orderdate")).as("od"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    facts.join(dim, Seq("c_custkey"))
      .filter(col("od") >= col("valid_from") &&
        (col("valid_to").isNull || col("od") < col("valid_to")))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("revenue_cents"))
      .orderBy("segment")
  }

  val joinScd2AsofSql: String =
    """WITH dim AS (
      |  SELECT c_custkey, c_mktsegment AS segment,
      |         DATE '1992-01-01' AS valid_from,
      |         CASE WHEN c_custkey % 10 = 0 THEN DATE '1995-06-01' END AS valid_to
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, 'PREMIUM', DATE '1995-06-01', NULL
      |  FROM customer WHERE c_custkey % 10 = 0),
      |facts AS (
      |  SELECT o_custkey AS c_custkey, CAST(o_orderdate AS DATE) AS od,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders)
      |SELECT dm.segment, CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(f.cents) AS BIGINT) AS revenue_cents
      |FROM facts f JOIN dim dm ON dm.c_custkey = f.c_custkey
      |WHERE f.od >= dm.valid_from AND (dm.valid_to IS NULL OR f.od < dm.valid_to)
      |GROUP BY dm.segment
      |ORDER BY dm.segment""".stripMargin

  /** sink-write-audit-publish — the WAP pattern: each batch lands in a
    * private staging dir, an AUDIT query gates it (non-empty + zero
    * null keys), and only passing batches enter the published manifest
    * (sink-manifest-atomic's commit). The failing batch stays staged —
    * queryable for debugging, invisible to readers — which is the
    * entire point: bad data never becomes visible, not even briefly,
    * because visibility IS the manifest write. One batch here fails
    * (nulls injected into every 10th key of batch b2); the output
    * carries both audits plus the published row count proving only the
    * passing batch is readable. Audits are aggregates over the staged
    * parquet (executor-side); manifest I/O is driver-side bytes. */
  val sinkWriteAuditPublish: Q = (s, d) => {
    import java.nio.file.{Files, Paths}
    val base = tmp("sink-wap", d)
    Files.createDirectories(Paths.get(base))
    val o = orders(s, d)
    val batches = Seq(
      ("b1", o.filter(col("o_orderkey") % 5 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"))),
      ("b2", o.filter(col("o_orderkey") % 5 === 2)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 50 === 2, lit(null).cast(StringType))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"))))
    val audited = batches.map { case (name, df) =>
      val dir = s"$base/staging/$name"
      df.write.mode(SaveMode.Overwrite).parquet(dir)
      val staged = s.read.parquet(dir)
      val Array(nRows, nNulls) = staged.agg(
        count(lit(1)), sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)))
        .collect().head.toSeq.map(v => Option(v).fold(0L)(_.asInstanceOf[Long])).toArray
      (name, dir, nRows, nNulls, nRows > 0 && nNulls == 0)
    }
    val published = audited.filter(_._5).map(_._2)
    Files.writeString(Paths.get(base, "manifest.txt"), published.mkString("\n"))
    val pubRows =
      if (published.isEmpty) 0L
      else Files.readString(Paths.get(base, "manifest.txt")).trim.split("\n")
        .map(s.read.parquet(_)).reduce(_ unionByName _).count()
    audited.map { case (name, _, nRows, nNulls, pass) =>
      s.range(1).select(lit(name).as("batch"), lit(nRows).as("n_rows"),
        lit(nNulls).as("n_null_keys"),
        lit(if (pass) "PASS" else "FAIL").as("audit_status"),
        lit(if (pass) 1 else 0).cast(IntegerType).as("is_published"),
        lit(pubRows).as("published_rows"))
    }.reduce(_ unionAll _).orderBy("batch")
  }

  val sinkWriteAuditPublishSql: String =
    """WITH b1 AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 5 = 1),
      |b2 AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 5 = 2),
      |b2null AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 50 = 2)
      |SELECT 'b1' AS batch, CAST(b1.n AS BIGINT) AS n_rows,
      |       CAST(0 AS BIGINT) AS n_null_keys, 'PASS' AS audit_status,
      |       CAST(1 AS INT) AS is_published, CAST(b1.n AS BIGINT) AS published_rows
      |FROM b1
      |UNION ALL
      |SELECT 'b2', CAST(b2.n AS BIGINT), CAST(b2null.n AS BIGINT), 'FAIL',
      |       CAST(0 AS INT), CAST(b1.n AS BIGINT)
      |FROM b1, b2, b2null
      |ORDER BY batch""".stripMargin

  /** text-tokenizer-fertility — tokens-per-word (fertility) and
    * chars-per-token by language: THE metric for how well a tokenizer
    * fits each language in the mix (high fertility = a language pays
    * more sequence length per word — the under-served-language signal
    * every multilingual tokenizer eval reports). Uses the same
    * letter-run/digit-run/punct regex as text-tokencount so the two
    * ops measure the same tokenizer. One scan, one |langs|-sized
    * map-side-combinable groupBy, integer milli ratios. */
  val textTokenizerFertility: Q = (s, d) =>
    documents(s, d)
      .select(col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("w"),
        regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]")).cast(LongType).as("t"),
        length(col("text")).cast(LongType).as("c"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
        sum("t").as("n_tokens"), sum("c").as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
        expr("(n_tokens * 1000) div n_words").as("fertility_milli"),
        expr("(n_chars * 1000) div n_tokens").as("chars_per_token_milli"))
      .orderBy("lang")

  val textTokenizerFertilitySql: String =
    """WITH per AS (
      |  SELECT lang,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
      |         CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS t,
      |         CAST(length(text) AS BIGINT) AS c
      |  FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(w) AS BIGINT) AS n_words,
      |       CAST(sum(t) AS BIGINT) AS n_tokens,
      |       (CAST(sum(t) AS BIGINT) * 1000) // CAST(sum(w) AS BIGINT) AS fertility_milli,
      |       (CAST(sum(c) AS BIGINT) * 1000) // CAST(sum(t) AS BIGINT) AS chars_per_token_milli
      |FROM per GROUP BY lang ORDER BY lang""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("join-scd2-asof", joinScd2Asof, joinScd2AsofSql),
    Key("sink-write-audit-publish", sinkWriteAuditPublish, sinkWriteAuditPublishSql),
    Key("text-tokenizer-fertility", textTokenizerFertility, textTokenizerFertilitySql))
}
