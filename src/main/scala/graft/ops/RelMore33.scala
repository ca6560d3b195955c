package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-5 batch G (non-streaming half): parameterized SQL and the
  * crypto-function round-trip.
  */
object RelMore33 extends KeyModule {

  /** sql-parameterized — Spark's parameterized SQL API: named parameter
    * markers (`:status`, `:floor_cents`) bound through the sql(query,
    * args) overload, plus IDENTIFIER() resolving a parameterized table
    * reference. This is the injection-safe front door for templated
    * analytics (dashboard filters, tenant-scoped queries): values bind
    * as literals AFTER parsing — string concatenation never touches the
    * query text — and the identifier clause confines dynamic table
    * names to catalog resolution rather than text splicing. The plan
    * compiles exactly as if the literals were inline (same pushdown,
    * same pruning), which the spec checks via PushedFilters. Oracle is
    * the same query with literals substituted. */
  val sqlParameterized: Q = (s, d) => {
    orders(s, d).createOrReplaceTempView("orders_param")
    s.sql(
      """SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM IDENTIFIER(:tbl)
        |WHERE o_orderstatus = :status AND o_totalprice >= :floor_price
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
      Map("tbl" -> "orders_param", "status" -> "F", "floor_price" -> 1000.0))
  }

  val sqlParameterizedSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |WHERE o_orderstatus = 'F' AND o_totalprice >= 1000.0
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** func-crypto-roundtrip — the column-level crypto surface:
    * aes_encrypt/aes_decrypt (ECB so the demo is deterministic; GCM is
    * the production mode and is nondeterministic by design — random IV
    * per call), sha2-256 fingerprints of the ciphertext, and the
    * decrypt-equals-plaintext contract on every row. This is the
    * envelope-encryption shape for PII columns at rest: encrypt on
    * write with a per-dataset key, decrypt on authorized read, compare
    * fingerprints for equality tests without decrypting. DuckDB has no
    * AES functions, so the oracle grades the ROUND-TRIP (decrypt ∘
    * encrypt = identity, plus plaintext-derived columns) — exactly the
    * property a key-rotation audit checks. */
  val funcCryptoRoundtrip: Q = (s, d) => {
    customer(s, d).filter(col("c_custkey") % 211 === 0)
      .select(col("c_custkey"), col("c_name"))
      .withColumn("cipher", expr("aes_encrypt(c_name, '0123456789abcdef', 'ECB')"))
      .select(col("c_custkey"),
        expr("CAST(aes_decrypt(cipher, '0123456789abcdef', 'ECB') AS STRING)").as("decrypted"),
        (expr("CAST(aes_decrypt(cipher, '0123456789abcdef', 'ECB') AS STRING)") === col("c_name"))
          .as("roundtrip_ok"),
        length(col("cipher")).as("cipher_len"),
        sha2(col("c_name"), 256).as("plain_sha256"))
      .orderBy("c_custkey")
  }

  val funcCryptoRoundtripSql: String =
    """SELECT c_custkey, c_name AS decrypted, TRUE AS roundtrip_ok,
      |       CAST(((length(c_name) // 16) + 1) * 16 AS INT) AS cipher_len,
      |       sha256(c_name) AS plain_sha256
      |FROM customer
      |WHERE c_custkey % 211 = 0
      |ORDER BY c_custkey""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sql-parameterized", sqlParameterized, sqlParameterizedSql),
    Key("func-crypto-roundtrip", funcCryptoRoundtrip, funcCryptoRoundtripSql))
}
