package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-11 batch D: network-identifier analytics. */
object RelMore214 extends KeyModule {

  /** func-ip-cidr-suite — the weblog/network surface: dotted-quad
    * parsing, integer round-trip, and CIDR-block aggregation, all with
    * codegen built-ins (no UDF). IPs are concat-BUILT from o_orderkey
    * octet arithmetic so both engines see identical strings, then the
    * op treats them as untrusted input: aton via a fold over the split
    * octets (`aggregate(transform(split(ip,'.')), acc*256+x)` — one
    * pass, any octet count), ntoa via shift-and-mask reassembly, and a
    * round-trip equality audit per block (n_roundtrip_ok must equal
    * n_ips — the parse is graded, not assumed). Aggregation rolls the
    * host space up the CIDR hierarchy: per /16 block the row counts,
    * distinct /24 subnets, and host-part extrema — the shape of every
    * abuse/traffic rollup. SCALE: group keys are the /16 domain (≤2^16
    * rows whatever the fact size), the parse is one projection on the
    * scan, and a real pipeline prunes to suspect blocks BEFORE
    * exploding finer grains — the /24 count here is a bounded
    * approx_-free distinct over ≤256 values per group. */
  val funcIpCidrSuite: Q = (s, d) => {
    val o = orders(s, d).select(col("o_orderkey").as("k"))
      .withColumn("ip", concat_ws(".",
        lit(10),
        pmod(col("k"), lit(256L)),
        pmod(expr("k div 256"), lit(256L)),
        pmod(expr("k div 65536"), lit(256L))))
    val parsed = o
      // aton: fold the split octets left, acc*256 + octet
      .withColumn("ip_num", expr(
        "aggregate(transform(split(ip, '\\\\.'), x -> CAST(x AS BIGINT)), " +
          "0L, (acc, x) -> acc * 256 + x)"))
      // ntoa: reassemble from shifts — the round-trip audit's other leg
      .withColumn("ip_back", expr(
        "concat_ws('.', CAST((ip_num div 16777216) % 256 AS STRING), " +
          "CAST((ip_num div 65536) % 256 AS STRING), " +
          "CAST((ip_num div 256) % 256 AS STRING), " +
          "CAST(ip_num % 256 AS STRING))"))
    parsed
      .groupBy(expr("ip_num div 65536").as("net16"))
      .agg(
        count(lit(1)).as("n_ips"),
        countDistinct(expr("ip_num div 256")).as("n_subnets24"),
        min(expr("ip_num % 65536")).as("min_host"),
        max(expr("ip_num % 65536")).as("max_host"),
        sum(when(col("ip_back") === col("ip"), 1L).otherwise(0L))
          .as("n_roundtrip_ok"))
      .withColumn("cidr", expr(
        "concat(CAST(net16 div 256 AS STRING), '.', " +
          "CAST(net16 % 256 AS STRING), '.0.0/16')"))
      .select("cidr", "net16", "n_ips", "n_subnets24",
        "min_host", "max_host", "n_roundtrip_ok")
      .orderBy("net16")
  }

  val funcIpCidrSuiteSql: String =
    """WITH ips AS (
      |  SELECT o_orderkey AS k,
      |         '10.' || CAST(o_orderkey % 256 AS VARCHAR) || '.' ||
      |         CAST((o_orderkey // 256) % 256 AS VARCHAR) || '.' ||
      |         CAST((o_orderkey // 65536) % 256 AS VARCHAR) AS ip
      |  FROM orders),
      |parsed AS (
      |  SELECT ip,
      |         CAST(split_part(ip, '.', 1) AS BIGINT) * 16777216 +
      |         CAST(split_part(ip, '.', 2) AS BIGINT) * 65536 +
      |         CAST(split_part(ip, '.', 3) AS BIGINT) * 256 +
      |         CAST(split_part(ip, '.', 4) AS BIGINT) AS ip_num
      |  FROM ips),
      |back AS (
      |  SELECT ip, ip_num,
      |         CAST((ip_num // 16777216) % 256 AS VARCHAR) || '.' ||
      |         CAST((ip_num // 65536) % 256 AS VARCHAR) || '.' ||
      |         CAST((ip_num // 256) % 256 AS VARCHAR) || '.' ||
      |         CAST(ip_num % 256 AS VARCHAR) AS ip_back
      |  FROM parsed)
      |SELECT CAST((ip_num // 65536) // 256 AS VARCHAR) || '.' ||
      |         CAST((ip_num // 65536) % 256 AS VARCHAR) || '.0.0/16' AS cidr,
      |       ip_num // 65536 AS net16,
      |       CAST(count(*) AS BIGINT) AS n_ips,
      |       CAST(count(DISTINCT ip_num // 256) AS BIGINT) AS n_subnets24,
      |       CAST(min(ip_num % 65536) AS BIGINT) AS min_host,
      |       CAST(max(ip_num % 65536) AS BIGINT) AS max_host,
      |       CAST(sum(CASE WHEN ip_back = ip THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_roundtrip_ok
      |FROM back
      |GROUP BY ip_num // 65536
      |ORDER BY net16""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("func-ip-cidr-suite", funcIpCidrSuite, funcIpCidrSuiteSql))
}
