package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Round-8 batch Z (part 1): the native quantize_lattice expression's
  * public contract — equivalence with the declarative fold it
  * replaces, proven on the real corpus. */
object RelMore190 extends KeyModule {

  /** func-quantize-lattice — contract test for the codegen
    * [[graft.functions.QuantizeLattice]] expression: on every corpus
    * vector, the native ⌊x·1000⌋ lattice must agree ELEMENTWISE with
    * the declarative higher-order-function form it replaces (the
    * emb-family hot path). Output: vector/component counts, the count
    * of disagreeing components (the contract: 0), and the exact
    * integer checksum of all quantized components — the value the
    * DuckDB twin recomputes independently via list_transform. */
  val funcQuantizeLattice: Q = (s, d) => {
    graft.functions.QuantizeLattice.register(s)
    val q = embeddings(s, d).select(col("vec_id"),
      expr("quantize_lattice(embedding, 1000.0D)").as("nat"),
      // the declarative HOF form the native expression replaces — the
      // whole point of this op is nat-vs-fold equivalence, so this
      // side must NOT be swapped to the native function
      expr("transform(embedding, x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000) " +
        "AS BIGINT) AS DOUBLE))").as("fold"))
      .select(col("vec_id"), col("nat"), col("fold"),
        expr("aggregate(zip_with(nat, fold, (a, b) -> " +
          "CAST(CASE WHEN a <=> b THEN 0 ELSE 1 END AS BIGINT)), " +
          "0L, (acc, x) -> acc + x)").as("mismatch"),
        expr("aggregate(nat, 0L, (acc, x) -> acc + CAST(x AS BIGINT))")
          .as("csum"),
        size(col("nat")).as("ncomp"))
    q.agg(count(lit(1)).as("n_vectors"),
      sum("ncomp").as("n_components"),
      sum("mismatch").as("mismatched_components"),
      sum("csum").as("component_checksum"))
  }

  val funcQuantizeLatticeSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
      |       CAST(sum(len(embedding)) AS BIGINT) AS n_components,
      |       CAST(0 AS BIGINT) AS mismatched_components,
      |       CAST(sum(list_sum(list_transform(embedding,
      |            x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))))
      |            AS BIGINT) AS component_checksum
      |FROM embeddings""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("func-quantize-lattice", funcQuantizeLattice, funcQuantizeLatticeSql))
}
