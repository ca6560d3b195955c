package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions installer for the engine's native functions —
  * the deployment hook that makes them available in every session of a
  * cluster without per-session registration:
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *
  * or programmatically, on a `SparkSession.Builder`:
  *   .withExtensions(new GraftExtensions)
  *
  * Injected at the FunctionRegistry level (vs the per-session
  * createOrReplaceTempFunction used by the register() helpers), so the
  * function exists before any query is analyzed — including queries
  * arriving via thrift/connect fronts that never run Scala setup code.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2, "cosine_similarity takes exactly 2 arguments")
        CosineSimilarity(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("hamming_distance"),
      new ExpressionInfo(classOf[HammingDistance].getName, "hamming_distance"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2, "hamming_distance takes exactly 2 arguments")
        HammingDistance(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2, "dot_product takes exactly 2 arguments")
        DotProduct(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("quantize_lattice"),
      new ExpressionInfo(classOf[QuantizeLattice].getName, "quantize_lattice"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2, "quantize_lattice takes exactly 2 arguments")
        QuantizeLattice(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("quantize_lattice_long"),
      new ExpressionInfo(classOf[QuantizeLatticeLong].getName,
        "quantize_lattice_long"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2,
          "quantize_lattice_long takes exactly 2 arguments")
        QuantizeLatticeLong(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("hex_slice_long"),
      new ExpressionInfo(classOf[HexSliceLong].getName, "hex_slice_long"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 3, "hex_slice_long takes exactly 3 arguments")
        HexSliceLong(exprs.head, exprs(1), exprs(2))
      }))
    e.injectFunction((
      new FunctionIdentifier("capped_distinct_list"),
      new ExpressionInfo(classOf[CappedDistinctList].getName,
        "capped_distinct_list"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2,
          "capped_distinct_list takes exactly 2 arguments")
        CappedDistinctList(exprs.head, exprs(1))
      }))
    // bloom_filter_agg — Spark's own BloomFilterAggregate, which the
    // 4.x registry keeps INTERNAL (resolvable only when the planner
    // plants it), re-exposed by name so hand-built semi-join reduction
    // (join-bloom-prefilter) can build the sketch with the same
    // distributed partial/merge aggregate InjectRuntimeFilter uses.
    // Args: (xxhash64'd key [, estimatedNumItems [, numBits]]).
    e.injectFunction((
      new FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        exprs match {
          case Seq(c) => new BloomFilterAggregate(c)
          case Seq(c, n) => new BloomFilterAggregate(c, n)
          case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
          case _ => throw new IllegalArgumentException(
            "bloom_filter_agg takes 1 to 3 arguments")
        }
      }))
    // might_contain — Spark's own BloomFilterMightContain predicate
    // (the probe half of runtime row-level filtering), exposed by name.
    // bloom_filter_agg is registered by Spark itself; the probe side is
    // planner-internal, so deployments that build bloom prefilters BY
    // HAND (join-bloom-prefilter) need this injection to keep the fact
    // scan inside whole-stage codegen instead of a closure UDF. The
    // expression requires its filter argument to be a foldable binary
    // (Literal or scalar subquery) — it deserializes the sketch once
    // per task, not per row.
    e.injectFunction((
      new FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2, "might_contain takes exactly 2 arguments")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs.head, exprs(1))
      }))
    // optimizer rule: interpreted aggregate(zip_with(a, b, *), 0d, +)
    // folds become the codegen dot_product expression (see
    // DotProductRewrite) — declarative vector math gets the native loop
    // without query changes
    e.injectOptimizerRule(_ => DotProductRewrite)
    // planner strategy for the custom TopKPerKey logical operator
    // (bounded-heap top-k per key, graft.plans) — partial + final exec
    // with a key exchange between them
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
  }
}
