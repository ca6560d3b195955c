package graft

import graft.ops.{Key, KeyModule}
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the driver contract: every query has an oracle, no
  * module silently shadows another's key, and names stay stable. */
class SparkEntryContractSpec extends AnyFunSuite {

  test("every query has an oracle and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q diff o).isEmpty, s"queries without oracle: ${q diff o}")
    assert((o diff q).isEmpty, s"oracles without query: ${o diff q}")
  }

  test("no duplicate keys across modules (Map ++ would silently shadow)") {
    val perModule = SparkEntry.modules.map(_.keys.map(_.name).toSet)
    val total = perModule.map(_.size).sum
    val combined = perModule.reduce(_ union _).size
    assert(total == combined,
      s"duplicate query keys across modules: ${
        perModule.flatten.groupBy(identity).collect { case (k, v) if v.size > 1 => k }}")
  }

  private def module(names: String*): KeyModule = new KeyModule {
    val keys: Seq[Key] = names.map(n => Key(n, (s, d) => s.emptyDataFrame, "SELECT 1"))
  }

  test("a module that declares a name twice is rejected when the registry is built") {
    val e = intercept[IllegalArgumentException](KeyModule.registry(Seq(module("a", "b", "a"))))
    assert(e.getMessage.endsWith("declared more than once: a"))
    assert(KeyModule.registry(Seq(module("a", "b"))).map(_.name) == Seq("a", "b"))
  }

  test("two modules that declare the same name are rejected when the registry is built") {
    val e = intercept[IllegalArgumentException](
      KeyModule.registry(Seq(module("a", "b"), module("c", "b"))))
    assert(e.getMessage.endsWith("declared more than once: b"))
  }

  test("oracle SQL is non-empty and references no Spark-only syntax") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name: empty oracle")
      // get_json_object / try_to_timestamp etc. are Spark-side; the
      // oracle must stay DuckDB-runnable
      assert(!sql.contains("get_json_object"), s"$name: Spark-only fn in oracle")
      assert(!sql.contains("try_to_timestamp"), s"$name: Spark-only fn in oracle")
    }
  }

  test("query count covers the SURVEY §2 inventory breadth") {
    assert(SparkEntry.queries.size >= 70, s"only ${SparkEntry.queries.size} queries registered")
  }
}
