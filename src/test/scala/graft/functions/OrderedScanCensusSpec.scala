package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One ordered scan: the range exchange, the per-partition summary and
  * the positional stamp live in `PrefixScan` alone, so a surrogate key or
  * a window port cannot grow its own copy of the two-pass scan. */
class OrderedScanCensusSpec extends AnyFunSuite {

  test("only PrefixScan under src/main range-partitions, scans by partition id or zips with an index") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("PrefixScan.scala")), "source scan found no PrefixScan")
    val call = """repartitionByRange\s*\(|mapPartitionsWithIndex|\.zipWithIndex\s*\(\s*\)""".r
    val callers = files.filter { f =>
      !f.endsWith("PrefixScan.scala") && call.findFirstIn(Files.readString(f)).isDefined
    }
    assert(callers.isEmpty,
      s"use PrefixScan's ordered scan instead: ${callers.mkString(", ")}")
  }
}
