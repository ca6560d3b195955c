package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One stream harness: reading and writing streams, triggers and the
  * run to completion live in `StreamingOps` alone, so a stream key cannot
  * grow its own copy of the replay choreography. */
class StreamCensusSpec extends AnyFunSuite {

  private val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
    .filter(_.toString.endsWith(".scala")).toSeq

  test("only StreamingOps under src/main reads or writes a stream or sets a trigger") {
    assert(files.exists(_.endsWith("StreamingOps.scala")), "source scan found no StreamingOps")
    val call = """readStream|writeStream|Trigger\.""".r
    val callers = files.filter { f =>
      !f.endsWith("StreamingOps.scala") && call.findFirstIn(Files.readString(f)).isDefined
    }
    assert(callers.isEmpty,
      s"use the StreamingOps replay harness instead: ${callers.mkString(", ")}")
  }

  test("src/main runs a stream to completion in exactly one place") {
    val awaits = files.map(f => f -> "awaitTermination".r.findAllIn(Files.readString(f)).size)
      .filter(_._2 > 0)
    assert(awaits.map(_._2).sum == 1, s"awaitTermination occurrences: ${awaits.mkString(", ")}")
  }
}
