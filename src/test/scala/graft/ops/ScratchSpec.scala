package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.nio.file.{Files, Paths}

/** The per-process scratch under `/tmp/graft-ops/p<pid>` (`Tables.tmp`)
  * is removed when its JVM exits, and nothing else is. */
class ScratchSpec extends AnyFunSuite {

  test("tmp registers one shutdown hook, for this JVM's scratch root") {
    Tables.tmp("scratch-a", "x")
    Tables.tmp("scratch-b", "y")
    assert(Tables.scratchHook eq Tables.scratchHook)
    // the hook is already registered: registering it again is refused
    intercept[IllegalArgumentException](Runtime.getRuntime.addShutdownHook(Tables.scratchHook))
    assert(Tables.scratchRoot.getName == s"p${ProcessHandle.current().pid()}")
    assert(Tables.tmp("scratch-a", "x").startsWith(Tables.scratchRoot.getPath + "/"))
  }

  test("a JVM that used tmp leaves no scratch root behind, and other pids' dirs stay") {
    val other = new File(Tables.scratchRoot.getParentFile, s"p0-scratch-spec-${System.nanoTime()}")
    Files.createDirectories(other.toPath)
    Files.writeString(new File(other, "keep").toPath, "another process's scratch")
    try {
      val java = ProcessHandle.current().info().command().orElse("java")
      val child = new ProcessBuilder(java, "-Xmx64m", "-cp", System.getProperty("java.class.path"),
        ScratchChild.getClass.getName.stripSuffix("$"))
        .redirectErrorStream(true).start()
      val out = new String(child.getInputStream.readAllBytes()).trim
      assert(child.waitFor() == 0, out)
      val root = new File(out.linesIterator.toSeq.last)
      assert(root.getName.matches("p\\d+") && root.getName != Tables.scratchRoot.getName, out)
      assert(!root.exists(), s"$root survived its JVM")
      assert(new File(other, "keep").exists())
    } finally org.apache.commons.io.FileUtils.deleteQuietly(other)
  }
}

/** ScratchSpec's child JVM: fills its scratch root, prints it and exits. */
object ScratchChild {
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(Tables.tmp("scratch-child", "x"))
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("data"), "staged")
    println(Tables.scratchRoot.getPath)
  }
}
