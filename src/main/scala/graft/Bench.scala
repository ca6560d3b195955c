package graft

import graft.KeyRunner.KeyRun

/** Per-round benchmark harness. Prints ONE compact JSON line as the
  * final stdout line; the driver recovers it from a bounded (2000-char)
  * stdout tail, so the line is built to FIT: `value` is the grand total
  * over every query, `queries` carries only the slowest entries up to a
  * strict length budget, and the complete per-query map goes to
  * BENCH_LATEST.json (committed, so the judge always has all timings —
  * r01 and r02 both lost the full map to tail truncation by printing
  * everything).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // Two noop-sink reps per key: `first` carries the one-time costs
    // (codegen, page cache, stored fixtures); `steady` (the second rep)
    // is the regression-adjudication column — BENCH_HISTORY.md shows
    // single-rep totals swing ±20-25% with host load, most of it
    // first-run noise.
    val runs = KeyRunner.run(spark, sfDir, KeyRunner.Noop, reps = 2)
    // Locale.ROOT formatting: the f interpolator uses the JVM default
    // locale, and a comma-decimal locale would emit invalid JSON.
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def obj(fields: Seq[(String, String)]): String =
      fields.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def entries(rs: Seq[(String, Double)]): String = obj(rs.map { case (k, v) => k -> num(v) })
    // a key that threw records -1.0 and stays out of both totals, so it
    // can never lower them
    def wall(r: KeyRun, rep: Int): Double = if (r.ok) r.reps(rep).wallS else -1.0
    val byName = runs.sortBy(_.name)
    def perKey(f: KeyRun => Double): String = entries(byName.map(r => r.name -> f(r)))
    // the steady rep's profile; per-stage rows are QTime's
    val profiles = obj(byName.filter(_.ok).map { r =>
      r.name -> obj(r.reps(1).totals.map { case (k, v) => k -> v.toString })
    })
    val blockPuts = obj(byName.filter(_.blockPuts > 0).map(r => r.name -> r.blockPuts.toString))
    val cSorted = runs.map(_.canaryS).sorted
    val (cMin, cMed, cMax) =
      if (cSorted.isEmpty) (0.0, 0.0, 0.0)
      else (cSorted.head, cSorted(cSorted.size / 2), cSorted.last)
    // Stdout line: slowest-first entries until the 1500-char budget —
    // headroom for the driver's 2000-char tail window minus sbt's
    // trailing "[success] Total time" line and the JSON envelope.
    val budget = 1500
    val slowFirst = runs.map(r => r.name -> wall(r, 0)).sortBy(-_._2)
    val kept = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var used = 2 // braces
    slowFirst.foreach { case (k, v) =>
      val cost = k.length + num(v).length + 4 // quotes, colon, comma
      if (used + cost <= budget) { kept += ((k, v)); used += cost }
    }
    val headline = entries(kept.toSeq.sortBy(_._1))
    // BENCH_LATEST.json is reserved for the canonical scale factor
    // (sf0.1, what every round's BENCH_r{N}.json measures) — a run at a
    // different sf lands in a sf-suffixed file so a local sf0.01
    // iteration can never masquerade as a cross-round comparable total.
    val sfName = new java.io.File(sfDir).getName
    val defaultName =
      if (sfName == "sf0.1") "BENCH_LATEST.json" else s"BENCH_LATEST_$sfName.json"
    val benchFile = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        new java.io.File(System.getProperty("user.dir"), defaultName).getPath))
    val summary =
      s""""metric":"total","value":${num(KeyRunner.total(runs, 0))},"value_steady":${num(KeyRunner.total(runs, 1))},"unit":"sec","nqueries":${runs.size},"nfailed":${runs.count(!_.ok)},"nblockput":${runs.map(_.blockPuts).sum},"reps":2,"canary_min":${num(cMin)},"canary_med":${num(cMed)},"canary_max":${num(cMax)}"""
    val fullLine =
      s"""{$summary,"queries":${perKey(wall(_, 0))},"queries_steady":${perKey(wall(_, 1))},"canary":${perKey(_.canaryS)},"profile":$profiles,"blockput":$blockPuts,"sf":"$sfDir"}"""
    val line =
      s"""{$summary,"queries":$headline,"queries_file":"${benchFile.getAbsolutePath}","sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(benchFile.toPath, fullLine + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not persist $benchFile: $e")
    }
    // stop Spark BEFORE printing so the timing line is guaranteed to be
    // the final stdout line
    spark.stop()
    println(line)
  }
}
