package graft.tools

import graft.{GraftSession, SparkEntry}

/** Physical-plan audit: prints each query's formatted plan and greps it
  * for the scale hazards SURVEY §4 calls out — missing parquet filter
  * pushdown, missing column pruning, unexpected shuffle counts, dims not
  * broadcast, codegen gaps. Usage:
  *   runMain graft.tools.ExplainAudit [sfDir] [queryName ...]
  * With no query names, audits all and prints a one-line summary each;
  * with names, dumps the full formatted plans.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val wanted = args.drop(1).toSet
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => wanted.isEmpty || wanted.contains(n))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // formatted mode renders the tree then a numbered detail section —
        // count operators in the tree part only (lines starting with the
        // tree glyphs) to avoid double counting
        val tree = plan.linesIterator.takeWhile(_.trim.nonEmpty).mkString("\n")
        def n(pat: String, s: String = tree) = pat.r.findAllIn(s).size
        val codegenIds = "codegen id : (\\d+)".r.findAllMatchIn(plan)
          .map(_.group(1)).toSet.size
        println(f"$name%-24s exch=${n("Exchange")}%-2d bhj=${n("BroadcastHashJoin")}%-2d " +
          f"bnlj=${n("BroadcastNestedLoopJoin")}%-2d smj=${n("SortMergeJoin")}%-2d " +
          f"topk=${n("TakeOrderedAndProject")}%-2d wscSpans=$codegenIds%-2d " +
          f"pushed=${n("PushedFilters: \\[[^\\]]", plan)} scans=${n("Scan parquet")}")
        if (wanted.nonEmpty) println(plan)
      } catch {
        case e: Throwable => println(s"$name  PLAN-ERROR: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
