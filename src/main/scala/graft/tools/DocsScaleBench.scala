package graft.tools

import graft.{GraftSession, KeyRunner}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Volume bench for the training-data pipeline operators: synthesizes a
  * documents corpus at a requested size (hash-derived words over a 50k
  * vocabulary — deterministic, no rand(); every 100th doc is a planted
  * near-dup of its predecessor sharing 59 of 60 words) and times the
  * dedup/analysis operators end-to-end (noop sink) against it. The
  * graded testdata (sf0.1 ≈ 5k docs) proves correctness; this proves
  * the shapes hold when the corpus is 100× that.
  *
  * Usage: runMain graft.tools.DocsScaleBench [nDocs] [workDir] [q1,q2,...]
  */
object DocsScaleBench {

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val work = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("docs-scale").toString)
    val spark = GraftSession.local()

    val t0 = System.nanoTime()
    // near-dups: doc 100k+1 rebuilds doc 100k's first 59 words and
    // differs in the last — 59/60 shingle overlap, never exact-equal
    spark.range(nDocs)
      .withColumn("seed",
        when(col("id") % 100 === 1, col("id") - 1).otherwise(col("id")))
      .select(
        col("id").as("doc_id"),
        concat(
          array_join(expr(
            "transform(sequence(1, 59), i -> concat('w', pmod(hash(seed, i), 50000)))"), " "),
          lit(" "),
          concat(lit("w"), pmod(hash(col("id"), lit(999)), lit(50000)))).as("text"),
        lit("en").as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")))
      .write.mode(SaveMode.Overwrite).parquet(s"$work/documents.parquet")
    println(f"[docs-scale] generate ($nDocs docs): ${(System.nanoTime() - t0) / 1e9}%.1f s")
    println(s"[docs-scale] corpus rows: ${spark.read.parquet(s"$work/documents.parquet").count()}")

    val names = args.lift(2).map(_.split(",").toSeq).getOrElse(
      Seq("dedup-exact", "dedup-simhash", "dedup-minhash-lsh", "dedup-cluster",
        "dedup-incremental", "text-repetition", "text-contamination"))
    KeyRunner.run(spark, work, KeyRunner.Noop, only = Some(names)).foreach { r =>
      r.error.foreach(e => println(s"[docs-scale] ${r.name} failed: $e"))
      r.reps.foreach(rep => println(f"[docs-scale] ${r.name}: ${rep.wallS}%.1f s"))
    }
    spark.stop()
  }
}
