package graft.tools

import graft.GraftSession
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Volume bench for the embedding/ANN family: synthesizes a vector
  * corpus at a requested size (64-dim hash-derived floats — no
  * rand(); every 100th vector is a planted near-dup of its
  * predecessor, identical in dims 0..62 and nudged +0.001 in dim 63,
  * cosine ≈ 0.9999) and runs the family's documented SCALE SHAPE at
  * that volume: lattice-cell blocking with the cell count raised so
  * each cell fits a task (the graded ops pin 8 centroids for the
  * oracle corpus and say exactly this in their scaladocs —
  * dedup-semdedup, dedup-semantic-ivf, ann-ivf). Reported, not
  * asserted: cell census (count/max — the ann-cell-balance audit at
  * volume), bounded candidate-pair count, planted-dup recall, wall
  * time per stage. The quantize/norm scan is timed separately as the
  * linear baseline every shape sits on.
  *
  * Usage: runMain graft.tools.EmbScaleBench [nVecs] [workDir]
  */
object EmbScaleBench {

  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val work = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("emb-scale").toString)
    val spark = GraftSession.local()
    graft.functions.DotProduct.register(spark)
    graft.functions.QuantizeLattice.register(spark)

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[emb-scale] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    timed(s"generate ($nVecs vecs)") {
      spark.range(nVecs)
        .withColumn("seed",
          when(col("id") % 100 === 1, col("id") - 1).otherwise(col("id")))
        .select(
          col("id").as("vec_id"),
          expr(
            """transform(sequence(0, 63), i -> CAST(
              |  (pmod(hash(seed, i), 2000001) - 1000000) / 1000000.0
              |  + IF(id % 100 = 1 AND i = 63, 0.001D, 0.0D) AS FLOAT))"""
              .stripMargin).as("embedding"),
          pmod(col("id"), lit(10)).cast("int").as("label"))
        .write.mode(SaveMode.Overwrite).parquet(s"$work/embeddings.parquet")
    }

    val e = spark.read.parquet(s"$work/embeddings.parquet")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))

    // linear baseline: one quantize + self-norm scan over the corpus
    timed("scan: quantize_lattice + norms (linear baseline)") {
      val n = e.select(col("vec_id"),
          expr("quantize_lattice(v, 1000.0D)").as("q"),
          expr("dot_product(v, v)").as("nq"))
        .agg(count(lit(1)), sum("nq")).collect()
      println(s"[emb-scale]   rows=${n.head.getLong(0)}")
    }

    // scale shape: lattice-cell blocking. Cell key = dims 0..5 floored
    // at scale 2 → 4^6 = 4096 cells over uniform [-1,1) data; the cell
    // count is the dial the graded ops' scaladocs say to raise with
    // corpus size so each cell fits a task. The planted dup differs
    // only in dim 63, so it always shares its original's cell —
    // blocking recall on the planted set is exactly the quantizer's
    // recall at this threshold.
    val celled = e.withColumn("cell",
      expr("array_join(transform(slice(v, 1, 6), x -> CAST(floor(x * 2) AS STRING)), ',')"))
      .withColumn("nq", expr("dot_product(v, v)"))
      .persist()

    timed("cell census (ann-cell-balance at volume)") {
      val st = celled.groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("cells"), max("n").as("max_cell"),
          sum(col("n") * col("n")).as("sum_sq")).collect().head
      println(s"[emb-scale]   cells=${st.getLong(0)} max_cell=${st.getLong(1)} " +
        s"candidate_pairs<=${st.getLong(2) / 2}")
    }

    timed("within-cell near-dup prune (semdedup scale shape)") {
      val pairs = celled.as("a").join(celled.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
          (expr("dot_product(a.v, b.v)") / sqrt(col("a.nq") * col("b.nq"))).as("c"))
        .filter(col("c") >= 0.999)
      val found = pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("ib") === col("ia") + 1 && col("ib") % 100 === 1, 1L)
          .otherwise(0L)).as("planted_found")).collect().head
      val expectedPlanted = nVecs / 100 // ids ≡ 1 (mod 100) in [0, nVecs)
      println(s"[emb-scale]   dup_pairs=${found.getLong(0)} " +
        s"planted_found=${found.getLong(1)} / $expectedPlanted " +
        f"(recall=${found.getLong(1).toDouble / expectedPlanted}%.4f)")
    }

    // cell-probe top-k for a broadcast query panel: per-query work =
    // |its cell|, the ann-ivf probe shape with the query side broadcast
    timed("cell-probe ANN top-5 for 64 queries") {
      val queries = celled.filter(col("vec_id") % (nVecs / 64) === 7)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("cell"), col("nq").as("qnq"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(desc("c"), col("vec_id"))
      val top = celled.join(broadcast(queries), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          (expr("dot_product(v, qv)") / sqrt(col("nq") * col("qnq"))).as("c"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      println(s"[emb-scale]   result_rows=${top.count()}")
    }

    celled.unpersist()
    spark.stop()
  }
}
