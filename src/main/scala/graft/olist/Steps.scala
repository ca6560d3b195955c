package graft.olist

import java.util.concurrent.{CompletableFuture, ExecutionException, Executors}

/** Runs one layer's loads (or checks) concurrently along their dependency
  * graph. The reference runs them one after another because a single
  * SQL Server session does; Spark accepts concurrent jobs from many
  * driver threads and bounds task parallelism to its cores itself.
  *
  * Each step gets its own thread from a pool made for the call, so the
  * threads inherit the caller's Spark local properties (job group,
  * scheduler pool). A step starts once every step it names in `after`
  * has succeeded. A step whose dependency failed fails with that error
  * without running; independent steps still run to the end.
  */
object Steps {

  final case class Step[+T](name: String, after: Seq[String], run: () => T)

  def step[T](name: String, after: String*)(body: => T): Step[T] =
    Step(name, after, () => body)

  /** Waits for every step, then returns the results by name in input
    * order, or rethrows the first failure in input order. A dependency
    * must be named by an earlier step. */
  def run[T](steps: Seq[Step[T]]): Seq[(String, T)] = {
    val index = steps.map(_.name).zipWithIndex.toMap
    require(index.size == steps.size, s"duplicate step names in ${steps.map(_.name)}")
    steps.zipWithIndex.foreach { case (s, i) =>
      s.after.foreach(d => require(index.get(d).exists(_ < i),
        s"step ${s.name}: dependency $d is unknown or listed after it"))
    }
    val pool = Executors.newFixedThreadPool(math.max(1, steps.size))
    try {
      val futures = steps.foldLeft(Vector.empty[CompletableFuture[T]]) { (done, s) =>
        val deps = s.after.map(d => done(index(d)))
        val f = new CompletableFuture[T]()
        // every Throwable, fatal ones included, ends the step: a step
        // left incomplete would block the wait below forever
        pool.execute { () =>
          try { deps.foreach(await); f.complete(s.run()) }
          catch { case t: Throwable => f.completeExceptionally(t) }
        }
        done :+ f
      }
      futures.foreach(f => try f.get() catch { case _: ExecutionException => })
      steps.map(_.name).zip(futures.map(await)) // all ended: the first failure throws
    } finally pool.shutdown()
  }

  private def await[T](f: CompletableFuture[T]): T =
    try f.get() catch { case e: ExecutionException => throw e.getCause }
}
