package graft.ops

/** One registered operator key: its Spark query and the DuckDB oracle SQL
  * that must return the same rows under the same column aliases. */
final case class Key(name: String, query: Tables.Q, oracle: String)

/** An ops module: declares each of its keys once, name next to query and
  * oracle, so no name can drift between two per-module maps. */
trait KeyModule {
  def keys: Seq[Key]
}

object KeyModule {
  /** Every key of `modules`, in module order. A name declared twice,
    * within one module or across two, fails here instead of one
    * declaration silently shadowing the other. */
  def registry(modules: Seq[KeyModule]): Seq[Key] = {
    val keys = modules.flatMap(_.keys)
    val dups = keys.groupBy(_.name).collect { case (n, ks) if ks.size > 1 => n }
    require(dups.isEmpty, s"keys declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    keys
  }
}
