package graft.operators

import scala.collection.concurrent.TrieMap

/** Oracles built from run-derived state: queries that train a model while
  * their plan is built (the k-means/PQ index family, d12/d15) embed that
  * model in their DuckDB SQL. A query body registers its oracle with
  * [[pending]] under (query, dir); Verify's post-write hook
  * (`SparkEntry.markMaterialized`) [[confirm]]s it once the result parquet
  * has landed, and [[published]] ships a name only when exactly one dir was
  * confirmed — a failed run publishes nothing, and two dirs verified in one
  * JVM are ambiguous, so either way the query degrades to a rows-only check.
  * Training is a deterministic function of `dir`, so re-registering the same
  * key stores the same SQL. */
object RunOracles {
  private val unconfirmed = TrieMap.empty[(String, String), String]
  private val confirmed = TrieMap.empty[(String, String), String]

  def pending(name: String, dir: String, sql: String): Unit =
    unconfirmed.put((name, dir), sql)

  /** No-op for a (name, dir) whose body never ran. */
  def confirm(name: String, dir: String): Unit =
    unconfirmed.get((name, dir)).foreach(confirmed.put((name, dir), _))

  def published: Map[String, String] =
    confirmed.readOnlySnapshot().toSeq.groupBy(_._1._1).collect {
      case (name, Seq((_, sql))) => name -> sql
    }

  /** Registered (name, dir) keys — for the wiring test. */
  private[graft] def registered: Set[(String, String)] = unconfirmed.keySet.toSet
}
