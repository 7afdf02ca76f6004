package graft

import org.apache.spark.sql.SparkSession

/** Per-session state: every memo and catalog the engine keeps for a
  * `SparkSession` is one of these, as the reference's `TableEnvironment`
  * owns its `CatalogManager` and `FunctionCatalog` and no other environment
  * sees them. `apply(spark)` returns that session's container, built by
  * `init` on first use.
  *
  * Keys are the sessions themselves (identity equals/hashCode), held
  * weakly. A container that holds a `DataFrame` pins its own session, so
  * inserting a session also drops the entries of stopped contexts. `init`
  * runs under the lock: keep it cheap and non-reentrant (an empty map or
  * reference); expensive builds belong inside the container.
  *
  * JVM-wide on purpose: `UpsertSink.InMemoryStore` and
  * `LookupJoin.CsvFileBackend` (read on executors, which have no session),
  * `Tables.schemaCache` (a pure function of the fixture files),
  * `StreamingOps.effectiveStatePartitions`/`currentQueryName` (bench
  * telemetry of the running query) and the checkpoint root (moving it
  * would change the streaming benchmark's I/O). */
final class SessionScoped[V <: AnyRef](init: => V) {
  private val bySession = new java.util.WeakHashMap[SparkSession, V]()

  def apply(spark: SparkSession): V = bySession.synchronized {
    var v = bySession.get(spark)
    if (v == null) {
      bySession.keySet.removeIf(_.sparkContext.isStopped)
      v = init
      bySession.put(spark, v)
    }
    v
  }
}
