package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped materialized intermediates (the signature/feature store).
  *
  * The dedup/similarity family shares expensive derived tables — SimHash
  * signatures, MinHash band keys — that several queries consume. A 100 TB
  * deployment materializes these once (a signature table written by one job,
  * joined by every downstream dedup/cluster/search job) instead of
  * re-hashing the corpus per query; this helper is the single-session
  * analogue: first consumer computes and persists (memory, disk spill),
  * later consumers reuse the same persisted plan.
  *
  * Each session keeps its own plans, by logical name ([[graft.SessionScoped]]),
  * so a fresh session (tests, new driver run) never sees another session's
  * plans.
  */
object Materialized {

  private val cache = new graft.SessionScoped(
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]())

  def of(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    // NOT computeIfAbsent: derived entries build on top of other entries
    // (shinglesCapped -> shingles), and a nested computeIfAbsent on the
    // same map throws IllegalStateException("Recursive update") whenever
    // the inner entry isn't populated yet — previously masked because
    // bench warm-ups always touched the base relations first. get +
    // putIfAbsent keeps memoization (worst case one redundant build races,
    // the loser's persist is unwound) and is reentrancy-safe.
    val plans = cache(spark)
    val hit = plans.get(key)
    if (hit != null) return hit
    val built = build.persist(StorageLevel.MEMORY_AND_DISK)
    val prev = plans.putIfAbsent(key, built)
    // when the putIfAbsent races, do NOT unpersist the loser: CacheManager
    // keys cached blocks by the ANALYZED PLAN, and both builds of the same
    // key analyze to the same plan — the loser's unpersist would evict the
    // winner's entry too, silently un-caching the surviving DataFrame. The
    // loser's persist was a no-op against the already-registered plan, so
    // dropping the reference leaks nothing.
    if (prev != null) prev else built
  }
}
