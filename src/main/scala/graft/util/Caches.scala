package graft.util

import org.apache.spark.sql.SparkSession

/**
 * Cache-lifetime helper for operators with CALLER-OWNED caches
 * (VERDICT r4 next #7): minhashLsh, overlapsAnyPointByCells and the
 * broadcast-gated ANN entry points cache small relations whose lifetime is
 * the caller's session — the returned plans reference them lazily, so
 * the operator itself can never safely unpersist. Verify/Bench clear
 * between queries; a long-lived service should not need to know that
 * convention per operator — it wraps each unit of work in [[scoped]]
 * (or calls [[uncacheAll]] at its own cadence) instead.
 */
object Caches {

  /** Drop every cached Dataset AND every directly-persisted RDD in the
    * whole SparkContext — NOT just this session: both CacheManager and
    * getPersistentRDDs are context-wide, so in a multi-session JVM
    * (newSession per tenant) this clobbers sibling sessions' caches
    * too. Use only where the process owns all sessions (Verify/Bench/
    * batch drivers — the intended callers). Dataset.cache registers
    * with the shared CacheManager (cleared by catalog.clearCache);
    * direct RDD persists (spark.ml internals, mapPartitions escapes)
    * live outside it. */
  def uncacheAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Run `f` and release every cached relation it left behind, success
    * or failure. `f` must CONSUME its plans (collect/write/count):
    * returning a lazy DataFrame out of the scope would re-execute it
    * uncached — the scope is a unit of finished work, not a builder. */
  def scoped[T](spark: SparkSession)(f: => T): T =
    try f finally uncacheAll(spark)
}
