package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Caller-scoped lifecycle for the scratch DataFrames some operators persist
  * internally (the LSH signature / shingle-set "indexes" that feed 2–4
  * downstream joins each).
  *
  * Contract: WITHOUT a scope the operators do not persist at all — still
  * correct, the shingling just recomputes per consumer — so a bare call can
  * never leak storage memory into a long-lived session (notebook, streaming
  * driver, multi-corpus loop). Callers that want the reuse — any pipeline
  * that builds AND materializes the result in one place (a batch job,
  * Verify) — either wrap build+materialization in
  * [[CacheScope.cached]] (ambient scope, released on exit) or pass an
  * explicit scope and own `unpersist()`.
  */
final class CacheScope private[graft] (val active: Boolean) {
  private val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` under this scope (identity when the scope is inactive). */
  def cache(df: DataFrame): DataFrame =
    if (!active) df
    else synchronized {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      tracked += p
      p
    }

  /** Release every block this scope persisted. Idempotent. */
  def unpersist(blocking: Boolean = false): Unit = synchronized {
    tracked.foreach { df =>
      try df.unpersist(blocking) catch { case _: Throwable => () }
    }
    tracked.clear()
  }
}

object CacheScope {
  /** Inactive scope: operators run persist-free (the default). */
  val off: CacheScope = new CacheScope(false)

  /** A fresh active scope the caller owns — call `unpersist()` when done. */
  def apply(): CacheScope = new CacheScope(true)

  private val dyn = new scala.util.DynamicVariable[CacheScope](off)

  /** The scope operators pick up when none is passed: [[off]] unless the
    * call happens inside [[cached]]. */
  def ambient: CacheScope = dyn.value

  /** Run `f` with scratch caching enabled; every block persisted by graft
    * operators inside is released when `f` returns (even on failure).
    * Materialize results inside the scope — a lazy DataFrame escaping it
    * stays correct but recomputes its scratch inputs. */
  def cached[T](f: => T): T = {
    val scope = new CacheScope(true)
    try dyn.withValue(scope)(f)
    finally scope.unpersist()
  }
}
