package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Tracked multi-consumer materialization — THE cache-lifecycle policy
  * for every operator that computes an expensive table read by two or
  * more downstream consumers (Dedup's shingle/token tables,
  * Similarity's bucket tables, the ingest dedup's committed-corpus
  * projections).
  *
  * Policy (recoverability contract): `persist(MEMORY_AND_DISK)` + one
  * eager count(), NEVER localCheckpoint. Checkpoint blocks lost with a
  * dead executor kill the job (no lineage to rebuild from), while a
  * persisted partition recomputes from its — deliberately shallow —
  * lineage; at 10^9 docs with executor churn that difference is the
  * job surviving the night. The eager count matters too: persist alone
  * is LAZY, so two sibling consumers of a cold cache would each
  * compute the kernel.
  *
  * Lifecycle: the code that runs the consuming action wraps it in
  * [[scoped]] — one scope per query, micro-batch or notebook cell. The
  * scope is tracked per thread (child threads do not inherit it), so
  * two jobs sharing one SparkSession from different threads never
  * unpersist each other's in-flight tables. On exit, normal or by
  * exception, the scope unpersists everything materialized inside it.
  * Outside any scope a table stays cached until the caller clears the
  * session cache (`spark.catalog.clearCache()`).
  */
object CacheRegistry {

  private val current = new ThreadLocal[ArrayBuffer[DataFrame]]

  /** Run `body` in a fresh scope and unpersist what it tracked once
    * `body` returns or throws. Release runs AFTER the body, so the
    * consuming action must complete inside it — a still-lazy plan
    * returned out of the scope recomputes its inputs from lineage
    * (correct but slow). Scopes nest: an inner scope releases only its
    * own tables.
    */
  def scoped[T](body: => T): T = {
    val outer = current.get
    val tracked = ArrayBuffer.empty[DataFrame]
    current.set(tracked)
    try body
    finally {
      current.set(outer)
      // unpersist failures (session already stopped) are swallowed —
      // cleanup must never mask the body's own result or exception
      tracked.foreach(df =>
        try df.unpersist()
        catch { case NonFatal(_) => () })
    }
  }

  /** Persist + eagerly materialize `df`, tracking it in the current
    * scope. The table is tracked BEFORE the eager count: persist()
    * registers the plan with the session's CacheManager immediately, so
    * a count that throws (per-query failures are designed outcomes in
    * Verify/Bench) must still leave the table releasable.
    */
  def materialize(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val p = df.persist(level)
    track(p)
    p.count()
    p
  }

  /** Track an ALREADY-persisted table in the current scope without
    * re-persisting — for operators that persist incrementally inside a
    * loop and register only what they return. A no-op outside a scope.
    */
  def track(df: DataFrame): Unit = {
    val tracked = current.get
    if (tracked != null) tracked += df
  }
}
