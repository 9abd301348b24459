package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one materialization rule of the library, decided by whether a frame
  * outlives the call that builds it:
  *  - a frame with several consumers that all run before the call returns
  *    goes through [[scoped]]: cached for the body, released when it ends,
  *    also when it throws;
  *  - a frame that outlives the call (a returned result, or a frame shared
  *    inside a returned plan) is a `localCheckpoint` — eager for the
  *    result of an op that runs as an action, lazy for a frame inside a
  *    returned plan (the first job that reads it fills it). The
  *    ContextCleaner frees its blocks after a driver GC finds the frame
  *    unreachable (until then they stay in executor storage), at the price
  *    of lineage recompute on executor loss.
  *
  * So no caller ever owns a cache, and none has to clear the session's
  * cache to release one.
  */
object Materialize {

  /** Persists `df` at MEMORY_AND_DISK, runs `body` on it and unpersists in
    * `finally`. Runs no action of its own: the body's first action fills
    * the cache, so wrapping a site keeps the jobs it ran. The body must not
    * return a lazy plan over the cached frame — checkpoint it first.
    */
  def scoped[T](df: DataFrame)(body: DataFrame => T): T = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    try body(cached) finally cached.unpersist()
  }
}
