package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Query-scoped cache lifecycle.
  *
  * Operators that persist intermediates (shingle sets, candidate pairs,
  * prefix-sum inputs, …) register them here instead of calling
  * `.persist` directly; the harness (Verify / Bench / specs) calls
  * [[drain]] after each query's TERMINAL action. Without this, a
  * 60-query session strands one to three MEMORY_AND_DISK datasets per
  * heavy query — on a shared cluster that steals executor storage
  * memory from every later query, and nothing ever frees it because
  * the caller of a composable operator cannot see its internal caches.
  *
  * Drain order matters for completeness:
  *   1. registered datasets unpersist through the CacheManager (removes
  *      the plan-fingerprint entry, so a future identical plan does not
  *      silently re-populate the cache);
  *   2. `catalog.clearCache()` sweeps table caches and any `.persist`
  *      that bypassed the registry;
  *   3. a final pass over `getPersistentRDDs` frees RDDs persisted
  *      OUTSIDE the CacheManager — `localCheckpoint` pins its blocks
  *      this way (ConnectedComponents), invisible to steps 1–2.
  *
  * A drained result must not be re-executed: localCheckpointed plans
  * have truncated lineage and cannot recompute once their blocks are
  * dropped. The harness only drains after the result is fully consumed.
  */
object CacheScope {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()
  // what the calling thread registers inside [[released]], when it is in one
  private val scoped = new ThreadLocal[List[Dataset[_]]]()

  /** Persist `ds` at `level` and register it for the next [[drain]]. */
  def persisted[T](ds: Dataset[T],
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    ds.persist(level)
    live.add(ds)
    Option(scoped.get).foreach(held => scoped.set(ds :: held))
    ds
  }

  /** Run `body`, then unpersist the datasets this thread registered while
    * it ran, and only those: a caller that consumed an operator's result
    * (wrote it, say) releases that operator's caches without [[drain]]'s
    * session-wide `clearCache`, and other threads' caches stay. Operators
    * register from the thread that plans them, so an operator running
    * inside `body` is covered. Spark's cache matches plans, so another
    * thread's dataset with the same plan loses its cache entry too.
    */
  def released[T](body: => T): T = {
    val outer = scoped.get
    scoped.set(Nil)
    try body
    finally {
      val held = scoped.get
      scoped.set(outer)
      held.foreach { ds => if (live.remove(ds)) ds.unpersist(blocking = true) }
    }
  }

  /** Free the storage blocks of a `localCheckpoint`ed Dataset NOW.
    *
    * `Dataset.unpersist` routes through the CacheManager and is a
    * silent no-op on checkpoint blocks (they are pinned directly on
    * the RDD, invisible to the manager — see drain step 3). Iterative
    * operators that snapshot per round (ConnectedComponents, PageRank)
    * call this on round N−1 once round N is materialized, so storage
    * holds TWO round snapshots at any time instead of all of them —
    * at graph scale O(rounds × |edges|) pinned blocks is the
    * difference between an iteration that fits and one that evicts
    * the rest of the query. Safe only when the dataset's blocks are
    * provably not re-read (a truncated-lineage plan cannot recompute).
    *
    * The contract is STRUCTURAL: only a Dataset whose plan ROOT is the
    * checkpoint's own LogicalRDD is freed — i.e. the exact Dataset
    * `localCheckpoint()` returned. A derived plan that merely
    * references an upstream shared checkpoint somewhere inside it
    * no-ops, because freeing through it would drop blocks a
    * truncated lineage cannot recompute for the checkpoint's OTHER
    * readers.
    */
  def freeLocalCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Free every cache accumulated since the last drain (see class doc
    * for the three sweeps). Blocking by default: harness call sites
    * (Verify's finally, Bench's untimed gap, specs) sit outside any
    * timed region, and an async removal lets block-cleanup RPCs and the
    * localCheckpoint RDD sweep execute DURING the next query's timed
    * run — observed as 5-9× slowdowns on the cheap query following a
    * heavy drain. A blocking drain charges teardown to nobody.
    * `clearCache()` itself is async internally, so the final
    * `getPersistentRDDs` pass (which sees CacheManager-owned RDDs too)
    * re-unpersists blocking to fence every block's removal.
    */
  def drain(spark: SparkSession, blocking: Boolean = true): Unit = {
    var ds = live.poll()
    while (ds != null) { ds.unpersist(blocking = blocking); ds = live.poll() }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = blocking))
  }
}
