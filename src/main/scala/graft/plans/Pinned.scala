package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one way the crawl path caches a frame that several consumers read.
  *
  * Partition rule: a pinned frame keeps ONE PARTITION PER CORE
  * (`sparkContext.defaultParallelism`), whatever its last shuffle produced.
  * Spark plans a cached query with
  * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false`, so AQE
  * never coalesces the cached plan's final stage: a plain `.persist()`
  * after a window or join keeps all `spark.sql.shuffle.partitions` (200 by
  * default) output partitions, and every stage that computes or reads the
  * frame then runs 200 mostly empty tasks. A fixture tick pays that fixed
  * cost thousands of times for a few dozen rows. `coalesce` is narrow (no
  * extra shuffle) and sits inside the cached plan, so it sizes both the
  * stage that fills the cache and every scan of it.
  *
  * The result is still an `InMemoryRelation` over the full logical plan:
  * EXPLAIN shows the cached plan, and after the release hook runs the frame
  * recomputes from lineage (a checkpoint would cut it, and frames used
  * after `TickResult.cleanup()` would fail).
  */
object Pinned {

  /** `df` cached at one partition per core, plus its release hook. */
  def apply(df: DataFrame): (DataFrame, () => Unit) = {
    val pinned = df
      .coalesce(df.sparkSession.sparkContext.defaultParallelism)
      .persist(StorageLevel.MEMORY_AND_DISK)
    (pinned, () => { pinned.unpersist(blocking = false); () })
  }
}
