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
  * extra shuffle) and sits inside the cached plan, so it sizes every scan
  * of the cache. It does not size the work that fills it when the frame
  * ends in a shuffle: each coalesced task then reads its share of all the
  * shuffle's reduce partitions, one fetch per partition. A pinned frame
  * whose last operator is a shuffle (a window, a join) must therefore be
  * shuffled to `defaultParallelism` partitions itself, as
  * `CrawlTick.runTick`'s tick frame is; the coalesce is then a no-op.
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
