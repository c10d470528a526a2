package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Registry for long-lived plan caches (shingle sets, LSH band
  * tables, SimHash chunk tables). These persists are deliberately
  * NOT scoped to a single query: Spark's CacheManager matches the
  * identical sub-plan across queries, so a 240-query Verify/Bench run
  * shingles the corpus once, not once per dedup query. The cost of
  * that design is that no single query can safely unpersist them —
  * so ownership lives here, and harness entry points (Bench between
  * runs, Verify at exit, specs in afterAll) call [[release]] to drop
  * every registered block. Repeated registration of an equal plan is
  * harmless: Spark reuses the existing cache entry and unpersist is
  * idempotent.
  */
object CachedPlans {
  private val registry = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` (MEMORY_AND_DISK) and record it for [[release]]. */
  def cache(df: DataFrame): DataFrame = synchronized {
    registry += df
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Unpersist every registered plan and clear the registry. */
  def release(): Unit = synchronized {
    registry.foreach(_.unpersist(blocking = false))
    registry.clear()
  }
}
