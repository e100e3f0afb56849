package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Session-lifetime registry for operator-persisted relations — the
  * enforced form of the "caller-must-sweep" contract
  * ([[graft.operators.TextDedup.minhashLshPairs]] and the incremental
  * index operators persist intermediates that several plan branches
  * share; the results are lazy, so the operator itself can never know
  * when it is safe to unpersist).
  *
  * Contract (VERDICT r9 #7):
  *  - every operator persist goes through [[hold]] under a per-
  *    operator slot name; a RE-invocation of the same operator
  *    releases the oldest invocation's blocks beyond the slot's `keep`
  *    depth, so a long-lived session holds at most `keep` live
  *    invocations' blocks per operator (steady-state bounded by code,
  *    not by a comment);
  *  - [[release]]/[[releaseAll]] are the explicit close for callers
  *    that want the blocks gone before the next invocation (the
  *    session cache sweep [[graft.SparkEntry.clearQueryCaches]] calls
  *    [[releaseAll]], so bench cold samples stay honest-cold).
  *
  * Re-invocation with an IDENTICAL plan (a bench warm sample re-
  * building the same query) must NOT drop the cache it just re-used:
  * Spark's CacheManager keys entries by canonicalized plan, so
  * unpersisting the previous invocation's same-plan DataFrame would
  * evict the new invocation's entry too. [[hold]] therefore forgets a
  * same-plan (`sameResult`) predecessor without unpersisting it.
  *
  * `keep` (round 18, VERDICT r17 #7): operators invoked several times
  * while building ONE query (bhAdjustScalable per contrast/platform,
  * moderatedT per platform) pass [[keepPerQuery]], so a later
  * invocation never releases blocks an earlier invocation's branches
  * still need at action time.
  *
  * Unpersisting a persisted-but-still-referenced relation is always
  * CORRECT (branches recompute from lineage) — this registry manages
  * memory lifecycle, never results. */
object RelCache {
  /** `keep` for operators invoked once per platform or contrast inside
    * one query. The reference's ceiling is one invocation per
    * platform: 9 microarray platforms + RNA-seq = 10. Below that, a
    * later platform's invocation releases an earlier one's blocks while
    * the query still reads them (still correct: the branches recompute
    * from lineage). */
  val keepPerQuery = 10

  private val slots = scala.collection.mutable.Map.empty[String, Vector[DataFrame]]

  /** Persist `df` (MEMORY_AND_DISK) under `slot`, keeping the `keep`
    * most recent distinct-plan relations there and releasing older
    * ones. Returns `df` so call sites can bind it inline. */
  def hold(slot: String, df: DataFrame, keep: Int = 1): DataFrame = {
    require(keep >= 1, s"keep must be at least 1, got $keep")
    // a same-plan relation already cached (a warm re-run) is reused:
    // persisting it again only makes Spark warn
    if (df.storageLevel == StorageLevel.NONE) df.persist(StorageLevel.MEMORY_AND_DISK)
    val evicted = synchronized {
      // drop same-plan twins' references, keep their cache
      val others = slots.getOrElse(slot, Vector.empty).filterNot(p =>
        try df.queryExecution.analyzed.sameResult(p.queryExecution.analyzed)
        catch { case _: Throwable => false })
      slots(slot) = others.takeRight(keep - 1) :+ df
      others.dropRight(keep - 1)
    }
    evicted.foreach(unpersistQuietly)
    df
  }

  /** Explicitly release one operator slot's blocks. */
  def release(slot: String): Unit =
    synchronized(slots.remove(slot)).foreach(_.foreach(unpersistQuietly))

  /** Explicit close for the whole registry — every held block is
    * unpersisted and the bookkeeping cleared. */
  def releaseAll(): Unit = {
    val all = synchronized { val v = slots.values.flatten.toSeq; slots.clear(); v }
    all.foreach(unpersistQuietly)
  }

  /** Slots currently holding blocks, with their live relation counts
    * (spec introspection). */
  def liveSlots: Map[String, Int] =
    synchronized(slots.map { case (k, v) => k -> v.size }.toMap)

  private def unpersistQuietly(df: DataFrame): Unit =
    try df.unpersist(blocking = false)
    catch { case _: Throwable => () } // a stopped session has no blocks to free
}
