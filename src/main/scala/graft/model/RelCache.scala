package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.util.control.NonFatal

/** Lifetime registry for operator-persisted relations. Operators
  * persist intermediates that several plan branches share
  * ([[graft.operators.TextDedup.minhashLshPairs]], the incremental
  * index operators, the DE and QC stage inputs); their results are
  * lazy, so the operator itself can never know when it is safe to
  * unpersist. The query that made a hold knows: like each reference
  * R script's intermediates, a hold lives while its query runs.
  *
  * One lifetime rule:
  *  - a [[hold]] belongs to the innermost open [[scope]] of the thread
  *    that made it. Threads started inside a scope (an
  *    `Overlap.inParallel` pool) inherit it, the way they inherit the
  *    job group. The scope's exit releases its holds, whether the body
  *    returned or threw;
  *  - a hold made outside any scope belongs to the session and is
  *    released only by [[releaseAll]], which the cache sweep
  *    [[graft.SparkEntry.clearQueryCaches]] calls. Nothing is evicted
  *    in between, so a lazy chain built before another one still reads
  *    its holds when its action runs.
  *
  * A release unpersists a relation only when no other live holder
  * (another open scope, or the session) holds a `sameResult` plan:
  * Spark's CacheManager keys entries by plan, so two concurrent queries
  * that build the same relation share one entry. Unpersisting a relation
  * that a running query still reads is NOT harmless: under Verify's
  * four concurrent queries it once failed q69 with `ROW_VALUE_IS_NULL`.
  * Scopes are what rule that out; [[releaseAll]] empties every holder,
  * open scopes included, so nothing may call it while queries run.
  * Slot names are labels only ([[liveSlots]]). */
object RelCache {
  private final class Holder {
    val held = mutable.ArrayBuffer.empty[(String, DataFrame)]
  }

  private val session = new Holder
  private val open = mutable.LinkedHashSet.empty[Holder]
  private val current = new InheritableThreadLocal[Holder]
  private def holders: Seq[Holder] = open.toSeq :+ session

  /** Run `body` as one query scope: holds made while it runs, on this
    * thread or threads it starts, are released when it exits. Scopes
    * nest; an inner scope releases only its own holds. */
  def scope[T](body: => T): T = {
    val outer = current.get
    val mine = new Holder
    synchronized(open += mine)
    current.set(mine)
    try body
    finally {
      current.set(outer)
      synchronized {
        open -= mine
        val others = holders.flatMap(_.held.map(_._2))
        mine.held.foreach { case (_, df) =>
          if (!others.exists(sameResult(df, _))) unpersistQuietly(df)
        }
        mine.held.clear()
      }
    }
  }

  /** Persist `df` (MEMORY_AND_DISK) for the innermost open scope, or for
    * the session outside any scope. Returns `df` so call sites can bind
    * it inline. */
  def hold(slot: String, df: DataFrame): DataFrame = synchronized {
    // a same-plan relation already cached (a warm re-run, or another
    // query's hold) is shared: persisting it again only makes Spark warn
    if (df.storageLevel == StorageLevel.NONE) df.persist(StorageLevel.MEMORY_AND_DISK)
    // a thread can outlive the scope it inherited: its holds go to the
    // session, where the sweep still finds them
    val owner = Option(current.get).filter(open.contains).getOrElse(session)
    owner.held += slot -> df
    df
  }

  /** The sweep: every holder, open scopes included, is emptied and its
    * relations unpersisted. */
  def releaseAll(): Unit = synchronized {
    val all = holders.flatMap(_.held.map(_._2))
    holders.foreach(_.held.clear())
    all.foreach(unpersistQuietly)
  }

  /** Slots currently holding relations, with their live hold counts
    * (spec introspection). */
  def liveSlots: Map[String, Int] =
    liveHolds.groupBy(_._1).map { case (slot, hs) => slot -> hs.size }

  /** Every live hold with its slot (spec introspection). */
  private[graft] def liveHolds: Seq[(String, DataFrame)] = synchronized {
    holders.flatMap(_.held).toSeq
  }

  private def sameResult(a: DataFrame, b: DataFrame): Boolean =
    try a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed)
    catch { case NonFatal(_) => false }

  private def unpersistQuietly(df: DataFrame): Unit =
    try df.unpersist(blocking = false)
    catch { case NonFatal(_) => () } // a stopped session has no blocks to free
}
