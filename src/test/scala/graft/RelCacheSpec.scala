package graft

import graft.model.RelCache
import graft.operators.TextDedup
import org.apache.spark.sql.functions._

/** The persist-lifecycle contract (VERDICT r9 #7): operators that
  * persist shared intermediates hold them in [[RelCache]] slots, a
  * re-invocation releases the previous invocation's blocks, and
  * releaseAll is the explicit close — so a long-lived session can
  * chain incremental invocations without leaking MEMORY_AND_DISK
  * blocks, enforced by code rather than a caller-must-sweep comment. */
class RelCacheSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  test("no leaked blocks after two chained incremental near-dup invocations") {
    SparkEntry.clearQueryCaches()
    assert(persisted == 0, "stale persisted RDDs before the scenario")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ref = docs.filter(col("doc_id") % 7 < 3)
    // two DIFFERENT crawls against the same reference — the chained-
    // session scenario (same plans would share cache entries and prove
    // nothing about accumulation)
    val crawl1 = docs.filter(col("doc_id") % 7 === 3)
    val crawl2 = docs.filter(col("doc_id") % 7 === 4)
    val r1 = TextDedup.nearDupAgainstReference(crawl1, ref,
      minJaccard = 0.3, md5Hashes = true)
    r1.count()
    val afterFirst = persisted
    assert(afterFirst > 0, "the operator should persist its shared relations")
    val r2 = TextDedup.nearDupAgainstReference(crawl2, ref,
      minJaccard = 0.3, md5Hashes = true)
    r2.count()
    // steady state: the second invocation REPLACED the first's blocks
    // (same-plan reference relation may be shared; nothing accumulates)
    assert(persisted <= afterFirst,
      s"chained invocations accumulated blocks: $afterFirst -> $persisted")
    // every slot the operator used is a keep = 1 slot
    assert(RelCache.liveSlots.nonEmpty && RelCache.liveSlots.values.forall(_ == 1),
      s"a keep = 1 slot holds more than one invocation: ${RelCache.liveSlots}")
    // the explicit close drops everything the operators held
    RelCache.releaseAll()
    assert(persisted == 0,
      s"releaseAll left ${spark.sparkContext.getPersistentRDDs.size} blocks")
    assert(RelCache.liveSlots.isEmpty)
  }

  test("re-invocation with an IDENTICAL plan keeps the shared cache entry live") {
    SparkEntry.clearQueryCaches()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 200)
    def pairs() = TextDedup.minhashLshPairs(docs, k = 8, bands = 4,
      shingleWidth = 3, minJaccard = 0.3, md5Hashes = true)
    pairs().count()
    val n1 = persisted
    assert(n1 > 0)
    // a warm re-run builds the same plan: hold() must NOT unpersist the
    // entry the new invocation just re-used (CacheManager keys entries
    // by canonicalized plan — dropping the old would drop the new)
    val again = pairs()
    again.count()
    assert(persisted == n1, "identical-plan re-invocation changed the block set")
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val usesCache = again.queryExecution.executedPlan.exists {
      case _: InMemoryTableScanExec => true
      case p => p.children.isEmpty && p.toString.contains("InMemoryTableScan")
    }
    assert(usesCache, "the re-invocation no longer reads the cached relation")
    RelCache.releaseAll()
    assert(persisted == 0)
  }

  test("rolling slots stay bounded over many invocations and sweep clean") {
    SparkEntry.clearQueryCaches()
    assert(persisted == 0)
    val docs = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey").as("id"),
        (col("l_extendedprice") % 1.0).as("p"))
    // more DIFFERENT-plan invocations of the bhAdjustScalable persists
    // than the slot keeps: the rolling family must cap at its keep
    // depth, not accumulate (VERDICT r17 #7 — Verify-style sessions
    // never sweep)
    val keep = RelCache.keepPerQuery
    val counts = (1 to keep + 3).map { i =>
      graft.operators.DiffExpr.bhAdjustScalable(
        docs.filter(col("id") % 17 === i), "p",
        Seq(col("id"))).count()
      persisted
    }
    assert(counts.last <= counts(keep),
      s"rolling holds kept accumulating: $counts")
    assert(RelCache.liveSlots.getOrElse("diffexpr.bhadjust.base", 0) <= keep)
    RelCache.releaseAll()
    assert(persisted == 0, s"releaseAll left rolling blocks: ${RelCache.liveSlots}")
    assert(RelCache.liveSlots.values.sum == 0)
  }

  /** CacheManager's WARN messages while `f` runs. Specs silence Spark
    * below ERROR, so the logger is raised to WARN for the capture and
    * set back afterwards. */
  private def cacheManagerWarnings(f: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val name = "org.apache.spark.sql.execution.CacheManager"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("relcache-spec-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    Configurator.setLevel(name, Level.WARN)
    val lc = ctx.getConfiguration.getLoggerConfig(name)
    lc.addAppender(capture, Level.WARN, null)
    ctx.updateLoggers()
    try f
    finally {
      lc.removeAppender(capture.getName)
      Configurator.setLevel(name, Level.ERROR)
      capture.stop()
    }
    seen.toArray.map(_.toString).toSeq
  }

  test("a second hold of an already cached same-plan relation logs no re-cache warning and keeps the entry") {
    SparkEntry.clearQueryCaches()
    assert(persisted == 0)
    // a warm re-run: the operator rebuilds the same plan and holds it again
    def rel() = spark.range(0, 1000, 1, 2).selectExpr("id % 7 AS k").groupBy("k").count()
    RelCache.hold("relcache.spec.twice", rel()).count()
    var again: org.apache.spark.sql.DataFrame = null
    val warnings = cacheManagerWarnings {
      again = RelCache.hold("relcache.spec.twice", rel())
      again.count()
    }
    assert(!warnings.exists(_.contains("already cached")),
      s"the re-hold persisted an already cached plan: $warnings")
    assert(persisted == 1, s"$persisted persisted RDDs after holding one plan twice")
    assert(again.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "the re-held relation lost its cache entry")
    assert(again.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
      "the re-held relation no longer reads the cached entry")
    RelCache.releaseAll()
    assert(persisted == 0)
  }

  test("six holds on one slot inside one query all stay live") {
    SparkEntry.clearQueryCaches()
    assert(persisted == 0)
    // one operator invoked per platform while one query is built: every
    // invocation's relation is still read when the query runs
    val base = spark.range(0, 100, 1, 2).toDF("id")
    val held = (1 to 6).map(i => RelCache.hold("relcache.spec.per_query",
      base.selectExpr(s"id * $i AS v"), keep = RelCache.keepPerQuery))
    val q = held.reduce(_ union _)
    assert(q.count() == 600)
    assert(RelCache.liveSlots.get("relcache.spec.per_query").contains(6),
      s"a hold released an earlier one of the same query: ${RelCache.liveSlots}")
    assert(persisted == 6, s"$persisted of 6 held relations are persisted")
    RelCache.releaseAll()
    assert(persisted == 0)
  }

  test("rolling same-plan re-hold keeps the shared cache entry live") {
    SparkEntry.clearQueryCaches()
    val docs = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey").as("id"), (col("l_extendedprice") % 1.0).as("p"))
      .filter(col("id") < 500)
    def run() = graft.operators.DiffExpr.bhAdjustScalable(docs, "p", Seq(col("id")))
    run().count()
    val n1 = persisted
    val again = run()
    again.count()
    assert(persisted == n1, "identical-plan rolling re-hold changed the block set")
    val usesCache = again.queryExecution.executedPlan.toString
      .contains("InMemoryTableScan")
    assert(usesCache, "the re-invocation no longer reads the cached relation")
    RelCache.releaseAll()
    assert(persisted == 0)
  }

  test("winnowOverlap and containmentAgainstIndex hold and release their relations") {
    SparkEntry.clearQueryCaches()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 300)
    TextDedup.winnowOverlap(docs, k = 4, window = 4, minShared = 2,
      md5Hashes = true).count()
    assert(RelCache.liveSlots.get("textdedup.winnowOverlap").contains(1))
    val ref = docs.filter(col("doc_id") % 7 < 3)
    val inc = docs.filter(col("doc_id") % 7 >= 3)
    val (fp, sizes) = TextDedup.winnowIndex(ref, k = 4, window = 4, md5Hashes = true)
    TextDedup.containmentAgainstIndex(inc, fp, sizes, k = 4, window = 4,
      minShared = 2, minContainment = 0.8, md5Hashes = true).count()
    assert(RelCache.liveSlots.get("textdedup.containmentAgainstIndex").contains(1))
    RelCache.releaseAll()
    assert(persisted == 0 && RelCache.liveSlots.isEmpty)
  }

  test("Batch.combat holds its two intermediates: three runs stay bounded by keep") {
    SparkEntry.clearQueryCaches()
    assert(persisted == 0)
    // three DIFFERENT inputs: each run's relations have new plans, so a
    // session-lifetime persist would leave 3 × 2 blocks behind
    val batches = (1 to 8).map(s => (s"s$s", if (s <= 4) "b1" else "b2"))
      .toDF("sample_id", "batch")
    (1 to 3).foreach { run =>
      val m = graft.model.ExpressionMatrix((for (g <- 1 to 20; s <- 1 to 8) yield
        (s"g$g", s"s$s", g * 0.5 + ((g * 7 + s * 3 + run) % 11) * 0.3 + (if (s <= 4) 1.0 else 0.0)))
        .toDF("gene_id", "sample_id", "value"))
      assert(graft.operators.Batch.combat(m, batches).df.count() == 160)
    }
    assert(RelCache.liveSlots.get("batch.combat.z").contains(1) &&
      RelCache.liveSlots.get("batch.combat.gb").contains(1), s"${RelCache.liveSlots}")
    assert(persisted <= 2, s"$persisted persisted RDDs after three ComBat runs (keep = 1, 2 slots)")
    RelCache.releaseAll()
    assert(persisted == 0)
  }
}
