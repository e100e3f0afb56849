package graft

import graft.model.RelCache
import graft.operators.TextDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Gates a task until another thread has made its hold (the concurrent
  * spec below). Tasks of a local session run in this JVM, so the UDF
  * reaches the latches through this object. */
object RelCacheSpecGate {
  @volatile var started = new java.util.concurrent.CountDownLatch(1)
  @volatile var held = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    started = new java.util.concurrent.CountDownLatch(1)
    held = new java.util.concurrent.CountDownLatch(1)
  }
  def pass(): Boolean = {
    started.countDown()
    held.await(60, java.util.concurrent.TimeUnit.SECONDS)
    true
  }
}

/** The persist-lifecycle contract: operators hold shared intermediates
  * in [[RelCache]], a hold lives until the query scope that made it
  * exits (each test here is one scope, through [[SparkSpec]]), and
  * releaseAll is the sweep — so neither a concurrent query nor a later
  * chain can release a relation a query still reads, and a long-lived
  * session leaks no MEMORY_AND_DISK blocks past its queries. */
class RelCacheSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  /** Runs `body` on a new thread, which inherits this thread's scope. */
  private def fork[T](body: => T): java.util.concurrent.FutureTask[T] = {
    val task = new java.util.concurrent.FutureTask[T](() => body)
    new Thread(task).start()
    task
  }

  private def await[T](task: java.util.concurrent.FutureTask[T]): T =
    task.get(120, java.util.concurrent.TimeUnit.SECONDS)

  test("no leaked blocks after two chained incremental near-dup invocations") {
    SparkEntry.clearQueryCaches()
    assert(persisted == 0, "stale persisted RDDs before the scenario")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ref = docs.filter(col("doc_id") % 7 < 3)
    // two DIFFERENT crawls against the same reference, each its own
    // query — the chained-session scenario
    Seq(3, 4).foreach { c =>
      RelCache.scope {
        TextDedup.nearDupAgainstReference(docs.filter(col("doc_id") % 7 === c), ref,
          minJaccard = 0.3, md5Hashes = true).count()
        assert(persisted > 0, "the operator should persist its shared relations")
        assert(RelCache.liveSlots.nonEmpty && RelCache.liveSlots.values.forall(_ == 1),
          s"one invocation held a slot twice: ${RelCache.liveSlots}")
      }
      assert(persisted == 0, s"crawl $c's scope left $persisted blocks")
      assert(RelCache.liveSlots.isEmpty)
    }
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

  test("scoped bhAdjustScalable invocations leave no blocks behind and sweep clean") {
    SparkEntry.clearQueryCaches()
    assert(persisted == 0)
    val docs = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey").as("id"),
        (col("l_extendedprice") % 1.0).as("p"))
    // many DIFFERENT-plan invocations, one query each (Verify-style
    // sessions never sweep): every query's holds go with its scope
    (1 to 13).foreach { i =>
      RelCache.scope {
        graft.operators.DiffExpr.bhAdjustScalable(
          docs.filter(col("id") % 17 === i), "p", Seq(col("id"))).count()
        assert(RelCache.liveSlots.get("diffexpr.bhadjust.base").contains(1))
      }
      assert(persisted == 0, s"invocation $i's scope left $persisted blocks")
    }
    // outside a query scope the holds are the session's until the sweep
    graft.operators.DiffExpr.bhAdjustScalable(docs, "p", Seq(col("id"))).count()
    assert(RelCache.liveSlots.get("diffexpr.bhadjust.base").contains(1))
    RelCache.releaseAll()
    assert(persisted == 0, s"releaseAll left blocks: ${RelCache.liveSlots}")
    assert(RelCache.liveSlots.isEmpty)
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
    RelCache.scope {
      val held = (1 to 6).map(i => RelCache.hold("relcache.spec.per_query",
        base.selectExpr(s"id * $i AS v")))
      val q = held.reduce(_ union _)
      assert(q.count() == 600)
      assert(RelCache.liveSlots.get("relcache.spec.per_query").contains(6),
        s"a hold released an earlier one of the same query: ${RelCache.liveSlots}")
      assert(persisted == 6, s"$persisted of 6 held relations are persisted")
    }
    assert(persisted == 0, s"the query's scope left $persisted blocks")
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

  test("Batch.combat holds its two intermediates until its query's scope exits") {
    SparkEntry.clearQueryCaches()
    assert(persisted == 0)
    // three DIFFERENT inputs, one query each: a session-lifetime persist
    // would leave 3 × 2 blocks behind
    val batches = (1 to 8).map(s => (s"s$s", if (s <= 4) "b1" else "b2"))
      .toDF("sample_id", "batch")
    (1 to 3).foreach { run =>
      val m = graft.model.ExpressionMatrix((for (g <- 1 to 20; s <- 1 to 8) yield
        (s"g$g", s"s$s", g * 0.5 + ((g * 7 + s * 3 + run) % 11) * 0.3 + (if (s <= 4) 1.0 else 0.0)))
        .toDF("gene_id", "sample_id", "value"))
      RelCache.scope {
        assert(graft.operators.Batch.combat(m, batches).df.count() == 160)
        assert(RelCache.liveSlots.get("batch.combat.z").contains(1) &&
          RelCache.liveSlots.get("batch.combat.gb").contains(1), s"${RelCache.liveSlots}")
      }
      assert(persisted == 0, s"$persisted persisted RDDs after ComBat run $run's scope")
    }
  }

  test("concurrent holds on one slot: another query's hold leaves a running query's relation cached") {
    SparkEntry.clearQueryCaches()
    RelCacheSpecGate.reset()
    val gate = udf((_: Long) => RelCacheSpecGate.pass())
    val n = 20000L
    // query A holds the slot and runs its action; query B holds the same
    // slot with a different plan while A's tasks are running
    val a = fork {
      RelCache.scope {
        val rel = RelCache.hold("relcache.spec.concurrent",
          spark.range(0, n, 1, 4).selectExpr("id", "id * 3 AS v"))
        val total = rel.where(gate(col("id"))).agg(sum("v")).head().getLong(0)
        (rel, total, rel.storageLevel)
      }
    }
    assert(RelCacheSpecGate.started.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "query A's action never started")
    val b = fork {
      try RelCache.scope {
        RelCache.hold("relcache.spec.concurrent",
          spark.range(0, n, 1, 4).selectExpr("id", "id * 5 AS v"))
      } finally RelCacheSpecGate.held.countDown()
    }
    await(b)
    val (rel, total, levelInQuery) = await(a)
    assert(total == 3 * n * (n - 1) / 2, s"query A read a wrong sum: $total")
    assert(levelInQuery != StorageLevel.NONE,
      "query B's hold released query A's relation while A ran")
    assert(rel.storageLevel == StorageLevel.NONE, "A's scope exit kept its relation")
    assert(persisted == 0)
  }

  test("a lazy chain keeps its holds while a later chain is built: the first minhashLshPairs reads its cache") {
    SparkEntry.clearQueryCaches()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def pairs(d: DataFrame) = TextDedup.minhashLshPairs(d, k = 8, bands = 4,
      shingleWidth = 3, minJaccard = 0.3, md5Hashes = true)
    // crawl A's chain, then crawl B's, and only then A's action (the
    // perfbench text_curation order)
    val first = pairs(docs.filter(col("doc_id") % 2 === 0))
    pairs(docs.filter(col("doc_id") % 2 === 1))
    first.collect()
    assert(first.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
      s"the first chain's holds were released before its action: ${RelCache.liveSlots}")
  }

  test("two scopes holding one plan share it: it stays cached until the last scope exits") {
    SparkEntry.clearQueryCaches()
    def rel() = spark.range(0, 1000, 1, 2).selectExpr("id % 11 AS k").groupBy("k").count()
    val aHeld, bHeld = new java.util.concurrent.CountDownLatch(1)
    val aExit, bExit = new java.util.concurrent.CountDownLatch(1)
    def query(held: java.util.concurrent.CountDownLatch,
        exit: java.util.concurrent.CountDownLatch) = fork {
      RelCache.scope {
        RelCache.hold("relcache.spec.shared", rel()).count()
        held.countDown()
        exit.await(60, java.util.concurrent.TimeUnit.SECONDS)
      }
    }
    val a = query(aHeld, aExit)
    val b = query(bHeld, bExit)
    assert(aHeld.await(60, java.util.concurrent.TimeUnit.SECONDS) &&
      bHeld.await(60, java.util.concurrent.TimeUnit.SECONDS))
    aExit.countDown(); await(a)
    assert(rel().storageLevel != StorageLevel.NONE,
      "the first scope's exit released a plan the other scope still holds")
    assert(RelCache.liveSlots.get("relcache.spec.shared").contains(1))
    bExit.countDown(); await(b)
    assert(rel().storageLevel == StorageLevel.NONE, "the last scope's exit kept the plan")
    assert(persisted == 0)
  }

  test("a nested scope releases only its own holds, and releaseAll leaves an open scope nothing to release") {
    SparkEntry.clearQueryCaches()
    val raw = RelCache.scope {
      val outer = RelCache.hold("relcache.spec.outer",
        spark.range(0, 100, 1, 2).selectExpr("id * 2 AS v"))
      val inner = RelCache.scope {
        val r = RelCache.hold("relcache.spec.inner",
          spark.range(0, 100, 1, 2).selectExpr("id * 3 AS v"))
        r.count()
        r
      }
      assert(inner.storageLevel == StorageLevel.NONE, "the inner scope kept its hold")
      assert(outer.storageLevel != StorageLevel.NONE, "the inner scope released the outer's hold")
      assert(RelCache.liveSlots == Map("relcache.spec.outer" -> 1), s"${RelCache.liveSlots}")
      // the sweep empties open scopes too
      RelCache.releaseAll()
      assert(outer.storageLevel == StorageLevel.NONE && RelCache.liveSlots.isEmpty)
      // a persist made after the sweep is not this scope's to release
      outer.persist()
    }
    assert(raw.storageLevel != StorageLevel.NONE,
      "the scope's exit released a relation the sweep had already taken from it")
    raw.unpersist()
    assert(persisted == 0)
  }
}
