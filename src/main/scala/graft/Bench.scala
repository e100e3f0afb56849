package graft
import org.apache.spark.sql.SparkSession

/** Shared bench instrumentation — everything a sample needs to NAME
  * its own cost in the artifact (VERDICT r10 #2, r12 #1): host steal,
  * driver GC/JIT, per-task metrics, and (round 13) the SESSION
  * STORAGE STATE the sample ran under. The storage fields close the
  * last unattributed channel: a warm sample re-reading MEMORY_AND_DISK
  * cache partitions that storage pressure pushed to DISK does real
  * extra task work (decompress + disk read) that "the tasks ran
  * longer" buckets could see but not explain — rdd_disk_mb names it. */
private[graft] object BenchKit {
  import scala.jdk.CollectionConverters._

  // Host CPU-steal accounting (/proc/stat first line: user nice
  // system idle iowait irq softirq STEAL ...): ambient host
  // contention is the bench's dominant noise term (r8: 375 s driver
  // vs 251 s builder on identical code, with warm>cold inversions
  // matching diagnosed steal bursts) — recording the per-sample
  // steal fraction makes that drift attributable in the artifact
  // instead of costing an investigation each round.
  def cpuJiffies(): Option[(Long, Long)] =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).get
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      // total = user..steal (first 8 fields) only: the kernel folds
      // guest/guest_nice into user jiffies, so summing all fields
      // double-counts guest time and under-reports the steal
      // fraction on VM hosts (ADVICE r9)
      Some((f(7), f.take(8).sum)) // (steal, total)
    } catch { case _: Throwable => None }

  // In-SESSION noise accounting (VERDICT r9 #1): per-sample GC
  // collection-time and JIT compilation-time deltas, as fractions of
  // the sample's wall, exactly like steal — so an inflated sample
  // names its cause in the artifact instead of costing an
  // investigation.
  def gcMillis(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def jitMillis(): Long =
    Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)

  // Janino compiles of generated classes and their time, JVM totals.
  // A compiled class stays in the JVM's class cache across samples,
  // like JIT code, so a sample's delta is the code generation it
  // could not reuse: its compile floor.
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def codegenNanos(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  case class Tasks(jobs: Long, tasks: Long, taskSec: Double,
      cpuFrac: Double, taskGcFrac: Double, shufMb: Double, spillMb: Double)

  /** Session storage state at sample end (round 13, VERDICT r12 #1):
    * `rddMemMb`/`rddDiskMb` = cached-RDD bytes in memory / pushed to
    * disk (getRDDStorageInfo), `storeMb` = block-manager storage
    * memory USED (getExecutorMemoryStatus max-remaining — includes
    * broadcast blocks, which never show in RDD storage info and only
    * die when the ContextCleaner GCs their driver references). A warm
    * sample whose rdd_disk_mb is large is reading its "cache" from
    * disk; a sample whose store_mb dwarfs rdd_mem_mb is squeezed by
    * broadcast residue. */
  case class Store(storeMb: Double, rddMemMb: Double, rddDiskMb: Double)
  def storeSnap(spark: SparkSession): Store =
    try {
      val infos = spark.sparkContext.getRDDStorageInfo
      val used = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, rem) => max - rem }.sum
      Store(used / 1e6, infos.map(_.memSize).sum / 1e6,
        infos.map(_.diskSize).sum / 1e6)
    } catch { case _: Throwable => Store(0, 0, 0) }

  case class Sample(wall: Double, err: Option[String],
      steal: Option[Double], gc: Double, jit: Double, t: Tasks,
      buildSec: Double, store: Store, codegenCompiles: Long,
      codegenMs: Double)

  // Per-sample JOB/STAGE listener (VERDICT r10 #2): records what the
  // TASKS did during each sample (executor run/cpu time, task GC,
  // shuffle volume, spill), so an inflated wall names its cause in
  // the artifact: task_sec scaling with wall = uniform slowdown
  // (ambient contention); flat task_sec with inflated wall =
  // scheduler idle/straggler; cpu_frac collapse = cpu-wait.
  class TaskMeter extends org.apache.spark.scheduler.SparkListener {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var gcMs = 0L; var shufB = 0L; var spillB = 0L
    override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      synchronized {
        tasks += 1
        val m = t.taskMetrics
        if (m != null) {
          runMs += m.executorRunTime; cpuNs += m.executorCpuTime
          gcMs += m.jvmGCTime
          shufB += m.shuffleReadMetrics.totalBytesRead
          spillB += m.diskBytesSpilled
        }
      }
    def reset(): Unit = synchronized {
      jobs = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0; shufB = 0
      spillB = 0
    }
    // quiescence probe for the post-sample bus drain: the pair of
    // monotone counters that move on every late-arriving event
    def counts(): (Long, Long) = synchronized { (jobs, tasks) }
    def snap(): Tasks = synchronized {
      Tasks(jobs, tasks, runMs / 1e3,
        if (runMs > 0) cpuNs / 1e6 / runMs else 0.0,
        if (runMs > 0) gcMs.toDouble / runMs else 0.0,
        shufB / 1e6, spillB / 1e6)
    }
  }

  // Post-sample listener-bus drain (ADVICE r11): poll until the
  // meter's job/task counters are quiescent (two consecutive
  // identical reads), bounded at 2 s so a wedged bus can't hang the
  // bench. A fixed 50 ms sleep raced multi-second, 100+-job samples
  // and could bleed one sample's job and task counts into the next
  // sample's row.
  def drainMeter(meter: TaskMeter): Unit = {
    var lastCounts = (-1L, -1L)
    var settled = 0
    val drainDeadline = System.nanoTime() + 2_000_000_000L
    while (settled < 2 && System.nanoTime() < drainDeadline) {
      Thread.sleep(20)
      val now = meter.counts()
      if (now == lastCounts) settled += 1 else { settled = 0; lastCounts = now }
    }
  }

  /** One instrumented execution of `fn`. `toRdd.count()` materializes
    * every output column — a plain Dataset.count() would let Catalyst
    * prune the expensive projections and under-measure the query. */
  def measure(spark: SparkSession, meter: TaskMeter)
      (fn: => org.apache.spark.sql.DataFrame): Sample = {
    meter.reset()
    val b0 = graft.model.BuildMeter.seconds
    val j0 = cpuJiffies(); val g0 = gcMillis(); val c0 = jitMillis()
    val cg0 = codegenCompiles(); val cgNs0 = codegenNanos()
    val t0 = System.nanoTime()
    val err =
      try { fn.queryExecution.toRdd.count(); None }
      catch { case e: Throwable => Some(e.toString.takeWhile(_ != '\n').take(200)) }
    val wall = (System.nanoTime() - t0) / 1e9
    val steal = for {
      (s0, tot0) <- j0; (s1, tot1) <- cpuJiffies()
      if tot1 > tot0
    } yield (s1 - s0).toDouble / (tot1 - tot0)
    // listener events are async — drain the bus to quiescence
    // before snapshotting (ADVICE r11)
    drainMeter(meter)
    // fractions of this sample's wall spent in stop-the-world GC
    // and (cumulative, cross-thread) JIT compilation; jit can
    // exceed 1.0 — several compiler threads run concurrently
    Sample(wall, err, steal,
      (gcMillis() - g0) / 1e3 / wall.max(1e-9),
      (jitMillis() - c0) / 1e3 / wall.max(1e-9), meter.snap(),
      graft.model.BuildMeter.seconds - b0, storeSnap(spark),
      codegenCompiles() - cg0, (codegenNanos() - cgNs0) / 1e6)
  }

  /** Session warm-up (codegen, JIT, parquet footers) so per-query
    * numbers measure the queries, not JVM startup. Shared with the
    * fresh-JVM session-2 child so its samples start from the same
    * baseline as the main bench's. */
  def warmSession(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Seq("lineitem", "documents", "embeddings", "events")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
  }

  def buildSession(): SparkSession = {
    val spark = graft.model.SessionTuning.session().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the iterative kernels INTENTIONALLY unpersist locally-checkpointed
    // round state once the next state is materialized; Spark logs an
    // unconditional "cannot be recomputed after unpersisting" WARN per
    // release (one per contraction round) — correct-by-construction
    // here. ADVICE r15: deny ONLY that message (the old whole-logger
    // ERROR demotion also masked "block not found" warnings — the
    // first symptom if releaseState ever freed a still-needed
    // lineage-truncated block).
    graft.model.LogHygiene.suppressIntentionalUnpersistWarn()
    spark
  }

  // full control-char escape (ADVICE r13): a tab or stray \r in an
  // exception message (CRLF survives takeWhile(_ != '\n')) would
  // otherwise produce an invalid-JSON artifact
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The host a run measured: the cores this JVM sees, its max heap
    * and the machine's total RAM (-1 when the OS bean cannot say), so
    * an artifact's walls carry the size of the host behind them. */
  def hostFacts(): String = {
    val rt = Runtime.getRuntime
    val ramMb = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getTotalMemorySize >> 20
      case _ => -1L
    }
    s"""{"available_processors":${rt.availableProcessors},""" +
      s""""max_heap_mb":${rt.maxMemory >> 20},"total_ram_mb":$ramMb}"""
  }
}

object Bench {
  import BenchKit._

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.model.SessionTuning.defaultCores.toString
    // Each query is timed `reps` times and the BEST is reported (the
    // ScaleProbe convention): a single-sample bench let one burst of
    // machine contention forge a >2× "regression" on unchanged code in
    // round 4 (19 phantom slowdowns, none reproducible). The minimum of
    // two runs only lies if BOTH samples were contended; raw samples
    // are emitted alongside so any contention is visible in the
    // artifact itself.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val spark = buildSession()
    // Warehouse RETENTION runs where the warehouse is actually used
    // (VERDICT r12 #5): sweep orphaned fixture generations before the
    // first at-rest query re-registers anything, and record the
    // sweep's result in the artifact so the dir count is observable
    // round over round instead of growing silently.
    // The sweep is made NON-VACUOUS every run (VERDICT r13 #6): plant
    // one orphan generation dir (fixture-tagged name whose key can
    // never be live) before sweeping and assert the sweep ate it —
    // `{"deleted":1,...,"planted_deleted":true}` is distinguishable
    // from "the sweep didn't look". The live fixture's own dir joins
    // the liveness set explicitly (ADVICE r13: an SF_DIR outside
    // /root/testdata would otherwise have its live generation swept
    // at bench start, forcing rebuilds mid-measurement).
    val whGc =
      try {
        val wh = new org.apache.hadoop.fs.Path(
          spark.sessionState.conf.warehousePath)
        val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val plantName = "graft_plant_sf0_0_000000000000"
        val plant = new org.apache.hadoop.fs.Path(wh, plantName)
        val planted =
          try {
            fs.mkdirs(plant)
            val o = fs.create(new org.apache.hadoop.fs.Path(plant, "part-0"), true)
            try o.write("orphan".getBytes("UTF-8")) finally o.close()
            true
          } catch { case _: Throwable => false }
        val (del, kept) = graft.model.AtRest.gcWarehouse(spark,
          extraFixtureDirs = Seq(sfDir))
        val plantDeleted = planted && del.contains(plantName) && !fs.exists(plant)
        s"""{"deleted":${del.size},"kept":${kept.size},""" +
          s""""planted_deleted":$plantDeleted}"""
      } catch { case e: Throwable =>
        s"""{"err":${jsonStr(e.toString.take(120))}}""" }
    warmSession(spark, sfDir)
    // Local-iteration subset (same convention as Verify): the driver
    // never sets SPARK_GRAFT_ONLY, so the round artifact is always the
    // full catalog.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val meter = new TaskMeter
    spark.sparkContext.addSparkListener(meter)
    // Driver-heap hygiene between samples (VERDICT r12 #1): RDD,
    // broadcast and checkpoint blocks are only reclaimed when the
    // ContextCleaner sees their driver references die in a GC — 100+
    // queries into the catalog the block manager carries hundreds of
    // MB of dead broadcast residue, which squeezes the unified store
    // until live caches land on DISK (the q147/q123 warm-inversion
    // mechanism: a "warm" read became a disk read + decompress at 2x
    // the recompute cost). One explicit driver GC per sample runs
    // OUTSIDE the clock and keeps each sample's storage state a
    // function of the QUERY, not of catalog position.
    def reclaimDeadBlocks(): Unit = {
      System.gc()
      // the cleaner processes its reference queue asynchronously;
      // give it a bounded beat so unpersists land before the sample
      Thread.sleep(50)
    }
    val results = SparkEntry.queries.toSeq
      .filter(t => only.forall(_.findFirstIn(t._1).isDefined))
      .sortBy(_._1).map { case (name, fn) =>
      def once(cold: Boolean = true): Sample = {
        // drop the query-scoped memo caches (shared chain fixtures,
        // IVF quantizer) BEFORE the clock starts: round 5's q73
        // headline was a 0.05 s memo hit on a 4.4 s cold chain — a
        // best-of-N sample must measure the query, not the cache.
        // Warm samples skip the clear: recording BOTH separates a
        // methodology change from an operator regression across
        // rounds (the r5→r6 "1.55×" was purely warm→cold).
        if (cold) SparkEntry.clearQueryCaches()
        reclaimDeadBlocks()
        measure(spark, meter)(fn(spark, sfDir))
      }
      val base = (1 to reps).map(_ => once())
      // sub-second queries are scheduling-jitter-bound (measured: every
      // >1.3x cross-run delta in round 5 was sub-second); one extra
      // sample there costs little and tightens the artifact
      val coldSamples0 =
        if (base.map(_.wall).min < 1.0 && base.forall(_.err.isEmpty)) base :+ once()
        else base
      // RETRY-ON-HIGH-STEAL (round 18, VERDICT r17 #1 — the r16 #5
      // discipline): when the HEADLINE cold sample itself ran under
      // >5% host steal, every rep of this query hit a contended
      // window and the committed number measures the host, not the
      // code (r17: q125 cold 91.4 s on both driver reps, 7.3-7.8 s in
      // three same-code builder runs). Take up to 2 extra cold
      // samples — the min-of-N convention is unchanged, all raw
      // samples stay in the artifact, and a retry that still lands
      // steal-flagged leaves the query on the high_steal list exactly
      // as before.
      var coldSamples = coldSamples0
      var stealRetries = 0
      def headlineStealFlagged(ss: Seq[Sample]): Boolean = {
        val ok = ss.filter(_.err.isEmpty)
        ok.nonEmpty && ok.minBy(_.wall).steal.exists(_ > 0.05)
      }
      while (stealRetries < 2 && headlineStealFlagged(coldSamples)) {
        coldSamples = coldSamples :+ once()
        stealRetries += 1
      }
      // warm samples per query, after the colds (memo caches carry
      // over from the last cold run); a FAILED warm rep must not pose
      // as a fast warm number — record null and surface the error.
      // EVERY query gets TWO warm samples and reports the min — the
      // same contention filter the cold headline has.
      val warmRes: Seq[Sample] =
        if (coldSamples.forall(_.err.isEmpty)) {
          val w0 = Seq(once(cold = false), once(cold = false))
          // same retry-on-steal discipline for the warm headline
          if (headlineStealFlagged(w0)) w0 :+ once(cold = false) else w0
        } else Seq.empty
      val warmOk = warmRes.collect { case s if s.err.isEmpty => s.wall }
      val warm = if (warmOk.nonEmpty) Some(warmOk.min) else None
      val err = coldSamples.flatMap(_.err).headOption
        .orElse(warmRes.flatMap(_.err).headOption.map(e => s"warm-only: $e"))
      // the reported min is over SUCCESSFUL samples: a fast failure
      // must not under-report a query whose other rep succeeded (the
      // headline and the failure set would disagree); only when every
      // rep failed do the failed walls stand in
      val ok = coldSamples.collect { case s if s.err.isEmpty => s.wall }
      (name, coldSamples.map(_.wall),
        if (ok.nonEmpty) ok else coldSamples.map(_.wall), warm, err,
        coldSamples ++ warmRes)
    }
    def stealArr(ss: Seq[Option[Double]]): String =
      ss.map(_.map(v => f"$v%.4f").getOrElse("null")).mkString("[", ",", "]")
    def fracArr(ss: Seq[Double]): String =
      ss.map(v => f"$v%.4f").mkString("[", ",", "]")
    def mbArr(ss: Seq[Double]): String =
      ss.map(v => f"$v%.1f").mkString("[", ",", "]")
    val qs = results.map { case (k, _, ok, _, _, _) => s"\"" + k + "\":" + ok.min }
      .mkString("{", ",", "}")
    // the structured per-query map the round artifacts consume:
    // name → {cold (best-of-N, caches cleared), warm (post-cold
    // samples, caches kept), samples (raw cold walls), steal/gc/jit
    // (per-sample fractions of wall, cold samples then warm samples),
    // codegen_compiles/codegen_ms (per-sample Janino compiles and
    // their milliseconds; compiled classes survive the cold clear),
    // task_gc/shuf_mb/spill_mb (per-sample task-level costs),
    // store_mb/rdd_mem_mb/rdd_disk_mb (per-sample session storage
    // state — the round-13 channel that names cache-on-disk)}
    val parsed = results.map { case (k, ss, ok, warm, _, samples) =>
      s"\"" + k + "\":{\"cold\":" + ok.min +
        ",\"warm\":" + warm.map(_.toString).getOrElse("null") +
        ",\"samples\":" + ss.mkString("[", ",", "]") +
        ",\"steal\":" + stealArr(samples.map(_.steal)) +
        ",\"gc\":" + fracArr(samples.map(_.gc)) +
        ",\"jit\":" + fracArr(samples.map(_.jit)) +
        ",\"codegen_compiles\":" + samples.map(_.codegenCompiles).mkString("[", ",", "]") +
        ",\"codegen_ms\":" + mbArr(samples.map(_.codegenMs)) +
        ",\"task_sec\":" + fracArr(samples.map(_.t.taskSec)) +
        ",\"cpu_frac\":" + fracArr(samples.map(_.t.cpuFrac)) +
        ",\"task_gc\":" + fracArr(samples.map(_.t.taskGcFrac)) +
        ",\"shuf_mb\":" + mbArr(samples.map(_.t.shufMb)) +
        ",\"spill_mb\":" + mbArr(samples.map(_.t.spillMb)) +
        ",\"store_mb\":" + mbArr(samples.map(_.store.storeMb)) +
        ",\"rdd_mem_mb\":" + mbArr(samples.map(_.store.rddMemMb)) +
        ",\"rdd_disk_mb\":" + mbArr(samples.map(_.store.rddDiskMb)) + "}" }
      .mkString("{", ",", "}")
    val failures = results.collect { case (k, _, _, _, Some(e), _) =>
      "\"" + k + "\":" + jsonStr(e) }
      .mkString("{", ",", "}")
    val total = results.map(_._3.min).sum
    // samples whose steal fraction exceeds the flag threshold: these
    // walls are ambient-contended, not the query's own cost
    val stealThreshold = 0.05
    val highSteal = results.collect {
      case (k, _, _, _, _, samples)
        if samples.flatMap(_.steal).exists(_ > stealThreshold) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // samples dominated by stop-the-world GC (same flag convention):
    // these walls are JVM-debt-contended, not the query's own cost
    val gcThreshold = 0.20
    val highGc = results.collect {
      case (k, _, _, _, _, samples)
        if samples.exists(_.gc > gcThreshold) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // SESSION-2 at-rest leg: the amortized family's warehouse
    // artifacts survive the session via build-complete markers. The
    // leg runs in a FRESH CHILD JVM (the literal driver-restart shape):
    // same classpath and module flags as this process, its own
    // SparkSession over the same warehouse dir, so the first sample
    // pays exactly marker re-registration + fresh-JVM first execution
    // and nothing else.
    val s2Names = Seq("q128_neardup_amortized", "q141_quality_cluster_amortized",
        "q150_graph_amortized", "q176_components_at_rest")
      .filter(n => SparkEntry.queries.contains(n) &&
        only.forall(_.findFirstIn(n).isDefined))
    val session2 =
      if (s2Names.isEmpty) "{}" else BenchS2.spawn(sfDir, cpus, s2Names)
    val host = hostFacts()
    val json = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"queries":$qs,"parsed":$parsed,"failures":$failures,"session2":$session2,"high_steal":$highSteal,"steal_threshold":$stealThreshold,"high_gc":$highGc,"gc_threshold":$gcThreshold,"warehouse_gc":$whGc,"sf":${jsonStr(sfDir)},"host":$host}"""
    println(json)
    // Persist the full artifact: captured stdout tails truncate to the
    // last ~2000 chars, which can never hold the 170+-query map — the
    // FILE is the structured record.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () }
    // Final stdout line: a COMPACT summary sized to fit whole inside a
    // 2000-char tail window (total, failure names, 5 slowest colds),
    // so a truncated capture still parses structurally.
    val slow = results.sortBy(-_._3.min).take(5)
      .map { case (k, _, ok, warm, _, _) => s"\"" + k + "\":{\"cold\":" +
        f"${ok.min}%.2f" + ",\"warm\":" +
        warm.map(w => f"$w%.2f").getOrElse("null") + "}" }
      .mkString("{", ",", "}")
    val failNames = results.collect { case (k, _, _, _, Some(_), _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    println(s"""{"bench_summary":{"total":$total,"n_queries":${results.size},""" +
      s""""reps":$reps,"failed":$failNames,"high_steal":$highSteal,""" +
      s""""high_gc":$highGc,"host":$host,""" +
      s""""slowest":$slow,"detail":${jsonStr(outPath)}}}""")
    spark.stop()
  }
}

/** Fresh-JVM session-2 runner. Spawned by [[Bench]] as a child
  * process with this JVM's classpath and module flags; the child
  * builds its OWN SparkSession over the same warehouse directory, so
  * its in-memory catalog starts empty and the first execution of each
  * amortized query must take the marker re-registration branch — the
  * literal driver-restart shape, with none of the parent bench's
  * accumulated heap/JIT/storage state in the samples. Takes the query
  * names as arguments and prints one JSON line (prefix `S2CHILD:`) the
  * parent embeds verbatim as the artifact's `session2` object. */
object BenchS2 {
  import BenchKit._

  /** Parent side: fork the child and harvest its JSON line; a child
    * that cannot start, times out or prints no result yields
    * `{"err":...}` instead. */
  def spawn(sfDir: String, cpus: String, names: Seq[String]): String = {
    try {
      val javaBin = new java.io.File(new java.io.File(
        sys.props("java.home"), "bin"), "java").getAbsolutePath
      // re-use this JVM's own flags (module opens, -Xmx, -D confs) so
      // the child is the same runtime shape as the parent, minus the
      // accumulated state
      import scala.jdk.CollectionConverters._
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      val cmd = (Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.BenchS2") ++ names).asJava
      val pb = new ProcessBuilder(cmd)
      pb.directory(new java.io.File(sys.props("user.dir")))
      pb.redirectErrorStream(false)
      val env = pb.environment()
      env.put("SPARK_GRAFT_SF_DIR", sfDir)
      env.put("SPARK_GRAFT_CPUS", cpus)
      val p = pb.start()
      // drain stderr on a daemon thread so Spark's logging can't fill
      // the pipe and deadlock the child
      val errDrain = new Thread(() => {
        val br = new java.io.BufferedReader(new java.io.InputStreamReader(
          p.getErrorStream, java.nio.charset.StandardCharsets.UTF_8))
        try { while (br.readLine() != null) () } catch { case _: Throwable => () }
      })
      errDrain.setDaemon(true); errDrain.start()
      // stdout is drained on a daemon thread too: a synchronous
      // read-to-EOF before waitFor would let a wedged child that kept
      // stdout open block the bench past the 12-minute timeout
      @volatile var found: Option[String] = None
      val outDrain = new Thread(() => {
        val br = new java.io.BufferedReader(new java.io.InputStreamReader(
          p.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
        try {
          var line: String = null
          while ({ line = br.readLine(); line != null })
            if (line.startsWith("S2CHILD:")) found = Some(line.drop(8))
        } catch { case _: Throwable => () }
      })
      outDrain.setDaemon(true); outDrain.start()
      val done = p.waitFor(12, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) p.destroyForcibly()
      else outDrain.join(10000) // let the drain reach EOF before harvesting
      // a complete S2CHILD line is a valid result even when the child
      // then dawdled past the deadline
      found.getOrElse("{\"err\":" + jsonStr(
        if (done) s"session-2 child exited ${p.exitValue} without a result"
        else "session-2 child timed out after 12 min") + "}")
    } catch { case e: Throwable =>
      "{\"err\":" + jsonStr(e.toString.takeWhile(_ != '\n').take(160)) + "}" }
  }

  /** One instrumented session-2 sample of query `n`, with the number
    * of marker re-registrations it made (`regs`). */
  def s2Sample(s: SparkSession, meter: TaskMeter, sfDir: String,
      n: String): String = {
    val r0 = graft.model.BuildMeter.regCount
    try {
      val smp = measure(s, meter)(SparkEntry.queries(n)(s, sfDir))
      smp.err.foreach(e => throw new RuntimeException(e))
      f"""{"wall":${smp.wall}%.3f,"build_sec":${smp.buildSec}%.3f,""" +
        s""""regs":${graft.model.BuildMeter.regCount - r0},""" +
        f""""task_sec":${smp.t.taskSec}%.2f,"jobs":${smp.t.jobs},""" +
        f""""cpu_frac":${smp.t.cpuFrac}%.3f,""" +
        f""""gc_frac":${smp.gc}%.3f,"jit_frac":${smp.jit}%.3f,""" +
        f""""codegen_compiles":${smp.codegenCompiles},"codegen_ms":${smp.codegenMs}%.1f,""" +
        f""""rdd_disk_mb":${smp.store.rddDiskMb}%.1f}"""
    } catch { case e: Throwable =>
      "{\"err\":" + jsonStr(e.toString.takeWhile(_ != '\n').take(120)) + "}" }
  }

  /** Child entrypoint: the arguments name the queries to sample. */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = buildSession()
    val meter = new TaskMeter
    spark.sparkContext.addSparkListener(meter)
    // same warm-up as the parent bench, so the child's samples start
    // from the same JVM baseline and the remaining first-sample cost
    // is the QUERY's fresh-session cost, not generic Spark startup
    warmSession(spark, sfDir)
    val timed = args.toSeq.map { n =>
      "\"" + n + "\":{\"first\":" + s2Sample(spark, meter, sfDir, n) +
        ",\"second\":" + s2Sample(spark, meter, sfDir, n) + "}"
    }
    println("S2CHILD:" +
      (Seq("\"mode\":\"fresh-jvm\"") ++ timed).mkString("{", ",", "}"))
    spark.stop()
  }
}
