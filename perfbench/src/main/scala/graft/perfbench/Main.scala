package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import graft.model.{LogHygiene, SessionTuning}
import org.apache.spark.sql.SparkSession

/** Benchmark entry:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <checkout>`.
  *
  * One JVM per invocation. Set-up (session construction through the
  * first completed job) is timed [[SetupReps]] times and its median
  * reported.
  * Inputs come from the seed (cached on disk). A cold run (caches
  * cleared, GC outside the clock) and an immediate warm re-run always
  * run; another pair runs only if it would end within `--seconds`. The
  * first cold run of a process is JIT-cold. Times are reported scaled
  * to an uncontended host by the run's steal share ([[Rec]]). With `--trace 1`
  * one cold run precedes one traced run, which composes the chain from
  * operator calls inside spans and reports per-layer numbers.
  * Every run's outputs are checked; the last stdout line is the JSON
  * result. */
object Main {
  val SetupReps = 5
  val Layers = Seq("sources", "QC", "Normalize", "Dedup", "SetOps", "Batch", "DiffExpr",
    "Meta", "TextDedup", "TextRetrieval", "Workspace", "Pipelines")

  /** One run, as measured, with its steal share ([[Host.stealShare]]).
    * The reported times are scaled to an uncontended host. The guests
    * that take that share of the time slices also share the cores
    * while this one runs, and CPU seconds per run rose about as
    * 1 / (1 − steal) between runs on a 4-vCPU host; so CPU time is
    * scaled by (1 − steal), and wall time, which pays both, by
    * (1 − steal)². */
  final case class Rec(kind: String, rawWall: Double, rawCpuS: Double, rawTaskCpuS: Double,
      writeMb: Double, heapMb: Double, cacheMemMb: Double, cacheDiskMb: Double,
      steal: Double, digest: String, verdict: Verdict) {
    def wall: Double = rawWall * (1 - steal) * (1 - steal)
    def procCpuS: Double = rawCpuS * (1 - steal)
    def taskCpuS: Double = rawTaskCpuS * (1 - steal)
    def failed: Boolean = verdict.failures.nonEmpty
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "20").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val root = new File(opts.getOrElse("root", ".")).getCanonicalFile
    val work = new File(root, ".bench_build/perfbench")
    val started = System.nanoTime()
    def elapsed = (System.nanoTime() - started) / 1e9
    val cores = Runtime.getRuntime.availableProcessors

    // ---- set-up, several times; the last session stays
    val setups = (1 to Main.SetupReps).map { i =>
      val t0 = System.nanoTime()
      val s = Session.build(cores, work)
      s.range(0, 1000, 1, 1).selectExpr("sum(id)").collect()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < Main.SetupReps) { s.stop(); Thread.sleep(200) }
      dt
    }
    val spark = SparkSession.active
    val sc = spark.sparkContext
    val meter = new TaskMeter
    sc.addSparkListener(meter)
    Heap.install()
    val floors = if (trace) Floors.measure(spark, cores) else Map.empty[String, Double]

    val wl = Inputs.prepare(spark, workload, seed, new File(work, "data"))
    val host = Host.facts(cores, spark)
    println(s"""{"host":${Json.obj(host)}}""")

    var refDigest: Option[String] = None
    def once(kind: String, cold: Boolean)(body: => Outputs): Rec = {
      if (cold) {
        graft.SparkEntry.clearQueryCaches()
        System.gc(); Thread.sleep(100)
      }
      meter.drain(sc); meter.reset(); Heap.reset()
      val ticks0 = Host.cpuTicks(); val cpu0 = Host.processCpuS()
      val t0 = System.nanoTime()
      val res = Try(body)
      val raw = (System.nanoTime() - t0) / 1e9
      val procCpu = Host.processCpuS() - cpu0
      val steal = Host.stealShare(ticks0, Host.cpuTicks())
      val heapInRun = Heap.inRun
      val (mem, disk) = Host.cacheMb(spark)
      // the first GC lets the context cleaner drop dead broadcasts and
      // blocks, so how much it finds live depends on the cleaner's
      // timing; the second measures what the run still holds
      System.gc(); Thread.sleep(100); System.gc(); Thread.sleep(50)
      meter.drain(sc)
      val m = meter.run
      val rec = res match {
        case Success(o) =>
          val d = o.digest
          val v0 = wl.check(o)
          val mismatch = refDigest.filter(_ != d).map(r => s"digest $d differs from $r")
          if (refDigest.isEmpty && v0.failures.isEmpty) refDigest = Some(d)
          Rec(kind, raw, procCpu, m.cpuS, m.shuffleMb + m.spillMb,
            Heap.peakMb(heapInRun), mem, disk, steal, d,
            v0.copy(failures = v0.failures ++ mismatch))
        case Failure(e) =>
          e.printStackTrace()
          Rec(kind, raw, procCpu, m.cpuS, m.shuffleMb + m.spillMb,
            Heap.peakMb(heapInRun), mem, disk, steal, "",
            Verdict(0.0, Seq(s"threw: ${e.toString.take(300)}"), Map.empty))
      }
      println(f"[perfbench] $workload%s seed=$seed%d ${rec.kind}%-7s wall=${rec.wall}%.3fs " +
        f"cpu=${rec.procCpuS}%.2fs task_cpu=${rec.taskCpuS}%.2fs steal=${rec.steal}%.3f " +
        f"raw_wall=${rec.rawWall}%.3fs raw_cpu=${rec.rawCpuS}%.2fs " +
        f"raw_task_cpu=${rec.rawTaskCpuS}%.2fs write=${rec.writeMb}%.1fMB heap=${rec.heapMb}%.0fMB " +
        f"jobs=${m.jobs.get}%d tasks=${m.tasks.get}%d " +
        f"recall=${rec.verdict.recall}%.3f digest=${rec.digest.take(12)}%s" +
        rec.verdict.failures.map(" FAIL: " + _).mkString)
      rec
    }

    val recs = scala.collection.mutable.ArrayBuffer.empty[Rec]
    if (trace) recs += once("cold", cold = true)(wl.run(spark))
    else {
      // one cold/warm pair always; another only if it would end by
      // the deadline at the pace of the last one
      val deadline = elapsed + seconds
      var last = 0.0
      while (recs.isEmpty || elapsed + last < deadline) {
        val t0 = elapsed
        recs += once("cold", cold = true)(wl.run(spark))
        recs += once("warm", cold = false)(wl.run(spark))
        last = elapsed - t0
      }
    }
    val cold = recs.filter(_.kind == "cold").toSeq
    val warm = recs.filter(_.kind == "warm").toSeq
    val wall = median(cold.map(_.wall))

    val tracedMetrics: Seq[(String, Double, String)] = if (!trace) Nil else {
      val tracer = new Tracer(sc, recs.size)
      val rec = once("traced", cold = true)(wl.traced(spark, tracer))
      recs += rec
      PerLayer.writeSpans(tracer, meter, new File(work, s"trace/$workload-s$seed.jsonl"))
      PerLayer.metrics(tracer, meter, cores, rec, wall, cold, floors)
    }

    val failed = recs.count(_.failed)
    val attempted = recs.size
    val recall = median(recs.map(_.verdict.recall).toSeq)
    val endToEnd = Seq(
      ("setup_s", median(setups), "s"),
      ("wall_s", wall, "s"),
      ("warm_wall_s", median(warm.map(_.wall)), "s"),
      ("rows_per_s", wl.rows / wall, "rows/s"),
      ("cpu_s", median(cold.map(_.procCpuS)), "s"),
      ("task_cpu_s", median(cold.map(_.taskCpuS)), "s"),
      ("local_write_mb", median(cold.map(_.writeMb)), "MB"),
      ("peak_heap_mb", median(cold.map(_.heapMb)), "MB"))
    val summary = endToEnd ++ Seq(("planted_recall", recall, "fraction"),
      ("fail_frac", failed.toDouble / attempted, "fraction"))
    println(s"[perfbench] $workload seed=$seed rows=${wl.rows} cold_runs=${cold.size} " +
      s"warm_runs=${warm.size} (medians over runs)")
    summary.foreach { case (n, v, u) => println(f"[perfbench]   $n%-16s $v%14.4f $u%s") }
    println(f"[perfbench]   raw_wall_s       ${median(cold.map(_.rawWall))}%14.4f s")
    println(f"[perfbench]   raw_warm_wall_s  ${median(warm.map(_.rawWall))}%14.4f s")
    println(f"[perfbench]   raw_cpu_s        ${median(cold.map(_.rawCpuS))}%14.4f s")
    println(f"[perfbench]   raw_task_cpu_s   ${median(cold.map(_.rawTaskCpuS))}%14.4f s")
    println(f"[perfbench]   steal_share      ${median(cold.map(_.steal))}%14.4f fraction")
    tracedMetrics.foreach { case (n, v, u) => println(f"[perfbench]   $n%-28s $v%14.4f $u%s") }

    val out = if (trace) tracedMetrics else endToEnd
    val result = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${out.map { case (n, v, u) =>
        s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")}}}"""
    Try(spark.stop())
    println(result)
    System.exit(if (failed == 0) 0 else 1)
  }
}

object Session {
  /** The session the program's own mains build (`SessionTuning.tuned`
    * + `GraftExtensions`), at `local[cores]` with one shuffle partition
    * per core; warehouse and temp files stay under `work`. */
  def build(cores: Int, work: File): SparkSession = {
    val s = SessionTuning.tuned(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    LogHygiene.suppressIntentionalUnpersistWarn()
    s
  }
}

/** Largest post-GC old generation during a run: the old pool's usage
  * after every full collection inside the run, and after the second of
  * the two forced at run end, so it tracks live caches and broadcasts
  * rather than garbage. */
object Heap {
  private val peak = new AtomicLong
  private def old(pool: String) = pool.contains("Old") || pool.contains("Tenured")
  private def oldPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => old(p.getName))

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        import com.sun.management.GarbageCollectionNotificationInfo
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          if (old(info.getGcName) || info.getGcName.contains("MarkSweep")) {
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (p, u) if old(p) => u.getUsed }.sum
            peak.accumulateAndGet(used, (a, b) => math.max(a, b))
          }
        }
      }, null, null)
    case _ =>
  }
  def reset(): Unit = peak.set(0)
  /** Peak bytes over the full collections since [[reset]]. */
  def inRun: Long = peak.get
  /** `inRun` read at run end, combined with the old generation after
    * the latest collection. Call after a forced GC. */
  def peakMb(inRun: Long): Double =
    math.max(inRun, oldPools.map(_.getCollectionUsage.getUsed).sum) / 1e6
}

/** Host floors, measured once per process with trivial jobs. */
object Floors {
  def measure(spark: SparkSession, cores: Int): Map[String, Double] = {
    val sc = spark.sparkContext
    def ms(f: => Unit): Double = {
      (1 to 2).foreach(_ => f)
      Main.median((1 to 5).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 })
    }
    Map(
      "spark.job_floor_ms" -> ms(sc.parallelize(1 to 1, 1).count()),
      "spark.stage_floor_ms" -> ms(sc.parallelize(1 to cores, cores).count()),
      "spark.shuffle_floor_ms" -> ms(spark.range(0, 100000, 1, 1)
        .selectExpr("id % 100 as k").groupBy("k").count().collect()))
  }
}

object Host {
  def facts(cores: Int, spark: SparkSession): Seq[(String, Any)] = {
    val memKb = Try(scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal")).get.split("\\s+")(1).toLong).getOrElse(-1L)
    Seq("availableProcessors" -> cores,
      "nproc" -> sys.env.getOrElse("PERFBENCH_NPROC", "?"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "total_ram_mb" -> memKb / 1024,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "local_dir" -> spark.sparkContext.getConf.get("spark.local.dir", ""),
      "spark" -> spark.version)
  }

  /** (stolen, busy) jiffies from the aggregate cpu line of /proc/stat:
    * busy is user + nice + system + irq + softirq. */
  def cpuTicks(): (Long, Long) = Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
      (v(7), v(0) + v(1) + v(2) + v(5) + v(6))
    } finally f.close()
  }.getOrElse((0L, 0L))

  /** Share of the CPU time the host's processes asked for between `a`
    * and `b` that the hypervisor gave to other guests instead. Idle
    * CPUs are not stolen from, so this divides by stolen + busy, not
    * by all jiffies. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double = {
    val stolen = b._1 - a._1
    val asked = stolen + b._2 - a._2
    if (asked > 0) stolen.toDouble / asked else 0.0
  }

  /** CPU seconds of this JVM so far, all threads; stolen time is not
    * charged to a process. */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Storage held at run end: (memory MB, disk MB) over cached RDDs. */
  def cacheMb(spark: SparkSession): (Double, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.memSize).sum / 1e6, infos.map(_.diskSize).sum / 1e6)
  }
}

object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: Seq[(String, Any)]): String = kv.map {
    case (k, v: Number) => s""""$k":$v"""
    case (k, v) => s""""$k":"${v.toString.replace("\\", "\\\\").replace("\"", "\\\"")}""""
  }.mkString("{", ",", "}")
}

/** Per-layer numbers of the traced run. */
object PerLayer {
  /** Write every span (one JSON line each) and print the costliest. */
  def writeSpans(tracer: Tracer, meter: TaskMeter, f: File): Unit = {
    val spans = tracer.spans
    val self = Span.selfNs(spans)
    val t0 = spans.map(_.startNs).min
    val lines = spans.map { s =>
      val a = meter.spanAcc(s.id.toString)
      (self(s.id), Json.obj(Seq("id" -> s.id, "layer" -> s.layer, "name" -> s.name,
        "parent" -> s.parent, "run" -> s.run, "start_ms" -> (s.startNs - t0) / 1e6,
        "end_ms" -> (s.endNs - t0) / 1e6, "self_ms" -> self(s.id) / 1e6,
        "jobs" -> a.map(_.jobs.get).getOrElse(0L), "tasks" -> a.map(_.tasks.get).getOrElse(0L),
        "task_s" -> a.map(_.taskS).getOrElse(0.0))))
    }
    f.getParentFile.mkdirs()
    Gen.write(f, lines.map(_._2).mkString("", "\n", "\n"))
    lines.sortBy(-_._1).take(12).foreach(l => println(s"[perfbench] span ${l._2}"))
  }

  def metrics(tracer: Tracer, meter: TaskMeter, cores: Int, rec: Main.Rec,
      untracedWall: Double, cold: Seq[Main.Rec],
      floors: Map[String, Double]): Seq[(String, Double, String)] = {
    val spans = tracer.spans
    val self = Span.selfNs(spans)
    val layerRows = Main.Layers.flatMap { layer =>
      val ls = spans.filter(_.layer == layer)
      val accs = ls.flatMap(s => meter.spanAcc(s.id.toString))
      val selfS = ls.map(s => self(s.id)).sum / 1e9
      val tasks = accs.map(_.tasks.get).sum
      val taskS = accs.map(_.taskS).sum
      val empty = accs.map(_.emptyTasks.get).sum
      Seq(
        (s"$layer.s", selfS, "s"),
        (s"$layer.jobs", accs.map(_.jobs.get).sum.toDouble, "count"),
        (s"$layer.tasks", tasks.toDouble, "count"),
        (s"$layer.task_s", taskS, "s"),
        (s"$layer.idle_core_s", selfS * cores - taskS, "s"),
        (s"$layer.shuffle_mb", accs.map(_.shuffleMb).sum, "MB"),
        (s"$layer.spill_mb", accs.map(_.spillMb).sum, "MB"),
        (s"$layer.empty_task_frac", if (tasks == 0) 0.0 else empty.toDouble / tasks, "fraction"),
        (s"$layer.failed_tasks", accs.map(_.failedTasks.get).sum.toDouble, "count"))
    }
    val total = meter.run.taskS
    val named = meter.spanKeys.filter(_.nonEmpty).flatMap(meter.spanAcc).map(_.taskS).sum
    layerRows ++ Seq(
      ("model.cache_mem_mb", Main.median(cold.map(_.cacheMemMb)), "MB"),
      ("model.cache_disk_mb", Main.median(cold.map(_.cacheDiskMb)), "MB"),
      ("Dedup.gene_yield", rec.verdict.extra.getOrElse("gene_yield", 0.0), "fraction"),
      ("TextDedup.keep_frac", rec.verdict.extra.getOrElse("keep_frac", 0.0), "fraction"),
      ("spark.job_floor_ms", floors("spark.job_floor_ms"), "ms"),
      ("spark.stage_floor_ms", floors("spark.stage_floor_ms"), "ms"),
      ("spark.shuffle_floor_ms", floors("spark.shuffle_floor_ms"), "ms"),
      ("trace.attributed_frac", if (total > 0) named / total else 0.0, "fraction"),
      ("trace.overhead_s", rec.wall - untracedWall, "s"))
  }
}
