package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is -1 for a root span. */
final case class Span(id: Int, layer: String, name: String, parent: Int, run: Int,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {
  /** Self time of every span: its duration minus the part of its
    * interval covered by the union of its children's intervals
    * (children may run concurrently on pool threads). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Records spans around calls into the program's layers. The active
  * span id travels as a Spark local property: Spark copies local
  * properties into threads created by the submitting thread (the
  * `Overlap` pool) and into every job's properties, so [[TaskMeter]]
  * can attribute each task to the innermost enclosing span. */
final class Tracer(sc: SparkContext, val run: Int) {
  private val nextId = new AtomicInteger(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def span[T](layer: String, name: String)(body: => T): T = {
    val parent = Option(sc.getLocalProperty(Tracer.Key)).map(_.toInt).getOrElse(-1)
    val id = nextId.incrementAndGet()
    val t0 = System.nanoTime()
    sc.setLocalProperty(Tracer.Key, id.toString)
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(Tracer.Key, if (parent < 0) null else parent.toString)
      done.add(Span(id, layer, name, parent, run, t0, t1))
    }
  }

  def spans: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    done.asScala.toSeq.sortBy(_.id)
  }
}

object Tracer {
  val Key = "perfbench.span"
}

/** Task counters of one span (or of a whole run). */
final class Acc {
  val jobs = new AtomicLong; val tasks = new AtomicLong; val taskMs = new AtomicLong
  val cpuNs = new AtomicLong; val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong; val emptyTasks = new AtomicLong
  val failedTasks = new AtomicLong
  def taskS: Double = taskMs.get / 1e3
  def cpuS: Double = cpuNs.get / 1e9
  def shuffleMb: Double = shuffleBytes.get / 1e6
  def spillMb: Double = spillBytes.get / 1e6
}

/** Listener that sums task counters per run and per span. Stages map
  * to the span that submitted their job; a task lands in its stage's
  * span, or in "" when no span was active. */
final class TaskMeter extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  @volatile private var bySpan = new ConcurrentHashMap[String, Acc]()
  @volatile private var total = new Acc

  def reset(): Unit = { bySpan = new ConcurrentHashMap[String, Acc](); total = new Acc }
  def run: Acc = total
  def spanAcc(id: String): Option[Acc] = Option(bySpan.get(id))
  def spanKeys: Seq[String] = { import scala.jdk.CollectionConverters._; bySpan.keySet.asScala.toSeq }

  private def key(p: java.util.Properties): String =
    Option(p).flatMap(q => Option(q.getProperty(Tracer.Key))).getOrElse("")
  private def acc(k: String): Acc = bySpan.computeIfAbsent(k, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = key(e.properties)
    acc(k).jobs.incrementAndGet(); total.jobs.incrementAndGet()
    e.stageInfos.foreach(s => stageSpan.putIfAbsent(s.stageId, k))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSpan.putIfAbsent(e.stageInfo.stageId, key(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = Option(stageSpan.get(e.stageId)).getOrElse("")
    Seq(acc(k), total).foreach { a =>
      a.tasks.incrementAndGet()
      a.taskMs.addAndGet(e.taskInfo.duration)
      if (e.reason != Success) a.failedTasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
        a.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spillBytes.addAndGet(m.diskBytesSpilled)
        if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0)
          a.emptyTasks.incrementAndGet()
      }
    }
  }

  /** Wait until every queued listener event is delivered. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}
