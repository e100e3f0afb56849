package graft

import graft.model.SessionTuning
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.WholeStageCodegenExec
import java.io.{BufferedReader, File, InputStreamReader}
import java.nio.file.Files

/** The one session factory: its defaults, what its sessions carry
  * (including the code-generation policy: a compiled class is reused
  * across the queries of a session and across identical subtrees of
  * one plan), the stale-dir sweep it runs, a guard that no other
  * main-source file builds a session or reads the core-count knob, and
  * a guard that no operator spreads its own input. */
class SessionTuningSpec extends SparkSpec {

  test("default cores: SPARK_GRAFT_CPUS, else every available processor") {
    val expected = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
      .map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    assert(SessionTuning.defaultCores === expected)
  }

  test("a factory session has the graft SQL extensions and one shuffle partition per core") {
    // SparkSpec's session is SessionTuning.session(2)
    val r = spark.sql("SELECT qnorm(0.975), vec_dot(array(1d), array(2d))").head()
    assert(math.abs(r.getDouble(0) - 1.959964) < 1e-5)
    assert(r.getDouble(1) === 2.0)
    assert(spark.sparkContext.master === "local[2]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "2")
    assert(spark.sparkContext.defaultParallelism === 2)
  }

  test("the policy line names master, cores, partitions, local dir and codegen policy") {
    val line = SessionTuning.policyLine(spark.sparkContext.getConf)
    Seq("master=local[2]", "cores=2", "shuffle_partitions=2", "local_dir=",
      s"codegen_cache_entries=${SessionTuning.codegenCacheEntries}",
      "codegen_ids_in_class_names=false").foreach(kv => assert(line.contains(kv), line))
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** Janino compiles while `f` runs (a JVM-wide count; specs run one at
    * a time in the forked test JVM). */
  private def compilesOf(f: => Unit): Long = { val c0 = compiles(); f; compiles() - c0 }
  /** One whole-stage subtree whose generated source is unique to `k`:
    * the literal is inlined into the code. */
  private def branch(k: Long) =
    spark.range(0, 64, 1, 2).selectExpr(s"id * ${k}L + 1 AS x").filter("x % 3 = 0")
  private def run(df: org.apache.spark.sql.DataFrame): Unit = df.queryExecution.toRdd.count()

  test("re-running a query after more than 100 other distinct queries compiles no class") {
    run(branch(1000003))
    // Spark's default cache holds 100 classes: these evict the first
    // query's classes there, and stay well below the factory's size
    (1L to 160L).foreach(k => run(branch(k)))
    val again = compilesOf(run(branch(1000003)))
    assert(again === 0, s"the re-run compiled $again classes")
  }

  test("identical subtrees at different codegen stage ids compile one shared class") {
    def union(k: Long) = { val b = branch(k); b.union(b) }
    run(union(2000003)) // the classes a union of this shape adds, once
    val stageIds = union(2000005).queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.codegenStageId }
    assert(stageIds.distinct.size === 2, s"expected two codegen stages: $stageIds")
    val one = compilesOf(run(branch(2000007)))
    val two = compilesOf(run(union(2000009)))
    assert(one > 0, "a fresh subtree compiled nothing")
    assert(two === one, s"two identical branches compiled $two classes, one branch $one")
  }

  test("stale-dir sweep spares a dir whose lock is held and removes an unlocked dead-pid dir") {
    val shm = Files.createTempDirectory("graft-sweep").toFile
    // pids above the kernel's pid_max: never alive in this namespace,
    // which is how a live JVM in another pid namespace looks
    val held = new File(shm, "graft-spark-999999990")
    val stale = new File(shm, "graft-spark-999999991")
    Seq(held, stale).foreach(d => new File(d, "blockmgr-0").mkdirs())
    val java = new File(sys.props("java.home"), "bin/java").getPath
    val holder = new ProcessBuilder(java, "-cp", sys.props("java.class.path"),
      "graft.SweepLockHolder", held.getPath).redirectErrorStream(true).start()
    try {
      val out = new BufferedReader(new InputStreamReader(holder.getInputStream))
      assert(out.readLine() === "locked")
      SessionTuning.sweepStaleDirs(shm)
      assert(held.isDirectory, "swept a dir whose lock another process holds")
      assert(!stale.exists(), "kept an unlocked dead-pid dir")
    } finally { holder.destroy(); holder.waitFor() }
    // the OS drops the lock with its holder, so the dir is stale now
    SessionTuning.sweepStaleDirs(shm)
    assert(!held.exists(), "kept a dir whose holder has exited")
    shm.delete()
  }

  /** Main-source `.scala` files under `f` (a file or a directory),
    * read from the repository root. */
  private def sources(f: File): Seq[File] = {
    assert(f.exists, s"${f.getPath} not found: run from the repository root, " +
      s"not ${new File(".").getAbsolutePath}")
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(sources)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil
  }

  /** `path:line: text` for every line of `files` that `bad` flags. */
  private def offending(files: Seq[File])(bad: String => Boolean): Seq[String] = for {
    f <- files
    (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
    if bad(line)
  } yield s"${f.getPath}:${i + 1}: ${line.trim}"

  test("only SessionTuning builds a session or reads SPARK_GRAFT_CPUS") {
    val builder = "SparkSession\\s*\\.\\s*builder".r
    val offenders = offending(sources(new File("src/main/scala"))
        .filter(_.getName != "SessionTuning.scala")) { line =>
      // handing the knob to a child process's environment is not a read
      builder.findFirstIn(line).isDefined ||
        (line.contains("SPARK_GRAFT_CPUS") && !line.contains(".put("))
    }
    assert(offenders.isEmpty,
      "build sessions with SessionTuning.session:\n" + offenders.mkString("\n"))
  }

  test("no operator spreads its input: scan spreading is decided at the fixture reader") {
    // keyed repartitions (QC.rle's gene layout) are not entrance
    // spreads and stay allowed; only the spread helpers are flagged
    val spread = "SessionTuning\\s*\\.\\s*\\{?\\s*spread\\b|\\bspread\\s*=>|spreadSmall".r
    val offenders = offending(Seq("src/main/scala/graft/operators",
        "src/main/scala/graft/Pipelines.scala").map(new File(_)).flatMap(sources)) { line =>
      spread.findFirstIn(line).isDefined
    }
    assert(offenders.isEmpty,
      "operators take their input's partitioning as given (graft.sources.Fixtures " +
        "decides it):\n" + offenders.mkString("\n"))
  }

  /** Lines `from` (a member's first line) up to the next member of the
    * same object, as (1-based line number, text). */
  private def member(lines: Seq[String], from: Int): Seq[(Int, String)] = {
    val next = "^  (?:private(?:\\[\\w+\\])? )?(?:def|val|lazy val|object) |^  /\\*\\*|^}".r
    val end = lines.indexWhere(l => next.findFirstIn(l).isDefined, from + 1)
    (from until (if (end < 0) lines.length else end)).map(i => (i + 1, lines(i)))
  }

  test("sample sheets enter the statistics chain as lookups, not broadcast joins") {
    def read(p: String) = {
      val f = new File(p)
      assert(f.exists, s"$p not found: run from the repository root")
      scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq
    }
    def defs(p: String, names: Set[String]): Seq[(String, Int, String)] = {
      val lines = read(p)
      val start = "^  (?:private )?def (\\w+)[(\\[]".r
      lines.indices.flatMap { i =>
        start.findFirstMatchIn(lines(i)).filter(m => names(m.group(1))).toSeq
          .flatMap(_ => member(lines, i))
      }.map { case (n, l) => (p, n, l) }
    }
    def whole(p: String) = read(p).zipWithIndex.map { case (l, i) => (p, i + 1, l) }
    val guarded = whole("src/main/scala/graft/operators/DiffExpr.scala") ++
      whole("src/main/scala/graft/operators/Batch.scala") ++
      defs("src/main/scala/graft/operators/Normalize.scala", Set("voom")) ++
      defs("src/main/scala/graft/Pipelines.scala", Set("closedPlatformDE",
        "closedPlatformDEMulti", "closedPlatformStats", "openPlatformDE",
        "openPlatformDEMulti", "openPlatformStats", "metaAnalysis"))
    assert(guarded.exists(_._3.contains("def voom(")) &&
      guarded.exists(_._3.contains("def openPlatformStats(")), "guarded members not found")
    // a join may wrap onto the next line; the BH stitch's partition-
    // offset joins are not sample-grain and stay
    val text = guarded.map(_._3).mkString("\n")
    val lineAt = guarded.map(g => s"${g._1}:${g._2}").toIndexedSeq
    val offenders = "\\.join\\(\\s*broadcast\\((?!offs\\)|sufmins\\))".r.findAllMatchIn(text)
      .map(m => lineAt(text.substring(0, m.start).count(_ == '\n'))).toSeq
    assert(offenders.isEmpty, "join sample sheets through graft.functions.SampleSheet " +
      "lookups, not broadcast joins:\n" + offenders.mkString("\n"))
  }
}

/** Holds a graft local dir's lock the way a live JVM does, until its
  * stdin closes or it is killed. */
object SweepLockHolder {
  def main(args: Array[String]): Unit = {
    SessionTuning.lockOwnDir(new File(args(0)))
    println("locked")
    System.in.read()
  }
}
