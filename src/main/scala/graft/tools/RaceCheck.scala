package graft.tools

/** Two-JVM write-race harness for the at-rest marker protocol
  * (VERDICT r13 #5). The fresh-JVM session-2 bench leg exercises the
  * cross-process READ side (marker re-registration); this proves the
  * WRITE side: two processes racing `ensureTable` on the same missing
  * fixture must produce exactly ONE published generation, with the
  * loser deleting its temp build and serving the winner's.
  *
  * Protocol: the parent sweeps any prior `graft_race_*` generation,
  * forks two children with this JVM's classpath/flags, and holds them
  * at a barrier (a "go" file) until both have a warm SparkSession —
  * so both hit the build branch together instead of one finishing
  * before the other starts. Each child prints a JSON receipt
  * (row count, order-insensitive checksum, BuildMeter counters); the
  * parent asserts:
  *   1. total publish WINS across children == 1 (one generation);
  *   2. receipts carry IDENTICAL count + checksum (the loser served
  *      the winner's data, or built identically — either way the
  *      serving contract holds);
  *   3. each child either won, or lost-and-registered, or registered
  *      straight from the winner's marker;
  *   4. a FINAL session (the parent's own) registers from the
  *      surviving marker and reads the same count + checksum.
  * Exit code 0 iff all hold. Run:
  * `sbt "runMain graft.tools.RaceCheck"` — or
  * `"runMain graft.tools.RaceCheck 3 invalid"` for the round-15
  * claim-path shape: THREE processes racing a planted marker-less
  * generation (exactly one may claim-and-delete it; a direct delete
  * could destroy a generation a winner publishes in the window). */
object RaceCheck {

  private case class Receipt(count: Long, chk: Long, builds: Int,
      regs: Int, wins: Int, losses: Int)

  private def parse(line: String): Option[Receipt] = {
    def f(k: String): Option[Long] =
      (s""""$k":(-?\\d+)""").r.findFirstMatchIn(line).map(_.group(1).toLong)
    for (c <- f("count"); h <- f("chk"); b <- f("builds"); r <- f("regs");
         w <- f("wins"); l <- f("losses"))
      yield Receipt(c, h, b.toInt, r.toInt, w.toInt, l.toInt)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // args: [nChildren] [invalid]. `invalid` plants a marker-less
    // garbage generation at the fixture's path before releasing the
    // children — every child then observes "exists AND invalid" and
    // races the rename-aside CLAIM (ADVICE r14: with 3+ processes a
    // direct delete could destroy a just-published generation; the
    // claim makes exactly one process the deleter).
    val n = args.headOption.flatMap(a => scala.util.Try(a.toInt).toOption)
      .getOrElse(2)
    val plantInvalid = args.contains("invalid")
    // sweep prior race generations (and crashed temps) so all
    // children see a missing fixture
    val wh = new java.io.File(sys.props("user.dir"), "spark-warehouse")
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmr); f.delete()
    }
    Option(wh.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft_race_")).foreach(rmr)
    if (plantInvalid) {
      val key = graft.model.AtRest.fixtureKey(sfDir)
      val d = new java.io.File(wh, s"graft_race_$key")
      d.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(d, "garbage.parquet").toPath,
        "not a generation".getBytes("UTF-8"))
      println(s"[race] planted invalid (marker-less) generation: ${d.getName}")
    }

    val go = java.io.File.createTempFile("graft_race_go", ".flag")
    go.delete()

    import scala.jdk.CollectionConverters._
    val javaBin = new java.io.File(new java.io.File(
      sys.props("java.home"), "bin"), "java").getAbsolutePath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))

    case class Child(p: Process, out: java.io.BufferedReader,
        id: Int, receipt: java.util.concurrent.atomic.AtomicReference[String],
        ready: java.util.concurrent.CountDownLatch)
    val children = (1 to n).map { i =>
      val cmd = (Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.tools.RaceChild")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.directory(new java.io.File(sys.props("user.dir")))
      val env = pb.environment()
      env.put("SPARK_GRAFT_SF_DIR", sfDir)
      env.put("SPARK_GRAFT_GO_FILE", go.getAbsolutePath)
      pb.redirectErrorStream(false)
      val p = pb.start()
      val errDrain = new Thread(() => {
        val br = new java.io.BufferedReader(new java.io.InputStreamReader(
          p.getErrorStream, java.nio.charset.StandardCharsets.UTF_8))
        try { while (br.readLine() != null) () } catch { case _: Throwable => () }
      })
      errDrain.setDaemon(true); errDrain.start()
      val out = new java.io.BufferedReader(new java.io.InputStreamReader(
        p.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
      val receipt = new java.util.concurrent.atomic.AtomicReference[String](null)
      val ready = new java.util.concurrent.CountDownLatch(1)
      val outDrain = new Thread(() => {
        try {
          var line: String = null
          while ({ line = out.readLine(); line != null }) {
            if (line.startsWith("RACEREADY")) ready.countDown()
            if (line.startsWith("RACECHILD:")) receipt.set(line.drop(10))
          }
        } catch { case _: Throwable => () }
      })
      outDrain.setDaemon(true); outDrain.start()
      Child(p, out, i, receipt, ready)
    }

    // barrier: release the children only when every session is warm
    val bothReady = children.forall(
      _.ready.await(4, java.util.concurrent.TimeUnit.MINUTES))
    if (!bothReady) {
      children.foreach(_.p.destroyForcibly())
      println("[race] FAIL: children did not reach the barrier")
      sys.exit(1)
    }
    java.nio.file.Files.write(go.toPath, Array.empty[Byte])
    val allDone = children.forall(
      _.p.waitFor(6, java.util.concurrent.TimeUnit.MINUTES))
    if (!allDone) children.foreach(_.p.destroyForcibly())
    go.delete()

    val receipts = children.map(c => Option(c.receipt.get()).flatMap(parse))
    receipts.zipWithIndex.foreach { case (r, i) =>
      println(s"[race] child${i + 1}: ${r.getOrElse("NO RECEIPT")}") }
    if (receipts.exists(_.isEmpty)) {
      println("[race] FAIL: a child produced no receipt")
      sys.exit(1)
    }
    val rs = receipts.flatten
    val a = rs.head
    val totalWins = rs.map(_.wins).sum
    val identical = rs.forall(r => r.count == a.count && r.chk == a.chk) &&
      a.count > 0
    val eachServed = rs.forall(r =>
      r.wins == 1 || (r.losses >= 1 && r.regs >= 1) ||
        (r.builds == 0 && r.regs >= 1))

    // third-session proof: the parent registers from the surviving
    // marker (no rebuild) and reads identical data
    val spark = graft.model.SessionTuning.session(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val third = parse(graft.queries.TextQueries.raceProbe(spark, sfDir))
    spark.stop()
    val thirdOk = third.exists(t =>
      t.count == a.count && t.chk == a.chk && t.builds == 0 && t.regs >= 1)
    println(s"[race] third-session receipt: ${third.getOrElse("NONE")}")

    val verdict = Seq(
      "one-winner" -> (totalWins == 1),
      "identical-data" -> identical,
      "every-process-served" -> eachServed,
      "third-session-registers-no-rebuild" -> thirdOk)
    verdict.foreach { case (k, ok) =>
      println(s"[race] $k: ${if (ok) "OK" else "FAIL"}") }
    if (verdict.forall(_._2)) {
      println(s"[race] PASS (n=$n${if (plantInvalid) ", planted-invalid" else ""}): " +
        s"wins=${rs.map(_.wins).mkString("+")} " +
        s"losses=${rs.map(_.losses).mkString("+")} " +
        s"builds=${rs.map(_.builds).mkString("+")} " +
        s"regs=${rs.map(_.regs).mkString("+")} " +
        s"rows=${a.count} chk=${a.chk}")
    } else { println("[race] FAIL"); sys.exit(1) }
  }
}

/** Child entrypoint: warm a session, wait at the barrier, then drive
  * the probe. One JSON receipt line, prefix `RACECHILD:`. */
object RaceChild {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val go = new java.io.File(sys.env("SPARK_GRAFT_GO_FILE"))
    val spark = graft.model.SessionTuning.session(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the scan path so the barrier releases two equally-ready
    // processes into the build branch
    spark.read.parquet(s"$sfDir/documents.parquet").count()
    println("RACEREADY")
    val deadline = System.nanoTime() + 5L * 60 * 1000 * 1000 * 1000
    while (!go.exists() && System.nanoTime() < deadline) Thread.sleep(10)
    println("RACECHILD:" + graft.queries.TextQueries.raceProbe(spark, sfDir))
    spark.stop()
  }
}
