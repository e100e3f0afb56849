package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.model.ExpressionMatrix
import graft.operators.Meta
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

/** `Meta.iccMulti` and `Meta.permutationFdr` as gene-keyed passes
  * (the `IccVectors` and `PermFdrStats` kernels) against the relational
  * forms they replaced ([[MetaReference]]), plus their plan shapes. */
class MetaPassSpec extends SparkSpec {
  import spark.implicits._

  private def noise(a: Int, b: Int, c: Int): Double = {
    val x = math.sin(a * 12.9898 + b * 78.233 + c * 37.719) * 43758.5453
    x - math.floor(x)
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
    case _ => a == b
  }

  private def rows(df: DataFrame, key: Int): Map[Seq[Any], Seq[Any]] =
    df.collect().map(r => r.toSeq.take(key) -> r.toSeq.drop(key)).toMap

  private def assertMatches(got: DataFrame, want: DataFrame, key: Int, label: String): Unit = {
    val (g, w) = (rows(got, key), rows(want, key))
    assert(g.keySet == w.keySet, s"$label: keys ${g.keySet} vs reference ${w.keySet}")
    for ((k, wv) <- w; (x, y) <- g(k).zip(wv))
      assert(same(x, y), s"$label $k: kernel ${g(k)} vs reference $wv")
  }

  /** Exchanges of the executed plan, including those inside cached
    * relations it scans. */
  private def exchanges(p: SparkPlan): (Int, Int) = {
    val inner = p.collect { case s: InMemoryTableScanExec => exchanges(s.relation.cachedPlan) }
    (p.collect { case e: ShuffleExchangeExec => e }.size + inner.map(_._1).sum,
      p.collect { case e: BroadcastExchangeExec => e }.size + inner.map(_._2).sum)
  }

  private def withoutAqe[A](body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  /** Spark jobs `body` runs on this thread. A sentinel job in another
    * group marks the end: the listener bus delivers events in order. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val (group, sentinel) = (s"jobs-${System.nanoTime}", s"sentinel-${System.nanoTime}")
    val n = new AtomicInteger
    val done = new CountDownLatch(1)
    val sentinelJob = new AtomicInteger(-1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach { g =>
          if (g == group) n.incrementAndGet()
          if (g == sentinel) sentinelJob.set(e.jobId)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelJob.get) done.countDown()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "measured")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(done.await(60, TimeUnit.SECONDS), "sentinel job end never delivered")
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }

  // three platforms: P2 lacks g12, sample a6 of P1 lacks g3 and g4
  // (zero-filled), g5 is constant on P3 (zero variance)
  private lazy val platforms: Seq[(String, ExpressionMatrix)] = {
    def mat(p: Int, prefix: String, nSamples: Int, keep: (Int, Int) => Boolean) =
      ExpressionMatrix((for (g <- 1 to 12; s <- 1 to nSamples if keep(g, s)) yield
        (s"g$g", s"$prefix$s",
          if (p == 3 && g == 5) 7.0 else g * 0.3 + 4.0 * noise(p, g, s) + (s % 3) * 0.5))
        .toDF("gene_id", "sample_id", "value"))
    Seq("P1" -> mat(1, "a", 6, (g, s) => !(s == 6 && (g == 3 || g == 4))),
      "P2" -> mat(2, "b", 5, (g, _) => g != 12),
      "P3" -> mat(3, "c", 7, (_, _) => true))
  }

  test("iccMulti kernel matches the relational ICC over three platforms") {
    val got = Meta.iccMulti(platforms)
    assertMatches(got, MetaReference.iccMulti(platforms), 3, "icc")
    val icc = got.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
      r.getDouble(3)).toMap
    assert(icc.keySet.map(_._3) == (1 to 11).map(g => s"g$g").toSet,
      "only genes on every platform enter")
    assert(icc(("P1", "P3", "g5")).isNaN && icc(("P2", "P3", "g5")).isNaN)
    assert(!icc(("P1", "P2", "g5")).isNaN && !icc(("P1", "P2", "g3")).isNaN)
  }

  test("iccMulti plan: one shuffle, no broadcast, two eager jobs; a re-run reuses the held vectors") {
    withoutAqe {
      SparkEntry.clearQueryCaches() // the held vectors are planned anew
      val (df, jobs) = jobsOf(Meta.iccMulti(platforms))
      assert(jobs == 2, s"$jobs eager jobs (sample-id collect + one gramian pass)")
      val plan = df.queryExecution.executedPlan
      assert(exchanges(plan) == ((1, 0)), s"exchanges ${exchanges(plan)}:\n$plan")
    }
    // a re-run finds the held vectors of the first: one cache entry
    def held(df: DataFrame) = df.queryExecution.executedPlan
      .collectFirst { case s: InMemoryTableScanExec => s.relation.cacheBuilder }
    val first = held(Meta.iccMulti(platforms))
    assert(first.isDefined && held(Meta.iccMulti(platforms)).exists(_ eq first.get))
  }

  // 12 samples on the matrix; two labelled samples absent from it; s03
  // lacks g2; g7 carries a NaN; g1 a planted effect
  private lazy val fdrMatrix = ExpressionMatrix((for (g <- 1 to 30; s <- 1 to 12
      if !(g == 2 && s == 3)) yield {
    val v = if (g == 7 && s == 5) Double.NaN
      else 10.0 + 3.0 * noise(g, s, 1) + (if (g == 1 && s <= 6) 4.0 else 0.0)
    (s"g$g", f"s$s%02d", v)
  }).toDF("gene_id", "sample_id", "value"))
  // an RDD-backed relation, so its collect is a Spark job; xxhash
  // perm 19 labels exactly the mirror of the observed partition, an
  // exact |z| tie that counts as an exceedance
  private lazy val fdrGroups = spark.sparkContext.parallelize(
    (1 to 12).map(s => (f"s$s%02d", if (s <= 6) "A" else "B")) ++
      Seq("x1" -> "A", "x2" -> "B"), 2).toDF("sample_id", "group")

  test("permutationFdr kernel matches the relational FDR under both hash variants") {
    for (md5 <- Seq(false, true)) {
      val got = Meta.permutationFdr(fdrMatrix, fdrGroups, "A", "B", nperm = 20, md5Hashes = md5)
      val want = MetaReference.permutationFdr(fdrMatrix, fdrGroups, "A", "B", 20, md5)
      assertMatches(got, want, 1, s"fdr md5=$md5")
      assert(got.count() == 30)
    }
  }

  test("permutationFdr: permutations leaving a group with one sample do not count") {
    // 8 matrix samples, 12 labelled samples absent from it, 3 A labels:
    // most permutations put at most one A label on the matrix
    val m = ExpressionMatrix((for (g <- 1 to 20; s <- 1 to 8)
      yield (s"g$g", s"m$s", 5.0 + 2.0 * noise(g, s, 2) + (if (g <= 3 && s <= 3) 3.0 else 0.0)))
      .toDF("gene_id", "sample_id", "value"))
    val groups = ((1 to 8).map(s => (s"m$s", if (s <= 3) "A" else "B")) ++
      (1 to 12).map(i => (s"y$i", "B"))).toDF("sample_id", "group")
    for (md5 <- Seq(false, true)) {
      val got = Meta.permutationFdr(m, groups, "A", "B", nperm = 30, md5Hashes = md5)
      assertMatches(got, MetaReference.permutationFdr(m, groups, "A", "B", 30, md5), 1,
        s"sparse-A md5=$md5")
      assert(got.count() == 20)
    }
    // no permutation counts: no gene is reported
    val lone = ((1 to 8).map(s => (s"m$s", if (s <= 2) "A" else "B")) ++
      (1 to 40).map(i => (s"y$i", "B"))).toDF("sample_id", "group")
    val perms = Meta.permutedLabels(lone.as[(String, String)].collect().toIndexedSeq, 5, false)
    assert(perms.forall(_.count(l => l._2 == "A" && l._1.startsWith("m")) <= 1))
    assert(Meta.permutationFdr(m, lone, "A", "B", nperm = 5).count() == 0)
  }

  test("permutationFdr: a zero-variance gene gets a null z and a null fdr, no exception") {
    // g1 constant everywhere, g2 constant within each group
    val m = ExpressionMatrix((for (g <- 1 to 12; s <- 1 to 10) yield {
      val v = g match {
        case 1 => 3.0
        case 2 => if (s <= 5) 1.0 else 2.0
        case _ => 4.0 + noise(g, s, 3) + (if (g == 3 && s <= 5) 2.0 else 0.0)
      }
      (s"g$g", s"s$s", v)
    }).toDF("gene_id", "sample_id", "value"))
    val groups = (1 to 10).map(s => (s"s$s", if (s <= 5) "A" else "B")).toDF("sample_id", "group")
    for (md5 <- Seq(false, true)) {
      val got = Meta.permutationFdr(m, groups, "A", "B", nperm = 20, md5Hashes = md5)
      assertMatches(got, MetaReference.permutationFdr(m, groups, "A", "B", 20, md5), 1,
        s"zero-variance md5=$md5")
      val out = got.collect().map(r => r.getString(0) -> (Option(r.get(1)), Option(r.get(2))))
        .toMap
      assert(out("g1") == ((None, None)) && out("g2") == ((None, None)), s"$out")
      assert(out("g3")._1.isDefined && out("g3")._2.isDefined)
    }
  }

  test("driver label permutations equal the relational permutationLabels") {
    // duplicate sample rows, a null label, a null sample, and ids whose
    // UTF-8 order differs from their UTF-16 order
    val rows = ((1 to 9).map(i => (s"s$i", if (i % 3 == 0) "B" else "A")) ++
      Seq(("s2", "B"), ("s4", null), (null, "A"), ("�", "B"), ("😀", "A")))
      .toIndexedSeq
    val df = rows.toDF("sample_id", "group")
    for (md5 <- Seq(false, true)) {
      val want = MetaReference.permutationLabels(df, "sample_id", "group", 12, md5).collect()
        .groupBy(_.getInt(1)).map { case (p, rs) =>
          p -> rs.map(r => (Option(r.getString(0)), Option(r.getString(2)))).sorted.toSeq
        }
      val got = Meta.permutedLabels(rows, 12, md5).zipWithIndex.map { case (perm, i) =>
        (i + 1) -> perm.map { case (s, l) => (Option(s), Option(l)) }.sorted
      }.toMap
      assert(got == want, s"md5=$md5")
    }
  }

  test("permutationFdr plan: two shuffles, no broadcast, one eager job") {
    withoutAqe {
      val (df, jobs) = jobsOf(Meta.permutationFdr(fdrMatrix, fdrGroups, "A", "B", nperm = 20))
      assert(jobs == 1, s"$jobs eager jobs (the groups collect)")
      val plan = df.queryExecution.executedPlan
      assert(exchanges(plan) == ((2, 0)), s"exchanges ${exchanges(plan)}:\n$plan")
    }
  }
}
