package graft

import graft.functions.StatKernels
import graft.model.ExpressionMatrix
import graft.operators.Normalize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** `Normalize.rmaBackground` (one keyed aggregation into the
  * `RmaBgParams` kernel) against the relational five-aggregation
  * estimator it replaced ([[RmaBackgroundReference]]): identity rows
  * equal exactly, corrected values within 1e-9 relative. */
class RmaBackgroundSpec extends SparkSpec {
  import spark.implicits._

  private type Cell = (String, String, Option[Double])

  private def sample(id: String, values: Seq[Option[Double]]): Seq[Cell] =
    values.zipWithIndex.map { case (v, i) => (s"g$i", id, v) }

  private def outputs(df: DataFrame): Map[(String, String), Option[Double]] =
    df.collect().map(r => (r.getString(0), r.getString(1)) ->
      (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap

  /** Compare kernel and reference on `cells`; returns the samples the
    * kernel corrected (any output differing from its input). */
  private def compare(cells: Seq[Cell], label: String): Set[String] = {
    val m = ExpressionMatrix(cells.toDF("gene_id", "sample_id", "value"))
    val want = outputs(RmaBackgroundReference.rmaBackground(m).df)
    val got = outputs(Normalize.rmaBackground(m).df)
    val input = cells.map(c => (c._1, c._2) -> c._3).toMap
    assert(want.size == cells.size && got.size == cells.size,
      s"$label: ${cells.size} cells in, ${want.size} reference / ${got.size} kernel out")
    // bit equality: NaN equals NaN, None equals None
    def same(a: Option[Double], b: Option[Double]) = (a, b) match {
      case (Some(x), Some(y)) => java.lang.Double.compare(x, y) == 0
      case _ => a.isEmpty && b.isEmpty
    }
    want.foreach { case (k, w) =>
      val g = got(k)
      if (same(w, input(k))) assert(same(g, w), s"$label $k: identity ${input(k)}, kernel $g")
      else {
        val (wv, gv, x) = (w.get, g.get, input(k).get)
        assert(math.abs(gv - wv) <= 1e-9 * math.max(math.abs(wv), math.abs(x)),
          s"$label $k: kernel $gv vs reference $wv (input $x)")
      }
    }
    got.filter { case (k, v) => !same(v, input(k)) }.keys.map(_._2).toSet
  }

  private def cases[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(1000L + i)))

  test("rmaBackground kernel matches the relational estimator on generated matrices") {
    val unit = Gen.choose(0.0005, 0.9995)
    // convolution-shaped: N(bg, sd²) background plus an exponential signal
    val mixture = for {
      bg <- Gen.choose(50.0, 800.0); sd <- Gen.choose(5.0, 120.0)
      scale <- Gen.choose(20.0, 500.0); n <- Gen.choose(2, 300)
      us <- Gen.listOfN(n, Gen.zip(unit, unit))
    } yield us.map { case (u1, u2) => bg + sd * StatKernels.qnorm(u1) - scale * math.log(u2) }
    // a coarse grid: ties, repeated bin edges and tied histogram modes
    val grid = for {
      step <- Gen.oneOf(0.5, 1.0, 7.0); n <- Gen.choose(1, 200)
      ks <- Gen.listOfN(n, Gen.choose(0, 40))
    } yield ks.map(_ * step)
    val samples = for {
      k <- Gen.choose(1, 4)
      ss <- Gen.listOfN(k, Gen.zip(Gen.oneOf(mixture, grid), Gen.oneOf(0, 0, 5, 3)))
    } yield ss.zipWithIndex.flatMap { case ((vs, nullEvery), j) =>
      sample(s"s$j", vs.zipWithIndex.map { case (v, i) =>
        if (nullEvery > 0 && i % nullEvery == 1) None else Some(v) })
    }
    val corrected = cases(samples, 8).zipWithIndex.map { case (cells, i) =>
      compare(cells, s"case $i").size
    }
    assert(corrected.sum > 5, s"too few corrected samples to compare: $corrected")
  }

  test("rmaBackground kernel matches the relational estimator on degenerate samples") {
    val healthy = (0 until 200).map(i => 100.0 + 3.0 * i + 400.0 * ((i * 0.618034) % 1.0))
    val cells =
      sample("const", Seq.fill(40)(Some(100.0))) ++
      sample("one", Seq(Some(42.0))) ++
      sample("allnull", Seq.fill(10)(None)) ++
      // a few null cells: the top bin gains them but is not the mode
      sample("fewnull", healthy.zipWithIndex.map { case (v, i) =>
        if (i % 50 == 7) None else Some(v) }) ++
      // many null cells: the top bin becomes the mode
      sample("manynull", healthy.zipWithIndex.map { case (v, i) =>
        if (i % 3 == 0) None else Some(v) }) ++
      // lo = 0, hi = 256: w = 1, every value sits on a bin edge
      sample("edges", (0 to 256).flatMap(k => Seq.fill(1 + k % 5)(Some(k.toDouble)))) ++
      // bins 10 and 200 tie for the mode; ties go to the lower bin
      sample("tie", (Seq(0.0, 256.0, 60.0, 120.0) ++ Seq.fill(5)(10.0) ++
        Seq.fill(5)(200.0)).map(Some(_))) ++
      // w > 0, but lo + w / 2 rounds back to lo: nothing below m1
      sample("nobelow", (Seq.fill(10)(1e16) :+ (1e16 + 2.0)).map(Some(_))) ++
      sample("nan", (healthy :+ Double.NaN).map(Some(_))) ++
      sample("inf", (healthy :+ Double.PositiveInfinity).map(Some(_))) ++
      sample("signedzero", (Seq(-0.0, 0.0, 0.0) ++ healthy).map(Some(_)))
    val corrected = compare(cells, "degenerate")
    assert(corrected == Set("fewnull", "manynull", "edges", "tie", "signedzero"),
      s"corrected samples: $corrected")
  }

  test("rmaBackground plan: one shuffle and one broadcast exchange; re-runs give sameResult plans") {
    val m = ExpressionMatrix(((0 until 60).map(i => (s"g$i", "a", 10.0 + i * i % 37)) ++
      (0 until 60).map(i => (s"g$i", "b", 5.0 + i * 7 % 23))).toDF("gene_id", "sample_id", "value"))
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val plan = Normalize.rmaBackground(m).df.queryExecution.executedPlan
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }.size
      val broadcasts = plan.collect { case e: BroadcastExchangeExec => e }.size
      assert(shuffles == 1 && broadcasts == 1,
        s"$shuffles shuffle / $broadcasts broadcast exchanges:\n$plan")
    } finally spark.conf.set(key, prev)
    // a relation hold above the operator matches a re-run only if the
    // plans compare equal: a closure-bearing kernel never does
    val a = Normalize.rmaBackground(m).df.queryExecution.analyzed
    val b = Normalize.rmaBackground(m).df.queryExecution.analyzed
    assert(a.sameResult(b), s"re-run plans differ:\n$a\n$b")
  }
}
