package graft

import graft.model.ExpressionMatrix
import graft.operators.{DiffExpr, Filters, Normalize}
import org.apache.spark.sql.functions._

class DiffExprSpec extends SparkSpec {
  import spark.implicits._

  test("bhAdjust matches R p.adjust(method='BH')") {
    // R: p.adjust(c(0.01, 0.02, 0.03, 0.04, 0.5), "BH")
    //    = 0.05 0.05 0.05 0.05 0.50
    val df = Seq(("a", 0.01), ("b", 0.02), ("c", 0.03), ("d", 0.04), ("e", 0.5))
      .toDF("id", "p")
    val adj = SpecReferences.bhAdjust(df, "p", Seq(col("id")))
      .orderBy("id").select("p_bh").as[Double].collect()
    val expected = Array(0.05, 0.05, 0.05, 0.05, 0.5)
    adj.zip(expected).foreach { case (a, e) => assert(math.abs(a - e) < 1e-12) }
  }

  test("bhAdjust caps at 1 and is monotone in rank order") {
    val df = (1 to 50).map(i => (i, i / 50.0 * 1.5)).toDF("id", "p")
    val adj = SpecReferences.bhAdjust(df, "p", Seq(col("id")))
      .orderBy("p").select("p_bh").as[Double].collect()
    assert(adj.forall(_ <= 1.0))
    adj.sliding(2).foreach { case Array(x, y) => assert(x <= y + 1e-12); case _ => }
  }

  test("bhAdjustScalable is numerically identical to bhAdjust (both paths)") {
    // 500 rows across many range partitions, with tied p-values so the
    // partition-boundary tie handling is exercised. Round 18: the
    // operator picks a single-window path for small inputs and the
    // range-partitioned stitch above spark.graft.bh.smallThreshold —
    // BOTH must equal the reference window program.
    val df = (1 to 500).map(i => (i, ((i * 131) % 97) / 97.0)).toDF("id", "p")
      .repartition(7)
    val simple = SpecReferences.bhAdjust(df, "p", Seq(col("id")))
      .orderBy("id").select("p_bh").as[Double].collect()
    assert(simple.length == 500)
    for (threshold <- Seq("100000", "0")) { // small path, then forced stitch
      spark.conf.set("spark.graft.bh.smallThreshold", threshold)
      try {
        val scalable = DiffExpr.bhAdjustScalable(df, "p", Seq(col("id")))
          .orderBy("id").select("p_bh").as[Double].collect()
        assert(scalable.length == 500, s"threshold=$threshold")
        simple.zip(scalable).foreach { case (a, b) =>
          assert(a == b, s"threshold=$threshold") }
      } finally spark.conf.unset("spark.graft.bh.smallThreshold")
    }
  }

  test("welchT recovers a known group difference") {
    val rows = (for {
      g <- Seq("g1", "g2"); i <- 1 to 4
    } yield {
      val base = if (g == "g1") 10.0 else 5.0
      val grp = if (i <= 2) "A" else "B"
      val shift = if (grp == "A" && g == "g1") 2.0 else 0.0
      (g, s"s$i-$grp", base + shift + i * 0.01, grp)
    })
    val m = ExpressionMatrix(rows.toDF("gene_id", "sample_id", "value", "g").drop("g"))
    val groups = rows.map(r => (r._2, r._4)).distinct.toDF("sample_id", "group")
    val stats = DiffExpr.groupStats(m, groups)
    val de = DiffExpr.welchT(stats, "group", "A", "B").orderBy("gene_id").collect()
    val fc1 = de(0).getAs[Double]("log2fc")
    val fc2 = de(1).getAs[Double]("log2fc")
    assert(math.abs(fc1 - 1.98) < 1e-9)   // (10+2+avg(.01,.02)) - (10+avg(.03,.04))
    assert(math.abs(fc2 - (-0.02)) < 1e-9)
    assert(de(0).getAs[Double]("t") > 0)
  }

  test("moderatedT shrinks extreme variances toward the pool") {
    val rows = for {
      g <- 1 to 40; i <- 1 to 6
    } yield {
      val grp = if (i <= 3) "A" else "B"
      val noise = ((g * 31 + i * 17) % 7 - 3) * 0.1
      (s"g$g", s"s$i", 5.0 + (if (grp == "A") 1.0 else 0.0) + noise, grp)
    }
    val m = ExpressionMatrix(rows.toDF("gene_id", "sample_id", "value", "g").drop("g"))
    val groups = rows.map(r => (r._2, r._4)).distinct.toDF("sample_id", "group")
    val stats = DiffExpr.groupStats(m, groups)
    val mod = DiffExpr.moderatedT(stats, "group", "A", "B")
    val out = mod.collect()
    assert(out.length > 0)
    // moderated df exceed residual df (prior df added)
    assert(out.forall(_.getAs[Double]("df_total") > 4.0))
  }

  test("moderatedTopTable equals topTable over moderatedT: rows, p_bh and order, zero and one gene too") {
    def fixture(genes: Int) = {
      val rows = for { g <- 1 to genes; i <- 1 to 6 } yield {
        val grp = if (i <= 3) "A" else "B"
        (s"g$g", s"s$i", 5.0 + (if (grp == "A" && g % 3 == 0) 1.0 else 0.0) +
          ((g * 31 + i * 17) % 7 - 3) * 0.1, grp)
      }
      val m = ExpressionMatrix(rows.toDF("gene_id", "sample_id", "value", "g").drop("g"))
      DiffExpr.groupStats(m, rows.map(r => (r._2, r._4)).distinct.toDF("sample_id", "group"))
    }
    // 40 genes; one gene (zvar NULL: the d0 = 1e6 branch); zero genes
    // (every gene fails the variance filter)
    for ((name, stats) <- Seq("40 genes" -> fixture(40), "1 gene" -> fixture(1),
        "0 genes" -> fixture(4).filter(col("gene_id") === "none"))) {
      val fused = DiffExpr.moderatedTopTable(stats, "group", "A", "B").collect().toSeq
      val twoStep = DiffExpr.topTable(
        DiffExpr.moderatedT(stats, "group", "A", "B").withColumnRenamed("p_mod", "p"))
        .collect().toSeq
      assert(fused == twoStep, name)
      assert(fused.nonEmpty == (name != "0 genes"), name)
    }
    assert(DiffExpr.moderatedTopTable(fixture(1), "group", "A", "B").head()
      .getAs[Double]("df_total") > 1e6)
  }

  test("quantileNormalize equalizes per-sample distributions and preserves ranks") {
    val rows = Seq(
      ("g1", "s1", 1.0), ("g2", "s1", 5.0), ("g3", "s1", 3.0),
      ("g1", "s2", 10.0), ("g2", "s2", 50.0), ("g3", "s2", 30.0))
    val m = ExpressionMatrix(rows.toDF("gene_id", "sample_id", "value"))
    val qn = Normalize.quantileNormalize(m).df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // rank means: (1+10)/2=5.5, (3+30)/2=16.5, (5+50)/2=27.5
    assert(qn(("g1", "s1")) == 5.5 && qn(("g1", "s2")) == 5.5)
    assert(qn(("g3", "s1")) == 16.5 && qn(("g3", "s2")) == 16.5)
    assert(qn(("g2", "s1")) == 27.5 && qn(("g2", "s2")) == 27.5)
  }

  test("topNBySd keeps exactly the highest-variance genes") {
    val rows = Seq(
      ("flat", "s1", 1.0), ("flat", "s2", 1.0),
      ("wild", "s1", 0.0), ("wild", "s2", 100.0),
      ("mid", "s1", 1.0), ("mid", "s2", 5.0))
    val m = ExpressionMatrix(rows.toDF("gene_id", "sample_id", "value"))
    val kept = Filters.topNBySd(m, 2).df.select("gene_id").distinct()
      .as[String].collect().sorted
    assert(kept.toSeq == Seq("mid", "wild"))
  }

  test("moderatedTAll with two groups equals moderatedT; three groups share one posterior") {
    val rows = for { g <- 1 to 25; grp <- Seq("A", "B"); i <- 1 to 5 } yield
      (s"g$g", s"s$grp$i", grp,
        g.toDouble + (if (grp == "A") 0.5 else 0.0) + ((g * 7 + i * 3) % 11) * 0.1)
    val stats = rows.toDF("gene_id", "sample_id", "group", "value")
      .groupBy("gene_id", "group")
      .agg(count(lit(1)).cast("double").as("n"), avg("value").as("mean"),
           var_samp("value").as("var"))
    val two = DiffExpr.moderatedT(stats, "group", "A", "B").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val all = DiffExpr.moderatedTAll(stats).filter(col("contrast") === "AvsB").collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(two.keySet == all.keySet && two.nonEmpty)
    for (k <- two.keySet) {
      val ((f1, t1, d1), (f2, t2, d2)) = (two(k), all(k))
      assert(math.abs(f1 - f2) < 1e-9 && math.abs(t1 - t2) < 1e-9 && math.abs(d1 - d2) < 1e-9)
    }
    // three groups: C(3,2) contrasts, one shared residual pooling
    val rows3 = for { g <- 1 to 25; grp <- Seq("A", "B", "C"); i <- 1 to 5 } yield
      (s"g$g", s"s$grp$i", grp, g.toDouble + ((g * 7 + i * 3 + grp.hashCode % 5) % 11) * 0.1)
    val stats3 = rows3.toDF("gene_id", "sample_id", "group", "value")
      .groupBy("gene_id", "group")
      .agg(count(lit(1)).cast("double").as("n"), avg("value").as("mean"),
           var_samp("value").as("var"))
    val all3 = DiffExpr.moderatedTAll(stats3)
    assert(all3.select("contrast").distinct().as[String].collect().sorted.toSeq ==
      Seq("AvsB", "AvsC", "BvsC"))
    // df_total identical across contrasts of one gene (shared pooling)
    val spread = all3.groupBy("gene_id")
      .agg((max("df_total") - min("df_total")).as("d")).agg(max("d")).head().getDouble(0)
    assert(spread < 1e-9)
  }

  test("bhAdjustGrouped equals bhAdjust applied within each group") {
    val rows = for { c <- Seq("x", "y"); g <- 1 to 40 } yield
      (s"g$g", c, ((g * 17 + c.hashCode) % 100 + 1) / 100.0)
    val df = rows.toDF("gene_id", "contrast", "p")
    val grouped = DiffExpr.bhAdjustGrouped(df, "p", Seq(col("contrast")), Seq(col("gene_id")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    for (c <- Seq("x", "y")) {
      val single = SpecReferences.bhAdjust(df.filter(col("contrast") === c), "p", Seq(col("gene_id")))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
      for ((k, v) <- single)
        assert(math.abs(grouped(k) - v) < 1e-12, s"$k: ${grouped(k)} vs $v")
    }
  }
}
