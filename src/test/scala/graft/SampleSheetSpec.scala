package graft

import graft.functions.SampleSheet
import graft.model.{ExpressionMatrix, RelCache}
import graft.operators.{Batch, DiffExpr, Normalize}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sample sheets enter the statistics chain as driver-side lookups
  * ([[graft.functions.SampleSheet]]): parity with the inner join they
  * replace, named failures on duplicate samples, and no held relation
  * of the statistics layers pinning a broadcast relation. */
class SampleSheetSpec extends SparkSpec {
  import spark.implicits._

  /** 3 genes × 6 samples; s1–s3 group A, s4–s6 group B. */
  private def matrix: ExpressionMatrix = ExpressionMatrix((for {
    g <- 1 to 3; i <- 1 to 6
  } yield (s"g$g", s"s$i", g + i * 0.37 + ((g * 5 + i * 3) % 4) * 0.21))
    .toDF("gene_id", "sample_id", "value"))

  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.mkString("|")).toSeq.sorted

  private def duplicateFailure(f: => Any): String =
    intercept[IllegalArgumentException](f).getMessage

  test("attach equals the inner join on sample_id: null labels kept, absent samples and null ids dropped") {
    val cells = Seq(("g1", "s1", 1.0), ("g1", "s2", 2.0), ("g1", "s3", 3.0),
        ("g1", null, 4.0), ("g2", "s2", 5.0))
      .toDF("gene_id", "sample_id", "value")
    val sheet = Seq[(String, String, Double)](("s1", "A", 0.5), ("s2", null, 2.0),
        (null, "B", 1.0), ("s9", "B", 3.0))
      .toDF("sample_id", "group", "weight")
    val joined = cells.join(sheet, Seq("sample_id"))
    val looked = SampleSheet.collect(sheet, "sheet", Seq("group", "weight")).attach(cells)
    assert(rowsOf(looked) == rowsOf(joined))
    assert(rowsOf(looked).size == 3)
  }

  test("groupStats family: a duplicate sample_id fails by name; null labels and absent samples match the join") {
    val m = matrix
    // s5's label is null, s6 is absent from the sheet
    val groups = Seq[(String, String)](("s1", "A"), ("s2", "A"), ("s3", "A"), ("s4", "B"),
        ("s5", null)).toDF("sample_id", "group")
    val joinForm = m.df.join(groups, Seq("sample_id")).groupBy(col("gene_id"), col("group"))
      .agg(count(col("value")).as("n"), avg(col("value")).as("mean"),
        var_samp(col("value")).as("var"))
    assert(rowsOf(DiffExpr.groupStats(m, groups)) == rowsOf(joinForm))
    val weights = (1 to 6).map(i => (s"s$i", 1.0)).toDF("sample_id", "weight")
    val unitW = DiffExpr.groupStatsWeighted(m, groups, weights)
      .select("gene_id", "group", "mean").collect().map(r => (r.get(0), r.get(1)) -> r.getDouble(2))
    val plain = joinForm.select("gene_id", "group", "mean").collect()
      .map(r => (r.get(0), r.get(1)) -> r.getDouble(2)).toMap
    assert(unitW.length == plain.size)
    unitW.foreach { case (k, v) => assert(math.abs(v - plain(k)) < 1e-12, s"$k") }

    val dupGroups = groups.union(Seq(("s1", "A")).toDF("sample_id", "group"))
    val dupWeights = weights.union(Seq(("s2", 1.0)).toDF("sample_id", "weight"))
    val reps = (1 to 6).map(i => (s"s$i", s"u${(i + 1) / 2}")).toDF("sample_id", "unit")
    val vw = m.df.withColumn("weight", lit(1.0))
    for ((what, f) <- Seq[(String, () => Any)](
        "groups" -> (() => DiffExpr.groupStats(m, dupGroups)),
        "groups" -> (() => DiffExpr.groupStatsObsWeighted(vw, dupGroups)),
        "weights" -> (() => DiffExpr.groupStatsWeighted(m, groups, dupWeights)),
        "array weights" -> (() => DiffExpr.combineObsWeights(vw, dupWeights)),
        "replicates" -> (() => DiffExpr.groupStatsGlsObs(vw, groups,
          reps.union(Seq(("s3", "u9")).toDF("sample_id", "unit")), 0.2)),
        "replicates" -> (() => DiffExpr.duplicateCorrelationReml(m,
          reps.union(Seq(("s3", "u9")).toDF("sample_id", "unit")), groups)))) {
      val msg = duplicateFailure(f())
      assert(msg.contains(s"$what has duplicate sample_id rows"), msg)
    }
    // a unit spanning two groups breaks the nested-blocks premise
    val spanning = duplicateFailure(DiffExpr.groupStatsGlsObs(vw, groups,
      Seq(("s3", "u1"), ("s4", "u1")).toDF("sample_id", "unit"), 0.2))
    assert(spanning.contains("spans more than one group"), spanning)
  }

  test("combat: duplicate batches fail by name; null batches and absent samples match the join form") {
    val m = matrix
    // s2's batch is null (its cells enter the grand stats, then drop),
    // s6 is absent from the sheet (its cells drop up front)
    val batches = Seq[(String, String)](("s1", "b1"), ("s2", null), ("s3", "b1"), ("s4", "b2"),
      ("s5", "b2")).toDF("sample_id", "batch")
    val got = Batch.combat(m, batches).df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val want = SpecReferences.combatJoined(m, batches).df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == want.keySet && got.nonEmpty)
    assert(!got.keys.exists(k => k._2 == "s2" || k._2 == "s6"))
    for ((k, v) <- want) assert(math.abs(got(k) - v) <= 1e-9 * math.max(1.0, math.abs(v)), s"$k")

    val dup = batches.union(Seq(("s4", "b1")).toDF("sample_id", "batch"))
    assert(duplicateFailure(Batch.combat(m, dup)).contains("batches has duplicate sample_id rows"))
    val groups = (1 to 6).map(i => (s"s$i", if (i <= 3) "A" else "B")).toDF("sample_id", "group")
    assert(duplicateFailure(Batch.combatWithCovariates(m, dup, groups))
      .contains("batches has duplicate sample_id rows"))
    assert(duplicateFailure(Batch.combatWithCovariates(m, batches,
      groups.union(Seq(("s1", "B")).toDF("sample_id", "group"))))
      .contains("covariates has duplicate sample_id rows"))
  }

  test("voom: duplicate groups fail by name; a null group acts as an absent sample") {
    val counts = ExpressionMatrix((for { g <- 1 to 6; i <- 1 to 8 } yield
      (s"g$g", s"s$i", (40 + g * 11 + ((g * 13 + i * 7) % 9) * 6).toDouble))
      .toDF("gene_id", "sample_id", "value"))
    val groups = (1 to 8).map(i => (s"s$i", if (i <= 4) "A" else "B"))
    def run(gs: Seq[(String, String)]) = Normalize.voom(counts, gs.toDF("sample_id", "group"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    // both cases keep s8 in the library sizes and out of the fit
    val nullLabel = run(groups.init :+ ("s8" -> null))
    val absent = run(groups.init)
    assert(nullLabel == absent && absent.nonEmpty)
    assert(!absent.keys.exists(_._2 == "s8"))
    assert(duplicateFailure(run(groups :+ ("s8" -> "A")))
      .contains("groups has duplicate sample_id rows"))
  }

  test("no statistics-layer hold pins a broadcast relation") {
    // closed platform: 2 datasets × 3 genes × 2 probes × 4 samples
    val probeRows = for {
      ds <- Seq("ds1", "ds2"); probe <- Seq("p1a", "p1b", "p2a", "p2b", "p3a", "p3b")
      i <- 1 to 4
    } yield {
      val grp = if (i <= 2) "A" else "B"
      val bump = if (probe.startsWith("p1") && grp == "A") 3.0 else 0.0
      (probe, s"$ds-s$i", 8.0 + bump + (if (ds == "ds2") 1.0 else 0.0) +
        ((probe.hashCode.abs % 7) + i * 3 % 5) * 0.13, ds, grp)
    }
    val datasets = Seq("ds1", "ds2").map { ds =>
      ds -> ExpressionMatrix(probeRows.filter(_._4 == ds).map(r => (r._1, r._2, r._3))
        .toDF("gene_id", "sample_id", "value"))
    }
    val annot = Seq("1", "2", "3").flatMap(g => Seq("a", "b").map(s => (s"p$g$s", s"ENSG$g")))
      .toDF("probe", "gene_id")
    val noOutliers = Seq.empty[String].toDF("sample_id")
    val closedGroups = probeRows.map(r => (r._2, r._5)).distinct.toDF("sample_id", "group")
    val closedReps = probeRows.map(r => (r._2, s"${r._4}-u${if (r._2.last <= '2') 1 else 2}"))
      .distinct.toDF("sample_id", "unit")
    // open platform: 10 genes × 8 samples of counts
    val countRows = for { g <- 1 to 10; i <- 1 to 8 } yield
      (s"g$g", s"s$i", (50 + g * 10 + ((g * 13 + i * 7) % 9) * 8 +
        (if (g == 1 && i <= 4) 200 else 0) + (if (i % 2 == 0) 1 else 0)).toDouble)
    val counts = ExpressionMatrix(countRows.toDF("gene_id", "sample_id", "value"))
    val openGroups = (1 to 8).map(i => (s"s$i", if (i <= 4) "A" else "B"))
      .toDF("sample_id", "group")
    val openBatches = (1 to 8).map(i => (s"s$i", if (i % 2 == 0) "b1" else "b2"))
      .toDF("sample_id", "batch")
    val openReps = (1 to 8).map(i => (s"s$i", s"u${(i + 1) / 2}")).toDF("sample_id", "unit")
    // meta-analysis: 2 platforms × 12 genes × 6 samples
    val metaRows = for { plat <- Seq("P1", "P2"); g <- 1 to 12; i <- 1 to 6 } yield
      (plat, s"g$g", s"$plat-s$i", g + i * 0.2 + (if (g == 1 && i <= 3) 4.0 else 0.0) +
        ((g * 7 + i * 3) % 5) * 0.1, if (i <= 3) "A" else "B")
    val platforms = Seq("P1", "P2").map { p =>
      p -> ExpressionMatrix(metaRows.filter(_._1 == p).map(r => (r._2, r._3, r._4))
        .toDF("gene_id", "sample_id", "value"))
    }
    val metaGroups = metaRows.map(r => (r._3, r._5)).distinct.toDF("sample_id", "group")

    val before = RelCache.liveHolds.map(_._2)
    Seq[DataFrame](
      Pipelines.closedPlatformDE(datasets, annot, annot.select("probe"), noOutliers,
        closedGroups, "A", "B", sdFrac = 1.0, remlIters = 5),
      Pipelines.closedPlatformDE(datasets, annot, annot.select("probe"), noOutliers,
        closedGroups, "A", "B", sdFrac = 1.0, replicates = Some(closedReps), remlIters = 5),
      Pipelines.openPlatformDE(counts, noOutliers, openBatches, openGroups, "A", "B",
        sdFrac = 1.0, replicates = Some(openReps)),
      Pipelines.metaAnalysis(platforms, metaGroups, "A", "B"),
      Batch.combatWithCovariates(matrix, (1 to 6).map(i => (s"s$i", s"b${i % 2}"))
        .toDF("sample_id", "batch"), (1 to 6).map(i => (s"s$i", if (i <= 3) "A" else "B"))
        .toDF("sample_id", "group")).df
    ).foreach(df => assert(df.collect().nonEmpty))

    val checked = RelCache.liveHolds.filter { case (slot, df) =>
      !before.exists(_ eq df) &&
        (slot.startsWith("diffexpr.") || slot.startsWith("batch.") || slot == "normalize.voom.obs")
    }
    // the chains above make every kind of statistics-layer hold
    assert(Set("diffexpr.moderatedt.pergene", "diffexpr.dupcorr.resid", "batch.combat.z",
      "batch.combat.gb", "normalize.voom.obs").subsetOf(checked.map(_._1).toSet),
      s"holds made: ${checked.map(_._1).distinct}")
    val pinned = checked.flatMap { case (slot, df) =>
      HeldPlans.broadcasts(HeldPlans.cachedPlan(spark, df)).map(b => s"$slot: $b")
    }
    assert(pinned.isEmpty, "held relations with a broadcast exchange:\n" + pinned.mkString("\n"))
  }
}
