package graft

import graft.model.ExpressionMatrix
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational forms of [[graft.operators.Meta.iccMulti]] and
  * [[graft.operators.Meta.permutationFdr]] that the gene-keyed passes
  * replaced, kept as the references those passes are checked against:
  *  - ICC: a per-platform `groupByKey` standardization joined to the
  *    common gene set, one gramian `treeAggregate` per platform and one
  *    cross-product pass plus a per-gene map per platform pair;
  *  - FDR: the relational label permutation ([[permutationLabels]]),
  *    an m × nperm join fan-out, per-(gene, perm, group) aggregations
  *    and an exceedance join.
  * The FDR reference carries the null semantics of the kernel: a zero
  * denominator gives a null z, a null permuted |z| is no exceedance,
  * and a null observed |z| has a null FDR. Its exceedance test allows a
  * 1e-12 relative slack: a permutation that labels the observed
  * partition or its mirror has the observed |z| in exact arithmetic,
  * but the relational aggregates reach it only up to summation order,
  * while the kernel scores every assignment with the same arithmetic
  * and so counts such a tie. */
object MetaReference {

  def iccMulti(platforms: Seq[(String, ExpressionMatrix)]): DataFrame = {
    val spark = platforms.head._2.df.sparkSession
    import spark.implicits._

    val genes = platforms.map { case (_, m) =>
      m.canonical.df.select(col("gene_id")).distinct()
    }.reduce((a, b) => a.join(b, Seq("gene_id"), "left_semi"))

    def standardize(m: ExpressionMatrix): (Dataset[(String, Array[Double])], Int) = {
      val sampleIds = m.canonical.df.select(col("sample_id")).distinct()
        .orderBy("sample_id").collect().map(_.getString(0))
      val bc = spark.sparkContext.broadcast(sampleIds.zipWithIndex.toMap)
      val v = m.canonical.df.join(genes, Seq("gene_id"), "left_semi")
        .select(col("gene_id"), col("sample_id"), col("value"))
        .as[(String, String, Double)]
        .groupByKey(_._1)
        .mapGroups { (g, it) =>
          val arr = new Array[Double](bc.value.size)
          it.foreach { case (_, s, v) => arr(bc.value(s)) = v }
          val mean = arr.sum / arr.length
          var ss = 0.0
          var i = 0
          while (i < arr.length) { arr(i) -= mean; ss += arr(i) * arr(i); i += 1 }
          val norm = math.sqrt(ss)
          if (norm > 0) { i = 0; while (i < arr.length) { arr(i) /= norm; i += 1 } }
          (g, arr)
        }
      (v, sampleIds.length)
    }

    def outer(ds: Dataset[(Array[Double], Array[Double])], nCols: Int)
        : (Array[Array[Double]], Array[Double], Long) = {
      val zero = (Array.ofDim[Double](0, 0), new Array[Double](0), 0L)
      ds.rdd.treeAggregate(zero)(
        { case ((m0, s0, n), (x, y)) =>
          val m = if (m0.isEmpty) Array.ofDim[Double](x.length, nCols) else m0
          val s = if (s0.isEmpty) new Array[Double](x.length) else s0
          for (i <- x.indices if x(i) != 0.0; j <- y.indices) m(i)(j) += x(i) * y(j)
          for (i <- x.indices) s(i) += x(i)
          (m, s, n + 1)
        },
        { case (a, b) =>
          if (a._1.isEmpty) b else if (b._1.isEmpty) a
          else {
            for (i <- a._1.indices; j <- a._1(i).indices) a._1(i)(j) += b._1(i)(j)
            for (i <- a._2.indices) a._2(i) += b._2(i)
            (a._1, a._2, a._3 + b._3)
          }
        })
    }

    def qf(x: Array[Double], mat: Array[Array[Double]], y: Array[Double]): Double =
      x.indices.filter(x(_) != 0.0).map(i => x(i) * y.indices.map(j => mat(i)(j) * y(j)).sum).sum
    def dot(x: Array[Double], y: Array[Double]): Double = x.indices.map(i => x(i) * y(i)).sum

    val std = platforms.map { case (name, m) => name -> standardize(m) }
    val moments = std.map { case (name, (v, n)) =>
      name -> outer(v.map(t => (t._2, t._2)), n)
    }.toMap
    std.combinations(2).map { case Seq((n1, (v1, k1)), (n2, (v2, k2))) =>
      val joined = v1.joinWith(v2, v1("_1") === v2("_1"))
        .map { case ((g, x1), (_, x2)) => (g, x1, x2) }
      val (g11, s1, gCount) = moments(n1)
      val (g22, s2, _) = moments(n2)
      def orZero(m: Array[Array[Double]], r: Int, c: Int) = if (m.isEmpty) Array.ofDim[Double](r, c) else m
      val cross = orZero(outer(joined.map(t => (t._2, t._3)), k2)._1, k1, k2)
      val bc = spark.sparkContext.broadcast(
        (orZero(g11, k1, k1), orZero(g22, k2, k2), cross, s1, s2, gCount))
      joined.map { case (g, x1, x2) =>
        val (a11, a22, c, t1, t2, cnt) = bc.value
        val n = (cnt - 1).toDouble
        val r11 = dot(x1, x1)
        val r22 = dot(x2, x2)
        val sa = dot(x1, t1) - r11
        val sb = dot(x2, t2) - r22
        val saa = qf(x1, a11, x1) - r11 * r11
        val sbb = qf(x2, a22, x2) - r22 * r22
        val sab = qf(x1, c, x2) - r11 * r22
        val cov = sab - sa * sb / n
        val va = saa - sa * sa / n
        val vb = sbb - sb * sb / n
        (n1, n2, g, if (va > 0 && vb > 0) cov / math.sqrt(va * vb) else Double.NaN)
      }.toDF("p1", "p2", "gene_id", "icc")
    }.reduce(_ unionByName _)
  }

  def permutationFdr(m: ExpressionMatrix, groups: DataFrame, groupA: String,
      groupB: String, nperm: Int, md5Hashes: Boolean): DataFrame = {
    def zOf(stats: DataFrame, extraKey: Seq[String]): DataFrame = {
      val keys = (Seq("gene_id") ++ extraKey).map(col)
      val den = sqrt(col("va") / col("na") + col("vb") / col("nb"))
      stats.groupBy(keys: _*)
        .agg(max(when(col("group") === groupA, col("mean"))).as("ma"),
             max(when(col("group") === groupB, col("mean"))).as("mb"),
             max(when(col("group") === groupA, col("var"))).as("va"),
             max(when(col("group") === groupB, col("var"))).as("vb"),
             max(when(col("group") === groupA, col("n"))).as("na"),
             max(when(col("group") === groupB, col("n"))).as("nb"))
        .filter(col("na") > 1 && col("nb") > 1)
        .withColumn("z", when(den =!= 0.0, (col("ma") - col("mb")) / den))
    }
    val obsStats = m.canonical.df.join(broadcast(groups), Seq("sample_id"))
      .groupBy("gene_id", "group")
      .agg(count(lit(1)).as("n"), avg("value").as("mean"), var_samp("value").as("var"))
    val obs = zOf(obsStats, Nil).select(col("gene_id"), abs(col("z")).as("z_obs"))
    val permLabels = permutationLabels(groups.select(col("sample_id"), col("group")),
      "sample_id", "group", nperm, md5Hashes)
    val permStats = m.canonical.df
      .join(permLabels.withColumnRenamed("perm_label", "group"), Seq("sample_id"))
      .groupBy(col("gene_id"), col("perm"), col("group"))
      .agg(count(lit(1)).as("n"), avg("value").as("mean"), var_samp("value").as("var"))
    val permZ = zOf(permStats, Seq("perm")).select(col("gene_id"), abs(col("z")).as("z_perm"))
    val nGenes = obs.count().toDouble
    val exceed = obs.join(permZ, Seq("gene_id"))
      .groupBy(col("gene_id"), col("z_obs"))
      .agg((sum(when(col("z_perm") >= col("z_obs") * (1 - 1e-12), 1).otherwise(0)) /
        nperm.toDouble)
        .as("e_null"))
      .select(col("gene_id"), col("e_null"))
    val obsRank = obs.withColumn("n_ge_obs", count(lit(1)).over(Window
      .orderBy(col("z_obs").desc).rangeBetween(Window.unboundedPreceding, 0)))
    obsRank.join(exceed, Seq("gene_id"))
      .withColumn("fdr", when(col("z_obs").isNotNull,
        least(lit(1.0), col("e_null") * nGenes / col("n_ge_obs"))))
      .select("gene_id", "z_obs", "fdr")
  }

  /** Relational label permutation: within each perm, samples ranked by
    * hash take the labels ranked by (label, sample). */
  def permutationLabels(samples: DataFrame, sample: String, label: String,
      nperm: Int, md5Hashes: Boolean): DataFrame = {
    val perms = samples.crossJoin(broadcast(
      samples.sparkSession.range(1, nperm + 1).select(col("id").cast("int").as("perm"))))
    val hashExpr =
      if (md5Hashes) md5(concat_ws("#", col("perm").cast("string"), col(sample)))
      else xxhash64(col(sample), col("perm"))
    val wHash = Window.partitionBy(col("perm")).orderBy(hashExpr.asc, col(sample).asc)
    val wLabel = Window.partitionBy(col("perm")).orderBy(col(label).asc, col(sample).asc)
    val ranked = perms.withColumn("__hrk", row_number().over(wHash))
    val labelByRank = perms.withColumn("__lrk", row_number().over(wLabel))
      .select(col("perm").as("__perm2"), col("__lrk"), col(label).as("perm_label"))
    ranked.join(labelByRank,
        ranked("perm") === labelByRank("__perm2") && ranked("__hrk") === labelByRank("__lrk"))
      .select(col(sample), col("perm"), col("perm_label"))
  }
}
