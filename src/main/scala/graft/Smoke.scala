package graft

/** Smoke-runs the driver contract surface: `SparkEntry.entry` must
  * return rows on sf0.001. Mirrors the driver's t1 check. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.model.SessionTuning.session().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n  queries=${SparkEntry.queries.size}  oracles=${SparkEntry.oracleSql.size}")
    assert(n > 0, "entry must return rows")
    spark.stop()
  }
}
