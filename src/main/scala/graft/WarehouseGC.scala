package graft

/** Warehouse retention sweep (VERDICT r11 #6): delete at-rest table
  * generations whose fixture key no longer matches any current
  * testdata directory. Run via `tools/warehouse_gc.sh` or
  * `sbt "runMain graft.WarehouseGC [testdataRoot]"`. Prints one JSON
  * line naming what was deleted and what survives — lifecycle hygiene
  * for the production at-rest claim (markers otherwise re-register
  * orphaned generations forever). */
object WarehouseGC {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata"))
    val spark = graft.model.SessionTuning.session(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (deleted, kept) = graft.model.AtRest.gcWarehouse(spark, root)
    def arr(xs: Seq[String]) = xs.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"warehouse_gc":{"testdata":"$root","deleted":${arr(deleted)},"kept":${arr(kept)}}}""")
    spark.stop()
  }
}
