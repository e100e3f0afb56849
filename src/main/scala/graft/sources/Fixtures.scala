package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec

/** The one reader of the catalog's fixture tables
  * (`<dir>/<name>.parquet`): every query reads its inputs here, once,
  * the way the reference reads each input through one
  * `read.table(..., row.names=1)` at stage entry.
  *
  * How a scan is split is a property of the input, so it is decided
  * here and nowhere else: operators take their input's partitioning
  * as given. Only the text corpus, `documents`, is spread. Its per-doc
  * work (tokenize, fingerprint, shingle) runs on the scan's
  * partitioning, and a single-row-group parquet file is a 1-task
  * scan. When the scan plans fewer partitions than the session's
  * parallelism it is repartitioned round-robin to that parallelism.
  * A corpus that arrives in enough splits passes untouched. The
  * numeric tables are never spread: they feed partial aggregations,
  * which combine map-side on any split, so an added exchange only
  * costs them. */
object Fixtures {

  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name != "documents") df
    else {
      // the planned scan's split count: file listing and split sizing
      // only, no job and no code generation
      val splits = df.queryExecution.executedPlan.collectFirst {
        case scan: FileSourceScanExec => scan.inputRDD.getNumPartitions
      }.getOrElse(1)
      val cores = s.sparkContext.defaultParallelism
      val spread = splits < cores
      logOnce(s"[graft] scan policy table=$name splits=$splits cores=$cores spread=$spread")
      if (spread) df.repartition(cores) else df
    }
  }

  private val logged = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Each distinct decision is logged once per JVM, on stderr, like the
    * session policy line. */
  private def logOnce(line: String): Unit =
    if (logged.add(line)) System.err.println(line)
}
