package graft

import graft.sources.Fixtures
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import java.nio.file.Files

/** The fixture reader's scan policy: the text corpus is spread to the
  * session's parallelism when its scan plans fewer partitions, a corpus
  * that arrives in enough splits passes untouched, and numeric tables
  * are never spread. */
class FixturesSpec extends SparkSpec {

  private def repartitions(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collect { case r: Repartition => r }.size

  private val cores = spark.sparkContext.defaultParallelism

  test("a single-file documents table comes back with one partition per core") {
    val dir = "/root/testdata/sf0.001"
    assert(spark.read.parquet(s"$dir/documents.parquet").rdd.getNumPartitions < cores,
      "the fixture is expected to scan as fewer splits than cores")
    val docs = Fixtures.table(spark, dir, "documents")
    assert(docs.rdd.getNumPartitions === cores)
    assert(repartitions(docs) === 1)
    assert(docs.count() === spark.read.parquet(s"$dir/documents.parquet").count())
  }

  test("a documents table with at least one split per core comes back untouched") {
    val dir = Files.createTempDirectory("graft-fixtures").toFile
    try {
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .repartition(cores + 1).write.parquet(s"$dir/documents.parquet")
      val docs = Fixtures.table(spark, dir.getPath, "documents")
      assert(repartitions(docs) === 0, docs.queryExecution.analyzed.treeString)
      assert(docs.rdd.getNumPartitions >= cores)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("numeric tables are never spread") {
    val li = Fixtures.table(spark, "/root/testdata/sf0.001", "lineitem")
    assert(repartitions(li) === 0, li.queryExecution.analyzed.treeString)
  }
}
