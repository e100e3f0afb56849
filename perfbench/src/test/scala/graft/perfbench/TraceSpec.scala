package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", "target/spark-local")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sp(id: Int, parent: Int, a: Long, b: Long) = Span(id, "L", s"s$id", parent, 0, a, b)

  test("self time is duration minus the union of the children's intervals") {
    val spans = Seq(
      sp(1, -1, 0, 100),
      sp(2, 1, 10, 40), // overlaps its sibling: concurrent pool work
      sp(3, 1, 30, 60),
      sp(4, 2, 15, 20),
      sp(5, 1, 90, 130)) // runs past its parent's end: clipped
    val self = Span.selfNs(spans)
    assert(self(1) == 100 - 50 - 10)
    assert(self(2) == 30 - 5)
    assert(self(3) == 30)
    assert(self(4) == 5)
    assert(self(5) == 40)
  }

  test("jobs from pool threads inside a span are attributed to that span") {
    val sc = spark.sparkContext
    val meter = new TaskMeter
    sc.addSparkListener(meter)
    try {
      val tracer = new Tracer(sc, 0)
      spark.range(0, 10, 1, 2).selectExpr("sum(id)").collect() // outside any span
      tracer.span("Meta", "outer") {
        graft.Overlap.inParallel(Seq(1, 2, 3)) { i =>
          tracer.span("DiffExpr", s"inner$i")(spark.range(0, 100 * i, 1, 2).selectExpr("sum(id)").collect())
          spark.range(0, 10, 1, 2).selectExpr("sum(id)").collect()
        }
      }
      meter.drain(sc)
      val spans = tracer.spans
      val outer = spans.find(_.name == "outer").get
      val inner = spans.filter(_.name.startsWith("inner"))
      assert(inner.size == 3 && inner.forall(_.parent == outer.id))
      // the same query ran once outside any span and once per pool thread
      val outside = meter.spanAcc("").get.jobs.get
      assert(outside >= 1)
      assert(meter.spanAcc(outer.id.toString).get.jobs.get == 3 * outside)
      inner.foreach(s => assert(meter.spanAcc(s.id.toString).get.tasks.get >= 2))
      assert(meter.spanKeys.filter(_.nonEmpty).flatMap(meter.spanAcc).map(_.tasks.get).sum +
        meter.spanAcc("").get.tasks.get == meter.run.tasks.get)
    } finally sc.removeSparkListener(meter)
  }
}
