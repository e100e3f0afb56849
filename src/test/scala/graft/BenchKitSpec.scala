package graft

import org.apache.spark.sql.functions.{col, udf}
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** The bench's raw-fact plumbing: the JSON string escape every error
  * message goes through, the host facts, and `measure`'s contract that
  * a failing query is a recorded fact, not an exception. */
class BenchKitSpec extends SparkSpec {

  private def withMeter[T](f: BenchKit.TaskMeter => T): T = {
    val meter = new BenchKit.TaskMeter
    spark.sparkContext.addSparkListener(meter)
    try f(meter) finally spark.sparkContext.removeSparkListener(meter)
  }

  test("jsonStr round-trips quotes, backslashes and control characters through json4s") {
    val s = "say \"hi\" \\ path\nline\r\ttab \u0001 end"
    val parsed = parse("{\"k\":" + BenchKit.jsonStr(s) + "}") \ "k"
    assert(parsed == JString(s))
  }

  test("hostFacts names the JVM's cores, max heap and the machine's RAM") {
    val j = parse(BenchKit.hostFacts())
    val JInt(cores) = j \ "available_processors"
    val JInt(heap) = j \ "max_heap_mb"
    val JInt(ram) = j \ "total_ram_mb"
    assert(cores.toInt == Runtime.getRuntime.availableProcessors)
    assert(heap.toLong == Runtime.getRuntime.maxMemory >> 20)
    assert(ram > 0 && ram >= heap)
  }

  test("measure records a failing action as err and does not throw") {
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("boom") else x }
    val smp = withMeter(m => BenchKit.measure(spark, m)(
      spark.range(10).select(boom(col("id")).as("x"))))
    assert(smp.err.isDefined)
    assert(!smp.err.get.contains('\n') && smp.err.get.length <= 200)
  }

  test("measure on a succeeding query counts its jobs once the meter is drained") {
    withMeter { m =>
      val smp = BenchKit.measure(spark, m)(
        spark.range(1000).groupBy((col("id") % 7).as("k")).count())
      assert(smp.err.isEmpty)
      assert(smp.t.jobs >= 1 && smp.t.tasks >= 1)
      assert(smp.wall > 0)
      // the snapshot is final: no event of the sample arrives later
      Thread.sleep(300)
      assert(m.counts() == ((smp.t.jobs, smp.t.tasks)))
    }
  }
}
