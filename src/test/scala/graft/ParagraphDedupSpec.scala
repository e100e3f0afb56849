package graft

import graft.model.RelCache
import graft.operators.TextDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

/** `TextDedup.paragraphDedup` reads its input once: its single pass
  * equals the join-back form (`SpecReferences.paragraphDedupJoined`)
  * on degenerate inputs, and its plan has no join. The curation chain
  * above it holds only relations that are read twice. */
class ParagraphDedupSpec extends SparkSpec {
  import spark.implicits._

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private def assertSame(docs: DataFrame, sep: String, id: String = "doc_id"): Unit = {
    val single = TextDedup.paragraphDedup(docs, sep, id)
    val joined = SpecReferences.paragraphDedupJoined(docs, sep, id)
    assert(single.schema == joined.schema, s"${single.schema} vs ${joined.schema}")
    assert(rowsOf(single) == rowsOf(joined))
  }

  /** Docs of paragraphs drawn from a small pool with one viral
    * paragraph, plus the degenerate shapes, with extra columns around
    * the text and id columns. */
  private def generated(seed: Int, sep: String): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val pool = (1 to 12).map(i => s"para $i " + ("w" * (i % 4 + 1)))
    val viral = "copyright notice all rights reserved"
    def text = {
      val ps = Seq.fill(rnd.nextInt(5) + 1)(pool(rnd.nextInt(pool.size)))
      val withViral = if (rnd.nextInt(3) == 0) ps :+ viral else viral +: ps
      withViral.mkString(sep)
    }
    val regular = (1 to 40).map(i => (s"src${i % 3}", Option(text), Option(i.toLong), i * 0.5))
    val degenerate = Seq(
      ("nulltext", None, Some(100L), 1.0),
      ("onlysep", Some(sep * 3), Some(101L), 2.0),
      ("consecutive", Some(s"fresh a$sep$sep${sep}fresh b$sep"), Some(102L), 3.0),
      ("allLose", Some(Seq(viral, "null owned", pool(5)).mkString(sep)), Some(103L), 4.0),
      ("dupId", Some(s"dup first$sep${pool(2)}"), Some(7L), 5.0),
      ("dupId", Some(s"${pool(3)}${sep}dup second"), Some(7L), 6.0),
      ("dupIdSame", Some(s"same$sep${pool(4)}"), Some(104L), 7.0),
      ("dupIdSame", Some(s"same$sep${pool(4)}"), Some(104L), 7.0),
      ("nullId", Some(s"null owned$sep${pool(5)}"), None, 8.0),
      ("nullId", Some(s"${pool(6)}${sep}null too"), None, 9.0),
      ("nullIdLater", Some("null owned"), Some(105L), 10.0))
    rnd.shuffle(regular ++ degenerate)
      .toDF("source", "text", "doc_id", "weight").repartition(3)
  }

  test("the single pass equals the join-back form on degenerate inputs") {
    for ((seed, sep) <- Seq(1 -> "\n", 2 -> "\n", 3 -> "||")) {
      val docs = generated(seed, sep)
      assertSame(docs, sep)
      // the plain (id, text) shape, and an id column with another name
      assertSame(docs.select("doc_id", "text"), sep)
      assertSame(docs.withColumnRenamed("doc_id", "key"), sep, id = "key")
    }
    // the shapes the join-back form defines, spelled out
    val out = TextDedup.paragraphDedup(generated(1, "\n")).collect()
    def texts(source: String) = out.filter(_.getAs[String]("source") == source)
      .map(_.getAs[String]("text")).toSeq.sorted
    assert(out.length == 51, s"one output row per input row: ${out.length}")
    assert(texts("nulltext") == Seq("") && texts("onlysep") == Seq(""))
    assert(texts("consecutive") == Seq("fresh a\nfresh b"))
    assert(texts("allLose") == Seq(""))
    assert(texts("dupIdSame").size == 2)
    assert(texts("nullId") == Seq("", ""))
    assert(texts("nullIdLater") == Seq(""), "a null-id doc's paragraph still wins")
    val dup = out.filter(_.getAs[String]("source") == "dupId").map(_.getAs[String]("text"))
    assert(dup.length == 2 && dup.distinct.length == 1 && dup.head.contains("dup first") &&
      dup.head.contains("dup second"), s"duplicate ids share their winners: ${dup.toSeq}")
    assert(out.head.schema.fieldNames.toSeq == Seq("doc_id", "source", "weight", "text"))
  }

  test("paragraphDedup reads its input once: no join in its plan") {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val plan = TextDedup.paragraphDedup(generated(4, "\n")).queryExecution.executedPlan
      val joins = plan.collect { case j: BaseJoinExec => j.simpleString(200) }
      assert(joins.isEmpty, s"paragraphDedup joins:\n$plan")
      assert(plan.collectLeaves().size == 1, s"the input is read more than once:\n$plan")
    } finally spark.conf.set(key, prev)
  }

  private val story = "a fine long english sentence about the harbor and the boats"
  private def crawl: DataFrame = (1 to 24).map { i =>
    val body = s"$story number ${i % 8} with its own words ${"x" * (i % 5)} and more " * 3
    (i.toLong, Seq(body, "menu home about contact", s"closing line for page ${i % 6}")
      .mkString("\n"))
  }.toDF("doc_id", "text")

  private def madeIn[T](body: => T): (T, Seq[(String, DataFrame)]) = {
    val before = RelCache.liveHolds.map(_._2)
    val out = body
    (out, RelCache.liveHolds.filterNot { case (_, df) => before.exists(_ eq df) })
  }

  test("text curation holds: the exact stage has no join, and no LSH candidates at minJaccard > 0") {
    RelCache.scope {
      val (out, made) = madeIn(Pipelines.textCuration(crawl, langs = Seq("en"),
        minQuality = 0.0, nearDupJaccard = 0.5, paragraphSep = Some("\n")).collect())
      assert(out.nonEmpty)
      val exact = made.filter(_._1 == "pipelines.curation.exact")
      assert(exact.size == 1, s"holds made: ${made.map(_._1)}")
      val joins = HeldPlans.joins(HeldPlans.cachedPlan(spark, exact.head._2))
      assert(joins.isEmpty, "the exact stage's cached plan joins:\n" + joins.mkString("\n"))
      assert(!made.exists(_._1 == "textdedup.minhashLshPairs.cand"),
        s"holds made: ${made.map(_._1)}")
    }
    assert(RelCache.liveSlots.isEmpty)
  }

  test("minhashLshPairs holds its candidates only at minJaccard = 0, with unchanged pairs") {
    val docs = TextDedup.paragraphDedup(crawl)
    def pairs(t: Double) = TextDedup.minhashLshPairs(docs, k = 8, bands = 4,
      shingleWidth = 3, minJaccard = t, md5Hashes = true)
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1),
      math.round(r.getDouble(2) * 1e9))).toSet
    RelCache.scope {
      val (all, made) = madeIn(rows(pairs(0.0)))
      val cand = made.filter(_._1 == "textdedup.minhashLshPairs.cand")
      assert(cand.size == 1, s"holds made: ${made.map(_._1)}")
      // every candidate pair is reported at minJaccard = 0, a zero
      // intersection included
      assert(all.size == cand.head._2.count() && all.nonEmpty)
      val (above, madeAbove) = madeIn(rows(pairs(0.5)))
      assert(!madeAbove.exists(_._1 == "textdedup.minhashLshPairs.cand"))
      assert(above.nonEmpty && above == all.filter(_._3 >= math.round(0.5 * 1e9)))
    }
  }
}
