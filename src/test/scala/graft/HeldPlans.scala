package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Walks of the physical plans that [[graft.model.RelCache]] holds
  * cache, for specs that pin what a hold keeps alive. */
object HeldPlans {

  /** The cached physical plan of a held relation. */
  def cachedPlan(spark: SparkSession, df: DataFrame): SparkPlan = {
    val cached = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]])
    assert(cached.isDefined, "the relation is held but not in the CacheManager")
    cached.get.cachedRepresentation.cacheBuilder.cachedPlan
  }

  /** The nodes of `p` that `pick` names, through adaptive plans, query
    * stages and reused exchanges and subqueries, stopping at the cached
    * relations it reads (their own holds are walked separately). */
  def under(p: SparkPlan)(pick: PartialFunction[SparkPlan, String]): Seq[String] =
    pick.lift(p).toSeq ++ (p match {
      case a: AdaptiveSparkPlanExec => under(a.executedPlan)(pick)
      case q: QueryStageExec => under(q.plan)(pick)
      case r: ReusedExchangeExec => under(r.child)(pick)
      case r: ReusedSubqueryExec => under(r.child)(pick)
      case _: InMemoryTableScanExec => Nil
      case other => (other.children ++ other.subqueries).flatMap(under(_)(pick))
    })

  def broadcasts(p: SparkPlan): Seq[String] =
    under(p) { case b: BroadcastExchangeExec => b.simpleString(200) }

  def joins(p: SparkPlan): Seq[String] =
    under(p) { case j: BaseJoinExec => j.simpleString(200) }
}
