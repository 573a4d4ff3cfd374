package graft

import graft.frontier.{Recrawl, TrapDetect}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import scala.jdk.CollectionConverters._

/** The physical-plan claims PLANS.md makes for the r5 operators, asserted on
  * the plan Spark picks for each declared query (built through
  * [[SparkEntry.queries]]) or library operator — a plan change that breaks
  * one of the shapes the operators were designed for fails here instead of
  * surfacing as a slowdown at scale.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def planOf(name: String): String =
    formatted(SparkEntry.queries(name)(spark, SparkTestBase.sfDir))

  private def broadcastsScalar(plan: String): Boolean =
    plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange")

  test("q_sample_stratified: a codegen'd mix64 filter, no Exchange") {
    val plan = planOf("q_sample_stratified")
    assert(!plan.contains("Exchange"), "stratified sample must not shuffle — it is a pure filter")
    assert(plan.contains("mix64_salted"), "hash must be the codegen expression")
    // formatted mode marks whole-stage-codegen operators with a `*` prefix
    assert(plan.contains("* Filter"), "filter must be codegen'd")
  }

  test("q_pii_scrub: a codegen'd projection, no Exchange") {
    val plan = planOf("q_pii_scrub")
    assert(!plan.contains("Exchange"), "PII scrub is scan + project only")
    assert(plan.contains("* Project"), "projection must be codegen'd")
  }

  test("q_fingerprint_dups: bucket-cap semi-join prunes candidates") {
    assert(planOf("q_fingerprint_dups").contains("LeftSemi"),
      "bucket-cap semi-join must prune candidates before the pair join")
  }

  test("q_repetition: per-row metrics, no Exchange") {
    assert(!planOf("q_repetition").contains("Exchange"),
      "repetition metrics are per-row expressions — no shuffle")
  }

  test("q_decontaminate: eval grams broadcast into a semi-join, hit count partial-aggregated") {
    val plan = planOf("q_decontaminate")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      "eval grams must broadcast onto the corpus side (semi-join)")
    assert(plan.contains("partial_count"), "per-doc hit count must partial-aggregate map-side")
  }

  test("q_sitemap: scan + Generate + filter, no Exchange") {
    val plan = planOf("q_sitemap")
    assert(!plan.contains("Exchange"),
      "sitemap extraction must not shuffle — scan + generate + filter only")
    assert(plan.contains("Generate"), "entry explode must be a stock Generate")
  }

  test("q_tfidf: per-doc window rank, N broadcast in-plan") {
    val plan = planOf("q_tfidf")
    assert(plan.contains("Window"), "top-k must be a window rank")
    assert(plan.contains("hashpartitioning(id"),
      "window must partition by DOC id — the finest key, never global")
    assert(broadcastsScalar(plan), "N must ride in-plan as a broadcast 1-row aggregate")
  }

  test("q_lm_quality: |V| broadcast in-plan, hash-aggregate counts") {
    val plan = planOf("q_lm_quality")
    assert(broadcastsScalar(plan), "|V| must ride in-plan as a broadcast 1-row aggregate")
    assert(plan.contains("HashAggregate"), "count tables are hash aggregates")
  }

  test("q_semdedup: candidates are an equi-join, never cartesian") {
    assert(!planOf("q_semdedup").contains("CartesianProduct"),
      "SemDeDup candidates must be a cell-keyed equi-join, never cartesian")
  }

  test("q_len_quantiles: exact and approx percentiles share one lang-keyed Exchange") {
    val plan = planOf("q_len_quantiles")
    // formatted mode lists a node twice (tree + details): one partial→final
    // shuffle is 2 lines; more means the sketch ran as a second pass
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"expected one lang-keyed Exchange, saw $exchanges lines")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      "percentile buffers should plan as ObjectHashAggregate/SortAggregate")
  }

  test("PageRank.pagerank: each iteration partial-aggregates, no job is cartesian") {
    // pagerank checkpoints each iteration, so the returned frame's plan is a
    // scan; the iteration plans are the ones its actions execute
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val sentinel = "plan_shape_sentinel"
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("q_pagerank")(spark, SparkTestBase.sfDir)
      // listener events arrive in order: once the sentinel's plan is in,
      // so are all of pagerank's
      spark.range(1).select(lit(sentinel)).collect()
      eventually(timeout(30.seconds)) {
        assert(plans.asScala.exists(_.contains(sentinel)))
      }
    } finally spark.listenerManager.unregister(listener)
    val executed = plans.asScala.toSeq.filterNot(_.contains(sentinel))
    // q_pagerank runs 5 iterations; each one's contribution sum must
    // partial-aggregate map-side before its one exchange on dst
    assert(executed.count(p => p.contains("HashAggregate") &&
      p.contains("partial_sum((rank")) === 5, executed.mkString("\n"))
    executed.foreach(p => assert(!p.toLowerCase.contains("cartesian"), s"cartesian in:\n$p"))
  }

  private lazy val events =
    spark.read.parquet(s"${SparkTestBase.sfDir}/events.parquet")

  test("Recrawl.changeRate: lag window and aggregate share exactly one Exchange") {
    val fetches = events.select(col("user_id").as("url_id"),
      col("event_id").as("seq"),
      floor(col("event_id") / ((col("user_id") % 9 + 1) * 50)).as("fp"))
    val plan = Recrawl.changeRate(fetches, "url_id", "seq", "fp")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1, plan)
  }

  test("TrapDetect.urlTemplates: the census aggregates map-side first") {
    val urls = events.select(
      concat(lit("h"), (col("user_id") % 20).cast("string")).as("host"),
      concat(lit("/p/"), col("event_id").cast("string")).as("path"),
      (col("event_id") % 7).cast("string").as("content"))
    val plan = TrapDetect.urlTemplates(urls, "host", "path", "content")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), plan)
  }
}
