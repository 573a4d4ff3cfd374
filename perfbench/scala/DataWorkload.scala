package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** `data_round`: the data path with no commit IO. One unit is a frontier
  * round ([[FrontierWorkload]]) followed by a pass over the corpus queries
  * ([[CorpusWorkload]]), in one JVM.
  *
  * Set-up is the session plus the frontier's seen set and bloom shards and
  * the corpus load, each repeated three times with the median reported. The
  * first unit is the warm-up and writes the corpus results for the oracle
  * check; units then run until `--seconds` have passed (at least one).
  */
object DataWorkload {

  def run(spark: SparkSession, tracer: Tracer, a: Main.Args, sessionS: Double,
      res: Main.Result): Unit = {
    val (ctx, frontierSetupS) = FrontierWorkload.setupCtx(spark, tracer, a.seed)
    val corpusSetupS = CorpusWorkload.setup(spark, tracer, a)
    res.put("setup_s", sessionS + frontierSetupS + corpusSetupS, "s")
    val expected = FrontierWorkload.expectedScheduled(spark, ctx)

    val broken = mutable.Set[String]()
    val units = mutable.ArrayBuffer[Span]()
    def unit(first: Boolean): Unit = {
      tracer.span("data.round") {
        FrontierWorkload.checkedRound(spark, tracer, ctx, expected, res)
        CorpusWorkload.pass(spark, tracer, a, first, broken, res)
      }
      units += tracer.spans.filter(_.name == "data.round").last
    }
    unit(first = true)
    val t0 = System.nanoTime()
    while (units.size < 2 || (System.nanoTime() - t0) / 1e9 < a.seconds) unit(first = false)
    val timed = units.drop(1).toSeq
    res.put("cold_round_s", units.head.seconds, "s")
    res.put("round_s_p50", Stats.median(timed.map(_.seconds)), "s")
    res.put("items_per_s", FrontierWorkload.N * timed.size / timed.map(_.seconds).sum, "1/s")
    println(f"data_round: n=${FrontierWorkload.N} expected_scheduled=$expected " +
      f"units=${units.map(s => f"${s.seconds}%.2f").mkString(",")}")

    if (a.trace) {
      Main.sparkMetrics(tracer, timed, res)
      FrontierWorkload.traceMetrics(tracer, ctx, timed, res)
      CorpusWorkload.traceMetrics(tracer, timed, res)
    }
  }
}
