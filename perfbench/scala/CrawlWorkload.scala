package graftbench

import graft.crawl.{CrawlJob, RefWalker}
import graft.fixtures.WebConfig
import graft.tables.SnapshotTable
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `crawl`: the real crawl loop, `CrawlJob.run(…, upToRound)` one round at a
  * time, over a 256-host synthetic web on the bloom + `MemberStore` dedup
  * path, with a correlated revision (every host revises) in round 2.
  *
  * Set-up is the session plus the cold start (seed snapshot); round 1 is
  * the warm-up; round 2 is timed. The
  * emits of every round must equal `RefWalker`'s, computed after the timed
  * region.
  */
object CrawlWorkload {

  /** Timed rounds; a round costs ~8-13 s on 4 cores, almost all fixed cost,
    * so the run budget holds one after the warm-up round.
    */
  val TimedRounds = 1
  val RoundEstimateS = 10.0

  def cfgFor(seed: Long, rounds: Int = 1 + TimedRounds): WebConfig =
    WebConfig(seed = seed, numHosts = 256, numSeeds = 10000, rounds = rounds,
      correlatedRevRound = 2)

  type Emit = (Long, String, String, Long, Long, Long, String, Int)

  def run(spark: SparkSession, tracer: Tracer, a: Main.Args, sessionS: Double,
      res: Main.Result): Unit = {
    import spark.implicits._
    val timed = math.max(TimedRounds, math.round(a.seconds / RoundEstimateS).toInt)
    val cfg = cfgFor(a.seed, 1 + timed)
    val d = a.out.resolve("crawl")
    val state = d.resolve("state").toString
    val sink = d.resolve("sink")
    def runTo(r: Int): Long =
      CrawlJob.run(spark, cfg, state, sink.toString, upToRound = Some(r.toLong), bloomThreshold = 0L)

    // set-up: the cold start (seed snapshot); at ~15 s it is run once
    val cold = Main.seconds(tracer.span("crawl.cold_start")(runTo(0)))._2
    res.put("setup_s", sessionS + cold, "s")

    val roundSpans = mutable.ArrayBuffer[Span]()
    val written = mutable.ArrayBuffer[(Long, Long, Long)]() // bytes, files, memberstore bytes
    val windowAtStart = mutable.Map[Int, Long]()
    var last = 0
    var files = Main.snapshotFiles(Seq(d))
    try {
      (1 to cfg.rounds).foreach { r =>
        if (a.trace) windowAtStart(r) =
          tracer.span("crawl.window_count")(CrawlJob.readWindow(spark, new SnapshotTable(state)).count())
        tracer.span(s"crawl.round")(runTo(r))
        roundSpans += tracer.spans.filter(_.name == "crawl.round").last
        last = r
        val now = Main.snapshotFiles(Seq(d))
        val fresh = now.filter { case (p, sz) => !files.get(p).contains(sz) }
        val ms = fresh.filter(_._1.contains("/memberstore/")).values.sum
        written += ((fresh.values.sum, fresh.size.toLong, ms))
        files = now
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.fail(s"crawl round ${last + 1}: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    res.attempted = math.max(last + (if (res.failed > 0) 1 else 0), 1)
    require(new SnapshotTable(state).latestSnapshot.contains(last.toLong),
      s"snapshot table is not at round $last")

    // correctness, outside the timed region: engine emits ≡ RefWalker emits,
    // compared per round as sorted tuples; final seen set ≡ the walker's
    val got: Map[Long, Seq[Emit]] = CrawlJob.readEmits(spark, sink.toString)
      .select("round", "status", "host", "seq", "ord", "url_hash", "url", "priority")
      .as[Emit].collect().toSeq.groupBy(_._1)
    val ref = RefWalker.run(cfg.copy(rounds = math.max(last, 1)))
    val want: Map[Long, Seq[Emit]] = ref.emits
      .map(e => (e.round, e.status, e.host, e.seq, e.ord, e.url_hash, e.url, e.priority))
      .groupBy(_._1)
    def sorted(xs: Seq[Emit]) = xs.sortBy(e => (e._1, e._3, e._5, e._2, e._6))
    (1 to last).foreach { r =>
      val g = sorted(got.getOrElse(r.toLong, Seq.empty))
      val w = sorted(want.getOrElse(r.toLong, Seq.empty))
      if (g != w) res.fail(s"crawl round $r: ${g.size} emits, RefWalker ${w.size}")
    }
    if (last > 0) {
      val seen = CrawlJob.readSeen(spark, state).as[Long].collect().toSet
      if (seen != ref.seen) res.fail(s"crawl: seen set ${seen.size} != RefWalker ${ref.seen.size}")
    }

    val timedSpans = roundSpans.drop(1).toSeq
    val timedRounds = (2 to last).map(_.toLong)
    val accepted = timedRounds.map(r => got.getOrElse(r, Seq.empty).count(_._2 == "ACCEPTED"))
    if (timedSpans.nonEmpty) {
      res.put("cold_round_s", roundSpans.head.seconds, "s")
      res.put("round_s_p50", Stats.median(timedSpans.map(_.seconds)), "s")
      res.put("items_per_s", accepted.sum / timedSpans.map(_.seconds).sum, "1/s")
    }
    println(f"crawl: rounds=$last timed=${timedSpans.map(s => f"${s.seconds}%.2f").mkString(",")} " +
      f"accepted=${accepted.mkString(",")} RefWalker rounds=${ref.emits.map(_.round).distinct.size}")

    if (a.trace && timedSpans.nonEmpty) {
      Main.sparkMetrics(tracer, timedSpans, res)
      val all = got.values.flatten.toSeq
      res.put("crawl.accepted_per_round",
        all.count(_._2 == "ACCEPTED").toDouble / math.max(last, 1), "count")
      res.put("crawl.dropped_total", all.count(_._2 == "DROPPED").toDouble, "count")
      res.put("crawl.queue_alive_end",
        CrawlJob.readQueue(spark, state).count().toDouble, "count")
      val w = written.drop(1)
      res.put("tables.bytes_written_per_round", Stats.mean(w.map(_._1.toDouble).toSeq), "bytes")
      res.put("tables.files_written_per_round", Stats.mean(w.map(_._2.toDouble).toSeq), "count")
      res.put("frontier.memberstore_bytes_per_round", Stats.mean(w.map(_._3.toDouble).toSeq), "bytes")
      res.put("tables.state_mb", Main.snapshotFiles(Seq(d)).values.sum / 1e6, "MB")
      webSeconds(spark, cfg, sink, timedRounds, windowAtStart, all, res)
    }
  }

  /** The simulated web's CPU time per round: per-call cost of `pageVersion`,
    * `outlinksOf` and `failsAt` (timed from outside, single-threaded) times
    * the round's call counts — fetched rows from the round's metrics table,
    * window entries re-probed at round start, replacement pages.
    */
  private def webSeconds(spark: SparkSession, cfg: WebConfig, sink: Path,
      rounds: Seq[Long], windowAtStart: mutable.Map[Int, Long], emits: Seq[Emit],
      res: Main.Result): Unit = {
    val urls = emits.map(_._7).distinct.take(300)
    val pv = Kernels.perCallNs(urls)(u => graft.fixtures.SyntheticWeb.pageVersion(cfg, u, 3L))
    val ol = Kernels.perCallNs(urls)(u => graft.fixtures.SyntheticWeb.outlinksOf(cfg, u).size.toLong)
    val fa = Kernels.perCallNs(urls)(u => if (graft.fixtures.SyntheticWeb.failsAt(cfg, u, 3L)) 1L else 0L)
    val perRound = rounds.map { r =>
      val m = spark.read.parquet(f"$sink/metrics-$r%04d")
        .agg(sum("n_fetched"), sum("n_failed")).head()
      val fetched = m.getLong(0); val failedFetch = m.getLong(1)
      val replacements = emits.count(e => e._1 == r && e._7.contains("/rev/"))
      val pvCalls = fetched + windowAtStart.getOrElse(r.toInt, 0L) + replacements
      (pvCalls * pv + (fetched - failedFetch) * ol + fetched * fa) / 1e9
    }
    res.put("fixtures.web_s_per_round", Stats.mean(perRound), "s")
  }
}
