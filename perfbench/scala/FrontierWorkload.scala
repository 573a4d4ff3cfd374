package graftbench

import graft.frontier.{Scheduler, SeenSet}
import graft.functions.GraftExpressions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The frontier half of the `data_round` workload: one data-heavy frontier
  * round built from public calls, each step materialized inside its own span:
  *
  *   gen (canonicalize + hash) → SeenSet.filterNew → Scheduler.robotsGate →
  *   Scheduler.schedule → fetch (decode + PSNR validation) →
  *   SeenSet.mergeBlooms(bloomDelta)
  *
  * over `N` URLs on 256 hosts, a third already seen and a tenth under a
  * robots-disallowed prefix. Set-up is the seen set and its bloom shards, as
  * a checkpoint carries them.
  */
object FrontierWorkload {

  val N = 250000L
  val Hosts = 256
  val RoundMillis = 10000L

  final case class Ctx(cap: Long, frontierRaw: DataFrame,
      seen: DataFrame, blooms: DataFrame, provider: SeenSet.BloomShardProvider)

  /** The round's candidate URLs: raw, un-canonical spellings. */
  def rawFrontier(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val parts = spark.sparkContext.defaultParallelism
    val id = col("id") + lit(seed * 1000003L)
    spark.range(0, n, 1, parts).select(
      concat(lit("HTTP://Host"), pmod(col("id") + lit(seed), lit(Hosts)).cast("string"),
        lit(".Example.COM:80"),
        when(pmod(id, lit(10)) === 0, lit("/private/./x/../")).otherwise(lit("/p/./x/../")),
        id.cast("string"), lit("#f")).as("raw_url"))
  }

  /** canonicalize → hash → host/path/priority/seq (the `functions` step). */
  def canonical(raw: DataFrame): DataFrame =
    raw.select(canonicalize_url(col("raw_url")).as("url"))
      .select(col("url"), xxhash64(col("url")).as("url_hash"),
        url_host(col("url")).as("host"), url_path(col("url")).as("path"),
        pmod(xxhash64(col("url")), lit(10)).cast("int").as("priority"),
        (xxhash64(col("url")) % 100000).as("seq"))

  def hostState(spark: SparkSession): DataFrame =
    spark.range(Hosts).select(
      concat(lit("host"), col("id").cast("string"), lit(".example.com")).as("host"),
      array(lit("/private/")).as("robots_disallow"),
      (lit(1L) + col("id") % 5).as("min_delay_ms"),
      (lit(60) + col("id").cast("int") % 40).as("budget"))

  /** Set-up: the seen set (every URL with seq % 3 == 0) and its bloom shards. */
  def setup(spark: SparkSession, n: Long, seed: Long): Ctx = {
    val raw = rawFrontier(spark, n, seed)
    val seen = canonical(raw).filter(col("seq") % 3 === 0).select("url_hash").localCheckpoint(true)
    // shards sized for the seen set itself: the probe runs at the 0.01 design point
    val cap = math.max(n / 3 / SeenSet.DefaultShards, 1024L)
    val blooms = SeenSet.buildBloomsDf(seen, cap).localCheckpoint(true)
    Ctx(cap, raw, seen, blooms, SeenSet.broadcastProvider(spark, blooms))
  }

  /** Σ per host min(capacity, alive rows), computed without the frontier
    * code: alive = not seen (seq % 3 != 0) and not under /private/.
    */
  def expectedScheduled(spark: SparkSession, ctx: Ctx): Long = {
    val alive = canonical(ctx.frontierRaw)
      .filter(col("seq") % 3 =!= 0 && !col("path").startsWith("/private/"))
      .groupBy("host").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    hostState(spark).collect().map { r =>
      val delay = math.max(r.getAs[Long]("min_delay_ms"), 1L)
      val cap = math.min(r.getAs[Int]("budget").toLong, RoundMillis / delay)
      math.min(cap, alive.getOrElse(r.getAs[String]("host"), 0L))
    }.sum
  }

  final case class Outcome(scheduled: Long, validated: Long, shards: Long)

  /** One frontier round; every step is a span and is materialized. */
  def round(spark: SparkSession, tracer: Tracer, ctx: Ctx): Outcome = {
    import spark.implicits._
    val hs = hostState(spark)
    val frontier = tracer.span("functions.frontier_gen")(
      canonical(ctx.frontierRaw).localCheckpoint(true))
    val fresh = tracer.span("frontier.filter_new")(
      SeenSet.filterNew(spark, frontier, ctx.seen, ctx.provider).localCheckpoint(true))
    val gated = tracer.span("frontier.robots_gate")(
      Scheduler.robotsGate(fresh, hs).select("host", "url", "url_hash", "seq", "priority")
        .localCheckpoint(true))
    val scheduled = Scheduler.schedule(gated, hs, RoundMillis).persist()
    val nSched = tracer.span("frontier.schedule")(scheduled.count())
    val fetchParts = spark.sparkContext.defaultParallelism * 4
    val validated = tracer.span("validate.fetch_validate") {
      scheduled.select(pmod(col("url_hash"), lit(4096)).as("img"))
        .repartition(fetchParts, col("img"))
        .as[Long].mapPartitions(_.map { i =>
          val img = graft.fixtures.ImageGen.raster(i)
          val fmt = graft.fixtures.ImageGen.fmtOf(i)
          val decoded = graft.validate.ImageValidate.decode(graft.fixtures.ImageGen.encode(img, fmt))
          val p = graft.validate.ImageValidate.psnr(img, decoded)
          if (fmt == "png") (if (p.isPosInfinity) 1L else 0L)
          else (if (p >= graft.validate.ImageValidate.PsnrGateDb) 1L else 0L)
        }).reduce(_ + _)
    }
    val shards = tracer.span("frontier.bloom_merge") {
      val merged = SeenSet.mergeBlooms(ctx.blooms,
        SeenSet.bloomDelta(scheduled.select("url_hash"), ctx.cap))
      // the sketch bytes are summed so the merge itself cannot be pruned
      val r = merged.agg(count(lit(1)), sum(length(col("sketch")))).head()
      require(r.getLong(1) > 0L, "merged blooms are empty")
      r.getLong(0)
    }
    scheduled.unpersist()
    Seq(frontier, fresh, gated).foreach(release)
    Outcome(nSched, validated, shards)
  }

  /** Drop the blocks behind a local checkpoint once a round is done with it. */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    }

  val Steps = Seq("functions.frontier_gen", "frontier.filter_new", "frontier.robots_gate",
    "frontier.schedule", "validate.fetch_validate", "frontier.bloom_merge")

  /** Set-up three times (median reported); the last context is kept. */
  def setupCtx(spark: SparkSession, tracer: Tracer, seed: Long): (Ctx, Double) = {
    val setups = (1 to 3).map(_ => Main.seconds(tracer.span("frontier.setup")(setup(spark, N, seed))))
    setups.init.foreach { case (c, _) => release(c.seen); release(c.blooms) }
    (setups.last._1, Stats.median(setups.map(_._2)))
  }

  /** One round with its checks; a throw or a failed check counts in `res`. */
  def checkedRound(spark: SparkSession, tracer: Tracer, ctx: Ctx, expected: Long,
      res: Main.Result): Unit = {
    res.attempted += 1
    try {
      val o = tracer.span("frontier.round")(round(spark, tracer, ctx))
      if (o.validated <= 0) res.fail("frontier round validated no pages")
      if (o.shards != SeenSet.DefaultShards) res.fail(s"bloom merge kept ${o.shards} shards")
      if (o.scheduled != expected) res.fail(s"scheduled ${o.scheduled}, expected $expected")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.fail(s"frontier round: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** Step times, schedule shuffle, and the bloom's exact maybe-seen / false
    * positive counts (traced runs, after the timed units).
    */
  def traceMetrics(tracer: Tracer, ctx: Ctx, units: Seq[Span], res: Main.Result): Unit = {
    val stepSpans = Steps.map(st => st -> tracer.spans.filter(s =>
      s.name == st && units.exists(u => tracer.within(s.id, u.id))).toSeq).toMap
    Steps.foreach(st => res.put(s"${st}_s", Stats.median(stepSpans(st).map(_.seconds)), "s"))
    res.put("frontier.schedule_shuffle_bytes", Stats.median(stepSpans("frontier.schedule").map(s =>
      tracer.stagesOf(tracer.jobsUnder(s)).map(_.shuffleWrite).sum.toDouble)), "bytes")
    // truly new rows are those with seq % 3 != 0; the shards are sized for
    // the seen set, so the false-positive share sits at the 0.01 design point
    val flagged = canonical(ctx.frontierRaw)
      .withColumn("m", SeenSet.bloom_might_contain(col("url_hash"), ctx.provider))
      .agg(sum(when(col("m"), 1L).otherwise(0L)),
        sum(when(col("m") && col("seq") % 3 =!= 0, 1L).otherwise(0L)),
        sum(when(col("seq") % 3 =!= 0, 1L).otherwise(0L))).head()
    res.put("frontier.bloom_maybe_seen_share", flagged.getLong(0).toDouble / N, "ratio")
    res.put("frontier.bloom_fp_rate", flagged.getLong(1).toDouble / flagged.getLong(2), "ratio")
  }

  /** The single-core baseline: its own pinned JVM, warm-up at N/10 (as
    * Bench does), then one round at N. Reports `scaling_round_s`.
    */
  def runScaling(spark: SparkSession, a: Main.Args, res: Main.Result): Unit = {
    val tracer = new Tracer(spark.sparkContext, enabled = false)
    round(spark, tracer, setup(spark, N / 10, a.seed))
    val ctx = setup(spark, N, a.seed)
    val (o, s) = Main.seconds(round(spark, tracer, ctx))
    res.attempted = 1
    if (o.validated <= 0 || o.shards != SeenSet.DefaultShards) res.fail("single-core round failed its checks")
    res.put("scaling_round_s", s, "s")
  }
}
