package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A span around one public call. Times are wall-clock milliseconds (the
  * clock Spark's listener events carry) plus a nanosecond duration.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
    var endMs: Long = -1L, var nanos: Long = -1L) {
  def seconds: Double = nanos / 1e9
}

/** One Spark job, recorded from the listener and attached to the span that
  * was open on the submitting thread.
  */
final class JobRec(val jobId: Int, val spanId: Int, val execId: String,
    val callSite: String, val frames: String, val stageIds: Seq[Int],
    val startMs: Long) {
  @volatile var endMs: Long = -1L
  var module: String = "other"
}

/** Per-stage task counters (listener thread only). */
final class StageRec {
  var tasks = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var taskMs = 0L
  val durations = mutable.ArrayBuffer[Long]()
}

/** Spans around public calls, plus a child record per Spark job from the
  * benchmark's own [[SparkListener]]. Everything stays in memory; the run
  * writes it out at the end. With `enabled = false` spans are still timed
  * (the end-to-end numbers come from them) but no listener is registered.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val SpanProp = "graftbench.span"
  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  /** Nanoseconds spent inside the listener's handlers (tracing overhead). */
  val handlerNanos = new AtomicLong()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timedHandler {
      val props = Option(e.properties)
      val spanId = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
      val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
      // the result stage carries the job's call site: short form as its name,
      // the user stack as its details
      val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      val rec = new JobRec(e.jobId, spanId, execId,
        result.map(_.name).getOrElse(""), result.map(_.details).getOrElse(""),
        e.stageIds, e.time)
      jobs.put(e.jobId, rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timedHandler {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedHandler {
      val st = stages.computeIfAbsent(e.stageId, _ => new StageRec)
      st.tasks += 1
      st.durations += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.taskMs += m.executorRunTime
      }
    }
  }

  private def timedHandler(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    handlerNanos.addAndGet(System.nanoTime() - t0)
  }

  if (enabled) sc.addSparkListener(listener)

  /** Run `f` inside a span named `name`; jobs it submits are attached to it. */
  def span[T](name: String)(f: => T): T = {
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name,
      System.currentTimeMillis())
    spans += s
    open = s :: open
    sc.setLocalProperty(SpanProp, s.id.toString)
    val t0 = System.nanoTime()
    try f
    finally {
      s.nanos = System.nanoTime() - t0
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
    }
  }

  private var finished = false

  /** Wait until the listener bus has delivered every event, then detach and
    * attribute jobs to modules. Called before any per-layer metric is read.
    */
  def finish(): Unit = if (enabled && !finished) {
    finished = true
    // the bus is asynchronous: wait until every recorded job has ended
    val deadline = System.currentTimeMillis() + 30000L
    while (jobs.values.asScala.exists(_.endMs < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // trailing task-end events
    sc.removeSparkListener(listener)
    assignModules()
  }

  /** Module of a job = package of the first library frame in its call site
    * (graft.crawl.CrawlJob → crawl). Jobs with no library frame (broadcast
    * and subquery jobs run on pool threads) take the module of a job of the
    * same SQL execution that has one.
    */
  private def assignModules(): Unit = {
    val Frame = """^\s*graft\.([a-z]+)\.""".r
    val all = jobs.values.asScala.toSeq.sortBy(_.jobId)
    all.foreach { j =>
      val lines = (j.frames.split("\n").toSeq :+ j.callSite).map(_.trim)
      j.module = lines.collectFirst { case l if Frame.findFirstMatchIn(l).isDefined =>
        Frame.findFirstMatchIn(l).get.group(1)
      }.orElse(lines.collectFirst { case l if l.startsWith("graft.") => "entry" })
        .orElse(lines.collectFirst { case l if l.startsWith("graftbench.") => "bench" })
        .getOrElse("other")
    }
    val byExec = all.filter(j => j.execId.nonEmpty && j.module != "other")
      .groupBy(_.execId).map { case (k, js) => k -> js.head.module }
    all.filter(_.module == "other").foreach(j => byExec.get(j.execId).foreach(j.module = _))
  }

  /** Is span `id` equal to or nested under `ancestor`? */
  def within(id: Int, ancestor: Int): Boolean =
    if (id < 0) false
    else if (id == ancestor) true
    else within(spans(id).parent, ancestor)

  def jobsUnder(s: Span): Seq[JobRec] =
    jobs.values.asScala.toSeq.filter(j => within(j.spanId, s.id)).sortBy(_.jobId)

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id)))

  /** Wall time of `s` that no Spark job of it covers (driver-side work). */
  def driverSeconds(s: Span): Double = {
    val iv = jobsUnder(s).map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))).filter(p => p._2 > p._1)
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, s.seconds - covered / 1000.0)
  }

  /** max/median task duration of the stage with the most task time. */
  def taskSkew(s: Span): Double = {
    val st = stagesOf(jobsUnder(s)).filter(_.durations.nonEmpty)
    if (st.isEmpty) 1.0
    else {
      val big = st.maxBy(_.durations.sum)
      val d = big.durations.sorted
      val med = Stats.median(d.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else d.last / med
    }
  }

  def jobSecondsByModule(s: Span): Map[String, Double] =
    jobsUnder(s).groupBy(_.module).map { case (m, js) =>
      m -> js.map(j => math.max(0L, (if (j.endMs < 0) s.endMs else j.endMs) - j.startMs)).sum / 1000.0
    }

  /** Spans and jobs as JSON lines (written at the end of a traced run). */
  def dump(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"span":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds}}""" + "\n"
    }
    jobs.values.asScala.toSeq.sortBy(_.jobId).foreach { j =>
      val st = stagesOf(Seq(j))
      sb ++= s"""{"job":${j.jobId},"span":${j.spanId},"module":${Json.str(j.module)},""" +
        s""""call_site":${Json.str(j.callSite)},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
        s""""tasks":${st.map(_.tasks).sum},"shuffle_read":${st.map(_.shuffleRead).sum},""" +
        s""""shuffle_write":${st.map(_.shuffleWrite).sum},"spill":${st.map(_.spill).sum},""" +
        s""""task_ms":${st.map(_.taskMs).sum}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
