package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark entry point (one workload per JVM). `perfbench/run.py` builds
  * this, launches it, checks the corpus outputs against their DuckDB oracles
  * and prints the result line.
  *
  *   graftbench.Main <workload> <seed> <seconds> <trace 0|1> <out dir> <cores> [scaling]
  *
  * Writes `<out dir>/result.json`: attempted/failed counts plus every metric
  * the workload measured; with trace on, also `<out dir>/spans.jsonl`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: Path, cores: Int, scaling: Boolean)

  /** Metrics and outcome counts of one run. */
  final class Result {
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer[String]()
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    def fail(msg: String): Unit = { failed += 1; errors += msg }

    def toJson: String = {
      val ms = metrics.map { case (k, (v, u)) =>
        s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
      }.mkString("{", ",", "}")
      val es = errors.map(Json.str).mkString("[", ",", "]")
      s"""{"attempted":$attempted,"failed":$failed,"errors":$es,"metrics":$ms}"""
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      Paths.get(argv(4)).toAbsolutePath, argv(5).toInt, argv.lift(6).contains("scaling"))
    Files.createDirectories(a.out)
    val res = new Result
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(a.cores)
      .appName(s"graftbench-${a.workload}")
      .config("spark.local.dir", a.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, a.trace)
    try {
      a.workload match {
        case "crawl" => CrawlWorkload.run(spark, tracer, a, sessionS, res)
        case "data_round" if a.scaling => FrontierWorkload.runScaling(spark, a, res)
        case "data_round" => DataWorkload.run(spark, tracer, a, sessionS, res)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (a.trace) {
        tracer.finish()
        tracer.dump(a.out.resolve("spans.jsonl"))
        Kernels.run(CrawlWorkload.cfgFor(a.seed), res)
        jvmMetrics(res)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.attempted = math.max(res.attempted, 1L)
        res.fail(s"${a.workload}: ${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally {
      Files.writeString(a.out.resolve("result.json"), res.toJson)
      spark.stop()
    }
  }

  /** GC time and peak resident set of this JVM. */
  def jvmMetrics(res: Result): Unit = {
    import scala.jdk.CollectionConverters._
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    res.put("jvm.gc_s", gcMs / 1000.0, "s")
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble }
      .getOrElse(Double.NaN)
    res.put("jvm.peak_rss_mb", hwmKb / 1024.0, "MB")
  }

  /** Per-unit Spark numbers over the timed unit spans (traced runs). */
  def sparkMetrics(tracer: Tracer, units: Seq[Span], res: Result): Unit = {
    tracer.finish()
    def med(f: Span => Double) = Stats.median(units.map(f))
    res.put("spark.jobs_per_round", med(s => tracer.jobsUnder(s).size.toDouble), "count")
    res.put("spark.tasks_per_round",
      med(s => tracer.stagesOf(tracer.jobsUnder(s)).map(_.tasks).sum.toDouble), "count")
    res.put("spark.driver_s_per_round", med(tracer.driverSeconds), "s")
    res.put("spark.shuffle_bytes_per_round",
      med(s => tracer.stagesOf(tracer.jobsUnder(s)).map(_.shuffleWrite).sum.toDouble), "bytes")
    res.put("spark.spill_bytes_per_round",
      med(s => tracer.stagesOf(tracer.jobsUnder(s)).map(_.spill).sum.toDouble), "bytes")
    res.put("spark.task_skew", med(tracer.taskSkew), "ratio")
    Modules.foreach { m =>
      res.put(s"spark.job_s_per_round.$m",
        Stats.mean(units.map(s => tracer.jobSecondsByModule(s).getOrElse(m, 0.0))), "s")
    }
    res.put("trace.round_s_p50", med(_.seconds), "s")
    res.put("trace.handler_ms_per_round",
      tracer.handlerNanos.get() / 1e6 / math.max(units.size, 1), "ms")
  }

  /** Modules a Spark job is attributed to, by the package of its call site. */
  val Modules = Seq("crawl", "frontier", "tables", "dedup", "search", "text", "bench")

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes and files under `dirs`, keyed by path. */
  def snapshotFiles(dirs: Seq[Path]): Map[String, Long] = dirs.filter(Files.isDirectory(_)).flatMap { d =>
    val s = Files.walk(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toList
    } finally s.close()
  }.toMap
}
