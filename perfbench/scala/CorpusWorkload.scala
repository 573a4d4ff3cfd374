package graftbench

import graft.SparkEntry
import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** The corpus half of the `data_round` workload: the training-data
  * operators, as 8 `SparkEntry.queries` entries over the generated corpus
  * tables in `<out>/data` (documents, embeddings; written by
  * `perfbench/corpus.py` from the seed). The first pass writes each query's
  * rows for the DuckDB oracle check; later passes run each query to a no-op
  * sink so every column of every row is computed.
  */
object CorpusWorkload {

  /** query → the module whose operator it exercises. */
  val Queries: Seq[(String, String)] = Seq(
    "q_minhash_neardups" -> "dedup", "q_simhash_neardups" -> "dedup",
    "q_token_jaccard" -> "dedup", "q_embed_neardups_exact" -> "dedup",
    "q_fingerprint_dups" -> "dedup",
    "q_ann_pq" -> "search", "q_decontaminate" -> "text", "q_tfidf" -> "text")

  val Tables = Seq("documents", "embeddings")

  /** Loads the tables three times (median seconds returned) and writes the
    * oracle SQL of each query for the DuckDB check in run.py.
    */
  def setup(spark: SparkSession, tracer: Tracer, a: Main.Args): Double = {
    val data = a.out.resolve("data").toString
    val loads = (1 to 3).map(_ => Main.seconds(tracer.span("corpus.load")(
      Tables.map(t => spark.read.parquet(s"$data/$t.parquet").count()).sum))._2)
    val oracle = Queries.map(_._1)
      .map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}").mkString("{", ",", "}")
    Files.writeString(a.out.resolve("oracle_sql.json"), oracle)
    Stats.median(loads)
  }

  /** One pass over the queries. The first pass writes each result to
    * `<out>/first/<query>`; later ones run to a no-op sink. A query that
    * throws counts as failed in this and every later pass.
    */
  def pass(spark: SparkSession, tracer: Tracer, a: Main.Args, first: Boolean,
      broken: scala.collection.mutable.Set[String], res: Main.Result): Unit =
    tracer.span("corpus.pass") {
      val data = a.out.resolve("data").toString
      Queries.foreach { case (q, _) =>
        res.attempted += 1
        if (!broken(q)) try tracer.span(s"query.$q") {
          val df = SparkEntry.queries(q)(spark, data)
          if (first) df.coalesce(1).write.mode("overwrite").parquet(a.out.resolve(s"first/$q").toString)
          else df.write.format("noop").mode("overwrite").save()
        } catch {
          case e: Throwable =>
            e.printStackTrace()
            broken += q
            res.fail(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}")
        } else res.fail(s"$q: failed in an earlier pass")
      }
    }

  /** `<module>.<query>_s`: median over the timed units. */
  def traceMetrics(tracer: Tracer, units: Seq[Span], res: Main.Result): Unit =
    Queries.foreach { case (q, module) =>
      val ts = tracer.spans.filter(s => s.name == s"query.$q" &&
        units.exists(u => tracer.within(s.id, u.id))).map(_.seconds)
      res.put(s"$module.${q}_s", Stats.median(ts.toSeq), "s")
    }
}
