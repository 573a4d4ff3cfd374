package graft.queue

import graft.SparkTestBase
import graft.streaming.EnvelopeStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class FileQueueSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  def envelopes(round: Long, n: Int) =
    (0 until n).map(i => ("ACCEPTED", i.toLong * 7, s"http://h$i.test/p/$i",
      s"h${i % 3}.test", i.toLong, round, 1,
      java.sql.Timestamp.valueOf(s"2024-01-01 0$round:0${i % 6}:00")))
      .toDF("status", "url_hash", "url", "host", "seq", "round", "version", "ts")

  test("producer/consumer round-trip with manual commit (at-least-once)") {
    val q = new FileQueue(Files.createTempDirectory("fq").toString)
    q.append("hooks", envelopes(1, 5))
    q.append("hooks", envelopes(2, 3))

    val (batch1, off1) = q.poll(spark, "hooks", "g1", EnvelopeStream.envelopeSchema)
    assert(batch1.count() === 8)
    // crash BEFORE commit → re-poll re-reads everything (at-least-once)
    val (again, _) = q.poll(spark, "hooks", "g1", EnvelopeStream.envelopeSchema)
    assert(again.count() === 8)

    q.commit("hooks", "g1", off1)
    val (batch2, _) = q.poll(spark, "hooks", "g1", EnvelopeStream.envelopeSchema)
    assert(batch2.count() === 0)

    // new segment after commit → only the new one is seen
    q.append("hooks", envelopes(3, 2))
    val (batch3, off3) = q.poll(spark, "hooks", "g1", EnvelopeStream.envelopeSchema)
    assert(batch3.count() === 2)
    assert(off3 > off1)

    // independent consumer group sees everything
    val (other, _) = q.poll(spark, "hooks", "g2", EnvelopeStream.envelopeSchema)
    assert(other.count() === 10)
  }

  test("polling a topic that was never written returns no rows, offset -1") {
    val q = new FileQueue(Files.createTempDirectory("fq-empty").toString)
    q.append("hooks", envelopes(1, 3)) // another topic exists; this one never does
    val (empty, off) = q.poll(spark, "never-written", "g", EnvelopeStream.envelopeSchema)
    assert(empty.count() === 0)
    assert(empty.schema === EnvelopeStream.envelopeSchema)
    assert(off === -1L)
    assert(q.committedOffset("never-written", "g") === -1L)
  }

  test("fan-out: one append per topic, topics independent") {
    val q = new FileQueue(Files.createTempDirectory("fq2").toString)
    Seq("hot", "cold").foreach(t => q.append(t, envelopes(1, 4)))
    assert(q.poll(spark, "hot", "g", EnvelopeStream.envelopeSchema)._1.count() === 4)
    q.commit("hot", "g", 0L)
    assert(q.poll(spark, "hot", "g", EnvelopeStream.envelopeSchema)._1.count() === 0)
    assert(q.poll(spark, "cold", "g", EnvelopeStream.envelopeSchema)._1.count() === 4)
  }

  test("structured-streaming drain over the queue dir: windowed segment stats") {
    val dir = Files.createTempDirectory("fq3").toString
    val q = new FileQueue(dir)
    q.append("t", envelopes(1, 6))
    q.append("t", envelopes(2, 6))
    val query = EnvelopeStream.runToMemory(spark, s"$dir/t/seg-*", "seg_stats")
    query.processAllAvailable()
    query.stop()
    val stats = spark.sql("SELECT * FROM seg_stats")
    assert(stats.count() > 0)
    assert(stats.agg(sum("n_envelopes")).head().getLong(0) >= 12)
    assert(stats.columns.toSet === Set("window", "host", "n_envelopes", "n_dropped", "head_seq"))
  }
}
