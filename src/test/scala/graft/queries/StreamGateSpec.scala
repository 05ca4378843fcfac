package graft.queries

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.grafttest.Bus
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The stream-gate runner ([[StreamingQueries.gate]]): a gate's stream
  * takes its state-partition count without the caller's session ever
  * carrying it, and every gate's declared micro-batch count is checked. */
class StreamGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  import StreamingQueries.{AtLeast, Exactly, Memory, gate}

  private def leftoverViews: Seq[String] =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_stream_")).toSeq

  test("while a gate's stream runs, the caller's session keeps its own conf") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    // (caller's shuffle partitions, caller's checkpoint conf, the
    // stream's state-operator partition counts) per progress event
    val seen = new ConcurrentLinkedQueue[(String, Option[String], Seq[Long])]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        seen.add((spark.conf.get("spark.sql.shuffle.partitions"),
          spark.conf.getOption("spark.sql.streaming.checkpointLocation"),
          e.progress.stateOperators.map(_.numShufflePartitions).toSeq))
    }
    spark.streams.addListener(listener)
    try {
      StreamingQueries.streamMultibatchBalance(spark, dir).count()
      Bus.drain(spark.sparkContext)
    } finally spark.streams.removeListener(listener)
    val events = seen.asScala.toSeq
    assert(events.size >= 2, s"one progress event per micro-batch; saw ${events.size}")
    assert(events.map(_._1).distinct == Seq("4"), "the caller's shuffle partitions while the stream ran")
    assert(events.forall(_._2.isEmpty), "the caller's checkpoint conf stays unset")
    assert(events.map(_._3).distinct == Seq(Seq(8L)), "the stream's state operator ran on 8 partitions")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.getOption("spark.sql.streaming.checkpointLocation").isEmpty)
  }

  test("a gate declared AtLeast(2) that runs one batch fails, naming the gate") {
    val one = Tables.documentsStream(spark, dir).select("doc_id")
    val e = intercept[IllegalStateException](
      gate(spark, "one_batch_gate", one, Memory("append"), AtLeast(2))(identity))
    assert(e.getMessage.contains("one_batch_gate") && e.getMessage.contains("saw 1"), e.getMessage)
    assert(leftoverViews.isEmpty, "a failing gate still drops its sink view")
  }

  test("a gate declared Exactly(1) that runs two batches fails, naming the gate") {
    val docs = Tables(spark, dir, "documents").select("doc_id")
    val two = StreamingQueries.spilledStream(docs, "doc_id", 2, 1)
    val e = intercept[IllegalStateException](
      gate(spark, "two_batch_gate", two, Memory("append"), Exactly(1, "one file"))(identity))
    assert(e.getMessage.contains("two_batch_gate") && e.getMessage.contains("saw 2"), e.getMessage)
    assert(leftoverViews.isEmpty, "a failing gate still drops its sink view")
  }
}
