package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.streaming.StreamingQueryListener

/** FIXED-OVERHEAD AUDIT for the stream_* gates (round-13 item #6): the
  * 18 streaming gates bench at 1.5–3 s each on toy data, and the open
  * question was how much of that is the OPERATOR (per-row work that
  * would scale with data) versus TRIGGER MACHINERY (stream start/stop,
  * micro-batch scheduling, state-store init — fixed costs that vanish
  * into noise on a real feed). This probe answers it with the engine's
  * own telemetry: a [[StreamingQueryListener]] captures every progress
  * event while each gate runs, and the report splits wall time into
  *
  *  - `batches`: micro-batches the gate's sources produced;
  *  - `trig_ms`: Σ triggerExecution — everything the stream RAN,
  *    including per-batch planning/WAL/state commit;
  *  - `addb_ms`: Σ addBatch — the actual data-processing slice;
  *  - `fixed_ms`: wall − trig_ms — start/stop/teardown machinery that
  *    no amount of operator tuning can remove;
  *  - `state_rows`: final stateOperators row count (state-store
  *    footprint actually exercised).
  *
  * One TSV row per gate: name wall_ms batches trig_ms addb_ms fixed_ms
  * state_rows. Recorded in COVERAGE.md so bench deltas in this family
  * read against the known fixed floor instead of as regressions.
  *
  * Usage: `sbt "runMain graft.StreamingOverheadProbe [sfDir]"`.
  */
object StreamingOverheadProbe {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = LocalSession()

    val events = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        events.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    val gates = SparkEntry.queries.keys.filter(_.startsWith("stream_")).toSeq.sorted
    println("STREAMFIX\tgate\twall_ms\tbatches\ttrig_ms\taddb_ms\tfixed_ms\tstate_rows")
    gates.foreach { name =>
      // warm once: the FIRST stream of a JVM pays codegen/classloading
      // for the whole streaming stack; that is JVM warmup, not gate cost
      SparkEntry.queries(name)(spark, dir).collect()
      events.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).collect()
      val wallMs = (System.nanoTime() - t0) / 1e6
      // listener events are async: drain until quiescent
      var last = -1
      while (events.size != last) { last = events.size; Thread.sleep(150) }
      import scala.collection.JavaConverters._
      val ps = events.asScala.toSeq
      def dur(k: String): Long =
        ps.map(p => Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(0L)).sum
      val trig = dur("triggerExecution")
      val addb = dur("addBatch")
      val stateRows = ps.flatMap(_.stateOperators.map(_.numRowsTotal)).sum
      println(f"STREAMFIX\t$name\t$wallMs%.0f\t${ps.size}\t$trig\t$addb\t${wallMs - trig}%.0f\t$stateRows")
    }
    spark.streams.removeListener(listener)
    spark.stop()
  }
}
