package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The JVM half of the graft benchmark: one closed-loop bench thread runs
  * one operation at a time. A run sets up its inputs several times
  * (`setup_s` is their median), makes one untimed pass that warms the JVM
  * and checks outputs, then repeats timed passes until `--seconds` have
  * passed. With `--trace 1` every operation is traced on every other call
  * (see [[Runner.tracer]]); the difference between its traced and
  * untraced calls is the tracing overhead.
  *
  * Writes one JSON file (`--out`) with metrics, run context, per-operation
  * timings and the outputs the Python half still has to hash. */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean, runDir: String,
      fixtures: String, scale: String, cores: Int, out: String, traceOut: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("run-dir"), need("fixtures"), m.getOrElse("scale", "full"), need("cores").toInt,
      need("out"), need("trace-out"))
  }

  /** The session conf of `graft.Bench` (UI off, UTC, nanosAsLong) on
    * `local[cores]` with `cores` shuffle partitions; every directory the
    * session writes lives under the run directory. */
  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${a.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
    // the sum-shaped foldCol is rewritten to a native Sum only with the
    // extensions installed
    if (a.workload == "fold_scan" || a.workload == "train") b.withExtensions(new graft.GraftExtensions)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def workload(spark: SparkSession, a: Args): Workload = a.workload match {
    case "fold_scan" => new FoldScanWorkload(spark, a)
    case "pipeline" => new PipelineWorkload(spark, a)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Class-loading training run for the build's class-data-sharing
    * archive: set up and check both workloads at tiny scale. */
  def train(spark: SparkSession, a: Args): Unit = {
    Seq("fold_scan", "pipeline").foreach { name =>
      val w = workload(spark, a.copy(workload = name, scale = "tiny"))
      w.setup(0)
      w.checkPass()
      w.close()
    }
    spark.stop()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a)
    Runner.cores = a.cores
    if (a.workload == "train") { train(spark, a); return }
    val w = workload(spark, a)
    val startedMs = System.currentTimeMillis()
    val setupS = (0 until 3).map { i =>
      val t0 = System.nanoTime(); w.setup(i); (System.nanoTime() - t0) / 1e9
    }
    val tCheck = System.nanoTime()
    val checks = w.checkPass()
    val checkS = (System.nanoTime() - tCheck) / 1e9

    // timed passes until --seconds have passed; the traced run makes at
    // least two, so every operation runs once traced and once untraced
    val tracer = new Tracer(spark)
    if (a.trace) Runner.tracer = tracer
    val passes = mutable.ArrayBuffer.empty[Seq[OpRun]]
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    while (passes.size < (if (a.trace) 2 else 1) || elapsed < a.seconds) passes += w.pass(passes.size + 1)
    Runner.tracer = null
    val timedS = elapsed
    val all = passes.flatten.toSeq

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    def perPass(f: OpRun => Double): Double = Stats.median(passes.map(_.map(f).sum).toSeq)
    metrics("setup_s") = Stats.median(setupS)
    metrics("wall_s") = perPass(_.wallS)
    metrics ++= w.metrics(passes.toSeq)
    if (a.trace) {
      metrics("phase.construct_s") = perPass(_.constructS)
      metrics("phase.plan_s") = perPass(_.planS)
      metrics("phase.execute_s") = perPass(_.executeS)
      // the traced runs add up to passes / 2 passes' worth of operations
      val share = passes.size / 2.0
      tracer.sparkMetrics(all.filter(_.traced)).foreach { case (k, v) =>
        metrics(k) = if (k == "spark.task_skew") v else v / share
      }
      metrics ++= w.tracedMetrics(passes.toSeq)
      metrics("trace.overhead_s") = all.groupBy(_.op.name).values.map { rs =>
        val (t, u) = rs.partition(_.traced)
        if (t.isEmpty || u.isEmpty) 0.0
        else (t.map(_.wallS).sum / t.size - u.map(_.wallS).sum / u.size) * rs.size / passes.size
      }.sum
      val spans = tracer.spans(all.filter(_.traced))
      Files.writeString(Paths.get(a.traceOut), spans.map(s => Json(s)).mkString("[\n", ",\n", "\n]\n"))
    }
    metrics("peak_rss_mb") = peakRssMb()

    val failedCalls = all.count(!_.ok) + w.wrongResults(all)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload,
      "seed" -> a.seed,
      "scale" -> a.scale,
      "metrics" -> metrics,
      "attempted" -> (checks.size + all.size),
      "failed_calls" -> failedCalls,
      "checks" -> checks.map(_.json),
      "passes" -> passes.size,
      "steal_reruns" -> Runner.stealReruns,
      "timed_s" -> timedS,
      "setup_runs_s" -> setupS,
      "check_pass_s" -> checkS,
      "start_s" -> (startedMs - jvmStart) / 1e3,
      "samples" -> w.samples,
      "context" -> Map(
        "cores" -> a.cores,
        "spark" -> spark.version,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)),
      "ops" -> all.map(r => Map(
        "name" -> r.op.name, "layer" -> r.op.layer, "pass" -> r.pass, "traced" -> r.traced,
        "construct_s" -> r.constructS, "plan_s" -> r.planS, "execute_s" -> r.executeS,
        "outer_s" -> r.outerS, "steal_share" -> r.stealShare, "error" -> r.error)))
    Files.writeString(Paths.get(a.out), Json(result) + "\n")
    w.close()
    spark.stop()
  }
}

/** Outcome of one operation's output check in the untimed pass. A check
  * with an `output` directory is hashed by the Python half against the
  * expected hashes; otherwise `ok` is final. */
final case class Check(op: String, ok: Boolean, detail: String, output: String = null) {
  def json: Map[String, Any] = Map("op" -> op, "ok" -> ok, "detail" -> detail, "output" -> output)
}

trait Workload {
  def setup(rep: Int): Unit
  /** The untimed first pass: warms the JVM and checks every operation's output. */
  def checkPass(): Seq[Check]
  def pass(p: Int): Seq[OpRun]
  /** Calls in the timed passes whose (cheaply checkable) result was wrong. */
  def wrongResults(runs: Seq[OpRun]): Int = 0
  /** End-to-end and op-timing layer metrics from the timed passes. */
  def metrics(passes: Seq[Seq[OpRun]]): Map[String, Double]
  /** Per-layer metrics of the traced run that need more than op timings. */
  def tracedMetrics(passes: Seq[Seq[OpRun]]): Map[String, Double] = Map.empty
  /** Sample counts behind the percentile metrics. */
  def samples: Map[String, Int] = Map.empty
  def close(): Unit = ()
}

final class FoldScanWorkload(spark: SparkSession, a: Main.Args) extends Workload {
  private val (n, keys) = if (a.scale == "tiny") (4000, 100) else (40000, 1000)
  private val data = new FoldScanData(a.seed, n, keys)
  private var in: FoldScan.Inputs = _
  private lazy val shapes = FoldScan.shapes(in)
  private lazy val calls = FoldScan.smallCalls(in)
  /** expected canonical result per scalar-returning operation */
  private val expected = mutable.Map.empty[String, String]
  private var coldCallS = 0.0
  private val smallRounds = if (a.scale == "tiny") 10 else 34

  def setup(rep: Int): Unit = {
    close()
    in = new FoldScan.Inputs(spark, a.cores, data)
  }

  def checkPass(): Seq[Check] = {
    // the first whole-frame fold of the JVM: the cold call
    val cold = Runner.run(calls.head._1, 0)
    coldCallS = cold.wallS
    calls.foreach { case (op, exp) => expected(op.name) = Canon.row(Seq(exp)) }
    val shapeChecks = shapes.map { s =>
      var rows: Seq[String] = null
      val r = Runner.run(s.op, 0, sink = df => rows = FoldScan.resultRows(s, df))
      if (!r.ok) Check(s.op.name, ok = false, r.error)
      else {
        if (rows == null) rows = FoldScan.resultRows(s, r.result)
        val want = s.reference().map(Canon.row)
        if (s.cols.isEmpty) expected(s.op.name) = want.head
        val ok = rows.size == want.size && Canon.digest(rows) == Canon.digest(want)
        Check(s.op.name, ok, if (ok) s"${rows.size} rows" else s"got ${rows.size} rows, want ${want.size}")
      }
    }
    val callChecks = calls.map { case (op, _) =>
      val r = Runner.run(op, 0)
      val ok = r.ok && expected(op.name) == Canon.row(Seq(r.result))
      Check(op.name, ok, if (r.ok) "" else r.error)
    }
    shapeChecks ++ callChecks
  }

  def pass(p: Int): Seq[OpRun] = {
    val large = shapes.map(s => Runner.run(s.op, p))
    val loop = (0 until smallRounds).flatMap(_ => calls.map { case (op, _) => Runner.run(op, p) })
    large ++ loop
  }

  override def wrongResults(runs: Seq[OpRun]): Int =
    runs.count(r => r.ok && r.result != null &&
      expected.get(r.op.name).exists(_ != Canon.row(Seq(r.result))))

  private def callMs(passes: Seq[Seq[OpRun]]): Seq[Double] =
    passes.flatten.filter(r => r.op.group == "small" && r.ok).map(_.wallS * 1e3)

  def metrics(passes: Seq[Seq[OpRun]]): Map[String, Double] = {
    val large = passes.flatten.filter(r => r.op.group != "small" && r.ok)
    val ms = callMs(passes)
    callCount = ms.size
    val p50 = Stats.median(ms)
    Map(
      "rows_per_s" -> large.map(_.op.rows).sum / large.map(_.wallS).sum,
      "kernel.call_p50_ms" -> p50,
      "kernel.call_p90_ms" -> Stats.quantile(ms, 0.9),
      "kernel.cold_call_s" -> coldCallS,
      "kernel.cold_over_warm" -> coldCallS / (p50 / 1e3)) ++
      perOp(passes, "kernel") ++ perOp(passes, "operator")
  }

  private def perOp(passes: Seq[Seq[OpRun]], layer: String): Map[String, Double] =
    passes.flatten.filter(r => r.op.layer == layer && r.op.group != "small" && r.ok).groupBy(_.op.name)
      .map { case (name, rs) => s"$layer.$name.rows_per_s" -> rs.head.op.rows / Stats.median(rs.map(_.wallS)) }

  private var callCount = 0
  override def samples: Map[String, Int] = Map("call_ms" -> callCount)

  override def close(): Unit = if (in != null) in.release()
}

/** LLM pipeline queries, expression micro-selects and streaming gates
  * over a fresh fixture copy per set-up. The seed permutes the operation
  * order of every pass; the untimed pass writes each output as parquet
  * for the Python half to hash. */
final class PipelineWorkload(spark: SparkSession, a: Main.Args) extends Workload {
  private val rnd = new scala.util.Random(a.seed)
  private val replicate = if (a.scale == "tiny") 2 else 16
  private val smallRounds = if (a.scale == "tiny") 2 else 5
  /** micro-batch progress, recorded in the traced run only */
  private val progress = new ProgressLog
  if (a.trace) spark.streams.addListener(progress)
  private var expr: ExpressionInputs = _
  private var ops: Seq[Op] = Nil

  def setup(rep: Int): Unit = {
    close()
    val dir = Catalog.copyFixtures(a.fixtures, Paths.get(a.runDir, "data", s"rep$rep"))
    expr = new ExpressionInputs(spark, dir, replicate)
    ops = Catalog.pipelineQueries.map { case (module, q) => Catalog.catalogOp("pipeline", module, q, spark, dir) } ++
      expr.ops ++ Catalog.streamingGates.map(g => Catalog.catalogOp("streaming", g, g, spark, dir))
  }

  def checkPass(): Seq[Check] =
    (rnd.shuffle(ops) ++ expr.smallOps).map { op =>
      val out = s"${a.runDir}/out/${op.name}"
      val r = Runner.run(op, 0, sink = _.write.mode("overwrite").parquet(out))
      if (r.ok) Check(op.name, ok = true, "", out) else Check(op.name, ok = false, r.error)
    }

  /** The operations, then the small-call loop: the expression builders on
    * 100-row frames, where fixed per-call cost dominates. */
  def pass(p: Int): Seq[OpRun] =
    (rnd.shuffle(ops) ++ (0 until smallRounds).flatMap(_ => rnd.shuffle(expr.smallOps))).map(Runner.run(_, p))

  private def batches(passes: Seq[Seq[OpRun]]): Seq[Seq[(OpRun, Seq[ProgressEv])]] = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    passes.map(_.filter(_.op.layer == "streaming").map(r => r -> progress.within(r)))
  }

  override def tracedMetrics(passes: Seq[Seq[OpRun]]): Map[String, Double] = {
    val perPass = batches(passes).map { pass =>
      val evs = pass.flatMap(_._2)
      Map(
        "streaming.batches" -> evs.size.toDouble,
        "streaming.floor_s" -> pass.map { case (r, e) => r.wallS - e.map(_.triggerMs).sum / 1e3 }.sum,
        "streaming.addbatch_s" -> evs.map(_.addBatchMs).sum / 1e3,
        "streaming.query_planning_s" -> evs.map(_.planningMs).sum / 1e3,
        "streaming.walcommit_s" -> evs.map(_.walCommitMs).sum / 1e3,
        "streaming.state_rows" -> evs.groupBy(_.runId).values.map(_.map(_.stateRows).max).sum.toDouble,
        "streaming.state_mb" -> evs.groupBy(_.runId).values.map(_.map(_.stateBytes).max).sum / (1024.0 * 1024.0),
        "streaming.input_rows" -> evs.map(_.inputRows).sum.toDouble)
    }
    perPass.head.keys.map(k => k -> Stats.median(perPass.map(_(k)))).toMap
  }

  def metrics(passes: Seq[Seq[OpRun]]): Map[String, Double] = {
    val ms = passes.flatten.filter(r => r.op.group == "small" && r.ok).map(_.wallS * 1e3)
    val exprRuns = passes.flatten.filter(r => r.op.layer == "expression" && r.op.group != "small" && r.ok)
    val modules = Catalog.pipelineQueries.map(_._1).distinct.map { m =>
      s"pipeline.${m}_s" -> Stats.median(passes.map(_.filter(_.op.group == m).map(_.wallS).sum))
    }
    val trig = batches(passes).flatten.flatMap(_._2).map(_.triggerMs.toDouble)
    counts = Map("call_ms" -> ms.size, "batch_ms" -> trig.size)
    Map(
      "rows_per_s" -> exprRuns.map(_.op.rows).sum / exprRuns.map(_.wallS).sum,
      "expression.call_p50_ms" -> Stats.median(ms),
      "expression.call_p90_ms" -> Stats.quantile(ms, 0.9),
      "streaming.batch_p50_ms" -> Stats.median(trig),
      "streaming.batch_p90_ms" -> Stats.quantile(trig, 0.9)) ++
      modules ++
      exprRuns.groupBy(_.op.group).map { case (fn, rs) =>
        s"expression.$fn.rows_per_s" -> rs.head.op.rows / Stats.median(rs.map(_.wallS))
      }
  }

  private var counts = Map.empty[String, Int]
  override def samples: Map[String, Int] = counts

  override def close(): Unit = if (expr != null) expr.release()
}

