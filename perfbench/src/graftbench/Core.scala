package graftbench

import org.apache.spark.sql.{DataFrame, Row}

/** One measured operation. `body` either returns a DataFrame, which is
  * planned and then written to the noop sink, or computes its result
  * eagerly (a whole-frame fold), in which case all of its time is
  * construction. `rows` is the number of input rows the operation is fed;
  * `group` is the catalog module or operator family it belongs to. */
final case class Op(name: String, layer: String, group: String, rows: Long, body: () => Any)

/** The timing of one call of an [[Op]]: wall-clock start/end in epoch ms
  * (for attributing listener events) and the construct / plan / execute
  * split in seconds. `outerS` is timed around the whole call, so it
  * also holds the runner's own bookkeeping. */
final case class OpRun(
    op: Op,
    pass: Int,
    traced: Boolean,
    startMs: Long,
    constructEndMs: Long,
    planEndMs: Long,
    endMs: Long,
    constructS: Double,
    planS: Double,
    executeS: Double,
    outerS: Double,
    stealShare: Double,
    result: Any,
    error: String) {
  def ok: Boolean = error == null
  def wallS: Double = constructS + planS + executeS
}

object Runner {
  val noop: DataFrame => Unit = df => df.write.mode("overwrite").format("noop").save()

  /** Set in the traced run. Each operation is then traced on every other
    * call, starting traced or untraced by its name, so over two passes
    * every operation runs once each way and the tracing overhead is not
    * confounded with JIT warm-up between passes. */
  @volatile var tracer: Tracer = null
  private val calls = scala.collection.mutable.Map.empty[String, Int]

  private def traceThis(name: String): Boolean = tracer != null && {
    val k = calls.getOrElse(name, 0)
    calls(name) = k + 1
    (k + (name.hashCode & 1)) % 2 == 0
  }

  /** vCPUs of the run, for the steal share of a call */
  @volatile var cores: Int = 1
  /** Timed calls repeated because the host stole their CPU */
  @volatile var stealReruns: Int = 0
  /** A timed call that lost more than this share of its CPU capacity to
    * the hypervisor (host steal, /proc/stat) is repeated, at most twice,
    * and the least-stolen attempt is kept; a run repeats at most
    * `MaxStealReruns` calls, so a steal storm cannot stretch it unbounded. */
  val StealLimit = 0.1
  val MaxStealReruns = 30

  private def stealTicks(): Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").lift(8).map(_.toLong).getOrElse(0L) finally src.close()
  }

  /** Run `op`: once in the untimed pass (`pass` 0), and in a timed pass
    * again while host steal spoils the call (see [[StealLimit]]). */
  def run(op: Op, pass: Int, sink: DataFrame => Unit = noop): OpRun = {
    val traced = traceThis(op.name)
    var best = once(op, pass, traced, sink)
    var k = 0
    while (pass > 0 && best.stealShare > StealLimit && k < 2 && stealReruns < MaxStealReruns) {
      val r = once(op, pass, traced, sink)
      stealReruns += 1
      if (r.stealShare < best.stealShare) best = r
      k += 1
    }
    best
  }

  /** Run `op` once. A DataFrame result goes through `sink` (the noop
    * sink in timed passes); any other result is returned as is. A throw
    * is recorded, never rethrown: a failed operation stays in its
    * workload and counts against `ok_frac`. */
  private def once(op: Op, pass: Int, traced: Boolean, sink: DataFrame => Unit): OpRun = {
    if (traced) tracer.start()
    val steal0 = stealTicks()
    val outer0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = -1L
    var t2 = -1L
    var c1 = 0L
    var c2 = 0L
    var result: Any = null
    var error: String = null
    try {
      val r = op.body()
      t1 = System.nanoTime(); c1 = System.currentTimeMillis()
      r match {
        case df: DataFrame =>
          df.queryExecution.executedPlan
          t2 = System.nanoTime(); c2 = System.currentTimeMillis()
          sink(df)
        case other =>
          t2 = t1; c2 = c1
          result = other
      }
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) || e.isInstanceOf[StackOverflowError] =>
        error = (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(400)
    }
    val t3 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    // a throw closes the phase that was running; later phases are empty
    if (t1 < 0) { t1 = t3; c1 = endMs }
    if (t2 < 0) { t2 = t3; c2 = endMs }
    val outerS = (System.nanoTime() - outer0) / 1e9
    val stolen = (stealTicks() - steal0) / 100.0 // USER_HZ
    if (traced) tracer.stop()
    OpRun(op, pass, traced, startMs, c1, c2, endMs,
      (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, outerS,
      stolen / math.max(1e-3, outerS * cores), result, error)
  }
}

/** Order-insensitive canonical hashing of results: each row becomes one
  * string, the strings are sorted, and the sorted list is hashed. Used
  * identically on a Spark result and on its plain-Scala reference. */
object Canon {
  def value(v: Any): String = v match {
    case null => "null"
    case None => "null"
    case Some(x) => value(x)
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case s: String => s
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case p: Product if p.productArity > 0 => p.productIterator.map(value).mkString("(", ",", ")")
    case other => other.toString
  }

  def row(vs: Seq[Any]): String = vs.map(value).mkString("|")

  def digest(rows: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.toArray.sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON writer for the result file (no library dependency). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
