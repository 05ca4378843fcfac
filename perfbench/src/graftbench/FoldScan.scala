package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.operators.{AsofJoin, BloomJoin, GroupTopK, IntervalJoin, RangeJoin, SaltedJoin}
import graft.plumba.{CollectOps, ExprOps, GroupOps, Kernel, WindowOps}

/** Event-shaped input generated from the seed: a group key `g` with Zipf
  * skew plus one hot key (0, ~10% of rows), a unique timestamp order
  * column `ts`, a nullable value `v` (2% nulls) and a non-null value `u`.
  * Side tables feed the ordered operators: `quotes` (as-of right side),
  * two interval sets, and a key dimension. */
final class FoldScanData(seed: Long, val n: Int, val keys: Int) {
  private val rnd = new scala.util.Random(seed)
  val base = 1700000000000L
  val step = 37L
  val span: Long = step * n

  private val zipfCdf: Array[Double] = {
    val w = (1 to keys).map(k => 1.0 / math.pow(k.toDouble, 1.1)).toArray
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  private def key(): Long =
    if (rnd.nextDouble() < 0.1) 0L
    else {
      val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
      (if (i >= 0) i else -i - 1).min(keys - 1).toLong + 1
    }

  val g: Array[Long] = Array.fill(n)(key())
  val ts: Array[Long] = rnd.shuffle((0 until n).toVector).map(p => base + p * step).toArray
  val v: Array[java.lang.Long] =
    Array.fill(n)(if (rnd.nextDouble() < 0.02) null else java.lang.Long.valueOf(rnd.nextInt(1000).toLong))
  val u: Array[Long] = Array.fill(n)(rnd.nextInt(1000000).toLong)

  // as-of right side: times never equal a left time (offset 11 vs 0 mod 37)
  val nq: Int = n / 4
  val qg: Array[Long] = Array.fill(nq)(key())
  val qts: Array[Long] = rnd.shuffle((0 until nq).toVector).map(p => base + p * step * 4 + 11).toArray
  val qv: Array[Long] = Array.fill(nq)(rnd.nextInt(100000).toLong)

  // interval sets: ids, lo, hi (inclusive)
  val bucket: Long = math.max(1L, span / 1000)
  private def intervals(m: Int, maxLen: Long): (Array[Long], Array[Long]) = {
    val lo = Array.fill(m)(base + (rnd.nextDouble() * span).toLong)
    val hi = lo.map(l => l + (rnd.nextDouble() * maxLen).toLong)
    (lo, hi)
  }
  val nIv: Int = math.max(20, n / 50)
  val (llo, lhi) = intervals(nIv, bucket)
  val (rlo, rhi) = intervals(nIv, bucket)
  val nPi: Int = math.max(10, n / 300)
  val (plo, phi) = intervals(nPi, span / 2000)

  // key dimension (every key once) and a Bloom build side (every other key)
  val dimKeys: Array[Long] = (0L to keys.toLong).toArray
  val bloomKeys: Array[Long] = dimKeys.filter(_ % 2 == 0)

  def small(m: Int): FoldScanData = new FoldScanData(seed + 1, m, math.max(4, keys / 20))
}

object FoldScan {

  val M = 1000000007L

  /** Order-sensitive polynomial hash, no merge law: sequential path. */
  val polySeq: Kernel.Fold[Long] =
    Kernel.Fold[Long](7L, (a, xs) => (a * 31 + xs(0).asInstanceOf[Long]) % M)
  val polySeqScan: Kernel.Scan[Long] =
    Kernel.Scan[Long](7L, (a, xs) => (a * 31 + xs(0).asInstanceOf[Long]) % M)

  /** The same hash with its length carried as 31^len: a lawful,
    * non-commutative merge (h1·p2 + h2, p1·p2). */
  private val polyStep: ((Long, Long), IndexedSeq[Any]) => (Long, Long) =
    (a, xs) => ((a._1 * 31 + xs(0).asInstanceOf[Long]) % M, (a._2 * 31) % M)
  private val polyMergeLaw: Kernel.Merge[(Long, Long)] = Kernel.Merge[(Long, Long)](
    (0L, 1L), (l, r) => ((l._1 * r._2 + r._1) % M, (l._2 * r._2) % M))
  val polyMerge: Kernel.Fold[(Long, Long)] =
    Kernel.Fold[(Long, Long)]((7L, 1L), polyStep, merge = Some(polyMergeLaw))
  val polyMergeScan: Kernel.Scan[(Long, Long)] =
    Kernel.Scan[(Long, Long)]((7L, 1L), polyStep, emit = (a: (Long, Long)) => a._1, merge = Some(polyMergeLaw))

  /** Exact long sum: commutative merge law, unsorted fold path. */
  val sumComm: Kernel.Fold[Long] = Kernel.Fold[Long](0L, (a, xs) => a + xs(0).asInstanceOf[Long],
    merge = Some(Kernel.Merge[Long](0L, _ + _, commutative = true)))
  val sumScan: Kernel.Scan[Long] = Kernel.Scan[Long](0L, (a, xs) => a + xs(0).asInstanceOf[Long])
  val condFold: Kernel.Fold[Long] = Kernel.Fold[Long](0L, { (a, xs) =>
    val x = xs(0).asInstanceOf[Long]; if (x >= 500) a + x else a - 1 })
  val maxScan: Kernel.Scan[Long] =
    Kernel.Scan[Long](Long.MinValue, (a, xs) => math.max(a, xs(0).asInstanceOf[Long]))

  private def longFrame(spark: SparkSession, parts: Int, names: Seq[String], cols: Seq[Int => Any], m: Int): DataFrame = {
    val rows = (0 until m).map(i => Row.fromSeq(cols.map(_(i))))
    val schema = StructType(names.map(c => StructField(c, LongType, nullable = c == "v")))
    if (parts <= 0) spark.createDataFrame(rows.asJava, schema)
    else spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
  }

  def eventsFrame(spark: SparkSession, parts: Int, d: FoldScanData): DataFrame =
    longFrame(spark, parts, Seq("g", "ts", "v", "u"), Seq(d.g(_), d.ts(_), d.v(_), d.u(_)), d.n)

  /** The generated inputs: the event frame (and the ~1k-row frame of the
    * small-call loop, one partition, as a frame that small has) cached
    * and counted once; the side tables are local relations. */
  final class Inputs(spark: SparkSession, parts: Int, val d: FoldScanData) {
    val sd: FoldScanData = d.small(1000)
    private def keep(df: DataFrame): DataFrame = { val p = df.persist(StorageLevel.MEMORY_ONLY); p.count(); p }
    private def local(names: Seq[String], cols: Seq[Int => Any], m: Int) = longFrame(spark, 0, names, cols, m)
    val events: DataFrame = keep(eventsFrame(spark, parts, d))
    val small: DataFrame = keep(eventsFrame(spark, 1, sd))
    val quotes: DataFrame = local(Seq("g", "ts", "q"), Seq(d.qg(_), d.qts(_), d.qv(_)), d.nq)
    val left: DataFrame = local(Seq("lid", "llo", "lhi"), Seq(_.toLong, d.llo(_), d.lhi(_)), d.nIv)
    val right: DataFrame = local(Seq("rid", "rlo", "rhi"), Seq(_.toLong, d.rlo(_), d.rhi(_)), d.nIv)
    val ivals: DataFrame = local(Seq("iid", "ilo", "ihi"), Seq(_.toLong, d.plo(_), d.phi(_)), d.nPi)
    val dim: DataFrame = local(Seq("k", "kname"), Seq(d.dimKeys(_), i => d.dimKeys(i) * 3 + 1), d.dimKeys.length)
    val bloom: DataFrame = local(Seq("bk"), Seq(d.bloomKeys(_)), d.bloomKeys.length)
    def release(): Unit = Seq(events, small).foreach(_.unpersist(true))
  }

  /** A large-frame shape: the operation, the columns its result is
    * checked on, and the plain-Scala reference rows. */
  final case class Shape(op: Op, cols: Seq[String], reference: () => Seq[Seq[Any]])

  def shapes(in: Inputs): Seq[Shape] = {
    val d = in.d
    val ev = in.events
    val n = d.n.toLong
    val ref = new Reference(d)
    val w = Window.partitionBy("g").orderBy("ts")
    def k(name: String, rows: Long, cols: Seq[String], body: => Any)(reference: => Seq[Seq[Any]]) =
      Shape(Op(name, "kernel", "kernel", rows, () => body), cols, () => reference)
    def o(name: String, rows: Long, cols: Seq[String], body: => Any)(reference: => Seq[Seq[Any]]) =
      Shape(Op(name, "operator", "operator", rows, () => body), cols, () => reference)
    val sumStep: (Column, Column) => Column = (acc, x) => acc + x.getField(ExprOps.v(0))
    val condStep: (Column, Column) => Column = (acc, x) =>
      when(x.getField(ExprOps.v(0)) >= 500, acc + x.getField(ExprOps.v(0))).otherwise(acc - 1)
    Seq(
      k("collectFold_seq", n, Nil, CollectOps.collectFold(ev, Seq("v"), Seq("ts"), polySeq))(
        Seq(Seq(Kernel.foldRows(polySeq, ref.valuesInOrder)))),
      k("collectFold_mergeable", n, Nil, CollectOps.collectFold(ev, Seq("v"), Seq("ts"), polyMerge))(
        Seq(Seq(Kernel.foldRows(polyMerge, ref.valuesInOrder)))),
      k("collectFold_commutative", n, Nil, CollectOps.collectFold(ev, Seq("v"), Seq("ts"), sumComm))(
        Seq(Seq(Kernel.foldRows(sumComm, ref.valuesInOrder)))),
      k("collectScan_seq", n, Seq("ts", "scan"),
        CollectOps.collectScan(ev, Seq("v"), Seq("ts"), polySeqScan, LongType))(ref.globalScan(polySeqScan)),
      k("collectScan_mergeable", n, Seq("ts", "scan"),
        CollectOps.collectScan(ev, Seq("v"), Seq("ts"), polyMergeScan, LongType))(ref.globalScan(polyMergeScan)),
      k("groupFold", n, Seq("g", "fold"),
        GroupOps.groupFold(ev, Seq("g"), Seq("v"), Seq("ts"), polySeq, LongType))(ref.groupFold(polySeq)(identity)),
      k("groupScan", n, Seq("g", "ts", "scan"),
        GroupOps.groupScan(ev, Seq("g"), Seq("v"), Seq("ts"), polySeqScan, LongType))(ref.groupScan(polySeqScan)),
      k("groupFoldMergeable", n, Seq("g", "fold"),
        GroupOps.groupFoldMergeable(ev, Seq("g"), Seq("v"), Seq("ts"), polyMerge, LongType,
          emit = (a: (Long, Long)) => a._1))(ref.groupFold(polyMerge)(_._1)),
      k("groupScanMergeable", n, Seq("g", "ts", "scan"),
        GroupOps.groupScanMergeable(ev, Seq("g"), Seq("v"), Seq("ts"), polyMergeScan, LongType))(
        ref.groupScan(polyMergeScan)),
      k("foldCol_sum", n, Seq("g", "f"),
        ev.groupBy("g").agg(ExprOps.foldCol(Seq(col("ts")), Seq(col("v")), lit(0L), sumStep).as("f")))(
        ref.groupFold(sumComm)(identity)),
      k("foldCol_cond", n, Seq("g", "f"),
        ev.groupBy("g").agg(ExprOps.foldCol(Seq(col("ts")), Seq(col("v")), lit(0L), condStep).as("f")))(
        ref.groupFold(condFold)(identity)),
      k("scanListCol", n, Seq("g", "s"),
        ev.groupBy("g").agg(ExprOps.scanListCol(Seq(col("ts")), Seq(col("v")), lit(0L), sumStep,
          elemType = "bigint").as("s")))(ref.scanLists(sumScan)),
      k("cumMax", n, Seq("g", "ts", "m"),
        ev.select(col("g"), col("ts"), WindowOps.cumMax(col("v"), w).as("m")))(ref.groupScan(maxScan)),
      k("native_sum", n, Seq("g", "s"), ev.groupBy("g").agg(sum("v").as("s")))(ref.nativeSum),
      k("native_cumsum", n, Seq("g", "ts", "s"),
        ev.select(col("g"), col("ts"), sum("v").over(WindowOps.running(w)).as("s")))(ref.nativeCumsum),
      o("asofLast", n + d.nq, Seq("g", "ts", "u", "asof_q"),
        AsofJoin.asofLast(ev.select("g", "ts", "u"), in.quotes, Seq("g"), "ts", Seq("q")))(ref.asof),
      o("asofLastSalted", n + d.nq, Seq("g", "ts", "u", "asof_q"),
        AsofJoin.asofLastSalted(ev.select("g", "ts", "u"), in.quotes, Seq("g"), "ts", Seq("q")))(ref.asof),
      o("overlapJoin", 2L * d.nIv, Seq("lid", "rid"),
        IntervalJoin.overlapJoin(in.left, in.right, "llo", "lhi", "rlo", "rhi", d.bucket))(ref.overlaps),
      o("pointInInterval", n + d.nPi, Seq("ts", "iid"),
        RangeJoin.pointInInterval(ev.select("g", "ts"), in.ivals, "ts", "ilo", "ihi",
          (d.span / 2000).toDouble))(ref.points),
      o("saltedJoin", n + d.dimKeys.length, Seq("ts", "kname"),
        SaltedJoin.innerJoin(ev.select("g", "ts"), in.dim, "g", "k"))(ref.salted),
      o("bloomSemiJoin", n + d.bloomKeys.length, Seq("g", "ts"),
        BloomJoin.semiJoin(ev.select("g", "ts"), in.bloom, "g", "bk", expectedItems = d.bloomKeys.length.toLong))(
        ref.semi),
      o("topK", n, Seq("g", "ts", "u"),
        GroupTopK.topK(ev.select("g", "ts", "u"), Seq("g"), Seq(("u", false), ("ts", true)), 3))(ref.topK(3)))
  }

  /** The small-call loop: the three whole-frame fold paths on a ~1k-row frame,
    * where fixed per-call cost dominates. */
  def smallCalls(in: Inputs): Seq[(Op, Any)] = {
    val s = in.small
    val rows = new Reference(in.sd).valuesInOrder.toVector
    val m = in.sd.n.toLong
    Seq(
      Op("small.collectFold_seq", "kernel", "small", m,
        () => CollectOps.collectFold(s, Seq("v"), Seq("ts"), polySeq)) -> Kernel.foldRows(polySeq, rows.iterator),
      Op("small.collectFold_mergeable", "kernel", "small", m,
        () => CollectOps.collectFold(s, Seq("v"), Seq("ts"), polyMerge)) -> Kernel.foldRows(polyMerge, rows.iterator),
      Op("small.collectFold_commutative", "kernel", "small", m,
        () => CollectOps.collectFold(s, Seq("v"), Seq("ts"), sumComm)) -> Kernel.foldRows(sumComm, rows.iterator))
  }

  /** Plain-Scala references over the generated arrays, built on
    * [[Kernel.foldRows]] / [[Kernel.scanRows]] where a kernel applies. */
  final class Reference(d: FoldScanData) {
    private lazy val byTs: Array[Int] = (0 until d.n).sortBy(d.ts(_)).toArray
    private lazy val groups: Map[Long, Array[Int]] = byTs.groupBy(d.g(_))
    private def vals(i: Int): IndexedSeq[Any] = IndexedSeq(d.v(i): Any).map {
      case null => null
      case x: java.lang.Long => x.longValue: Any
    }

    def valuesInOrder: Iterator[IndexedSeq[Any]] = byTs.iterator.map(vals)

    def globalScan[A](k: Kernel.Scan[A]): Seq[Seq[Any]] =
      byTs.toSeq.zip(Kernel.scanRows(k, byTs.iterator.map(vals)).toSeq).map { case (i, out) => Seq(d.ts(i), out) }

    def groupFold[A](k: Kernel.Fold[A])(emit: A => Any): Seq[Seq[Any]] =
      groups.toSeq.map { case (g, ix) => Seq(g, emit(Kernel.foldRows(k, ix.iterator.map(vals)))) }

    def groupScan[A](k: Kernel.Scan[A]): Seq[Seq[Any]] =
      groups.toSeq.flatMap { case (g, ix) =>
        ix.toSeq.zip(Kernel.scanRows(k, ix.iterator.map(vals)).toSeq).map { case (i, out) => Seq(g, d.ts(i), out) }
      }

    def scanLists[A](k: Kernel.Scan[A]): Seq[Seq[Any]] =
      groups.toSeq.map { case (g, ix) => Seq(g, Kernel.scanRows(k, ix.iterator.map(vals)).toSeq) }

    def nativeSum: Seq[Seq[Any]] = groups.toSeq.map { case (g, ix) =>
      val nn = ix.filter(d.v(_) != null)
      Seq(g, if (nn.isEmpty) null else nn.map(d.v(_).longValue).sum)
    }

    def nativeCumsum: Seq[Seq[Any]] = groups.toSeq.flatMap { case (g, ix) =>
      var acc: java.lang.Long = null
      ix.toSeq.map { i =>
        if (d.v(i) != null) acc = (if (acc == null) 0L else acc.longValue) + d.v(i).longValue
        Seq(g, d.ts(i), acc)
      }
    }

    def asof: Seq[Seq[Any]] = {
      val q = (0 until d.nq).groupBy(d.qg(_)).map { case (g, ix) =>
        val s = ix.sortBy(d.qts(_)).toArray
        g -> (s.map(d.qts(_)), s.map(d.qv(_)))
      }
      (0 until d.n).map { i =>
        val hit = q.get(d.g(i)).flatMap { case (times, vs) =>
          val j = java.util.Arrays.binarySearch(times, d.ts(i))
          val at = if (j >= 0) j else -j - 2
          if (at >= 0) Some(vs(at)) else None
        }
        Seq(d.g(i), d.ts(i), d.u(i), hit.map(Long.box).orNull)
      }
    }

    def overlaps: Seq[Seq[Any]] =
      for {
        i <- 0 until d.nIv
        j <- 0 until d.nIv
        if d.llo(i) <= d.rhi(j) && d.rlo(j) <= d.lhi(i)
      } yield Seq(i.toLong, j.toLong)

    def points: Seq[Seq[Any]] = {
      val order = (0 until d.nPi).sortBy(d.plo(_)).toArray
      val los = order.map(d.plo(_))
      (0 until d.n).flatMap { i =>
        val p = d.ts(i)
        val end = { val j = java.util.Arrays.binarySearch(los, p); if (j >= 0) { var e = j; while (e + 1 < los.length && los(e + 1) == p) e += 1; e + 1 } else -j - 1 }
        (0 until end).map(order(_)).filter(k => d.phi(k) >= p).map(k => Seq(p, k.toLong))
      }
    }

    def salted: Seq[Seq[Any]] = (0 until d.n).map(i => Seq(d.ts(i), d.g(i) * 3 + 1))

    def semi: Seq[Seq[Any]] = (0 until d.n).filter(i => d.g(i) % 2 == 0).map(i => Seq(d.g(i), d.ts(i)))

    def topK(k: Int): Seq[Seq[Any]] =
      (0 until d.n).groupBy(d.g(_)).toSeq.flatMap { case (g, ix) =>
        ix.sortBy(i => (-d.u(i), d.ts(i))).take(k).map(i => Seq(g, d.ts(i), d.u(i)))
      }
  }

  /** Canonical rows of a shape's result, for comparison with its reference. */
  def resultRows(shape: Shape, result: Any): Seq[String] = result match {
    case df: DataFrame => df.select(shape.cols.map(col): _*).collect().toSeq.map(r => Canon.row(r.toSeq))
    case other => Seq(Canon.row(Seq(other)))
  }
}
