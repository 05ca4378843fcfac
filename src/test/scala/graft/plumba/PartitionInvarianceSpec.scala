package graft.plumba

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.AsofJoin
import graft.plumba.Kernel._

/** Every plumba fold/scan shape returns the same answer whatever the
  * shuffle-partition count and the input partitioning, on a frame with
  * null value rows and null ordering values. The plain-Scala
  * [[Kernel.foldRows]] / [[Kernel.scanRows]] over the rows in
  * (ord nulls first, id) order are the reference. The range-partitioned
  * shapes ([[Ranged]]) and their sequential twins also match a plain-Scala
  * reference (per-key [[Kernel.foldRows]] / [[Kernel.scanRows]], a
  * driver-side as-of loop) whatever the range-partition count and
  * adaptive coalescing. */
class PartitionInvarianceSpec extends AnyFunSuite {
  import PartitionInvarianceSpec._

  /** (g, ord, id, v): group 0 is hot, `ord` has ties and nulls, `v` has nulls. */
  private val data: Seq[(Long, Option[Long], Long, Option[Long])] = (0 until 240).map { i =>
    val g = if (i % 3 == 0) 0L else (i % 5).toLong
    val ord = if (i % 17 == 0) None else Some(((i * 37) % 60).toLong)
    val v = if (i % 11 == 0) None else Some(((i * 13) % 97).toLong)
    (g, ord, i.toLong, v)
  }
  private val inOrder = data.sortBy { case (_, ord, id, _) => (ord.isDefined, ord.getOrElse(0L), id) }
  private def vals(r: (Long, Option[Long], Long, Option[Long])): IndexedSeq[Any] =
    IndexedSeq(r._4.fold(null: Any)(x => x))
  private val byGroup = inOrder.groupBy(_._1)

  private def foldRef[A](k: Fold[A]): Any = Kernel.foldRows(k, inOrder.iterator.map(vals))
  private def scanRef[A](k: Scan[A]): Map[Long, Option[Any]] =
    inOrder.map(_._3).zip(Kernel.scanRows(k, inOrder.iterator.map(vals))).toMap
  private def groupFoldRef[A](k: Fold[A], emit: A => Any): Map[Long, Any] =
    byGroup.map { case (g, rs) => g -> emit(Kernel.foldRows(k, rs.iterator.map(vals))) }
  private def groupScanRef[A](k: Scan[A]): Map[Long, Option[Any]] =
    byGroup.values.flatMap(rs => rs.map(_._3).zip(Kernel.scanRows(k, rs.iterator.map(vals)))).toMap

  private val schema = StructType(Seq(
    StructField("g", LongType, nullable = false), StructField("ord", LongType),
    StructField("id", LongType, nullable = false), StructField("v", LongType)))

  /** (shuffle partitions, input partitions): AQE may not merge the shuffles back. */
  private lazy val frames: Seq[((Int, Int), DataFrame)] =
    for (shuffle <- Seq(1, 7); input <- Seq(1, 5)) yield {
      val s: SparkSession = TestSpark.spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", shuffle.toString)
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val rows = data.map { case (g, ord, id, v) => Row(g, ord.map(Long.box).orNull, id, v.map(Long.box).orNull) }
      val df = s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      (shuffle, input) -> (if (input == 1) df else df.repartition(input))
    }

  private def scanById(df: DataFrame, idCol: Int): Map[Long, Option[Any]] =
    df.collect().map(r => r.getLong(idCol) -> Option(r.get(r.length - 1))).toMap
  private def foldByGroup(df: DataFrame): Map[Long, Any] =
    df.collect().map(r => r.getLong(0) -> r.get(1)).toMap

  private val V = Seq("v")
  private val O = Seq("ord", "id")
  private val G = Seq("g")

  private val shapes: Seq[(String, DataFrame => Any, Any)] = Seq(
    ("collectFold sequential", df => CollectOps.collectFold(df, V, O, polySeq), foldRef(polySeq)),
    ("collectFold mergeable", df => CollectOps.collectFold(df, V, O, polyMerge), foldRef(polyMerge)),
    ("collectFold commutative", df => CollectOps.collectFold(df, V, O, sumComm), foldRef(sumComm)),
    ("collectScan sequential",
      df => scanById(CollectOps.collectScan(df, V, O, polyScan, LongType), 1), scanRef(polyScan)),
    ("collectScan mergeable",
      df => scanById(CollectOps.collectScan(df, V, O, polyScanMerge, LongType), 1), scanRef(polyScanMerge)),
    ("groupFold",
      df => foldByGroup(GroupOps.groupFold(df, G, V, O, polySeq, LongType, emit = hash)),
      groupFoldRef(polySeq, hash)),
    ("groupScan",
      df => scanById(GroupOps.groupScan(df, G, V, O, polyScan, LongType), 2), groupScanRef(polyScan)),
    ("groupFoldMergeable",
      df => foldByGroup(GroupOps.groupFoldMergeable(df, G, V, O, polyMerge, LongType, emit = hash)),
      groupFoldRef(polyMerge, hash)),
    ("groupScanMergeable",
      df => scanById(GroupOps.groupScanMergeable(df, G, V, O, polyScanMerge, LongType), 2),
      groupScanRef(polyScanMerge)))

  for ((name, run, expected) <- shapes)
    test(s"$name matches the reference under every shuffle and input partitioning") {
      for (((shuffle, input), df) <- frames)
        assert(run(df) == expected, s"shuffle partitions $shuffle, input partitions $input")
    }
  /** (g, ord, id, v) for the range-partitioned shapes: key 2 is hot (over
    * 60% of the rows, sorted between smaller keys), key 9's values are
    * all null, `ord` has ties and nulls, `v` has nulls. */
  private def rangedRows(n: Int): Seq[Row] = (0 until n).map { i =>
    val g = if (i % 5 < 3) 2L else if (i % 10 == 3) 9L else (i % 4).toLong
    val ord = if (i % 17 == 0) null else Long.box((i * 37) % 60)
    val v = if (g == 9 || i % 11 == 0) null else Long.box((i * 13) % 97)
    Row(g, ord, i.toLong, v)
  }
  /** As-of right side over the same keys and times: unique (g, ord), one null time. */
  private val quoteRows: Seq[Row] = (0 until 80)
    .map(j => (Seq(2L, 2L, 2L, 0L, 1L, 3L, 9L)(j % 7), if (j == 5) None else Some(((j * 23) % 60).toLong), j.toLong))
    .distinctBy(q => (q._1, q._2))
    .map { case (g, t, q) => Row(g, t.map(Long.box).orNull, q) }
  private val quoteSchema = StructType(Seq(
    StructField("g", LongType, nullable = false), StructField("ord", LongType), StructField("q", LongType)))

  /** (buckets, adaptive coalescing) → session; its shuffle partitions equal
    * `buckets`, or 5 for `buckets = 0`, so the mergeable `collectScan`
    * (which has no bucket count) is range-sorted into as many partitions. */
  private def rangedSession(buckets: Int, coalesce: Boolean): SparkSession = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", (if (buckets > 0) buckets else 5).toString)
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce.toString)
    s
  }

  /** The rows of `rs` in (ord nulls first, id) order. */
  private def ordered(rs: Seq[Row]): Seq[Row] =
    rs.sortBy(r => (!r.isNullAt(1), if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2)))
  private def rangedVals(r: Row): IndexedSeq[Any] = IndexedSeq(r.get(3))
  private def byKey(rs: Seq[Row]): Seq[Seq[Row]] = ordered(rs).groupBy(_.getLong(0)).values.toSeq
  private def strings(rs: Seq[Row]): Seq[String] = rs.map(_.toString).sorted

  /** Plain-Scala references over `rangedRows(n)`, as sorted row strings. */
  private def rangedFoldRef[A](k: Fold[A], emit: A => Any)(n: Int): Seq[String] =
    strings(byKey(rangedRows(n)).map(rs =>
      Row(rs.head.getLong(0), emit(Kernel.foldRows(k, rs.iterator.map(rangedVals))))))
  private def rangedScanRef[A](k: Scan[A], keyed: Boolean)(n: Int): Seq[String] = {
    val runs = if (keyed) byKey(rangedRows(n)) else Seq(ordered(rangedRows(n)))
    strings(runs.flatMap { rs =>
      rs.zip(Kernel.scanRows(k, rs.iterator.map(rangedVals)).toSeq).map { case (r, out) =>
        val tail = Seq(r.get(1), r.getLong(2), out.orNull)
        Row.fromSeq(if (keyed) r.getLong(0) +: tail else tail)
      }
    })
  }
  /** Each left row (g, ord, id) gets `q` of the latest quote of its key at
    * or before its time (strictly before with `strict`); a null time sorts
    * before every other and equals another null. */
  private def asofRef(strict: Boolean)(n: Int): Seq[String] = {
    def time(r: Row): (Boolean, Long) = (!r.isNullAt(1), if (r.isNullAt(1)) 0L else r.getLong(1))
    val before = Ordering[(Boolean, Long)].lt _
    strings(rangedRows(n).map { l =>
      val hits = quoteRows.filter(r => r.getLong(0) == l.getLong(0) &&
        (before(time(r), time(l)) || (!strict && time(r) == time(l))))
      Row(l.getLong(0), l.get(1), l.getLong(2), if (hits.isEmpty) null else hits.maxBy(time).getLong(2))
    })
  }

  /** Each range-partitioned shape with its sequential twin, over (events,
    * quotes, buckets), and the plain-Scala reference both must equal. */
  private val rangedShapes: Seq[(String, (DataFrame, DataFrame, Int) => DataFrame, (DataFrame, DataFrame) => DataFrame,
      Int => Seq[String])] =
    Seq(
      ("groupFoldMergeable",
        (df, _, b) => GroupOps.groupFoldMergeable(df, G, V, O, polyMerge, LongType, buckets = b, emit = hash),
        (df, _) => GroupOps.groupFold(df, G, V, O, polyMerge, LongType, emit = hash),
        rangedFoldRef(polyMerge, hash)),
      ("groupScanMergeable",
        (df, _, b) => GroupOps.groupScanMergeable(df, G, V, O, polyScanMerge, LongType, buckets = b),
        (df, _) => GroupOps.groupScan(df, G, V, O, polyScan, LongType),
        rangedScanRef(polyScanMerge, keyed = true)),
      ("asofLastSalted",
        (df, q, b) => AsofJoin.asofLastSalted(df.select("g", "ord", "id"), q, G, "ord", Seq("q"), buckets = b),
        (df, q) => AsofJoin.asofLast(df.select("g", "ord", "id"), q, G, "ord", Seq("q")),
        asofRef(strict = false)),
      ("asofLastSalted strict",
        (df, q, b) =>
          AsofJoin.asofLastSalted(df.select("g", "ord", "id"), q, G, "ord", Seq("q"), strict = true, buckets = b),
        (df, q) => AsofJoin.asofLast(df.select("g", "ord", "id"), q, G, "ord", Seq("q"), strict = true),
        asofRef(strict = true)),
      ("collectScan mergeable",
        (df, _, _) => CollectOps.collectScan(df, V, O, polyScanMerge, LongType),
        (df, _) => CollectOps.collectScan(df, V, O, polyScan, LongType),
        rangedScanRef(polyScanMerge, keyed = false)))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("range partitions: the hot key straddles at least 3; more buckets than rows yield fewer partitions") {
    val s = rangedSession(8, coalesce = false)
    def parts(df: DataFrame, b: Int): Array[Seq[Long]] =
      df.repartitionByRange(b, (G ++ O).map(df.col): _*).rdd.glom().map(_.map(_.getLong(0)).toSeq).collect()
    val big = s.createDataFrame(s.sparkContext.parallelize(rangedRows(300), 3), schema)
    for (b <- Seq(3, 8)) assert(parts(big, b).count(_.contains(2L)) >= 3, s"buckets $b")
    // Spark's range partitioner caps the partition count at the distinct
    // sort keys it sampled: 5 rows never make 8 partitions
    val tiny = s.createDataFrame(s.sparkContext.parallelize(rangedRows(5), 1), schema)
    assert(parts(tiny, 8).length < 8)
  }

  for ((name, ranged, twin, reference) <- rangedShapes)
    test(s"$name matches its sequential twin for every range-partition count and coalescing") {
      for (n <- Seq(300, 5)) {
        val want = reference(n)
        for (buckets <- Seq(0, 1, 3, 8); coalesce <- Seq(true, false)) {
          val s = rangedSession(buckets, coalesce)
          val df = s.createDataFrame(s.sparkContext.parallelize(rangedRows(n), 3), schema)
          val q = s.createDataFrame(s.sparkContext.parallelize(quoteRows, 2), quoteSchema)
          val at = s"buckets $buckets, coalescing $coalesce, $n rows"
          assert(rows(twin(df, q)) == want, s"twin, $at")
          assert(rows(ranged(df, q, buckets)) == want, at)
        }
      }
    }
}

/** Kernels live here so their closures capture no suite instance. */
object PartitionInvarianceSpec {
  val M = 1000000007L
  // order-sensitive polynomial hash; state (hash, 31^rows) makes it mergeable
  val polyStep: ((Long, Long), IndexedSeq[Any]) => (Long, Long) =
    (a, xs) => ((a._1 * 31 + xs(0).asInstanceOf[Long]) % M, a._2 * 31 % M)
  val polyLaw = Merge[(Long, Long)]((0L, 1L), (l, r) => ((l._1 * r._2 + r._1) % M, l._2 * r._2 % M))
  val hash = (a: (Long, Long)) => a._1: Any

  val polySeq = Fold[(Long, Long)]((7L, 1L), polyStep)
  val polyMerge = polySeq.copy(merge = Some(polyLaw))
  val sumComm = Fold[Long](0L, (a, xs) => a + xs(0).asInstanceOf[Long],
    merge = Some(Merge[Long](0L, _ + _, commutative = true)))
  val polyScan = Scan[(Long, Long)]((7L, 1L), polyStep, emit = hash)
  val polyScanMerge = polyScan.copy(merge = Some(polyLaw))
}