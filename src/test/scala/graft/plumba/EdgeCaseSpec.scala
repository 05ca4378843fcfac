package graft.plumba

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.AsofJoin
import graft.plumba.Kernel._
import graft.plumba.PartitionInvarianceSpec._
import graft.plumba.syntax._

/** Edge semantics through the full Spark paths: empty frames, all-null
  * frames, single rows, column names in another case than the frame's. */
class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("idx", IntegerType), StructField("a", LongType)))

  private def frame(rows: Seq[Row], parts: Int = 2) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  private val sumK = Fold[Double](0.5, (acc, args) => acc + args(0).asInstanceOf[Long])
  private val sumKM = sumK.copy(merge = Some(Merge(0.0, (a: Double, b: Double) => a + b)))

  test("collectFold over an empty frame returns init (both paths)") {
    val empty = frame(Seq.empty)
    assert(empty.collectFold(Seq("a"), Seq("idx"), sumK) == 0.5)
    assert(empty.collectFold(Seq("a"), Seq("idx"), sumKM) == 0.5)
  }

  test("collectFold over an input of zero partitions returns init (every kernel kind)") {
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(none.rdd.getNumPartitions == 0)
    val sumKC = sumK.copy(merge = Some(Merge(0.0, (a: Double, b: Double) => a + b, commutative = true)))
    for (k <- Seq(sumK, sumKM, sumKC)) assert(none.collectFold(Seq("a"), Seq("idx"), k) == 0.5)
  }

  test("collectFold over an all-null frame returns init (null-drop policy)") {
    val nulls = frame(Seq(Row(1, null), Row(2, null)))
    assert(nulls.collectFold(Seq("a"), Seq("idx"), sumK) == 0.5)
    assert(nulls.collectFold(Seq("a"), Seq("idx"), sumKM) == 0.5)
  }

  test("collectScan over an empty frame returns an empty result") {
    val empty = frame(Seq.empty)
    val scanned = empty.collectScan(Seq("a"), Seq("idx"),
      Scan[Double](0.0, (acc, args) => acc + args(0).asInstanceOf[Long]), DoubleType)
    assert(scanned.count() == 0)
  }

  test("collectScanMergeable over an empty frame returns an empty result") {
    val empty = frame(Seq.empty)
    val scanned = CollectOps.collectScan(empty, Seq("a"), Seq("idx"),
      Scan.of1[Double, Long](0.0, merge = Some(Merge(0.0, (a: Double, b: Double) => a + b)))((acc, x) => acc + x),
      DoubleType)
    assert(scanned.count() == 0)
  }

  test("mergeable collectScan stays exact under a narrow coalesce consumer") {
    // pass 2 seeds each scanned partition from its own index; a coalesce
    // runs several scanned partitions inside one consuming task. AQE must
    // not merge the 4 sorted partitions into one, which would hide it.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val rows = (1 to 1000).map(i => Row(i, i.toLong))
    val df = s.createDataFrame(s.sparkContext.parallelize(rows, 4), schema)
    val k = Scan.of1[Double, Long](0.0,
      merge = Some(Merge(0.0, (a: Double, b: Double) => a + b)))((acc, x) => acc + x)
    val expected = Kernel.scanRows(k, rows.iterator.map(r => IndexedSeq(r.get(1)))).toSeq
    for (n <- Seq(1, 2)) {
      val got = CollectOps.collectScan(df, Seq("a"), Seq("idx"), k, DoubleType)
        .coalesce(n)
        .collect().sortBy(_.getInt(0)).map(r => Option(r.get(1))).toSeq
      assert(got.length == expected.length)
      val wrong = got.zip(expected).count { case (g, e) => g != e }
      assert(wrong == 0, s"coalesce($n): $wrong wrong prefix values")
    }
  }

  test("groupFold: group whose rows are all null-dropped still emits init-folded state") {
    val mixed = frame(Seq(Row(1, 10L), Row(2, null), Row(3, null)))
      .withColumnRenamed("idx", "idx") // keep schema
    val withKey = mixed.withColumn("k", org.apache.spark.sql.functions.expr("idx % 2"))
    val got = withKey.groupFold(Seq("k"), Seq("a"), Seq("idx"), sumK, DoubleType)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // k=1: rows idx 1 (10) and idx 3 (null->dropped) => 10.5
    // k=0: row idx 2 (null->dropped) => bare init 0.5
    assert(got == Map(1 -> 10.5, 0 -> 0.5))
  }

  test("single-row frame: fold == init step once; scan emits one value") {
    val one = frame(Seq(Row(1, 7L)), parts = 1)
    assert(one.collectFold(Seq("a"), Seq("idx"), sumK) == 7.5)
    val s = one.collectScan(Seq("a"), Seq("idx"),
      Scan.of1[Double, Long](0.5)((acc, x) => acc + x), DoubleType)
    assert(s.collect().map(_.getDouble(1)).toSeq == Seq(7.5))
  }

  test("every ordered shape resolves column names case-insensitively, as Spark does") {
    val s = spark.newSession()
    val df = s.createDataFrame(s.sparkContext.parallelize((0 until 60).map { i =>
      Row((i % 4).toLong, Long.box((i * 7) % 60), if (i % 9 == 0) null else Long.box(i.toLong))
    }, 3), StructType(Seq(
      StructField("g", LongType, nullable = false), StructField("ord", LongType), StructField("v", LongType))))
    val quotes = s.createDataFrame(s.sparkContext.parallelize((0 until 20).map(j =>
      Row((j % 4).toLong, Long.box(j * 3L + 1), j.toLong)), 2), StructType(Seq(
      StructField("g", LongType, nullable = false), StructField("ord", LongType), StructField("q", LongType))))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    // each shape over (group key, order, value, payload) column names
    val shapes: Seq[(String, (String, String, String, String) => Any)] = Seq(
      "collectFold sequential" -> ((_, o, v, _) => CollectOps.collectFold(df, Seq(v), Seq(o), polySeq)),
      "collectFold mergeable" -> ((_, o, v, _) => CollectOps.collectFold(df, Seq(v), Seq(o), polyMerge)),
      "collectFold commutative" -> ((_, o, v, _) => CollectOps.collectFold(df, Seq(v), Seq(o), sumComm)),
      "collectScan sequential" ->
        ((_, o, v, _) => rows(CollectOps.collectScan(df, Seq(v), Seq(o), polyScan, LongType))),
      "collectScan mergeable" ->
        ((_, o, v, _) => rows(CollectOps.collectScan(df, Seq(v), Seq(o), polyScanMerge, LongType))),
      "groupFold" ->
        ((g, o, v, _) => rows(GroupOps.groupFold(df, Seq(g), Seq(v), Seq(o), polySeq, LongType, emit = hash))),
      "groupFold commutative" ->
        ((g, o, v, _) => rows(GroupOps.groupFold(df, Seq(g), Seq(v), Seq(o), sumComm, LongType))),
      "groupScan" -> ((g, o, v, _) => rows(GroupOps.groupScan(df, Seq(g), Seq(v), Seq(o), polyScan, LongType))),
      "groupFoldMergeable" -> ((g, o, v, _) =>
        rows(GroupOps.groupFoldMergeable(df, Seq(g), Seq(v), Seq(o), polyMerge, LongType, emit = hash))),
      "groupScanMergeable" -> ((g, o, v, _) =>
        rows(GroupOps.groupScanMergeable(df, Seq(g), Seq(v), Seq(o), polyScanMerge, LongType))),
      "asofLast" -> ((g, o, v, q) => rows(AsofJoin.asofLast(df, quotes, Seq(g), o, Seq(q)))),
      "asofLastSalted" -> ((g, o, v, q) => rows(AsofJoin.asofLastSalted(df, quotes, Seq(g), o, Seq(q)))))
    val failures = shapes.flatMap { case (name, run) =>
      val want = run("g", "ord", "v", "q")
      scala.util.Try(run("G", "ORD", "V", "Q")).toEither match {
        case Right(got) if got == want => None
        case Right(got) => Some(s"$name: $got != $want")
        case Left(e) => Some(s"$name: ${e.getMessage.linesIterator.next()}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
