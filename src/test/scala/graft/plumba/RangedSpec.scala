package graft.plumba

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.AsofJoin
import graft.plumba.PartitionInvarianceSpec._

/** The ordered engine ([[Ranged]]) runs a fixed number of Spark jobs and
  * keeps nothing. On range partitions: a range sort (sampling job +
  * shuffle map job), pass 1 only when the sort yields more than one
  * partition, and the result job. No call registers a persisted RDD (an
  * eager `localCheckpoint` would). On one partition or hash partitions:
  * no job while the frame is built, then the exchange's map job and the
  * result job. */
class RangedSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("g", LongType, nullable = false), StructField("ord", LongType), StructField("v", LongType)))
  private val rows: Seq[Row] = (0 until 400).map { i =>
    Row(if (i % 3 == 0) 1L else (i % 7).toLong, Long.box(i.toLong), if (i % 13 == 0) null else Long.box((i * 31) % 97))
  }
  private val quoteSchema = StructType(Seq(
    StructField("g", LongType, nullable = false), StructField("ord", LongType), StructField("q", LongType)))
  private val quoteRows: Seq[Row] = (0 until 100).map(j => Row((j % 7).toLong, Long.box(j * 4L + 1), j.toLong))

  /** The shapes on the engine, with `buckets` where they take one. */
  private val shapes: Seq[(String, (DataFrame, DataFrame, Int) => DataFrame)] = Seq(
    "groupFoldMergeable" ->
      ((df, _, b) => GroupOps.groupFoldMergeable(df, Seq("g"), Seq("v"), Seq("ord"), polyMerge, LongType,
        buckets = b, emit = hash)),
    "groupScanMergeable" ->
      ((df, _, b) => GroupOps.groupScanMergeable(df, Seq("g"), Seq("v"), Seq("ord"), polyScanMerge, LongType,
        buckets = b)),
    "asofLastSalted" ->
      ((df, q, b) => AsofJoin.asofLastSalted(df, q, Seq("g"), "ord", Seq("q"), buckets = b)),
    "collectScan mergeable" ->
      ((df, _, _) => CollectOps.collectScan(df, Seq("v"), Seq("ord"), polyScanMerge, LongType)))

  private def inputs(s: SparkSession): (DataFrame, DataFrame) = (
    s.createDataFrame(s.sparkContext.parallelize(rows, 3), schema),
    s.createDataFrame(s.sparkContext.parallelize(quoteRows, 2), quoteSchema))

  private def jobs(s: SparkSession, run: (DataFrame, DataFrame, Int) => DataFrame, buckets: Int): Int = {
    val (df, q) = inputs(s)
    TestSpark.jobsDuring(run(df, q, buckets).collect())._2.size
  }

  for ((name, run) <- shapes) {
    test(s"$name runs 3 Spark jobs end to end when the range sort yields one partition") {
      // adaptive coalescing merges the small range sort into one partition
      val s = TestSpark.spark.newSession()
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      assert(jobs(s, run, 0) == 3)
    }

    test(s"$name runs pass 1 as exactly one more job over eight range partitions") {
      val s = TestSpark.spark.newSession()
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      assert(jobs(s, run, 8) == 4)
    }

    test(s"$name registers no persisted RDD") {
      val sc = TestSpark.spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val (df, q) = inputs(TestSpark.spark)
      for (b <- Seq(0, 8)) run(df, q, b).collect()
      assert(sc.getPersistentRDDs.keySet == before)
    }
  }

  /** The shapes on the one-partition and hash layouts. */
  private val lazyShapes: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "groupFold" -> ((df, _) => GroupOps.groupFold(df, Seq("g"), Seq("v"), Seq("ord"), polySeq, LongType, emit = hash)),
    "groupScan" -> ((df, _) => GroupOps.groupScan(df, Seq("g"), Seq("v"), Seq("ord"), polyScan, LongType)),
    "asofLast" -> ((df, q) => AsofJoin.asofLast(df, q, Seq("g"), "ord", Seq("q"))),
    "collectScan sequential" -> ((df, _) => CollectOps.collectScan(df, Seq("v"), Seq("ord"), polyScan, LongType)))

  for ((name, run) <- lazyShapes)
    test(s"$name runs no job while it is built and 2 Spark jobs end to end") {
      // the exchange's map job and the result job; building stays lazy
      val (df, q) = inputs(TestSpark.spark.newSession())
      val (built, buildJobs) = TestSpark.jobsDuring(run(df, q))
      assert(buildJobs.isEmpty, s"${buildJobs.size} jobs while built")
      assert(TestSpark.jobsDuring(built.collect())._2.size == 2)
    }

  test("collectFold over three input partitions runs 3 jobs mergeable, 1 commutative, 3 sequential") {
    val (df, _) = inputs(TestSpark.spark.newSession())
    val counts = for ((name, k) <- Seq("mergeable" -> polyMerge, "commutative" -> sumComm, "sequential" -> polySeq))
      yield name -> TestSpark.jobsDuring(CollectOps.collectFold(df, Seq("v"), Seq("ord"), k))._2.size
    assert(counts == Seq("mergeable" -> 3, "commutative" -> 1, "sequential" -> 3))
  }

  test("the driver chain skips empty partitions and carries a key through a one-run partition") {
    // a running sum; binary keys compare by content
    val law = Ranged.Law[Long](0L, (acc, _) => acc, _ + _)
    def key(b: Int): IndexedSeq[Any] = IndexedSeq(Array[Byte](b.toByte))
    def edges(first: Int, last: Int, runs: Int, lastAcc: Long) =
      Some(Ranged.Edges(key(first), key(last), runs, AccCodec.ser(lastAcc)))
    val (seeds, carry) = Ranged.chain(Array(
      edges(1, 1, 1, 5L), None, edges(1, 2, 2, 4L), None, edges(2, 2, 1, 7L), edges(2, 3, 3, 6L), None), 0L, law)
    val got = seeds.toSeq.map(s => (Option(s.acc).map(AccCodec.deser[Long]), s.runs, s.lastContinues))
    assert(got == Seq(
      (None, 1, true), (None, 0, false), (Some(5L), 2, true), (None, 0, false), (Some(4L), 1, true),
      (Some(11L), 3, false), (None, 0, false)))
    // the last partition's last run (key 3) starts inside it
    assert(carry == 6L)
  }

  test("over an empty key the driver chain's final carry is init combined with every partial in order") {
    // string concatenation: order-sensitive, so a misplaced partial shows
    val law = Ranged.Law[String]("", (acc, _) => acc, _ + _)
    def edges(acc: String) = Some(Ranged.Edges(IndexedSeq.empty, IndexedSeq.empty, 1, AccCodec.ser(acc)))
    assert(Ranged.chain(Array(None, edges("a"), None, edges("bc"), edges("d")), ">", law)._2 == ">abcd")
    // partition 0 reports the state it folded from init, not a partial
    assert(Ranged.chain(Array(edges(">a"), edges("b")), ">", law)._2 == ">ab")
    assert(Ranged.chain(Array[Option[Ranged.Edges]](None, None), ">", law)._2 == ">")
  }
}
