package graft.plumba

import java.time.{Instant, LocalDate}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.AsofJoin
import graft.plumba.Kernel._

/** Kernels see exactly the values `collect()` gives for every column type
  * whose external value is not a primitive: timestamps (as
  * `java.sql.Timestamp`, or as `java.time.Instant` under
  * `spark.sql.datetime.java8API.enabled`), dates, decimal(38,18), binary,
  * arrays, structs, maps, and nulls at the top level and inside them. The
  * kernels keep every argument vector they are handed, so a row buffer
  * reused under them would show as repeated values. The reference is the
  * plain-Scala [[Kernel.foldRows]] / [[Kernel.scanRows]] over the
  * collected rows. */
class RowValueParitySpec extends AnyFunSuite {
  import RowValueParitySpec._

  private val schema = StructType(Seq(
    StructField("g", LongType, nullable = false), StructField("ord", LongType, nullable = false),
    StructField("ts", TimestampType), StructField("d", DateType), StructField("dec", DecimalType(38, 18)),
    StructField("bin", BinaryType), StructField("arr", ArrayType(LongType)),
    StructField("st", StructType(Seq(StructField("b", BinaryType), StructField("xs", ArrayType(DoubleType))))),
    StructField("m", MapType(StringType, LongType))))
  private val V = Seq("ts", "d", "dec", "bin", "arr", "st", "m")
  private val O = Seq("ord")
  private val n = 48

  /** Row `i`: `ord` is a permutation of 0 until n; every value column is
    * null in some rows, and the nested values hold nulls too. */
  private def row(i: Int, java8: Boolean): Row = {
    val instant = Instant.ofEpochSecond(1600000000L + i * 3601L, (i % 1000) * 1000L)
    val day = LocalDate.ofEpochDay(18000L + i * 3)
    Row(
      (i % 3).toLong,
      ((i * 29) % n).toLong,
      if (i % 12 == 3) null else if (java8) instant else java.sql.Timestamp.from(instant),
      if (i % 12 == 4) null else if (java8) day else java.sql.Date.valueOf(day),
      if (i % 12 == 5) null else new java.math.BigDecimal(s"${10 + i}123456789012345678.123456789012345678"),
      if (i % 12 == 6) null else Array[Byte](i.toByte, (i * 3).toByte, 7),
      Seq[Any](i.toLong, if (i % 5 == 0) null else Long.box(i.toLong * i)),
      Row(if (i % 4 == 1) null else Array[Byte]((i + 1).toByte), Seq(i * 0.5, -i.toDouble)),
      Map[String, Any]("a" -> i.toLong, "b" -> (if (i % 6 == 2) null else Long.box(i + 1L))))
  }

  private def session(java8: Boolean): SparkSession = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.datetime.java8API.enabled", java8.toString)
    s.conf.set("spark.sql.shuffle.partitions", "3")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s
  }

  private def frame(s: SparkSession, java8: Boolean, parts: Int): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize((0 until n).map(row(_, java8)), parts), schema)

  private def values(r: Row): IndexedSeq[Any] = V.map(c => r.get(r.fieldIndex(c))).toIndexedSeq
  private def ordered(rs: Seq[Row]): Seq[Row] = rs.sortBy(_.getAs[Long]("ord"))

  /** Every kept vector renders differently: no value was overwritten
    * after the kernel was handed it. */
  private def assertDistinct(kept: Kept, what: String): Unit = {
    val rendered = kept.map(canon)
    assert(rendered.distinct.size == rendered.size, s"$what: repeated values among ${rendered.size} kept rows")
  }

  for (java8 <- Seq(false, true)) {
    val conf = s"java8API=$java8"
    lazy val s = session(java8)

    test(s"collected values have the external types of the conf ($conf)") {
      val r = frame(s, java8, 1).collect().find(r => !r.isNullAt(2) && !r.isNullAt(3)).get
      assert(r.get(2).isInstanceOf[Instant] == java8 && r.get(3).isInstanceOf[LocalDate] == java8)
    }

    for (parts <- Seq(1, 5))
      test(s"collectFold hands every kernel kind the collected values ($conf, $parts input partitions)") {
        val df = frame(s, java8, parts)
        val want = Kernel.foldRows(keepSeq, ordered(df.collect().toSeq).iterator.map(values))
        assert(want.size > n / 2, "too few rows survive the null policy to show anything")
        for ((kind, k) <- Seq("sequential" -> keepSeq, "mergeable" -> keepMerge, "commutative" -> keepComm)) {
          val got = CollectOps.collectFold(df, V, O, k)
          assertDistinct(got, kind)
          // a commutative fold promises the multiset of rows, not their order
          if (kind == "commutative") assert(got.map(canon).sorted == want.map(canon).sorted, kind)
          else assert(got.map(canon) == want.map(canon), kind)
        }
      }

    test(s"mergeable collectScan hands the kernel the collected values ($conf)") {
      val df = frame(s, java8, 5)
      val rows = ordered(df.collect().toSeq)
      val want = rows.map(_.getAs[Long]("ord")).zip(Kernel.scanRows(keepScan, rows.iterator.map(values))).toMap
      val got = CollectOps.collectScan(df, V, O, keepScan, StringType).collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(got == want)
      assert(want.values.flatten.size > n / 2)
    }

    test(s"groupFoldMergeable hands the kernel the collected values ($conf)") {
      val df = frame(s, java8, 5)
      val want = ordered(df.collect().toSeq).groupBy(_.getLong(0))
        .map { case (g, rs) => g -> render(Kernel.foldRows(keepMerge, rs.iterator.map(values))) }
      val got = GroupOps.groupFoldMergeable(df, Seq("g"), V, O, keepMerge, StringType, buckets = 3, emit = render)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == want)
    }

    test(s"asofLastSalted carries the collected payload values ($conf)") {
      // right rows at even times 0, 2, ..., left rows at every time and one before all
      val right = frame(s, java8, 5).withColumn("ord", col("ord") * 2)
      val left = s.range(-1, 2L * n + 1).select(((col("id") % 3 + 3) % 3).as("g"), col("id").as("ord"))
      val quotes = right.collect().toSeq
      val want = left.collect().toSeq.map { l =>
        val hits = quotes.filter(q => q.getLong(0) == l.getLong(0) && q.getLong(1) <= l.getLong(1))
        canon(Seq(l.getLong(0), l.getLong(1)) ++
          (if (hits.isEmpty) V.map(_ => null) else values(hits.maxBy(_.getLong(1)))))
      }.sorted
      val got = AsofJoin.asofLastSalted(left, right, Seq("g"), "ord", V, buckets = 3).collect()
        .map(r => canon(r.toSeq)).toSeq.sorted
      assert(got == want)
    }
  }
}

object RowValueParitySpec {
  type Kept = Vector[IndexedSeq[Any]]

  private def keep(acc: Kept, vs: IndexedSeq[Any]): Kept = acc :+ vs
  val keepSeq: Fold[Kept] = Fold[Kept](Vector.empty, keep)
  val keepMerge: Fold[Kept] = keepSeq.copy(merge = Some(Merge(Vector.empty, _ ++ _)))
  val keepComm: Fold[Kept] = keepSeq.copy(merge = Some(Merge(Vector.empty, _ ++ _, commutative = true)))
  val keepScan: Scan[Kept] = Scan[Kept](Vector.empty, keep, emit = render, merge = Some(Merge(Vector.empty, _ ++ _)))

  /** A rendering that compares byte arrays by content, keeps each value's
    * class and orders map entries. */
  def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.mkString("bin[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("row(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("map(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("seq(", ",", ")")
    case x => s"${x.getClass.getSimpleName}:$x"
  }

  def render(kept: Kept): String = kept.map(canon).mkString("|")
}
