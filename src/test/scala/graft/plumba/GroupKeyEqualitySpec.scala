package graft.plumba

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.plumba.Kernel._

/** Group runs split keys the way `groupBy` does: binary keys are equal
  * by content and a NaN key (or a NaN inside an array or struct key) is
  * one group, for every [[GroupOps]] shape. */
class GroupKeyEqualitySpec extends AnyFunSuite {
  import GroupKeyEqualitySpec._
  private val spark = TestSpark.spark

  /** (k, ts, v): keys a, a, b in `ts` order with values 10, 20, 5. */
  private def frame(keyType: DataType, a: Any, b: Any): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(Row(a, 1L, 10L), Row(b, 3L, 5L), Row(a, 2L, 20L)), 1),
    StructType(Seq(StructField("k", keyType), StructField("ts", LongType), StructField("v", LongType))))

  private lazy val keyed = Seq(
    "binary" -> frame(BinaryType, Array[Byte](1), Array[Byte](2)),
    "NaN" -> frame(DoubleType, Double.NaN, 1.0),
    "float NaN" -> frame(FloatType, Float.NaN, 1.0f),
    "array holding NaN" -> frame(ArrayType(DoubleType), Seq(Double.NaN), Seq(1.0)),
    "struct of an array holding NaN" -> frame(
      StructType(Seq(StructField("xs", ArrayType(DoubleType)))), Row(Seq(Double.NaN)), Row(Seq(1.0))))

  /** Key rendered by content, so binary and NaN keys compare. */
  private def key(v: Any): String = v match {
    case b: Array[Byte] => b.mkString("[", ",", "]")
    case x => String.valueOf(x)
  }
  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => (key(r.get(0)) +: r.toSeq.tail.map(String.valueOf)).mkString("|")).sorted

  private val K = Seq("k")
  private val V = Seq("v")
  private val O = Seq("ts")
  private val shapes: Seq[(String, DataFrame => DataFrame, String => Seq[String])] = Seq(
    ("groupFold", GroupOps.groupFold(_, K, V, O, sumSeq, LongType), (a: String) => Seq(s"$a|30")),
    ("groupFoldMergeable", GroupOps.groupFoldMergeable(_, K, V, O, sumMerge, LongType), (a: String) => Seq(s"$a|30")),
    ("groupScan", GroupOps.groupScan(_, K, V, O, sumScan, LongType), (a: String) => Seq(s"$a|1|10", s"$a|2|30")),
    ("groupScanMergeable", GroupOps.groupScanMergeable(_, K, V, O, sumScanMerge, LongType),
      (a: String) => Seq(s"$a|1|10", s"$a|2|30")))

  for ((shape, run, expectA) <- shapes)
    test(s"$shape keeps binary and NaN keys in one group each") {
      for ((name, df) <- keyed) {
        val Seq(a, b) = df.orderBy("ts").select("k").collect().toSeq.map(r => key(r.get(0))).distinct
        val bRows = if (shape.startsWith("groupFold")) Seq(s"$b|5") else Seq(s"$b|3|5")
        assert(rows(run(df)) == (expectA(a) ++ bRows).sorted, name)
      }
    }
}

/** Kernels live here so their closures capture no suite instance. */
object GroupKeyEqualitySpec {
  private val add: (Long, IndexedSeq[Any]) => Long = (a, xs) => a + xs(0).asInstanceOf[Long]
  private val law = Some(Merge[Long](0L, _ + _))
  val sumSeq = Fold[Long](0L, add)
  val sumMerge = sumSeq.copy(merge = law)
  val sumScan = Scan[Long](0L, add)
  val sumScanMerge = sumScan.copy(merge = law)
}
