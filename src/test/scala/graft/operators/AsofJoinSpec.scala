package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class AsofJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // left: (key, t, tag)   right: (key, t, price)
  private lazy val left = Seq(
    ("a", 10L, "l1"), ("a", 20L, "l2"), ("a", 30L, "l3"),
    ("b", 15L, "l4"), ("c", 5L, "l5")
  ).toDF("k", "t", "tag")
  private lazy val right = Seq(
    ("a", 10L, 1.0), ("a", 25L, 2.0),
    ("b", 15L, 3.0), ("b", 99L, 4.0)
  ).toDF("k", "t", "price")

  test("inclusive as-of: latest right with t <= left t, per key, null when none") {
    val got = AsofJoin.asofLast(left, right, Seq("k"), "t", Seq("price"))
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(got == Map(
      "l1" -> Some(1.0), // right at the SAME time matches (inclusive)
      "l2" -> Some(1.0), // 25 is in the future
      "l3" -> Some(2.0),
      "l4" -> Some(3.0), // same-time match; 99 in the future
      "l5" -> None))     // key c has no right rows
  }

  test("strict as-of: right rows at the same time do NOT match") {
    val got = AsofJoin.asofLast(left, right, Seq("k"), "t", Seq("price"), strict = true)
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(got("l1").isEmpty && got("l4").isEmpty) // same-time rights excluded
    assert(got("l3") == Some(2.0) && got("l2") == Some(1.0))
  }

  test("tie-break: several right rows at one (key, time) — last in tie-break order wins") {
    val dupRight = Seq(("a", 10L, 1.0), ("a", 10L, 9.0), ("a", 10L, 5.0)).toDF("k", "t", "price")
    val got = AsofJoin.asofLast(left.filter($"tag" === "l2"), dupRight,
        Seq("k"), "t", Seq("price"), rightTieBreak = Seq("price"))
      .collect().map(r => r.getDouble(3))
    assert(got.toSeq == Seq(9.0)) // max price sorts last
  }

  test("partition-count independent and matches a window-computed reference on real data") {
    val o = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
      .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    val large = o.filter($"o_totalprice" > 200000)
      .groupBy("o_custkey", "o_orderdate").agg(max("o_totalprice").as("bp"))
    val asof = AsofJoin.asofLast(
        o.select("o_custkey", "o_orderdate", "o_orderkey"), large,
        Seq("o_custkey"), "o_orderdate", Seq("bp"))
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    // independent reference: range-join all preceding qualifying dates,
    // keep the latest per left row (quadratic — fine at test scale)
    import org.apache.spark.sql.expressions.Window
    val ref2 = {
      val dated = o.filter($"o_totalprice" > 200000)
        .groupBy("o_custkey", "o_orderdate").agg(max($"o_totalprice").as("bp"))
      val j = o.as("l").join(dated.as("r"),
          $"l.o_custkey" === $"r.o_custkey" && $"r.o_orderdate" <= $"l.o_orderdate", "left")
      val ww = Window.partitionBy($"l.o_orderkey").orderBy($"r.o_orderdate".desc_nulls_last)
      j.withColumn("rk", row_number().over(ww)).filter($"rk" === 1)
        .select($"l.o_orderkey", $"r.bp")
        .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    }
    assert(asof.size == ref2.size)
    assert(asof == ref2)
    // partition independence
    val asof8 = AsofJoin.asofLast(
        o.select("o_custkey", "o_orderdate", "o_orderkey").repartition(8), large,
        Seq("o_custkey"), "o_orderdate", Seq("bp"))
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(asof8 == asof)
  }

  /** Keys that Scala `==` on a key vector gets wrong: byte arrays compare
    * by reference, NaN is unequal to itself, and `Row.equals` compares a
    * struct's nested arrays by reference. Each maps a key id to its value. */
  private val oddKeys: Seq[(String, DataType, Int => Any)] = Seq(
    ("binary", BinaryType, i => Array[Byte](i.toByte)),
    ("double NaN", DoubleType, i => if (i == 1) Double.NaN else i.toDouble),
    ("float NaN", FloatType, i => if (i == 1) Float.NaN else i.toFloat),
    ("struct of binary", StructType(Seq(StructField("b", BinaryType), StructField("bs", ArrayType(BinaryType)))),
      i => Row(Array[Byte](i.toByte), Seq(Array[Byte](i.toByte)))))

  private def keyed(t: DataType, key: Int => Any, rows: Seq[(Int, Long, Long)], payload: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (k, ts, x) => Row(key(k), ts, x) }, 1),
      StructType(Seq(StructField("k", t), StructField("t", LongType), StructField(payload, LongType))))

  for ((name, t, key) <- oddKeys; (join, run) <- Seq[(String, (DataFrame, DataFrame) => DataFrame)](
      "asofLast" -> ((l, r) => AsofJoin.asofLast(l, r, Seq("k"), "t", Seq("price"))),
      "asofLastSalted, one partition" -> ((l, r) => AsofJoin.asofLastSalted(l, r, Seq("k"), "t", Seq("price"))),
      "asofLastSalted, three partitions" ->
        ((l, r) => AsofJoin.asofLastSalted(l, r, Seq("k"), "t", Seq("price"), buckets = 3))))
    test(s"$join carries the payload across equal $name keys") {
      val right = keyed(t, key, Seq((1, 5L, 100L), (2, 25L, 200L)), "price")
      val left = keyed(t, key, Seq((1, 10L, 1L), (1, 20L, 2L), (2, 30L, 3L)), "id")
      val got = run(left, right).collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
      assert(got == Map(1L -> Some(100L), 2L -> Some(100L), 3L -> Some(200L)))
    }
}
