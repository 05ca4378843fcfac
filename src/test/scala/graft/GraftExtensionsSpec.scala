package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plumba.Types
import org.apache.spark.sql.types._

class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("custom expressions usable from SQL after registration") {
    GraftExtensions.registerTemp(spark)
    val r = spark.sql(
      """SELECT simhash_bits(split(lower('a b c'), ' ')) AS sh,
        |  size(shingle_hash60(split('a b c d', ' '), 2)) AS nsh,
        |  size(minhash60(shingle_hash60(split('a b c d', ' '), 2), 16)) AS k
        |""".stripMargin).head
    assert(r.getAs[String]("sh").length == 64 && r.getAs[String]("sh").contains('1'))
    assert(r.getAs[Int]("nsh") == 3) // "a b","b c","c d"
    assert(r.getAs[Int]("k") == 16)
  }

  test("vector expressions usable from SQL: cosine_sim + hyperplane_sig") {
    GraftExtensions.registerTemp(spark)
    val r = spark.sql(
      """SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS self,
        |  cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |             array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT))) AS ortho,
        |  length(hyperplane_sig_q(array(CAST(0.5 AS FLOAT), CAST(-0.5 AS FLOAT)), 8)) AS bits
        |""".stripMargin).head
    assert(math.abs(r.getAs[Double]("self") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("ortho")) < 1e-12)
    assert(r.getAs[Int]("bits") == 8)
  }

  test("SQL path and Column path agree") {
    GraftExtensions.registerTemp(spark)
    import spark.implicits._
    val df = Seq("the quick brown fox", "jumps over the dog").toDF("text")
    val viaSql = df.selectExpr("simhash_bits(split(lower(text), ' +')) AS s").collect().map(_.getString(0))
    val viaCol = df.select(graft.llm.Dedup.simHashBits($"text").as("s")).collect().map(_.getString(0))
    assert(viaSql.sameElements(viaCol))
  }

  test("reference kernel type surface check (SURVEY §1.3)") {
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("d", DoubleType),
      StructField("s", StringType), StructField("m", MapType(StringType, LongType))))
    assert(Types.checkKernelTypes(schema, Seq("l", "d")).isEmpty)
    assert(Types.checkKernelTypes(schema, Seq("l", "s", "m")) == Seq("s", "m"))
    intercept[IllegalArgumentException] {
      Types.checkKernelTypes(schema, Seq("s"), extensionOk = false)
    }
  }
}
