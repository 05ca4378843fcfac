package graft.sources

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property test for the export sinks: ARBITRARY unicode text (BMP +
  * supplementary planes, control chars, quotes, separators, blanks)
  * must round-trip bit-exact through every format the catalog exports —
  * json and orc on fully arbitrary strings; csv on newline-free strings
  * (the univocity parser normalizes bare CR to LF inside quoted fields,
  * a dialect limitation the JSONL/ORC paths don't share — the catalog's
  * CSV gate carries its own multiLine spec for embedded LF). */
class ExportSinkPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def check(prop: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  // strings over a hostile alphabet: quotes, backslashes, commas,
  // newlines, tabs, NBSP, CJK, emoji (surrogate pairs), combining marks
  private val hostileChar: Gen[String] = Gen.oneOf(
    "\"", "\\", ",", "\n", "\t", " ", "a", "z", "0", " ", "é",
    "中", "の", "😀", "é", "{", "}", "[", "]", "'", "|", ";")
  private val hostileString: Gen[String] =
    Gen.listOf(hostileChar).map(_.mkString)

  private def exported(fmt: String, df: org.apache.spark.sql.DataFrame) = fmt match {
    case "json" => JsonlSink.roundTrip(df)
    case "csv"  => JsonlSink.roundTripCsv(df)
    case "orc"  => JsonlSink.roundTripOrc(df)
  }

  private def roundTrips(fmt: String, texts: List[String]): Boolean = {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val back = exported(fmt, df)
    val a = df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val rawBack = back.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    if (fmt == "csv") {
      // bare CSV cannot encode empty-vs-null without the sentinel; the
      // documented dialect limitation keeps the normalization HERE only
      a == rawBack.map { case (i, t) => (i, Option(t).getOrElse("")) }
    } else {
      // json/orc must preserve the empty-string-vs-null distinction
      // bit-exact: compare RAW and require every non-null input back
      // non-null (a sink that reads "" back as null fails loudly)
      rawBack.forall(_._2 != null) && a == rawBack
    }
  }

  test("json round-trips arbitrary hostile unicode rows") {
    check(Prop.forAll(Gen.listOfN(5, hostileString)) { texts =>
      roundTrips("json", texts)
    })
  }

  test("orc round-trips arbitrary hostile unicode rows") {
    check(Prop.forAll(Gen.listOfN(5, hostileString)) { texts =>
      roundTrips("orc", texts)
    })
  }

  test("csv round-trips hostile unicode rows (newline-free alphabet)") {
    val csvChar = hostileChar.suchThat(_ != "\n")
    val csvString = Gen.listOf(csvChar).map(_.mkString)
    check(Prop.forAll(Gen.listOfN(5, csvString)) { texts =>
      roundTrips("csv", texts)
    })
  }

  test("empty input round-trips as empty through every format") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    for (fmt <- Seq("json", "csv", "orc")) {
      val back = exported(fmt, empty)
      assert(back.count() == 0L, s"$fmt: empty in, empty out")
      // file sources force nullable=true on read (standard Spark file-
      // scan behavior); names and types must survive exactly
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        empty.schema.fields.map(f => (f.name, f.dataType)).toSeq,
        s"$fmt: names+types survive emptiness")
    }
  }

  test("two same-schema frames with different rows each read back their own rows") {
    import spark.implicits._
    val first = Seq((1L, "first")).toDF("id", "text")
    val second = Seq((2L, "second")).toDF("id", "text")
    for (fmt <- Seq("json", "csv", "orc"); df <- Seq(first, second)) {
      val back = exported(fmt, df).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(back == df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq,
        s"$fmt must export each frame's own rows")
    }
  }

  test("a restarted streaming file sink re-emits nothing (exactly-once commit log)") {
    import org.apache.spark.sql.functions._
    val dir = graft.TestSpark.sfDir
    val schema = graft.queries.Tables(spark, dir, "documents").schema
    val out = java.nio.file.Files.createTempDirectory("graft_eo_out_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_eo_ckpt_")
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(s"$dir/documents.parquet*")
        .select(col("doc_id"), col("source"))
        .writeStream.format("json")
        .option("path", out.toString).option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val readBack = () => spark.read
      .schema("doc_id LONG, source STRING").json(out.toString).count()
    val first = readBack()
    assert(first == 500L, s"first run must commit the whole fixture: $first")
    // the restart sees the same source files already in the commit log:
    // nothing is reprocessed, nothing double-counted
    run()
    assert(readBack() == first, "restart with the same checkpoint must be a no-op")
  }
}
