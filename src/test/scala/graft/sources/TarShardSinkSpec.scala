package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[TarShardSink]] — the WebDataset tar shard writer/reader. */
class TarShardSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // hostile content: multi-byte unicode, newlines, quotes, a doc whose
  // byte length is an exact block multiple (pad = 0 edge)
  private val docs = Seq(
    (3L, "plain ascii text"),
    (7L, "emoji 😀 and ümläuts\nnewline \"quotes\""),
    (11L, "x" * 512),
    (200L, "tab\tandcontrol"))

  private lazy val fixture = docs.toDF("doc_id", "text")

  test("roundtrip preserves membership, sizes, and content digests") {
    val back = TarShardSink.roundTrip(fixture, "doc_id", "text", 4)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getString(3))).toSet
    val want = docs.map { case (id, t) =>
      val b = t.getBytes(UTF_8)
      val md = java.security.MessageDigest.getInstance("MD5")
      (f"$id%012d.txt", b.length.toLong,
        md.digest(b).map("%02x".format(_)).mkString)
    }.toSet
    assert(back === want)
  }

  test("readShards reads only the .tar files of the shard directory") {
    val dir = TarShardSink.writeShards(fixture, "doc_id", "text", 4)
    def entries = TarShardSink.readShards(spark, dir).collect().map(_.toString).sorted.toSeq
    val before = entries
    // a stray copy of a real shard under another extension: read as a
    // shard it would duplicate that shard's entries
    val shard = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tar")).head
    java.nio.file.Files.copy(shard.toPath, new java.io.File(dir, shard.getName + ".bak").toPath)
    assert(entries === before)
    assert(before.length === docs.size)
  }

  test("shard assignment follows the md5 shardAssign rule") {
    def hash60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString.take(15), 16)
    val back = TarShardSink.roundTrip(fixture, "doc_id", "text", 4)
      .collect().map(r => (r.getString(1).takeWhile(_ != '.').toLong, r.getInt(0))).toMap
    docs.foreach { case (id, _) =>
      assert(back(id) === (hash60(id.toString) % 4).toInt, s"doc $id")
    }
  }

  test("two same-schema frames with different rows each read back their own rows") {
    val first = docs.take(2).toDF("doc_id", "text")
    val second = docs.drop(2).toDF("doc_id", "text")
    for (df <- Seq(first, second)) {
      val back = TarShardSink.roundTrip(df, "doc_id", "text", 4)
        .collect().map(_.getString(1)).toSet
      assert(back === df.collect().map(r => f"${r.getLong(0)}%012d.txt").toSet)
    }
  }

  test("header checksum validates against the ustar rule") {
    val h = TarShardSink.ustarHeader("000000000003.txt", 16L)
    val stored = java.lang.Long.parseLong(
      new String(h, 148, 6, UTF_8), 8)
    val copy = h.clone()
    java.util.Arrays.fill(copy, 148, 156, ' '.toByte)
    val computed = copy.foldLeft(0L)((a, b) => a + (b & 0xff))
    assert(stored === computed)
    assert(new String(h, 257, 5, UTF_8) === "ustar" && h(262) === 0)
    assert(new String(h, 263, 2, UTF_8) === "00")
  }

  test("multi-entry keys write adjacent modality pairs per key") {
    import org.apache.spark.sql.functions._
    val mm = fixture.select(col("doc_id"),
      to_binary(col("text"), lit("utf-8")).as("payload"),
      to_binary(concat(lit("meta:"), col("doc_id").cast("string")), lit("utf-8")).as("meta"))
    val back = TarShardSink.roundTripEntries(mm, "doc_id",
        Seq(("txt", "payload"), ("json", "meta")), 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(3)))
    assert(back.length === docs.size * 2)
    // a key's modalities are ADJACENT in their shard: within each
    // archive the walker sees txt immediately followed by json of the
    // SAME key (the property a streaming dataloader depends on)
    val dirPath = TarShardSink.writeShardEntries(mm, "doc_id",
      Seq(("txt", "payload"), ("json", "meta")), 2)
    val names = TarShardSink.readShards(spark, dirPath)
      .collect().map(r => (r.getInt(0), r.getString(1)))
    names.groupBy(_._1).values.foreach { shardEntries =>
      shardEntries.map(_._2).grouped(2).foreach { pair =>
        assert(pair.length === 2, s"odd entry count in shard: ${shardEntries.toSeq}")
        val (a, b) = (pair(0), pair(1))
        assert(a.endsWith(".txt") && b.endsWith(".json") &&
          a.takeWhile(_ != '.') === b.takeWhile(_ != '.'),
          s"modalities must pair adjacently: $a / $b")
      }
    }
    // the json entry digests its constructed record
    val metaMd5 = back.filter(_._2.endsWith(".json")).map { case (_, n, md) =>
      n.takeWhile(_ != '.').toLong -> md }.toMap
    docs.foreach { case (id, _) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val want = md.digest(s"meta:$id".getBytes(UTF_8)).map("%02x".format(_)).mkString
      assert(metaMd5(id) === want, s"doc $id json digest")
    }
  }

  test("a stock tar binary lists and extracts the shards") {
    import scala.sys.process._
    assume(scala.util.Try("tar --version".!!).isSuccess, "no tar binary")
    val dir = TarShardSink.writeShards(fixture, "doc_id", "text", 4)
    val tars = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tar"))
    assert(tars.nonEmpty)
    val names = tars.flatMap(t => s"tar -tf ${t.getAbsolutePath}".!!.trim
      .split("\n").filter(_.nonEmpty)).toSet
    assert(names === docs.map { case (id, _) => f"$id%012d.txt" }.toSet)
    // extraction round-trips the hostile-unicode entry byte-for-byte
    val out = java.nio.file.Files.createTempDirectory("graft_tarx_")
    val shard7 = tars.find(t =>
      s"tar -tf ${t.getAbsolutePath}".!!.contains("000000000007.txt")).get
    assert(Process(Seq("tar", "-xf", shard7.getAbsolutePath, "-C", out.toString)).! === 0)
    val got = new String(java.nio.file.Files.readAllBytes(
      out.resolve("000000000007.txt")), UTF_8)
    assert(got === docs.find(_._1 == 7L).get._2)
  }
}
