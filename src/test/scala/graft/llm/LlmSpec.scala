package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Differential and planted-duplicate tests for the LLM-pipeline ops. */
class LlmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = {
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    Seq(
      (1L, base),
      (2L, base),                                            // exact dup of 1
      (3L, base.replace("today", "tomorrow")),               // near dup of 1
      (4L, "completely different content about spark catalyst optimizer rules and tungsten codegen"),
      (5L, "another unrelated document mentioning parquet columnar storage formats and arrow")
    ).toDF("doc_id", "text")
  }

  test("sequence packing assigns each doc the pack of its first token") {
    // token counts 3,4,2,5 with window 6: starts 0,3,7,9 -> packs 0,0,1,1
    val docs4 = Seq(
      (1L, "a b c"), (2L, "d e f g"), (3L, "h i"), (4L, "j k l m n")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.packSequences(docs4, "doc_id", "text", windowTokens = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList.sorted
    assert(got == List((1L, 3L, 0L), (2L, 4L, 0L), (3L, 2L, 1L), (4L, 5L, 1L)),
      s"greedy concat-and-split assignment diverged: $got")
  }

  test("chunk dedup finds a passage shared across documents, keeps smallest (doc, idx)") {
    // 70 shared words guarantee one identical 64-word chunk at idx 0 in
    // docs 10 and 11 (chunking: 64-word windows, stride 56)
    val shared = (1 to 70).map(i => s"w$i").mkString(" ")
    val chunky = Seq(
      (10L, shared + " unique tail ten"),
      (11L, shared + " different ending eleven"),
      (12L, (1 to 70).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(chunky, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("n_copies"), r.getAs[Long]("keep_doc_id"), r.getAs[Int]("keep_chunk_idx")))
    assert(got.length == 1, s"exactly one duplicated chunk expected: ${got.toSeq}")
    assert(got.head == ((2L, 10L, 0)), s"keeper must be smallest (doc, idx): ${got.head}")
  }

  test("exact dedup groups identical content, keeps min id") {
    val got = Dedup.exactDedup(docs, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("dup_count"))).toSet
    assert(got.contains((1L, 2L))) // docs 1+2 identical
    assert(got.size == 4)         // 4 distinct contents
  }

  test("minhash finds planted near-dups and estimates track exact jaccard") {
    val pairs = Dedup.minHashPairs(docs, "doc_id", "text", threshold = 0.3)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("est_jaccard"))).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 1.0, s"exact dup must have sig similarity 1.0: $pairs")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)), s"near dup not found: $pairs")
    assert(!pairs.keySet.exists { case (a, b) => Set(a, b).intersect(Set(4L, 5L)).nonEmpty && Set(a, b).intersect(Set(1L, 2L, 3L)).nonEmpty },
      s"unrelated docs must not pair with the dup cluster: $pairs")
    // estimate vs exact on the verified pairs
    val verified = Dedup.verifyJaccard(
        Dedup.minHashPairs(docs, "doc_id", "text", threshold = 0.3), docs, "doc_id", "text")
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard"))).toMap
    verified.foreach { case (k, exact) =>
      assert(math.abs(pairs(k) - exact) < 0.35, s"estimate ${pairs(k)} far from exact $exact for $k")
    }
  }

  test("simhash: identical docs have distance 0, near-dups small, unrelated large") {
    val sigs = docs.select($"doc_id", Dedup.simHash64($"text").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(ham(1L, 2L) == 0)
    assert(ham(1L, 3L) <= 10, s"near-dup hamming ${ham(1L, 3L)}")
    assert(ham(1L, 4L) > 10, s"unrelated hamming ${ham(1L, 4L)}")
  }

  private lazy val vecs = {
    // deterministic unit-ish vectors in 8 dims: three clusters
    def v(seed: Int): Seq[Float] = (0 until 8).map(i => (((seed * 31 + i * 17) % 13) - 6).toFloat)
    Seq.tabulate(30)(i => (i.toLong, v(i % 3).map(x => x + (i / 3) * 0.01f))).toDF("vec_id", "embedding")
  }

  test("brute-force cosine top-k: self excluded, ranks deterministic, neighbors same-cluster") {
    val got = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" < 3), "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"), r.getAs[Int]("rank")))
    assert(got.length == 9)
    assert(!got.exists { case (q, c, _) => q == c })
    // cluster structure: query i's neighbors should be ids ≡ i (mod 3)
    got.foreach { case (q, c, _) => assert(c % 3 == q % 3, s"query $q got cross-cluster neighbor $c") }
  }

  test("LSH top-k recall vs brute force") {
    val bf = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" < 3), "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
    val lsh = Similarity.lshTopK(vecs, vecs.filter($"vec_id" < 3), "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
    val recall = bf.intersect(lsh).size.toDouble / bf.size
    assert(recall >= 0.5, s"LSH recall $recall too low (bf=$bf lsh=$lsh)")
  }

  test("IVF top-k recall vs brute force") {
    val bf = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" < 3), "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
    val ivf = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" < 3), "vec_id", "embedding", k = 3, nCells = 4, nProbe = 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
    val recall = bf.intersect(ivf).size.toDouble / bf.size
    assert(recall >= 0.5, s"IVF recall $recall too low (bf=$bf ivf=$ivf)")
  }

  test("cosineNearDupPairs: hot-bucket cap drops a degenerate identical-vector bucket, audit sees it") {
    // 20 planted IDENTICAL vectors (a constant-embedding upstream bug):
    // one signature -> one bucket per band -> O(n^2) pairs if uncapped
    val degenerate = Seq.tabulate(20)(i => (100L + i, Seq.fill(8)(1.0f)))
    val normal = Seq.tabulate(6)(i => (i.toLong, (0 until 8).map(d => (((i % 3) * 31 + d * 17) % 13 - 6).toFloat).toSeq))
    val corpus = (normal ++ degenerate).toDF("vec_id", "embedding")
    val uncapped = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding",
      threshold = 0.99, maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding",
      threshold = 0.99, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val degeneratePairs = uncapped.filter { case (a, b) => a >= 100L && b >= 100L }
    assert(degeneratePairs.size == 20 * 19 / 2, s"uncapped must pair the whole degenerate bucket: $uncapped")
    assert(!capped.exists { case (a, b) => a >= 100L && b >= 100L },
      s"cap=10 must drop the 20-member bucket's pairs: $capped")
    // the audit histogram makes the drop observable: some bucket holds
    // AT LEAST the 20 degenerate members (>= rather than ==, so an
    // incidental normal-vector collision into the degenerate band —
    // possible if hyperplane constants or nPlanes change — can't break
    // the assertion's actual point: the hot bucket is visible)
    val hist = Similarity.embeddingBuckets(corpus, "vec_id", "embedding")
      .collect().map(r => r.getLong(1)).toSet
    assert(hist.exists(_ >= 20L), s"audit histogram must surface the >=20-member bucket: $hist")
  }

  test("parallel two-pass collectScanMergeable == sequential collectScan (running max)") {
    val o = TestSpark.spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
    import org.apache.spark.sql.types.DoubleType
    import graft.plumba.{CollectOps, Kernel}
    val scanK = Kernel.Scan.of1[Double, Double](0.0)(math.max)
    val mergeLaw = Kernel.Merge(0.0, (a: Double, b: Double) => math.max(a, b))
    // collectScan runs the two-pass parallel scan for a kernel declaring its merge law
    val par = CollectOps.collectScan(
        o, Seq("o_totalprice"), Seq("o_orderdate", "o_orderkey"),
        scanK.copy(merge = Some(mergeLaw)), DoubleType, "hi")
      .orderBy("o_orderdate", "o_orderkey").select("hi").collect().map(_.getDouble(0))
    val seqv = CollectOps.collectScan(
        o, Seq("o_totalprice"), Seq("o_orderdate", "o_orderkey"), scanK, DoubleType, "hi")
      .orderBy("o_orderdate", "o_orderkey").select("hi").collect().map(_.getDouble(0))
    assert(par.sameElements(seqv))
  }

  test("repetition signals: looped boilerplate scores high, varied text low") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, "buy now " * 20 + "buy now"),       // one bigram looped 21x
      (2L, (1 to 40).map("w" + _).mkString(" ")) // all-distinct words
    ).toDF("id", "text")
    val got = TextAnalysis.dupNgramCounts(df, "id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    // looped doc: 40 trigrams alternate between just 2 distinct forms
    val (n1, d1) = got(1L)
    assert(n1 == 40 && d1 == 2, s"looped doc: $n1 grams, $d1 distinct")
    // varied doc: every trigram distinct
    val (n2, d2) = got(2L)
    assert(n2 == 38 && d2 == 38, s"varied doc: $n2 grams, $d2 distinct")
    // compiled top-bigram counter: "buy now" appears 21x (the looped
    // doc is 41 words: 21 "buy now" + 20 "now buy" bigrams)
    val tops = df.select($"id", TextAnalysis.ngramStats($"text", 2).getField("top"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(tops(1L) == 21, s"looped top bigram: ${tops(1L)}")
    assert(tops(2L) == 1, s"varied top bigram: ${tops(2L)}")
  }

  test("token counting and quality scoring are deterministic and sane") {
    val r = docs.select(
      TextAnalysis.tokenCountWs($"text").as("ws"),
      TextAnalysis.tokenCountBpeIsh($"text").as("bpe"),
      TextAnalysis.qualityScore($"text").as("q"),
      TextAnalysis.langIdHeuristic($"text").as("lang")).collect()
    val first = r.head
    assert(first.getAs[Int]("ws") == 14)
    assert(first.getAs[Int]("bpe") >= 14)
    assert(first.getAs[Double]("q") > 0 && first.getAs[Double]("q") <= 1)
    assert(first.getAs[String]("lang") == "en") // two " the " markers
  }

  test("multimodal: stub decode is deterministic and partition-count-independent") {
    val media = docs.select($"doc_id", Multimodal.mediaStruct(
      to_binary($"text", lit("utf-8")), lit("text/plain"), lit(0), lit(0), lit(1)).as("media"))
    val f1 = Multimodal.extractFeatures(media.repartition(1), "doc_id", "media")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val f4 = Multimodal.extractFeatures(media.repartition(4), "doc_id", "media")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(f1 == f4)
    assert(f1(1L) == f1(2L)) // identical payloads -> identical features
    val frames = Multimodal.sampleFrames(media, "doc_id", "media", frameBytes = 16, stride = 2)
    assert(frames.count() > 0)
  }

  test("connected components: multi-hop chains converge to the min label") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("id_a", "id_b")
    // 1-2-3-4 is a diameter-3 chain: the min label needs 3 propagation
    // rounds to reach vertex 4 — tests genuine iteration, not one join
    val comps = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    // dedupGroups: vertices without edges keep themselves
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("doc_id")
    val groups = Dedup.dedupGroups(docs, "doc_id", edges.filter($"id_a" < 10))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups(99L) == 99L && groups(4L) == 1L && groups(10L) == 10L)
    // a 100-vertex path converges inside the default 20 rounds ONLY with
    // pointer-jumping (plain propagation needs 99 rounds)
    val longChain = (1L to 100L).sliding(2).map(s => (s.head, s(1))).toSeq.toDF("id_a", "id_b")
    val lc = Dedup.connectedComponents(longChain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lc.size == 100 && lc.values.forall(_ == 1L))
  }

  test("multimodal: real PNG payloads decode via ImageIO to true dimensions + luminance") {
    // generate a 12x7 PNG filled with pure green in-memory
    val img = new java.awt.image.BufferedImage(12, 7, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 7; x <- 0 until 12) img.setRGB(x, y, 0x00FF00)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    assert(Multimodal.looksLikeImage(png))
    val f = Multimodal.decode(png, 4)
    assert(f(0) == 12.0 && f(1) == 7.0) // true decoded dimensions
    assert(math.abs(f(2) - 0.587) < 1e-9) // uniform green: mean luminance = 0.587
    assert(f(3) == 0.0) // uniform image: zero variance
    // end-to-end through the Spark pipeline: one PNG row + one text row
    val rows = Seq((1L, png), (2L, "plain text".getBytes("UTF-8")))
    val df = spark.createDataFrame(rows).toDF("doc_id", "payload")
      .select($"doc_id", Multimodal.mediaStruct(
        $"payload", lit("image/png"), lit(0), lit(0), lit(1)).as("media"))
    val feats = Multimodal.extractFeatures(df, "doc_id", "media", dims = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(feats(1L)(0) == 12.0 && feats(1L)(1) == 7.0)
    assert(feats(2L) == Multimodal.decodeStub("plain text".getBytes("UTF-8"), 4).toSeq) // stub fallback
    // resize: uniform green 12x7 -> 6x4 PNG, still uniform green
    val resized = Multimodal.resizeMedia(df.filter($"doc_id" === 1L), "doc_id", "media", 6, 4)
    val rm = resized.collect()(0).getStruct(1)
    assert(rm.getInt(2) == 6 && rm.getInt(3) == 4) // metadata updated
    val rf = Multimodal.decode(rm.getAs[Array[Byte]](0), 4)
    assert(rf(0) == 6.0 && rf(1) == 4.0) // decoded dims of the resized payload
    assert(math.abs(rf(2) - 0.587) < 1e-9 && rf(3) < 1e-12) // bilinear of uniform = uniform
    // non-image payloads pass through unchanged
    assert(Multimodal.resizeImage("plain".getBytes, 2, 2).sameElements("plain".getBytes))
  }

  test("multimodal: GIF synthesis round-trips uniform gray exactly; JPEG fixtures decode to pinned stats") {
    // GIF: the palette holds the single gray, so encode->decode is exact
    val d = Seq((0L, 3, 2, 37), (1L, 6, 4, 200), (2L, 1, 1, 255))
      .toDF("doc_id", "w", "h", "g")
    val gif = Multimodal.synthesizeImage(d, "doc_id", "w", "h", "g", "gif", "image/gif")
    val gm = gif.collect().map(r => r.getLong(0) -> r.getStruct(1)).toMap
    assert(new String(gm(0L).getAs[Array[Byte]](0).take(3), "ASCII") == "GIF")
    val feats = Multimodal.extractFeatures(gif, "doc_id", "media", dims = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(feats(0L)(0) == 3.0 && feats(0L)(1) == 2.0)
    // uniform gray g: luminance = g/255 exactly (0.299+0.587+0.114 = 1)
    assert(math.abs(feats(0L)(2) - 37.0 / 255.0) < 1e-9 && feats(0L)(3) == 0.0)
    assert(feats(1L)(0) == 6.0 && math.abs(feats(1L)(2) - 200.0 / 255.0) < 1e-9)
    assert(feats(2L)(2) == 1.0)
    // JPEG: committed fixtures decode deterministically; dims + quantized
    // luminance pinned (the same constants the oracle states)
    assert(Multimodal.jpegFixtures.length == 3)
    assert(Multimodal.jpegFixtures.forall(b =>
      b(0) == 0xFF.toByte && b(1) == 0xD8.toByte && Multimodal.looksLikeImage(b)))
    val expected = Seq((16.0, 12.0, 4996L, 295L), (20.0, 8.0, 5000L, 306L), (9.0, 9.0, 5115L, 313L))
    for (((w, h, lq, vq), i) <- expected.zipWithIndex) {
      val f = Multimodal.decode(Multimodal.jpegFixtures(i), 4)
      assert(f(0) == w && f(1) == h, s"fixture $i dims")
      assert(math.round(f(2) * 10000) == lq, s"fixture $i lum_q: got ${f(2)}")
      assert(math.round(f(3) * 10000) == vq, s"fixture $i var_q: got ${f(3)}")
    }
    // end-to-end: attachJpegFixture is a narrow map over any id column
    val jp = Multimodal.attachJpegFixture(Seq(0L, 1L, 2L, 3L).toDF("doc_id"), "doc_id")
    val jf = Multimodal.extractFeatures(jp, "doc_id", "media", dims = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(jf(0L)(0) == 16.0 && jf(3L)(0) == 16.0) // fixture id % 3 repeats
    assert(jf(1L)(0) == 20.0 && jf(2L)(0) == 9.0)
  }

  test("multimodal video: animated-GIF sequence round-trips frame count and per-frame gray") {
    val d = Seq((0L, 4, 3, 2), (1L, 1, 5, 4), (2L, 5, 2, 2)).toDF("doc_id", "nf", "w", "h")
    val gif = Multimodal.synthesizeGifFrames(d, "doc_id", "nf", "w", "h")(
      (id, k) => (id * 10 + k * 7).toInt % 256)
    // the payload is ONE animated GIF per row
    val pay = gif.collect().map(r => r.getLong(0) -> r.getStruct(1)).toMap
    assert(new String(pay(0L).getAs[Array[Byte]](0).take(3), "ASCII") == "GIF")
    assert(pay(0L).getInt(4) == 4 && pay(1L).getInt(4) == 1)
    // stride-1: the sequence reader finds every frame, exact grays
    val all = Multimodal.sampleImageFrames(gif, "doc_id", "media", stride = 1)
    val feats = Multimodal.extractFeatures(
        all.select(struct($"doc_id", $"frame_idx").as("fid"), $"frame"), "fid", "frame", dims = 4)
      .collect().map { r =>
        val fid = r.getStruct(0); (fid.getLong(0), fid.getInt(1)) -> r.getSeq[Double](1) }.toMap
    assert(feats.size == 4 + 1 + 5, s"frame fan-out wrong: ${feats.keys.toSeq.sorted}")
    for (((id, k), f) <- feats) {
      assert(f(0) == (if (id == 0L) 3.0 else if (id == 1L) 5.0 else 2.0), s"width of ($id,$k)")
      assert(math.abs(f(2) - ((id * 10 + k * 7) % 256) / 255.0) < 1e-9,
        s"gray of ($id,$k): got ${f(2)}")
      assert(f(3) < 1e-12, s"uniform frame must have ~zero variance: ($id,$k)")
    }
    // stride-2 samples frames 0,2,4; a non-image payload yields no rows
    val s2 = Multimodal.sampleImageFrames(gif, "doc_id", "media", stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(s2.sorted.toSeq == Seq((0L, 0), (0L, 2), (1L, 0), (2L, 0), (2L, 2), (2L, 4)))
    val junk = Seq((9L, "not an image".getBytes("UTF-8"))).toDF("doc_id", "bytes")
      .select($"doc_id", Multimodal.mediaStruct($"bytes", lit("application/octet-stream"),
        lit(0), lit(0), lit(1)).as("media"))
    assert(Multimodal.sampleImageFrames(junk, "doc_id", "media").count() == 0)
  }

  test("multimodal audio: PCM pack->parse round trip matches the closed-form stats") {
    // hand-computed on a tiny fixture: id=1, n=4 samples of
    // ((1*7919 + k*104729) % 65536) - 32768
    val expect = (0 until 4).map(k => (((7919L + k * 104729L) % 65536L) - 32768L).toInt)
    val d = Seq((1L, 4)).toDF("doc_id", "n")
    val audio = Multimodal.synthesizePcm(d, "doc_id", "n")
    val m = audio.head.getStruct(1)
    val bytes = m.getAs[Array[Byte]](0)
    assert(bytes.length == 8 && m.getString(1) == "audio/pcm" && m.getInt(4) == 4)
    // independent LE re-parse of the packed bytes
    val parsed = (0 until 4).map(k =>
      (((bytes(2 * k + 1).toInt) << 8) | (bytes(2 * k) & 0xFF)).toShort.toInt)
    assert(parsed == expect, s"$parsed vs $expect")
    val st = Multimodal.audioStats(audio, "doc_id", "media").head
    assert(st.getLong(1) == 4, "n_samples")
    assert(st.getLong(2) == expect.map(v => math.abs(v.toLong)).max, "peak_abs")
    assert(st.getLong(3) == expect.map(v => math.abs(v.toLong)).sum, "sum_abs")
    assert(st.getLong(4) == expect.map(v => v.toLong * v).sum, "sum_sq")
    val zc = expect.sliding(2).count(p => (p(0) >= 0) != (p(1) >= 0))
    assert(st.getLong(5) == zc, "zero_crossings")
    // empty payload is total, not an error
    val empty = Multimodal.audioStats(
      Seq((9L, 0)).toDF("doc_id", "n").transform(Multimodal.synthesizePcm(_, "doc_id", "n")),
      "doc_id", "media").head
    assert(empty.getLong(1) == 0 && empty.getDouble(6) == 0.0)
  }

  test("secondMoments: integer-exact moment matrix matches the naive computation") {
    val raw = Seq(
      Array(0.0015f, -0.0024f, 0.5f),
      Array(0.1f, 0.2f, -0.3f),
      Array(-1.0f, 0.0f, 0.25f))
    val vecs = raw.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val got = Similarity.secondMoments(vecs, "embedding").collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val q = raw.map(_.map(x => math.floor(x.toDouble * 1000).toLong))
    assert(got.size == 6) // d(d+1)/2 for d = 3
    for (i <- 0 until 3; j <- i until 3) {
      val sxy = q.map(v => v(i) * v(j)).sum
      val (si, sj) = (q.map(_(i)).sum, q.map(_(j)).sum)
      assert(got((i, j)) == ((sxy, si, sj, 3L)),
        s"cell ($i,$j): got ${got((i, j))}, want ($sxy,$si,$sj,3)")
    }
    // diagonal cells are sums of squares — never negative
    assert((0 until 3).forall(i => got((i, i))._1 >= 0))
  }

  test("secondMoments: null vectors are dropped from every cell, n counts contributors") {
    val vecs = Seq(
      (0L, Array(0.5f, -0.5f)),
      (1L, null.asInstanceOf[Array[Float]]),
      (2L, Array(0.25f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.secondMoments(vecs, "embedding").collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // q rows: (500, -500) and (250, 1000); the null row contributes nothing
    assert(got.size == 3)
    assert(got((0, 0)) == ((500L * 500 + 250L * 250, 750L, 750L, 2L)))
    assert(got((0, 1)) == ((500L * -500 + 250L * 1000, 750L, 500L, 2L)))
    assert(got((1, 1)) == ((500L * 500 + 1000L * 1000, 500L, 500L, 2L)))
    // all-null corpus: zero output rows, not a crash
    val allNull = Seq((0L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    assert(Similarity.secondMoments(allNull, "embedding").count() == 0L)
  }

  test("kmeansAssign: trained assignment is total, deterministic, and tighter than seeding") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = Similarity.kmeansAssign(e, "vec_id", "embedding", k = 4, sampleN = 16, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a.length == e.count(), "every vector gets exactly one centroid")
    assert(a.forall { case (_, c, d) => c >= 0 && c < 4 && d >= 0 })
    assert(a.map(_._2).distinct.length > 1, "assignment must use more than one cell")
    // 2 Lloyd rounds must not loosen the corpus-wide quantization error
    // vs the raw maximin seeds (iters = 0)
    val seeded = Similarity.kmeansAssign(e, "vec_id", "embedding", k = 4, sampleN = 16, iters = 0)
      .collect().map(_.getLong(2))
    assert(a.map(_._3).sum <= seeded.sum,
      s"training loosened the codebook: ${a.map(_._3).sum} > ${seeded.sum}")
    // deterministic: a second run is bit-identical
    val b = Similarity.kmeansAssign(e, "vec_id", "embedding", k = 4, sampleN = 16, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a.sameElements(b))
  }

  test("bpe_pair_stats: pair counts are vocabulary-weighted adjacent char pairs") {
    // "abab" f=2 -> ab:2(x2 positions? no: positions ab,ba,ab -> ab twice
    //  per word) ; verify the weighted position counting exactly
    val sp = spark
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.LlmQueries.bpePairStats(sp, dir).collect()
    assert(rows.nonEmpty && rows.length <= 30)
    assert(rows.forall(_.getString(0).length == 2), "every pair is exactly 2 chars")
    // ranking is (count desc, pair asc) — verify monotone
    val counts = rows.map(r => (r.getLong(1), r.getString(0)))
    assert(counts.sameElements(counts.sortBy { case (n, p) => (-n, p) }))
    // cross-check the top pair against a direct corpus recount
    val (topN, topPair) = (rows.head.getLong(1), rows.head.getString(0))
    val direct = graft.queries.Tables(sp, dir, "documents")
      .select(explode(split(TextAnalysis.normalizeText(col("text")), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr("transform(sequence(1, length(w) - 1), k -> substring(w, k, 2))")).as("p"))
      .filter(col("p") === topPair).count()
    assert(direct == topN, s"top pair $topPair: catalog $topN vs direct corpus count $direct")
  }

  test("source_mixture_weights: ppm weights are exact floor ratios that nearly sum to 1e6") {
    val rows = graft.queries.LlmQueries.sourceMixtureWeights(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val grand = rows.map(_.getLong(2)).sum
    for (r <- rows) {
      assert(r.getLong(3) == r.getLong(2) * 1000000L / grand, s"weight_ppm mismatch for ${r.getString(0)}")
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000000L)
    }
    val wsum = rows.map(_.getLong(3)).sum
    assert(wsum <= 1000000L && wsum > 1000000L - rows.length,
      s"floor-division ppm weights must sum to (1e6 - #sources, 1e6]: $wsum")
    // sqrt smoothing compresses the spread: max/min ratio must not grow
    val w = rows.map(_.getLong(3).toDouble).filter(_ > 0)
    val sw = rows.map(_.getLong(4).toDouble).filter(_ > 0)
    assert(sw.max / sw.min <= w.max / w.min + 1e-9, "smoothed weights must be flatter")
  }

  test("quality_classifier_trained: the student separates the teacher (agreement floor)") {
    val rows = graft.queries.LlmQueries
      .qualityClassifierTrained(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length > 100)
    val nGood = rows.count(_.getInt(5) == 1)
    val nBad = rows.length - nGood
    // the teacher rule must actually split the corpus — a degenerate
    // single-class "training set" would make the scorer vacuous
    assert(nGood > rows.length / 10 && nBad > rows.length / 10,
      s"teacher labels degenerate: $nGood good / $nBad bad")
    // margins must be non-null (both classes populated => trained
    // weights are real, the fail-loud contract held) and nontrivial
    assert(rows.forall(!_.isNullAt(6)), "margins must not be null")
    assert(rows.map(_.getLong(6)).distinct.length > 10, "margins must vary")
    // PqSpec-style separation floor: the 4-feature linear student must
    // agree with the teacher on >= 90% of docs (measured 98% at sf0.001;
    // the floor leaves room for fixture regeneration, not for drift)
    val agree = rows.count(r => r.getInt(5) == r.getInt(7)).toDouble / rows.length
    assert(agree >= 0.9, s"student/teacher agreement $agree below the 0.9 floor")
  }

  test("substring maximal spans: overlapping windows merge, adjacent windows merge, gaps split") {
    // Shared 12-word block S1..S12 sits at offset 5 in doc 1 and offset 0
    // in doc 2 -> 5 fully-contained w=8 windows each, one merged span.
    // Doc 3 repeats S1..S8 at offsets 0 and 12 (4 junk words between):
    // the two hits are 4 words apart -> two SEPARATE 1-window spans.
    // Doc 4 chains two duplicated 8-blocks back to back (S-block then
    // T-block, T planted in doc 5): hits at pos 0 and pos 8 are exactly
    // ADJACENT (pos == running max end) -> one 16-word span of 2 windows.
    val S = (1 to 12).map(i => s"s$i")
    val T = (1 to 8).map(i => s"t$i")
    val docs = Seq(
      (1L, ((1 to 5).map(i => s"p$i") ++ S ++ (1 to 5).map(i => s"q$i")).mkString(" ")),
      (2L, (S ++ (1 to 10).map(i => s"r$i")).mkString(" ")),
      (3L, (S.take(8) ++ (1 to 4).map(i => s"j$i") ++ S.take(8)).mkString(" ")),
      (4L, (S.take(8) ++ T).mkString(" ")),
      (5L, (T ++ (1 to 8).map(i => s"v$i")).mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.substringDupMaximalSpans(docs, "doc_id", "text", w = 8)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"),
        r.getAs[Int]("span_end"), r.getAs[Int]("span_words"), r.getAs[Long]("n_windows")))
    assert(got.toSeq == Seq(
      (1L, 5, 17, 12, 5L),   // overlap merge: 5 windows, one 12-word span
      (2L, 0, 12, 12, 5L),
      (3L, 0, 8, 8, 1L),     // gap: two disjoint repeats stay two spans
      (3L, 12, 20, 8, 1L),
      (4L, 0, 16, 16, 2L),   // adjacency merge: contiguous duplicated text
      (5L, 0, 8, 8, 1L)), s"got: ${got.toSeq}")
  }

  test("semDedup matches an independent driver-side replay of the keep rule") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = Similarity.semDedup(e, "vec_id", "embedding", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3))).sortBy(_._1)
    assert(got.length == e.count(), "one verdict per vector")
    assert(got.map(_._4).toSet == Set("kept", "dropped"), "both statuses must fire")
    // independent replay: the trained assignment (itself spec-pinned
    // above) + brute-force within-cluster cosine + the paper's
    // keep-farthest-from-centroid rule, all in plain Scala
    val asg = Similarity.kmeansAssign(e, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val vecs = e.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).map(_.toDouble).toArray)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val dropped = (for {
      Array((ia, _, da), (ib, _, db)) <- asg.groupBy(_._2).values.flatMap(_.sortBy(_._1).combinations(2))
      if cos(vecs(ia), vecs(ib)) >= 0.4
    } yield if (da < db || (da == db && ia > ib)) ia else ib).toSet
    val expect = asg.map { case (id, c, d) =>
      (id, c, d, if (dropped(id)) "dropped" else "kept") }.sortBy(_._1)
    assert(got.toSeq == expect.toSeq, "Spark semDedup diverges from the driver-side replay")
  }

  test("shard manifest: xor checksum localizes a dropped doc to its shard") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val full = Sampling.shardManifest(d, "doc_id", "n_chars", nShards = 64)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(full.size == 64, "all 64 shards populated on the fixture")
    // drop one doc; its shard — and ONLY its shard — must change, and
    // the checksum delta must be exactly the dropped id's hash60
    val victim = d.select("doc_id").head().getLong(0)
    val part = Sampling.shardManifest(d.filter(col("doc_id") =!= victim), "doc_id", "n_chars", 64)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val vh = d.filter(col("doc_id") === victim)
      .select(Sampling.hash60(col("doc_id"))).head().getLong(0)
    val vShard = (vh % 64).toInt
    assert((full.keySet ++ part.keySet).forall { s =>
      if (s == vShard) full(s)._1 == part(s)._1 + 1 && (full(s)._3 ^ part(s)._3) == vh
      else full.get(s) == part.get(s)
    }, "only the victim's shard may change, by exactly its hash")
  }

  test("quality_deciles_per_source: 9 monotone thresholds per source") {
    val rows = graft.queries.LlmQueries.qualityDecilesPerSource(spark, "/root/testdata/sf0.001").collect()
    val bySource = rows.groupBy(_.getString(0))
    assert(bySource.nonEmpty)
    for ((src, rs) <- bySource) {
      assert(rs.map(_.getInt(1)).toSeq.sorted == (1 to 9), s"$src: deciles must be 1..9")
      val ts = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(ts.zip(ts.tail).forall { case (a, b) => a <= b }, s"$src: thresholds must be monotone: ${ts.toSeq}")
      assert(ts.forall(t => t >= 0.0 && t <= 1.0), s"$src: quality in [0,1]")
    }
  }

  test("substring budget agrees with the spans view it rolls up") {
    val dir = "/root/testdata/sf0.001"
    val budget = graft.queries.LlmQueries.dedupSubstringBudget(spark, dir).collect()
    val spans = graft.queries.LlmQueries.dedupSubstringSpans(spark, dir)
      .agg(sum("span_words")).collect()(0).getLong(0)
    assert(budget.map(_.getLong(4)).sum == spans,
      "total dup_words across sources must equal the spans view's total")
    for (r <- budget) {
      val (nDocs, affected, total, dup, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6))
      assert(affected <= nDocs && dup <= total, s"bounds: $r")
      assert(ppm == dup * 1000000L / total, s"exact integer ppm: $r")
    }
    assert(budget.map(_.getLong(1)).sum == 500L, "every doc is in some source row")
  }

  test("JSONL round trip is lossless on hostile text") {
    val nasty = Seq(
      (1L, "line one\nline two\ttabbed", "en", "a", 24L),
      (2L, "quotes \" and \\ backslash and {json: \"braces\"}", "en", "a", 46L),
      (3L, "unicode é中😀 and controlchar", "zh", "b", 25L),
      (4L, "", "en", "b", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val back = graft.sources.JsonlSink.roundTrip(nasty)
    val a = nasty.collect().map(_.toSeq).sortBy(_.head.toString)
    val b = back.collect().map(_.toSeq).sortBy(_.head.toString)
    assert(a.toSeq == b.toSeq, s"round trip must be exact: ${b.toSeq}")
    // the CSV dialect survives the same hostile rows: embedded newlines
    // (multiLine), RFC-4180 doubled quotes, backslashes, empty strings
    val csv = graft.sources.JsonlSink.roundTripCsv(nasty)
    val c = csv.collect().map(_.toSeq).sortBy(_.head.toString)
    assert(a.toSeq == c.toSeq, s"CSV round trip must be exact: ${c.toSeq}")
    val orc = graft.sources.JsonlSink.roundTripOrc(nasty)
    val o = orc.collect().map(_.toSeq).sortBy(_.head.toString)
    assert(a.toSeq == o.toSeq, s"ORC round trip must be exact: ${o.toSeq}")
  }

  test("decimatePcm keeps exactly the even-index samples") {
    val d = Seq((7L, 9)).toDF("doc_id", "n")
    val full = Multimodal.audioStats(
      Multimodal.synthesizePcm(d, "doc_id", "n"), "doc_id", "media").collect()(0)
    val half = Multimodal.audioStats(
      Multimodal.decimatePcm(Multimodal.synthesizePcm(d, "doc_id", "n"),
        "doc_id", "media", factor = 2), "doc_id", "media").collect()(0)
    assert(half.getLong(1) == 5L, "ceil(9/2) samples survive")
    // replay the closed form over even k only
    val vs = (0 until 9 by 2).map(k => Math.floorMod(7L * 7919 + k * 104729L, 65536L) - 32768L)
    assert(half.getLong(2) == vs.map(math.abs).max, "peak over even samples")
    assert(half.getLong(3) == vs.map(math.abs).sum, "L1 over even samples")
    assert(half.getLong(4) == vs.map(v => v * v).sum, "L2 over even samples")
    assert(full.getLong(1) == 9L)
  }

  test("quality_gates_report: conjunction bound and per-rule counts hold") {
    val rows = graft.queries.LlmQueries.qualityGatesReport(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.map(_.getLong(1)).sum == 500L)
    for (r <- rows) {
      val (n, passes) = (r.getLong(1), (2 to 6).map(r.getLong))
      val all = r.getLong(7)
      assert(passes.forall(p => p >= 0 && p <= n), s"rule counts within [0,n]: $r")
      assert(all <= passes.min, s"pass_all cannot exceed any single rule: $r")
    }
  }

  test("lang_id_confusion is the exact rollup of the per-doc detector against labels") {
    val dir = "/root/testdata/sf0.001"
    val conf = graft.queries.LlmQueries.langIdConfusion(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val perDoc = graft.queries.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.langIdHeuristic(col("text")).as("g")).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val expected = perDoc.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(conf == expected, s"confusion cells diverged: $conf vs $expected")
    assert(conf.values.sum == 500L)
  }

  test("mixture_plan_sample fills each source's ppm quota with the lowest md5 ranks") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.LlmQueries.mixturePlanSample(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val perSource = rows.groupBy(_._1).view.mapValues(_.length).toMap
    // replay the quota arithmetic independently
    val docs = graft.queries.Tables(spark, dir, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val tokens = docs.groupBy(_._1).view
      .mapValues(_.map(_._2.split(" +").length.toLong).sum).toMap
    val isq = tokens.view.mapValues(t => math.floor(math.sqrt(t.toDouble)).toLong).toMap
    val gi = isq.values.sum
    val quota = isq.view.mapValues(q => q * 1000000L / gi * 200L / 1000000L).toMap
    for ((src, k) <- quota) assert(perSource.getOrElse(src, 0) == k.toInt,
      s"$src quota: expected $k got ${perSource.getOrElse(src, 0)}")
    // ranks are 1..k per source (the k lowest md5 ranks, no gaps)
    for ((src, rs) <- rows.groupBy(_._1))
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length), s"$src ranks must be 1..k")
  }

  test("media_video_scenes matches a driver-side closed-form replay") {
    val rows = graft.queries.LlmQueries.mediaVideoScenes(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 500)
    for ((id, nFrames, nCuts, firstCut) <- rows) {
      val grays = (0 until (2 + id % 4).toInt).map(k => (id * 13 + k * 17) % 256)
      val cuts = grays.zip(grays.tail).zipWithIndex
        .collect { case ((a, b), i) if math.abs(b - a) > 100 => i + 1 }
      assert(nFrames == grays.length, s"doc $id frame count")
      assert(nCuts == cuts.length, s"doc $id cut count")
      assert(firstCut == cuts.headOption.getOrElse(-1), s"doc $id first cut")
    }
  }

  test("minhash estimator error concentrates near zero and covers every candidate pair") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.LlmQueries.minhashEstError(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    for ((b, n, over) <- rows) assert(over <= n && b >= 0, s"bucket sanity: ($b,$n,$over)")
    val total = rows.map(_._2).sum
    val near = rows.filter(_._1 <= 3).map(_._2).sum
    assert(near * 10 >= total * 9,
      s"k=32 theory: ~90% of pairs within 3/32 abs error (got $near/$total)")
    val nPairs = graft.queries.LlmQueries.ngramJaccardPairs(spark, dir).count()
    assert(total == nPairs, "the audit must cover exactly the candidate-pair set")
  }

  test("bigramLogProb: closed-form check on a corpus with known pair counts") {
    // corpus: "a b a b" and "a b c". bigram stream: (a,b)x2+(a,b) -> c2(a,b)=3,
    // c2(b,a)=1, c2(b,c)=1; c1(a)=3, c1(b)=2.
    // doc 1 bigrams: (a,b),(b,a),(a,b) -> pair lgs 1+0+1=2, prev lgs 1+1+1=3 -> cond -1
    // doc 2 bigrams: (a,b),(b,c)      -> pair lgs 1+0=1,  prev lgs 1+1=2   -> cond -1
    val df = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toList.sorted
    assert(got == List((1L, 3L, 2L, 3L, -1L), (2L, 2L, 1L, 2L, -1L)),
      s"bigram conditional-log decomposition diverged: $got")
    // a single-token doc contributes no rows
    val one = TextAnalysis.bigramLogProb(Seq((9L, "solo")).toDF("doc_id", "text"), "doc_id", "text")
    assert(one.count() == 0)
  }

  test("bigramLogProb matches a driver-side replay on random small corpora") {
    // property-style differential over 30 random corpora from a tiny
    // vocabulary (dense bigram collisions — the interesting regime)
    val rnd = new scala.util.Random(12012)
    val vocab = Vector("a", "b", "c", "dd")
    for (trial <- 1 to 30) {
      val corpus = (1L to (2 + rnd.nextInt(5)).toLong).map { id =>
        (id, Seq.fill(rnd.nextInt(7))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val docs = corpus.map { case (id, t) =>
        id -> t.trim.replaceAll(" +", " ").split(" ").filter(_.nonEmpty).toSeq
      }.toMap
      val bg = docs.toSeq.flatMap { case (id, ws) => ws.zip(ws.drop(1)).map(p => (id, p)) }
      val c2 = bg.groupBy(_._2).view.mapValues(_.size).toMap
      val c1 = bg.groupBy(_._2._1).view.mapValues(_.size).toMap
      def lg(c: Int) = 63 - java.lang.Long.numberOfLeadingZeros(c.toLong)
      val expected = bg.groupBy(_._1).view.mapValues { ps =>
        val pairs = ps.map(_._2)
        (pairs.size.toLong, pairs.map(p => lg(c2(p)).toLong).sum,
          pairs.map(p => lg(c1(p._1)).toLong).sum)
      }.toMap
      val got = TextAnalysis.bigramLogProb(corpus.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == expected, s"trial $trial diverged\ncorpus=$corpus\ngot=$got\nexp=$expected")
    }
  }

  test("bigramLogProb penalizes rare continuations of common prefixes") {
    // The conditional score's discrimination target (CCNet): a COMMON
    // prefix followed by a RARE continuation is improbable text. 40
    // coherent docs make 'the' a frequent prefix (c1=82, lg 6); the
    // anomaly pairs it with singleton continuations (c2=1, lg 0), so
    // each such bigram contributes -6 and the doc means -3 vs the
    // coherent docs' -0.4. (A doc of globally-unique tokens scores 0 —
    // every prefix is its own only context; that absolute-rarity axis
    // belongs to the unigram rung, not this one.)
    val coherent = (1L to 40L).map(i => (i, "the cat sat on the mat"))
    val anomaly = Seq((99L, "the zebra jumped the qux"))
    val df = (coherent ++ anomaly).toDF("doc_id", "text")
    val rows = TextAnalysis.bigramLogProb(df, "doc_id", "text")
      .select("id", "mean_cond").collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(rows(1L) == -0.4, s"coherent mean_cond: ${rows(1L)}")
    assert(rows(99L) == -3.0, s"anomaly mean_cond: ${rows(99L)}")
    assert(rows(1L) > rows(99L) + 2.0, "clear separation between coherent and anomalous")
  }

  test("annIvfRecallCurve: recall is monotone in nProbe and bounded by k per query") {
    val rows = graft.queries.LlmQueries.annIvfRecallCurve(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L))
    for ((p, nExact, hits, pct) <- rows) {
      assert(nExact == 50L && hits >= 0 && hits <= nExact, s"p=$p bounds")
      assert(pct == hits * 100L / nExact, s"p=$p integer recall arithmetic")
    }
    val recalls = rows.map(_._3)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"probing more cells can only add candidates: ${recalls.toSeq}")
  }

  test("annRecallAudit: recall is 100 when the approximate side IS the exact side") {
    // On the fixture, brute-force and any candidate set that contains the
    // true top-5 agree; here we check the audit's arithmetic directly:
    // n_hits <= k, recall_pct = n_hits*100 div k, and every query appears.
    val rows = graft.queries.LlmQueries.annRecallAudit(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == (0L to 9L), s"one audit row per query: ${rows.toSeq}")
    for ((q, k, hits, pct) <- rows) {
      assert(k == 5L, s"q$q: brute side must return exactly k rows")
      assert(hits >= 0L && hits <= k, s"q$q: hits in [0,k]")
      assert(pct == hits * 100L / k, s"q$q: integer recall arithmetic")
    }
  }
  test("epochSample: epochs within a pass are pairwise disjoint, sized to quota, deterministic") {
    // 10 docs per source, quota 3 -> passLen = 3: epochs 0..2 form pass
    // 0 (disjoint 3-slices of one permutation), epoch 3 starts pass 1
    val docs = (0 until 10).flatMap(i =>
      Seq((100L + i, "a"), (200L + i, "b"))).toDF("doc_id", "source")
    val quotas = Seq(("a", 3L), ("b", 3L)).toDF("source", "target_k")
    val out = Sampling.epochSample(docs, "source", "doc_id", quotas, epochs = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // every epoch draws exactly quota docs per source, ranks 1..3
    (0L to 3L).foreach { e =>
      Seq("a", "b").foreach { src =>
        val rows = out.filter(r => r._1 == e && r._2 == src)
        assert(rows.length == 3, s"epoch $e source $src must fill its quota: ${rows.toSeq}")
        assert(rows.map(_._4).sorted.toSeq == Seq(1L, 2L, 3L))
      }
    }
    // pass 0 (epochs 0..2) is sampling WITHOUT replacement: 9 distinct
    // docs per source, no overlap between its epochs
    Seq("a", "b").foreach { src =>
      val pass0 = out.filter(r => r._1 <= 2 && r._2 == src).map(_._3)
      assert(pass0.length == 9 && pass0.distinct.length == 9,
        s"pass-0 epochs must be disjoint for $src: ${pass0.toSeq.sorted}")
    }
    // epoch 3 re-permutes (pass 1): it may overlap pass 0, but is an
    // exact 3-slice of the fresh permutation -- and the whole output is
    // a pure function of (id, epoch): a second run is identical
    val again = Sampling.epochSample(docs, "source", "doc_id", quotas, epochs = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet == again.toSet)
  }

  test("epochSample: quota above group size degrades to the whole group every epoch") {
    val docs = (0 until 4).map(i => (i.toLong, "a")).toDF("doc_id", "source")
    val quotas = Seq(("a", 9L)).toDF("source", "target_k")
    val out = Sampling.epochSample(docs, "source", "doc_id", quotas, epochs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    (0L to 1L).foreach { e =>
      assert(out.filter(_._1 == e).map(_._2).sorted.toSeq == Seq(0L, 1L, 2L, 3L),
        s"epoch $e must contain the whole undersized group")
    }
  }
  test("encodingHygiene: hand-computed counts, verified repair, FFFD never stripped") {
    val df = Seq(
      ("a", "clean text"),
      ("a", "bell\u0007 and\u001f tab\tkept"),     // 2 control; \t NOT counted
      ("b", "zw\u200bjoin\u200d bom\ufeff"),        // 3 zero-width/BOM
      ("b", "lost\ufffdbytes\ufffd"),                 // 2 replacement chars
      ("b", "\u0000mixed\u200c\ufffd")               // 1 control + 1 zw + 1 rep
    ).toDF("source", "text")
    val out = TextAnalysis.encodingHygiene(df, "source", "text")
      .orderBy("source").collect()
    val a = out(0); val b = out(1)
    assert(a.getLong(a.fieldIndex("n_docs")) == 2 &&
      a.getLong(a.fieldIndex("docs_flagged")) == 1 &&
      a.getLong(a.fieldIndex("n_control")) == 2 &&
      a.getLong(a.fieldIndex("n_zerowidth")) == 0 &&
      a.getLong(a.fieldIndex("chars_removed")) == 2 &&
      a.getLong(a.fieldIndex("residual_bad")) == 0, a.toString)
    assert(b.getLong(b.fieldIndex("n_docs")) == 3 &&
      b.getLong(b.fieldIndex("docs_flagged")) == 3 &&
      b.getLong(b.fieldIndex("n_control")) == 1 &&
      b.getLong(b.fieldIndex("n_zerowidth")) == 4 &&
      b.getLong(b.fieldIndex("n_replacement")) == 3 &&
      // removal strips control + zero-width but NEVER the replacement
      // chars (each marks already-lost bytes)
      b.getLong(b.fieldIndex("chars_removed")) == 5 &&
      b.getLong(b.fieldIndex("residual_bad")) == 0, b.toString)
  }
  test("NfcNormalize: decomposed forms compose; NFC text passes through unchanged") {
    import graft.functions.TextFunctions
    val rows = Seq(
      ("e\u0301", "\u00e9"),           // e + combining acute -> precomposed
      ("nai\u0308ve", "na\u00efve"),   // i + combining diaeresis
      ("plain ascii", "plain ascii"),
      ("\u00e9d\u00e9j\u00e0", "\u00e9d\u00e9j\u00e0") // already NFC
    ).toDF("raw", "want")
      .select(TextFunctions.nfcNormalize(col("raw")).as("got"), col("want"))
      .collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1),
      s"'${r.getString(0)}' != '${r.getString(1)}'"))
    // the normalization actually changes hashes: the motivating failure
    val Seq(hRaw, hNfc) = Seq("e\u0301").toDF("t")
      .select(md5(col("t").cast("binary")), md5(TextFunctions.nfcNormalize(col("t")).cast("binary")))
      .collect().head.toSeq.map(_.toString)
    assert(hRaw != hNfc, "decomposed and NFC forms must hash apart (why the pass exists)")
  }

  test("leakage-safe split: no near-dup component straddles train/val; the naive split does") {
    // sf0.01: large enough that the planted near-dup structure gives the
    // naive per-doc split real straddles to contrast against
    val dir = "/root/testdata/sf0.01"
    val safe = graft.SparkEntry.queries("split_leakage_safe")(spark, dir)
    assert(safe.count() == 500, "split must be total over the corpus")
    val safeStraddle = safe.groupBy("component")
      .agg(countDistinct("split").as("ns")).filter(col("ns") > 1).count()
    assert(safeStraddle == 0, "a component with members on both sides is leakage by definition")
    val naive = graft.SparkEntry.queries("split_train_val")(spark, dir)
      .withColumnRenamed("split", "nsplit")
    val naiveStraddle = safe.select("doc_id", "component").join(naive, "doc_id")
      .groupBy("component").agg(countDistinct("nsplit").as("ns"))
      .filter(col("ns") > 1).count()
    assert(naiveStraddle > 0,
      "the naive split must actually leak on this fixture, else the contrast is vacuous")
    // singleton components (component id = own doc id) split exactly as
    // the naive rule — the two splits differ ONLY where leakage lived
    val singletonDiff = safe
      .join(naive, "doc_id")
      .filter(col("component") === col("doc_id"))
      .filter(col("split") =!= col("nsplit")).count()
    assert(singletonDiff == 0, "singleton docs must split identically under both rules")
  }
}
