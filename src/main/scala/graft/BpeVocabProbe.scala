package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Bpe

/** VOCAB-AXIS SCALE PROBE for the BPE tokenizer — the data axis was
  * proven by [[ScaleProbe]] (`bpe_encode` at 10×); this probes the
  * OTHER axis a production tokenizer grows along: the merge count M
  * (real vocabularies are ~32k merges, the correctness gate trains 20).
  *
  * The fixture corpus cannot train large vocabularies (31 distinct
  * words — pairs exhaust after ~100 merges), so the probe synthesizes a
  * deterministic RNG-free pseudo-word corpus: word w_k is a substring
  * of md5(k) hex, giving a 16-symbol alphabet, thousands of distinct
  * words, and heavy Zipf-free repetition via k = (doc·31 + j) mod V.
  * That supports training 4 000+ real merges with the incremental
  * trainer, and the probe then times the DISTRIBUTED encode at merge
  * PREFIXES M ∈ {20, 1000, 4000} of one trained list:
  *
  *  - `heap` rows: the production pair-heap expression
  *    ([[graft.functions.BpeEncode]]) — the claim under test is
  *    throughput ~flat in M (cost O(len·log len) per word, M only
  *    touches the hash-table build);
  *  - `chain` rows: the literal replace-chain twin at M ∈ {20, 100,
  *    400} — its linear-in-M slope is the regime the heap encoder
  *    exists to escape (the chain at 4 000 would also nest a
  *    4 000-deep expression tree — un-analyzable, which is itself the
  *    point).
  *
  * Also times TRAINING at each M (incremental vs the O(V·M·len)
  * reference recount at the sizes where the reference is feasible).
  *
  * Usage: `sbt "runMain graft.BpeVocabProbe [nDocs] [vocab]"`. Prints
  * `BPEVOCAB\tkind\tM\tseconds\ttokens` TSV lines, recorded in
  * SCALE.md.
  */
object BpeVocabProbe {

  /** Deterministic corpus: `nDocs` docs × `wordsPerDoc` pseudo-words
    * drawn from a `vocab`-sized md5-derived vocabulary. Word lengths
    * 8..23 hex chars — realistic subword-train material. */
  def corpus(s: SparkSession, nDocs: Int, wordsPerDoc: Int, vocab: Int): DataFrame = {
    val words = (0 until wordsPerDoc).map { j =>
      val k = pmod(col("id") * lit(31) + lit(j * 7 + 1), lit(vocab))
      substring(md5(concat(lit("w"), k.cast("string"))), 1, 8 + (j % 16))
    }
    s.range(nDocs).select(col("id").as("doc_id"), concat_ws(" ", words: _*).as("text"))
      .repartition(s.sparkContext.defaultParallelism)
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(20000)
    val vocab = args.lift(1).map(_.toInt).getOrElse(6000)
    val spark = LocalSession()

    val docs = corpus(spark, nDocs, 120, vocab).localCheckpoint(true)
    println(s"BPEVOCAB\tcorpus\t-\t-\t${docs.count()} docs")

    def time[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }

    // ---- training: incremental trainer at growing M (one train at the
    // largest M would do for encode, but the per-M times ARE the
    // trainer's own vocab-axis measurement) ----
    val wfRows = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(desc("f"), asc("w")).limit(vocab).collect()
      .map(r => (r.getString(0).map(_.toString).toVector, r.getLong(1)))
    var trained: Seq[(String, String)] = Seq.empty
    Seq(20, 1000, 4000, 32000).filter(_ <= vocab * 8).foreach { m =>
      val (tTrain, merges) = time(Bpe.trainMerges(wfRows.map(identity), m))
      require(merges.size == m, s"pairs exhausted at ${merges.size} < $m")
      println(f"BPEVOCAB\ttrain_incremental\t$m\t$tTrain%.2f\t-")
      trained = merges
    }
    // reference recount trainer where feasible (its O(V·M·len) slope)
    Seq(20, 200).foreach { m =>
      val (tRef, _) = time(Bpe.trainMergesReference(wfRows.map(identity), m))
      println(f"BPEVOCAB\ttrain_reference\t$m\t$tRef%.2f\t-")
    }

    // ---- distributed encode: heap expression, M prefixes ----
    def encTime(c: org.apache.spark.sql.Column): (Double, Long) = {
      val q = docs.select(sum(size(c)).as("n"))
      q.collect() // warm
      val (t, rows) = time(q.collect())
      (t, rows.head.getLong(0))
    }
    Seq(20, 1000, 4000, 32000).filter(_ <= trained.size).foreach { m =>
      val (t, n) = encTime(Bpe.encode(col("text"), trained.take(m)))
      println(f"BPEVOCAB\tencode_heap\t$m\t$t%.2f\t$n")
    }
    // tokenIds at the largest vocab: the id map ships as a typedLit
    // plan literal (4k merges + 16-symbol alphabet) — the probe shows
    // the literal-map lookup stays in the same regime as encode
    Seq(20, 4000, 32000).filter(_ <= trained.size).foreach { m =>
      val tr = Bpe.Trained(('0' to '9').map(_.toString) ++ ('a' to 'f').map(_.toString),
        trained.take(m))
      val q = docs.select(sum(size(Bpe.tokenIds(
        Bpe.encode(col("text"), tr.merges), tr))).as("n"))
      q.collect()
      val (t, _) = time(q.collect())
      println(f"BPEVOCAB\tencode_ids\t$m\t$t%.2f\t${tr.vocab.size} vocab")
    }

    // chain twin at the sizes where a chained plan is even reasonable —
    // past a few hundred merges the M-deep replace nest overflows the
    // analyzer stack, which IS the measurement: the chain cannot reach
    // production vocab sizes at any speed
    Seq(20, 100, 400).foreach { m =>
      try {
        val (t, n) = encTime(Bpe.encodeChain(col("text"), trained.take(m)))
        println(f"BPEVOCAB\tencode_chain\t$m\t$t%.2f\t$n")
      } catch {
        case _: StackOverflowError =>
          println(s"BPEVOCAB\tencode_chain\t$m\tSTACK_OVERFLOW\t-")
      }
    }
    spark.stop()
  }
}
