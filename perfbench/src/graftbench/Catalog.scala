package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.functions.{HashFunctions, PqFunctions, TextFunctions, VectorFunctions}
import graft.llm.Bpe
import graft.queries.Tables

/** The catalog side of the benchmark: LLM training-data queries, the
  * expression micro-selects and streaming gates of the `pipeline`
  * workload. It reads a copy of the fixture tables made fresh by every
  * set-up, so the library's per-directory caches start cold in each. */
object Catalog {

  /** One query per pipeline module, (module, catalog name). */
  val pipelineQueries: Seq[(String, String)] = Seq(
    "text" -> "pii_redaction",
    "dedup" -> "dedup_minhash",
    "similarity" -> "ann_lsh",
    "retrieval" -> "retrieval_mmr",
    "tokenizer" -> "bpe_encode",
    "sampling" -> "decontaminate_docs",
    "multimodal" -> "media_decode_png",
    "export" -> "export_jsonl_roundtrip")

  /** Streaming gates: stateful dedup, and the GroupState ordered fold
    * across micro-batches. Each runs its whole stream to a memory sink
    * while its DataFrame is built. */
  val streamingGates: Seq[String] = Seq("stream_dedup_docs", "stream_multibatch_balance")

  val tables: Seq[String] = Seq("documents", "embeddings", "events")

  def copyFixtures(from: String, to: Path): String = {
    Files.createDirectories(to)
    tables.foreach { t =>
      Files.copy(Paths.get(from, s"$t.parquet"), to.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    to.toString
  }

  def catalogOp(layer: String, group: String, name: String, spark: SparkSession, dir: String): Op = {
    val fn = SparkEntry.queries(name)
    Op(name, layer, group, 0L, () => fn(spark, dir))
  }
}

/** Frames and parameters for the expression micro-selects: the
  * documents and embeddings tables replicated `rep` times and cached. */
final class ExpressionInputs(spark: SparkSession, dir: String, rep: Int) {
  private val docs = Tables(spark, dir, "documents")
  private val emb = Tables(spark, dir, "embeddings")
  private val reps = spark.range(rep).toDF("rep")

  /** k-means centroids: the first 32 vectors, quantized as the library does */
  val cents: Array[Array[Long]] = emb.orderBy("vec_id").limit(32).collect()
    .map(r => r.getSeq[Float](r.fieldIndex("embedding")).map(x => math.floor(x * 1000.0).toLong).toArray)
  /** 8 subspaces × 16 centroids × 8 dimensions, from the first 16 vectors. */
  val codebook: Seq[Seq[Seq[Long]]] =
    (0 until 8).map(m => (0 until 16).map(c => cents(c).slice(m * 8, m * 8 + 8).toSeq))
  val merges: Seq[(String, String)] = Bpe.train(docs, "text").merges

  private def keep(df: DataFrame): DataFrame = { val p = df.persist(StorageLevel.MEMORY_ONLY); p.count(); p }

  val docsX: DataFrame = keep(docs.crossJoin(reps)
    .select((col("doc_id") * rep + col("rep")).as("id"), col("text"), split(lower(col("text")), " ").as("words"))
    .withColumn("sh", HashFunctions.shingleHash60(col("words"), 3)))
  val embX: DataFrame = keep(emb.crossJoin(reps)
    .select((col("vec_id") * rep + col("rep")).as("id"), col("embedding"), reverse(col("embedding")).as("other"))
    .withColumn("codes", PqFunctions.pqEncode(col("embedding"), codebook))
    .withColumn("lut", PqFunctions.pqLut(col("other"), codebook)))
  /** 100-row single-partition slices for the small-call loop */
  val docsS: DataFrame = keep(docsX.orderBy("id").limit(100).coalesce(1))
  val embS: DataFrame = keep(embX.orderBy("id").limit(100).coalesce(1))
  private val docRows: Long = docsX.count()
  private val embRows: Long = embX.count()

  def release(): Unit = Seq(docsX, embX, docsS, embS).foreach(_.unpersist(true))

  /** One micro-select per builder over the replicated frames. */
  def ops: Seq[Op] = builders(docsX, embX, "expr.", docRows, embRows, identity)

  /** The same builders over the 100-row slices. */
  def smallOps: Seq[Op] = builders(docsS, embS, "small.expr.", 100, 100, _ => "small")

  private def builders(docs: DataFrame, emb: DataFrame, prefix: String, nd: Long, ne: Long,
      group: String => String): Seq[Op] = {
    def d(name: String, c: => org.apache.spark.sql.Column) =
      Op(prefix + name, "expression", group(name), nd, () => docs.select(col("id"), c.as("r")))
    def e(name: String, c: => org.apache.spark.sql.Column) =
      Op(prefix + name, "expression", group(name), ne, () => emb.select(col("id"), c.as("r")))
    Seq(
      d("minHash60", HashFunctions.minHash60(col("sh"), 32)),
      d("simHashBits", HashFunctions.simHashBits(col("words"))),
      d("shingleHash60", HashFunctions.shingleHash60(col("words"), 3)),
      d("md5Hash60", HashFunctions.md5Hash60(col("text"))),
      d("cdcSpans", HashFunctions.cdcSpans(col("text"), 16, 32)),
      d("ngramStats", TextFunctions.ngramStats(col("words"), 2)),
      d("nfcNormalize", TextFunctions.nfcNormalize(col("text"))),
      e("cosineSim", VectorFunctions.cosineSim(col("embedding"), col("other"))),
      e("kmeansArgmin", VectorFunctions.kmeansArgmin(col("embedding"), cents)),
      e("pqAdc", PqFunctions.pqAdc(col("codes"), col("lut"))),
      d("bpeEncode", Bpe.encode(col("text"), merges)))
  }
}
