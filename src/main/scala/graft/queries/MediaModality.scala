package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

import graft.llm.Dedup

/** One media-signature family — only what differs between image,
  * audio, video and (caption, image) near-dup: how a params frame
  * (doc_id, p, nx, ny) becomes signatures, how those band, what a
  * banded candidate must pass to count, and where the persisted band
  * index lives. Every lifecycle stage is written once over a value of
  * this type: pairs and clusters ([[LlmQueries.mediaPairs]]), the
  * persisted band index ([[LlmQueries.sigIndexTable]]), the day-2 probe
  * and its forget mask ([[LlmQueries.incrementalProbe]]), the
  * `forget_pipeline_report` surfaces and the stream door
  * ([[StreamingQueries]]' `mediaDoor`). A new modality is one more
  * value; its oracles stay per-query SQL.
  *
  * @param name  catalog prefix: `<name>_dedup_incremental`, `<name>_forget`
  * @param kind  [[Artifacts]] kind of the persisted band index
  * @param table bucketed-table prefix of that index
  * @param members the signature columns the index carries as `c_<member>`
  * @param spreadAt where the single-file input spreads before the synth */
private[graft] sealed abstract class MediaModality(val name: String, val kind: String,
    val table: String, val members: Seq[String], val spreadAt: MediaModality.SpreadAt) {
  /** (id, members…) of a params frame whose rows' source corpus ids
    * are `src` (a column over the row's own `doc_id`). */
  def sigs(params: DataFrame, src: Column): DataFrame
  /** (id, members…, bucket): every band row of a signature frame. */
  def bandKeys(sigs: DataFrame): DataFrame
  /** A banded candidate's verify predicate; `a`/`b` name a member
    * column on either side. */
  def verify(a: String => Column, b: String => Column): Column
  /** The verified corpus pairs (id_a, id_b, scores…). */
  def pairs(sigs: DataFrame, maxBucket: Int): DataFrame
  /** The keys the stream door deduplicates a params stream on:
    * narrow maps only, and nothing that depends on arrival order. */
  def streamKeys(params: DataFrame): DataFrame
}

private[graft] object MediaModality {
  /** Where a family spreads its single-file input
    * ([[LlmQueries.spreadForCompute]]) — each family keeps the placement
    * its plans were pinned with: the documents before the params
    * projection, the params frame, or no spread at all. */
  sealed trait SpreadAt
  object SpreadAt {
    case object Docs extends SpreadAt
    case object Params extends SpreadAt
    case object Never extends SpreadAt
  }

  /** A '0'/'1' 56-bit perceptual signature family: 4×14-bit bands,
    * exact Hamming verify. `synth` maps params to (doc_id, sig). */
  private final class BitModality(name: String, kind: String, table: String,
      spreadAt: SpreadAt, synth: DataFrame => DataFrame, maxHamming: Int)
      extends MediaModality(name, kind, table, Seq("sig"), spreadAt) {
    def sigs(params: DataFrame, src: Column): DataFrame =
      synth(params).withColumnRenamed("doc_id", "id")
    def bandKeys(sigs: DataFrame): DataFrame =
      Dedup.bitBandKeys(sigs, "id", "sig", nBits = 56, bands = 4)
    def verify(a: String => Column, b: String => Column): Column =
      Dedup.hammingBits(a("sig"), b("sig")).cast("int") <= maxHamming
    def pairs(sigs: DataFrame, maxBucket: Int): DataFrame =
      Dedup.bitSignaturePairs(sigs, "id", "sig",
        nBits = 56, bands = 4, maxHamming = maxHamming, maxBucket = maxBucket)
    def streamKeys(params: DataFrame): DataFrame = synth(params).select(col("sig"))
  }

  /** dHash of the synthesized 8×8 BMPs; Hamming ≤ 4 (row-confined
    * noise — see [[LlmQueries.mediaDedupFeatures]]). */
  val Image: MediaModality = new BitModality("media", "media_sigs", "graft_msig_b",
    SpreadAt.Params, LlmQueries.mediaSigsFor, maxHamming = 4)

  /** Energy-delta fingerprints of the synthesized PCM; Hamming ≤ 2. */
  val Audio: MediaModality = new BitModality("media_audio", "audio_sigs", "graft_asig_b",
    SpreadAt.Never, LlmQueries.audioSigsForParams, maxHamming = 2)

  /** Per-video majority dHash of the synthesized GIFs; Hamming ≤ 2. */
  val Video: MediaModality = new BitModality("media_video", "video_sigs", "graft_vsig_b",
    SpreadAt.Docs, LlmQueries.videoSigsForParams, maxHamming = 2)

  /** (caption MinHash, image dHash) composite: 8 text bands × 4 image
    * bands; est. Jaccard ≥ 0.3 AND Hamming ≤ 4. */
  val Caption: MediaModality = new MediaModality(
      "media_caption", "caption_sigs", "graft_csig_b", Seq("tsig", "isig"), SpreadAt.Params) {
    def sigs(params: DataFrame, src: Column): DataFrame = LlmQueries.captionSigFrame(params, src)
    def bandKeys(sigs: DataFrame): DataFrame = Dedup.crossModalBandKeys(sigs, "id", "tsig", "isig")
    def verify(a: String => Column, b: String => Column): Column =
      Dedup.signatureSimilarity(a("tsig"), b("tsig")) >= 0.3 &&
        Dedup.hammingBits(a("isig"), b("isig")).cast("int") <= 4
    def pairs(sigs: DataFrame, maxBucket: Int): DataFrame =
      Dedup.crossModalPairs(sigs, "id", "tsig", "isig",
        k = 32, textBands = 8, nBits = 56, bitBands = 4,
        threshold = 0.3, maxHamming = 4, maxBucket = maxBucket)
    def streamKeys(params: DataFrame): DataFrame = LlmQueries.captionStreamKeys(params)
  }

  val all: Seq[MediaModality] = Seq(Image, Caption, Audio, Video)
}
