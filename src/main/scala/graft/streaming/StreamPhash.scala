package graft.streaming
import graft.core.PlanCapture.CheckpointOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.{Dedup, Multimodal}

/** Streaming PERCEPTUAL dedup: image batches are dHash-fingerprinted
  * ([[Multimodal.dhash64]] — real codec decode) and probed against the
  * accumulated corpus's persisted fingerprint-band table, then banded
  * within themselves — the [[StreamDedup]] incremental discipline
  * applied to the multimodal family. State is ONE table: (doc_id, fp,
  * band_idx, band_key) BUCKETED by (band_idx, band_key) and partitioned
  * by batch, so the corpus side of every probe joins exchange-free and
  * per-batch work is O(batch). All writes are batch-keyed overwrites
  * (replay-idempotent under [[MicroBatch]]'s at-least-once), and a batch
  * probes only STRICTLY EARLIER batches.
  *
  * The test fixture derives payloads from doc ids
  * ([[Multimodal.syntheticPatternImages]]); a production stream lands
  * real image bytes — the hash pass is codec-real either way.
  */
object StreamPhash {

  /** Band table rows for a (doc_id, fp) frame — the 4 x 16-bit cut
    * [[Dedup.fingerprintNearDup]] blocks on, with `band_key` as the
    * band VALUE (a long, not minhash's string key).
    */
  def bandsOf(hashed: DataFrame): DataFrame =
    hashed.select(col("doc_id"), col("fp"),
      posexplode(array((0 until Dedup.SimhashBands).map(k =>
        shiftright(col("fp"), Dedup.SimhashBandBits * k)
          .bitwiseAND(lit(Dedup.SimhashBandMask))): _*))
        .as(Seq("band_idx", "band_key")))

  /** Default hasher: the image path (synthetic pattern PNGs -> real
    * dHash decode). Any 64-bit fingerprint plugs in — [[audioHasher]]
    * gives the WAV/energy-delta twin — because everything downstream
    * (banding, probe join, Hamming verify, batch-keyed state) only
    * sees (doc_id, fp).
    */
  val imageHasher: DataFrame => DataFrame = batch =>
    Multimodal.dhash64(Multimodal.syntheticPatternImages(batch))
      .select(col("doc_id"), col("dhash").as("fp"))

  /** Audio twin: multi-amplitude WAV renditions -> real javax.sound
    * decode -> 64-bit energy-delta fingerprint (m07's batch pipeline).
    */
  val audioHasher: DataFrame => DataFrame = batch =>
    Multimodal.audioFingerprint64(Multimodal.syntheticAudioRenditions(batch))
      .select(col("doc_id"), col("fp"))

  def run(spark: SparkSession, landingDir: String, stateDir: String,
          outDir: String, checkpointDir: String,
          maxHamming: Int = 4, buckets: Int = 8,
          hasher: DataFrame => DataFrame = imageHasher): StreamingQuery = {
    MicroBatch.run(spark, StreamDedup.docSchema, landingDir, checkpointDir) {
      (batch0, batchId) =>
        processBatch(spark, batch0, batchId, stateDir, outDir, maxHamming,
          buckets, hasher)
    }
  }

  /** One idempotent micro-batch: hash, probe batches `< batchId`, band
    * within itself, overwrite this batch's partitions.
    */
  def processBatch(spark: SparkSession, batch0: DataFrame, batchId: Long,
                   stateDir: String, outDir: String,
                   maxHamming: Int = 4, buckets: Int = 8,
                   hasher: DataFrame => DataFrame = imageHasher): Unit = {
    val batch = batch0.filter(col("doc_id").isNotNull)
    val hashed = hasher(batch)
      .select(col("doc_id"), col("fp"))
      .cpGuard()
    val bands = BatchState.open(spark, s"$stateDir/bands",
      Seq("doc_id" -> "BIGINT", "fp" -> "BIGINT",
        "band_idx" -> "INT", "band_key" -> "BIGINT"),
      Seq("band_idx", "band_key"), buckets)
    val corpus = bands.before(batchId).drop("batch")
    val nb = bandsOf(hashed)
    val cross = Dedup.bandProbeJoin(corpus, nb).distinct()
      .join(hashed.toDF("doc_a", "fp_a"), "doc_a")
      .join(corpus.select(col("doc_id").as("doc_b"), col("fp").as("fp_b"))
        .distinct(), "doc_b")
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    val intra = Dedup.fingerprintNearDup(hashed, minHamming = 0,
      maxHamming = maxHamming)
    MicroBatch.writeBatch(cross.unionByName(intra), outDir, batchId)
    bands.overwrite(nb, batchId)
  }
}
