package graft.streaming

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Dedup

/** Streaming asymmetric-containment dedup — the ingestion-time gate
  * "is this fresh document near-CONTAINED in something the corpus
  * already holds?" run continuously ([[Dedup.containmentDupAsym]]'s
  * directed small-in-large semantics, the recall path symmetric
  * minhash banding cannot have).
  *
  * State is TWO tables (the [[StreamDedup]] discipline): the raw docs
  * (batch-keyed parquet, read only to exact-verify candidates) and the
  * INVERTED SHINGLE INDEX — per-doc distinct shingle hashes exploded to
  * (doc_id, h) postings, persisted as a [[BatchState]] BUCKETED by h. Each
  * micro-batch probes its docs' bottom-K shingle hashes against the
  * bucketed postings — the bucket key IS the probe join's key, so the
  * corpus side of the probe (and the hot-posting cap's count) plans
  * with NO Exchange: only K rows per new doc shuffle, regardless of
  * corpus size. Hot postings (stop-like shingles) are capped by
  * [[graft.ext.HotBuckets]] exactly as in the batch operator.
  *
  * [[MicroBatch]] is AT-LEAST-ONCE: all writes are batch-keyed and
  * deterministic, and a batch probes STRICTLY EARLIER batches only, so
  * a replay reproduces byte-identical output (same contract as
  * [[StreamDedup]] / [[StreamReconcile]]).
  */
object StreamContainment {

  /** File-bucket count for the posting table. */
  val DefaultPostingBuckets = 8

  def run(spark: SparkSession, landingDir: String, stateDir: String,
          outDir: String, checkpointDir: String,
          threshold: Double = 0.8,
          probeK: Int = 4, minProbeHits: Int = 2,
          buckets: Int = DefaultPostingBuckets): StreamingQuery = {
    MicroBatch.run(spark, StreamDedup.docSchema, landingDir, checkpointDir) {
      (batch0, batchId) =>
        processBatch(spark, batch0, batchId, stateDir, outDir, threshold,
          probeK, minProbeHits, buckets)
    }
  }

  /** One idempotent micro-batch: probe batches `< batchId` for directed
    * containment of the fresh docs, check the batch within itself, and
    * overwrite this batch's report, posting, and doc partitions.
    */
  def processBatch(spark: SparkSession, batch0: DataFrame, batchId: Long,
                   stateDir: String, outDir: String,
                   threshold: Double,
                   probeK: Int = 4, minProbeHits: Int = 2,
                   buckets: Int = DefaultPostingBuckets): Unit = {
    val batch = batch0.filter(col("doc_id").isNotNull).persist()
    try {
      val docsPath = s"$stateDir/docs"
      StreamDedup.refuseFlatLegacyDir(spark, outDir)
      val postings = BatchState.open(spark, s"$stateDir/postings",
        Seq("doc_id" -> "BIGINT", "h" -> "BIGINT"), Seq("h"), buckets)
      val corpusPostings = postings.before(batchId).drop("batch")
      val corpusDocs = MicroBatch.readBefore(spark, docsPath, batchId)
      val cross = corpusDocs.map { cd =>
        Dedup.containmentDupAsymAgainstPostings(corpusPostings, cd, batch,
          threshold, probeK, minProbeHits)
      }
      val intra = Dedup.containmentDupAsym(batch, threshold, probeK,
        minProbeHits)
      val all = cross.map(_.unionByName(intra)).getOrElse(intra)
      MicroBatch.writeBatch(all, outDir, batchId)
      postings.overwrite(postingsOf(batch), batchId)
      MicroBatch.writeBatch(batch.select(col("doc_id"), col("text")),
        docsPath, batchId)
    } finally {
      try batch.unpersist() catch { case NonFatal(_) => }
      ()
    }
  }

  /** (doc_id, h) distinct-shingle-hash postings of a doc frame — the
    * rows each batch contributes to the inverted index.
    */
  private def postingsOf(docs: DataFrame): DataFrame =
    graft.core.Tables.spread(docs)
      .select(col("doc_id"),
        graft.functions.ShingleHashesOf(col("text"), Dedup.ShingleSize).as("hs"))
      .filter(col("hs").isNotNull)
      .select(col("doc_id"), explode(col("hs")).as("h"))
}
