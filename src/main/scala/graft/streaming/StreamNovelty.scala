package graft.streaming
import graft.core.PlanCapture.CheckpointOps

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Dedup
import graft.operators.Layout

/** Streaming NOVELTY scoring — the grow-only first-occurrence shingle
  * index that [[graft.ext.TextAnalysis.noveltyScore]]'s batch form
  * describes, actually persisted and min-merged across micro-batches:
  * each batch's docs score novelty = fraction of their shingles never
  * seen in any STRICTLY EARLIER batch (within the batch, the smallest
  * doc_id claims a shingle — the t21 ingestion-order rule), and the
  * batch's first-claimed shingles append to the index under an
  * idempotent `batch=<id>` partition.
  *
  * State is ONE table (s BIGINT, first_doc BIGINT) BUCKETED by the
  * shingle hash `s`, so the corpus side of the probe — an anti-join of
  * the batch's shingles against everything seen before — reads as a
  * bucketed scan with zero Exchange (StreamNoveltySpec asserts it, the
  * [[StreamDedup]] discipline). Per-batch work is O(batch); the index
  * only grows by the batch's genuinely new shingles; a replayed batch
  * probes only `batch < id` so it is blind to its own earlier write
  * and rewrites the identical partition.
  */
object StreamNovelty {

  private[graft] def stateTableName(path: String): String =
    "graft_novelty_" + MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(12)

  private def ensureState(spark: SparkSession, path: String,
                          buckets: Int): String = {
    val table = stateTableName(path)
    Layout.ensureBucketedBatchTable(spark, table, path,
      Seq("s" -> "BIGINT", "first_doc" -> "BIGINT"),
      Seq("s"), buckets)
    table
  }

  def run(spark: SparkSession, landingDir: String, stateDir: String,
          outDir: String, checkpointDir: String,
          buckets: Int = 8): StreamingQuery = {
    MicroBatch.run(spark, StreamDedup.docSchema, landingDir, checkpointDir) {
      (batch0, batchId) =>
        processBatch(spark, batch0, batchId, stateDir, outDir, buckets)
    }
  }

  /** One idempotent micro-batch: shingle, anti-join batches `< id`,
    * score, append the batch's first-claimed shingles.
    */
  def processBatch(spark: SparkSession, batch0: DataFrame, batchId: Long,
                   stateDir: String, outDir: String,
                   buckets: Int = 8): Unit = {
    val table = ensureState(spark, s"$stateDir/index", buckets)
    val batch = batch0.filter(col("doc_id").isNotNull)
    // per-doc SORTED DISTINCT shingle hashes in one compiled pass
    // (the containmentDupAsym discipline), exploded to (doc_id, s)
    val sh = batch
      .select(col("doc_id"),
        explode(graft.functions.ShingleHashesOf(col("text"),
          Dedup.ShingleSize)).as("s"))
      .cpGuard() // probe + claim + score all read it
    val corpus = spark.table(table)
      .filter(col("batch") < batchId).select(col("s"))
    // shingles NEW to the corpus, claimed by the batch's smallest doc
    val fresh = sh.join(corpus, Seq("s"), "left_anti")
      .groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
      .cpGuard() // feeds the score join AND the state append
    val scored = sh
      .join(fresh.select(col("s"), col("first_doc")).hint("shuffle_hash"),
        Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    val scores = batch.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
    MicroBatch.writeBatch(scores, outDir, batchId)
    Layout.overwriteBatch(fresh, table, batchId)
  }
}
