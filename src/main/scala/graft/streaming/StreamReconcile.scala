package graft.streaming
import graft.core.PlanCapture.CheckpointOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ext.Reconcile

/** Streaming Merkle-style replica reconciliation — the continuous twin
  * of [[Reconcile.tableDiff]] (d24): a replica's rows arrive as
  * micro-batches and after EVERY batch the engine reports, per content
  * bucket, whether the replica-so-far agrees with a fixed reference
  * table — without ever rescanning either side's rows.
  *
  * Why it scales: [[Reconcile.bucketDigests]] digests are
  * order-independent h32 SUMS, so they are mergeable — each micro-batch
  * contributes one bounded (≤ buckets rows) digest row-set, persisted
  * into a batch partition of a digest [[BatchState]] BUCKETED by
  * `bucket`. The accumulated corpus digest is then a groupBy(bucket)
  * SUM over that table, which plans with NO Exchange (the file
  * bucketing IS the grouping key): per-batch work is O(batch rows) +
  * O(buckets summary rows), never O(corpus). The
  * reference side is digested ONCE (at the stream's reference epoch)
  * and re-read as `buckets` rows per batch.
  *
  * [[MicroBatch]] is AT-LEAST-ONCE: every write is batch-keyed and
  * deterministic (digest partitions via dynamic-partition overwrite,
  * the report via `batch=<id>` dir overwrite), and the corpus a batch
  * merges is restricted to STRICTLY EARLIER batches — a replayed batch
  * reproduces byte-identical state and report (same discipline as
  * [[StreamDedup]]).
  */
object StreamReconcile {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** File-bucket count for the persisted digest table (distinct from
    * `buckets`, the logical Merkle leaf count). */
  val DefaultFileBuckets = 8

  def run(spark: SparkSession, landingDir: String, refPath: String,
          stateDir: String, outDir: String, checkpointDir: String,
          buckets: Int = 64,
          keyCol: String = "doc_id",
          cols: Seq[String] = Seq("doc_id", "text")): StreamingQuery = {
    MicroBatch.run(spark, docSchema, landingDir, checkpointDir) {
      (batch0, batchId) =>
        processBatch(spark, batch0, batchId, refPath, stateDir, outDir,
          buckets, keyCol, cols)
    }
  }

  /** One idempotent micro-batch step (public so tests can exercise the
    * at-least-once replay directly): digest `batch0`, merge with all
    * digest state from batches `< batchId`, diff against the persisted
    * reference digests, and overwrite this batch's report and digest
    * partitions. Re-running the same (batch, batchId) leaves all
    * outputs byte-identical.
    */
  def processBatch(spark: SparkSession, batch0: DataFrame, batchId: Long,
                   refPath: String, stateDir: String, outDir: String,
                   buckets: Int,
                   keyCol: String = "doc_id",
                   cols: Seq[String] = Seq("doc_id", "text")): Unit = {
    val batch = batch0.filter(col(keyCol).isNotNull)
    val digests = digestState(spark, stateDir)
    val refDigests = ensureRefDigests(spark, refPath, s"$stateDir/ref_digests",
      buckets, keyCol, cols)
    // checkpointed: referenced by both the merged total and the state write
    val batchDig = Reconcile.bucketDigests(batch, keyCol, cols, buckets)
      .cpGuard()
    val total = corpusDigests(spark, stateDir, batchId)
      .unionByName(batchDig)
      // second-level merge over ≤ 2 x buckets SUMMARY rows — the only
      // thing that shuffles besides the O(batch) digest itself
      .groupBy(col("bucket"))
      .agg(sum(col("n")).as("n_a"), sum(col("digest")).as("digest_a"))
    val report = total
      .join(refDigests, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("digest_a"), lit(0L)).as("digest_a"),
        coalesce(col("digest_b"), lit(0L)).as("digest_b"))
      .withColumn("is_match",
        col("n_a") === col("n_b") && col("digest_a") === col("digest_b"))
    MicroBatch.writeBatch(report, outDir, batchId)
    digests.overwrite(batchDig, batchId)
  }

  /** The accumulated per-bucket digest of batches `< batchId` — a
    * groupBy(bucket) over the bucket-partitioned digest table, which
    * plans with NO Exchange however many batches have accumulated.
    */
  private[graft] def corpusDigests(spark: SparkSession, stateDir: String,
                                   batchId: Long): DataFrame =
    digestState(spark, stateDir).before(batchId)
      .groupBy(col("bucket"))
      .agg(sum(col("n")).as("n"), sum(col("digest")).as("digest"))

  /** Digest the reference table once and persist; later batches read
    * the persisted snapshot (the reconciliation epoch). An EMPTY
    * reference digests to zero rows — that is a valid epoch (every
    * replica bucket should then mismatch), not a poison state.
    */
  private def ensureRefDigests(spark: SparkSession, refPath: String,
                               refDigPath: String, buckets: Int,
                               keyCol: String, cols: Seq[String]): DataFrame = {
    MicroBatch.deriveOnce(spark, refDigPath) {
      Reconcile.bucketDigests(spark.read.parquet(refPath), keyCol, cols, buckets)
        .write.mode("overwrite").parquet(refDigPath)
    }
    spark.read.parquet(refDigPath)
      .select(col("bucket"), col("n").as("n_b"), col("digest").as("digest_b"))
  }

  private def digestState(spark: SparkSession, stateDir: String): BatchState =
    BatchState.open(spark, s"$stateDir/digests",
      Seq("bucket" -> "BIGINT", "n" -> "BIGINT", "digest" -> "BIGINT"),
      Seq("bucket"), DefaultFileBuckets)
}
