package graft.streaming
import graft.core.PlanCapture.CheckpointOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.ext.Similarity

/** Streaming vector-index ingestion — the streaming twin of the s25
  * batch append: a stream of (vec_id, embedding) rows continuously
  * grows a persisted IVF index that probes can query at any moment,
  * with no retrain and no rewrite of existing cells.
  *
  * Layout and idempotency follow the StreamDedup/StreamUpsert state
  * contract: each micro-batch's vectors are assigned under the FROZEN
  * coarse centroids (the deterministic order statistic of the
  * `original` reference corpus — [[Similarity.appendIvfIndex]]'s rule)
  * and written under an idempotent `batch=<id>` partition of a
  * cell-BUCKETED table, so an at-least-once replay rewrites identical
  * rows instead of duplicating them (the raw insertInto append would
  * not survive a replay). Probes read the accumulated index with the
  * corpus side exchange-free at any index size — only the tiny query
  * side shuffles (spec-asserted, the same plan shape as the batch
  * persisted index).
  */
object StreamAnnIngest {

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  val StateCols: Seq[(String, String)] = Seq(
    "cell" -> "BIGINT", "t_id" -> "BIGINT",
    "t_emb" -> "ARRAY<FLOAT>", "t_norm" -> "DOUBLE")

  /** Ingest json-lines vector files landing in `landingDir` into the
    * batch-partitioned, cell-bucketed index table over `statePath`.
    */
  def run(spark: SparkSession, landingDir: String, statePath: String,
          checkpointDir: String, original: DataFrame,
          nCentroids: Int, nQueries: Int,
          buckets: Int = 8): StreamingQuery = {
    // derive the frozen centroids ONCE at stream start — a 16-odd-row
    // order statistic of the (possibly corpus-sized) reference table;
    // re-deriving per micro-batch would re-run that corpus TakeOrdered
    // on every trigger
    val cents = Similarity.ivfCentsFor(original, nCentroids, nQueries)
      .cpGuard()
    MicroBatch.run(spark, vecSchema, landingDir, checkpointDir) {
      (batch, batchId) =>
        processBatchUnder(spark, batch, batchId, statePath, cents, buckets)
    }
  }

  /** One idempotent micro-batch step (public for replay tests):
    * frozen-centroid assignment, then an overwrite of this batch's own
    * partition only.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                   statePath: String, original: DataFrame,
                   nCentroids: Int, nQueries: Int, buckets: Int): Unit =
    processBatchUnder(spark, batch, batchId, statePath,
      Similarity.ivfCentsFor(original, nCentroids, nQueries), buckets)

  /** [[processBatch]] under an already-derived (checkpointed) centroid
    * frame — what the running stream uses so the reference corpus is
    * scanned once per stream, not once per trigger.
    */
  def processBatchUnder(spark: SparkSession, batch: DataFrame,
                        batchId: Long, statePath: String,
                        cents: DataFrame, buckets: Int): Unit = {
    val clean = batch.filter(col("vec_id").isNotNull &&
      col("embedding").isNotNull)
    state(spark, statePath, buckets)
      .overwrite(Similarity.assignCellsUnder(clean, cents), batchId)
  }

  private def state(spark: SparkSession, statePath: String,
                    buckets: Int): BatchState =
    BatchState.open(spark, statePath, StateCols, Seq("cell"), buckets)

  /** Query the accumulated streamed index: identical semantics to
    * [[Similarity.ivfTopKFromIndex]] over whatever batches have landed
    * (bit-identical to a batch build whenever the same vectors have
    * streamed in — the spec pins this against the live build).
    */
  def probe(spark: SparkSession, statePath: String, embs: DataFrame,
            nCentroids: Int, nProbe: Int, nQueries: Int, k: Int,
            buckets: Int = 8): DataFrame =
    Similarity.ivfTopKFromIndex(spark, state(spark, statePath, buckets).table,
      embs, nCentroids, nProbe, nQueries, k)
}
