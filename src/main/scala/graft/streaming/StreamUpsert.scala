package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType, TimestampType}

/** Streaming CDC upsert / current-state materialization — the
  * streaming twin of the w16 SCD2 build and the engine-native shape of
  * a lakehouse MERGE INTO: a change stream of (user_id, ts, event_id,
  * k) events continuously materializes a "current value per key"
  * table.
  *
  * The state layout makes the merge cheap and the stream replayable:
  * each micro-batch reduces to its OWN latest-row-per-key table (one
  * partial-aggregable groupBy — per-batch state is O(distinct keys in
  * the batch)) written under an idempotent `batch=<id>` partition of a
  * user_id-BUCKETED table; the current-state snapshot is then one
  * groupBy(user_id) argmax over ALL batches, which plans with ZERO
  * Exchange because the state table is already bucketed by the group
  * key (a [[BatchState]] — the same contract as StreamDedup's band
  * state).
  *
  * Latest is by EVENT time under the deterministic total order
  * (ts, event_id), not by arrival: a late-arriving older change can
  * never clobber a newer value, and a replayed batch ([[MicroBatch]] is
  * at-least-once) rewrites identical rows — the snapshot is
  * arrival-order-free by construction, not by coordination.
  */
object StreamUpsert {

  val changeSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_id", LongType),
    StructField("k", IntegerType)))

  val StateCols: Seq[(String, String)] = Seq(
    "user_id" -> "BIGINT", "ts" -> "TIMESTAMP",
    "event_id" -> "BIGINT", "k" -> "INT")

  def run(spark: SparkSession, landingDir: String, statePath: String,
          snapshotDir: String, checkpointDir: String,
          buckets: Int = 8): StreamingQuery = {
    MicroBatch.run(spark, changeSchema, landingDir, checkpointDir) {
      (batch, batchId) =>
        processBatch(spark, batch, batchId, statePath, snapshotDir, buckets)
    }
  }

  /** Reduce `df` to its latest row per user under (ts, event_id) —
    * one partial-aggregable struct-max groupBy, never a window. */
  private def latestPerUser(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("k"))).as("m"))
      .select(col("user_id"), col("m.ts").as("ts"),
        col("m.event_id").as("event_id"), col("m.k").as("k"))

  /** The live current-state view over the persisted change table:
    * groupBy on the bucket key — zero Exchange (spec-asserted). */
  def currentState(spark: SparkSession, statePath: String,
                   buckets: Int = 8): DataFrame =
    latestPerUser(state(spark, statePath, buckets).all)

  private def state(spark: SparkSession, statePath: String,
                    buckets: Int): BatchState =
    BatchState.open(spark, statePath, StateCols, Seq("user_id"), buckets)

  /** One idempotent micro-batch step (public for replay tests). */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                   statePath: String, snapshotDir: String,
                   buckets: Int): Unit = {
    val clean = batch.filter(col("user_id").isNotNull &&
      col("ts").isNotNull && col("event_id").isNotNull &&
      col("k").isNotNull)
    state(spark, statePath, buckets).overwrite(latestPerUser(clean), batchId)
    currentState(spark, statePath, buckets)
      .write.mode("overwrite").parquet(snapshotDir)
  }
}
