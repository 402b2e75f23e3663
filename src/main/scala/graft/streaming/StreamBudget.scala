package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ext.TextOps
import graft.operators.Layout

/** Streaming token-budget admission — the streaming twin of the
  * c07/c10 batch budget operators: documents arrive continuously and
  * each stratum (language, source, …) admits docs only while its token
  * quota lasts, so the materialized corpus never overshoots the
  * training mixture however long the stream runs.
  *
  * Admission is PREFIX-TRUNCATION in the deterministic arrival order
  * (batch id, then doc_id within the batch): a doc is admitted iff the
  * stratum's running token total INCLUDING itself fits the quota —
  * exactly c10's prefix-sum cutline, with the stream's arrival order
  * replacing c10's hash order. Once a stratum's prefix overflows, the
  * stratum is closed (later smaller docs do not back-fill; the cutline
  * stays a prefix, which is what makes the admitted set reproducible
  * from the input alone).
  *
  * There is NO separate state table: the state IS the admitted output
  * table. Tokens consumed before batch B = one groupBy(stratum) over
  * the admitted table filtered to `batch < B` — the filter is what
  * makes a [[MicroBatch]] replay (at-least-once) idempotent: the
  * replayed batch never sees its own earlier write. The table is
  * BUCKETED by stratum ([[Layout.ensureBucketedBatchTable]], the
  * StreamDedup/StreamUpsert state contract), so the consumed-tokens
  * groupBy plans with ZERO Exchange at any corpus size; the per-batch
  * prefix sum is a stratum-PARTITIONED window over just the
  * micro-batch (never corpus-wide, never unpartitioned).
  */
object StreamBudget {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("stratum", StringType),
    StructField("text", StringType)))

  val StateCols: Seq[(String, String)] = Seq(
    "doc_id" -> "BIGINT", "stratum" -> "STRING", "n_tokens" -> "BIGINT")

  def run(spark: SparkSession, landingDir: String, table: String,
          statePath: String, quotas: Map[String, Long],
          checkpointDir: String, buckets: Int = 8): StreamingQuery = {
    MicroBatch.run(spark, docSchema, landingDir, checkpointDir) {
      (batch, batchId) =>
        processBatch(spark, batch, batchId, table, statePath, quotas,
          buckets)
    }
  }

  /** Tokens already consumed per stratum by batches BEFORE `batchId` —
    * a zero-Exchange groupBy on the bucket key (spec-asserted). The
    * strict inequality is the replay-idempotency seam. */
  def consumedBefore(spark: SparkSession, table: String,
                     batchId: Long): DataFrame =
    spark.table(table).filter(col("batch") < batchId)
      .groupBy(col("stratum")).agg(sum(col("n_tokens")).as("consumed"))

  /** One idempotent micro-batch step (public for replay tests). */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                   table: String, statePath: String,
                   quotas: Map[String, Long], buckets: Int): Unit = {
    require(quotas.nonEmpty && quotas.values.forall(_ > 0),
      "quotas must be positive")
    Layout.ensureBucketedBatchTable(spark, table, statePath, StateCols,
      Seq("stratum"), buckets)
    import spark.implicits._
    val qDf = quotas.toSeq.toDF("stratum", "quota")
    val toks = batch
      .filter(col("doc_id").isNotNull && col("stratum").isNotNull &&
        col("text").isNotNull)
      .select(col("doc_id"), col("stratum"),
        size(TextOps.words(col("text"))).cast("long").as("n_tokens"))
    // Per-batch prefix sum in doc_id order, stratum-partitioned — the
    // window covers ONLY this micro-batch's rows.
    val w = Window.partitionBy(col("stratum")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val admitted = toks
      .withColumn("prefix", sum(col("n_tokens")).over(w))
      .join(broadcast(qDf), "stratum") // unquota'd strata admit nothing
      .join(consumedBefore(spark, table, batchId), Seq("stratum"), "left")
      .filter(coalesce(col("consumed"), lit(0L)) + col("prefix")
        <= col("quota"))
      .select(col("doc_id"), col("stratum"), col("n_tokens"))
    Layout.overwriteBatch(admitted, table, batchId)
  }
}
