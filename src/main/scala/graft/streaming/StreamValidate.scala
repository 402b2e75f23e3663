package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.operators.Layout

/** Streaming data-quality gate — the streaming twin of
  * [[graft.ext.Validate.constraintAudit]] (Deequ's "unit tests for
  * data" applied per micro-batch, Schelter et al. VLDB'18): every
  * arriving batch is split by ROW-LOCAL constraints into an admitted
  * corpus table and a quarantine table (each row carries WHICH checks
  * it failed), and the per-batch violation counts append to a metrics
  * table a production monitor alerts on — a bad upstream deploy shows
  * as a metrics spike within one trigger, and the quarantine preserves
  * the evidence instead of dropping it.
  *
  * Checks (the c34 row-local subset — batch-global checks like
  * pk-uniqueness live in the batch audit): completeness (id and flag
  * non-null), range (qty in [1, 50]), non-negativity (price), domain
  * (flag in A/N/R). Null-id rows quarantine under `complete_id` —
  * they are never silently dropped.
  *
  * Scale shape: the split is ONE narrow map-side pass (no shuffle —
  * every predicate is row-local); metrics are one constant-size
  * aggregation per batch. All three tables are batch-partitioned and
  * written via [[Layout.overwriteBatch]], so an at-least-once replay
  * rewrites identical partitions (idempotent, spec-asserted); admitted
  * and quarantine are bucketed by id for zero-Exchange downstream
  * probes (the StreamDedup state contract).
  */
object StreamValidate {

  val rowSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("qty", DoubleType),
    StructField("price", DoubleType),
    StructField("flag", StringType)))

  val DataCols: Seq[(String, String)] = Seq(
    "id" -> "BIGINT", "qty" -> "DOUBLE", "price" -> "DOUBLE",
    "flag" -> "STRING")

  val QuarantineCols: Seq[(String, String)] =
    DataCols :+ ("failed_checks" -> "STRING")

  val MetricCols: Seq[(String, String)] = Seq(
    "check_name" -> "STRING", "violations" -> "BIGINT",
    "n_rows" -> "BIGINT")

  /** Per-row failed-check list (empty = admit). Kept as one column
    * expression so the gate and the metrics agree by construction.
    */
  private def failedChecks = array_compact(array(
    when(col("id").isNull, "complete_id"),
    when(col("flag").isNull, "complete_flag"),
    when(col("qty") < 1.0 || col("qty") > 50.0, "range_qty_1_50"),
    when(col("price") < 0.0, "nonneg_price"),
    when(col("flag").isNotNull && !col("flag").isin("A", "N", "R"),
      "domain_flag")))

  def run(spark: SparkSession, landingDir: String, admitTable: String,
          admitPath: String, quarantineTable: String, quarantinePath: String,
          metricsTable: String, metricsPath: String,
          checkpointDir: String, buckets: Int = 8): StreamingQuery =
    MicroBatch.run(spark, rowSchema, landingDir, checkpointDir) {
      (batch, batchId) =>
        processBatch(spark, batch, batchId, admitTable, admitPath,
          quarantineTable, quarantinePath, metricsTable, metricsPath,
          buckets)
    }

  /** One idempotent micro-batch step (public for replay tests). */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                   admitTable: String, admitPath: String,
                   quarantineTable: String, quarantinePath: String,
                   metricsTable: String, metricsPath: String,
                   buckets: Int): Unit = {
    Layout.ensureBucketedBatchTable(spark, admitTable, admitPath,
      DataCols, Seq("id"), buckets)
    Layout.ensureBucketedBatchTable(spark, quarantineTable, quarantinePath,
      QuarantineCols, Seq("id"), buckets)
    Layout.ensureBucketedBatchTable(spark, metricsTable, metricsPath,
      MetricCols, Seq("check_name"), buckets)
    // Null-id rows are NOT pre-filtered: they quarantine under
    // complete_id and count in every metrics denominator, so a
    // null-key upstream defect is visible to the monitor instead of
    // silently vanishing from all three outputs.
    val checked = batch.withColumn("__failed", failedChecks)
    Layout.overwriteBatch(
      checked.filter(size(col("__failed")) === 0).drop("__failed"),
      admitTable, batchId)
    Layout.overwriteBatch(
      checked.filter(size(col("__failed")) > 0)
        .withColumn("failed_checks",
          concat_ws(",", array_sort(col("__failed"))))
        .drop("__failed"),
      quarantineTable, batchId)
    Layout.overwriteBatch(
      checked.select(col("__failed"),
          explode(array(lit("complete_id"), lit("complete_flag"),
            lit("range_qty_1_50"), lit("nonneg_price"),
            lit("domain_flag"))).as("check_name"))
        .groupBy(col("check_name"))
        .agg(sum(when(array_contains(col("__failed"), col("check_name")),
          1L).otherwise(0L)).as("violations"),
          count(lit(1)).as("n_rows")),
      metricsTable, batchId)
  }
}
