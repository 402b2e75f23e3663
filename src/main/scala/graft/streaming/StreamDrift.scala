package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Streaming value-distribution drift monitor — the deployment shape
  * of the batch w19 histogram compare: the live stream's cumulative
  * per-bin histogram (bin = floor(value/50), w19's rule) is checked
  * each micro-batch against a frozen REFERENCE histogram via
  * total-variation distance, TV = ½ Σ_bins |p_i − q_i|.
  *
  * TV instead of PSI/KL deliberately: the information-theoretic drift
  * scores need libm logs (not bit-portable across engines) and blow up
  * on empty bins; TV is an exact rational — computed here in
  * cross-multiplied integers, tv_num = Σ |c_i·N_ref − r_i·N_cur| over
  * the full-outer bin join, TV = tv_num / (2·N_cur·N_ref), ONE IEEE
  * division at the read edge. TV ∈ [0,1]: 0 = same distribution,
  * 1 = disjoint supports; alert when it crosses a threshold.
  *
  * State discipline (the [[StreamSketch]] contract): each micro-batch
  * reduces to its own per-bin count table persisted under an
  * idempotent `batch=<id>` partition — a replayed batch ([[MicroBatch]]
  * is at-least-once) overwrites its own partition with identical rows,
  * and the snapshot recomputes to the same TV. State grows by
  * n_distinct_bins rows per batch (bounded by the value range / 50),
  * never by events. The cumulative histogram is a partial-aggregable
  * SUM over batch partitions; the reference side is a broadcast-sized
  * histogram by construction.
  */
object StreamDrift {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("value", DoubleType)))

  /** w19's bin rule, shared by stream and reference sides. */
  def binOf(value: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(value / 50).cast("long")

  /** Reference histogram (bin, n_ref) of a batch DataFrame's `value`. */
  def referenceHistogram(df: DataFrame): DataFrame =
    df.filter(col("value").isNotNull)
      .groupBy(binOf(col("value")).as("bin"))
      .agg(count(lit(1)).as("n_ref"))

  /** Exact-integer total-variation distance between two histograms
    * (bin, n_cur) and (bin, n_ref): one row (n_cur_total, n_ref_total,
    * tv_num, tv) with tv = tv_num / (2·N_cur·N_ref) as the single IEEE
    * division (null when either side is empty). Reusable in batch.
    */
  def tvDrift(cur: DataFrame, ref: DataFrame): DataFrame = {
    val joined = cur.select(col("bin"), col("n_cur"))
      .join(ref.select(col("bin"), col("n_ref")), Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("n_cur"), lit(0L)).as("c"),
        coalesce(col("n_ref"), lit(0L)).as("r"))
    joined.agg(sum(col("c")).as("ta"), sum(col("r")).as("tb"),
        collect_list(struct(col("c"), col("r"))).as("rows"))
      .select(col("ta"), col("tb"),
        aggregate(col("rows"), lit(0L),
          (acc, x) => acc + abs(x.getField("c") * col("tb") -
            x.getField("r") * col("ta"))).as("tv_num"))
      .select(col("ta").as("n_cur_total"), col("tb").as("n_ref_total"),
        col("tv_num"),
        when(col("ta") > 0 && col("tb") > 0,
          col("tv_num").cast("double") /
            (lit(2.0) * col("ta").cast("double") * col("tb").cast("double")))
          .as("tv"))
  }

  def run(spark: SparkSession, landingDir: String, stateDir: String,
          checkpointDir: String, reference: DataFrame): StreamingQuery = {
    MicroBatch.run(spark, eventSchema, landingDir, checkpointDir) {
      (batch, batchId) =>
        processBatch(spark, batch, batchId, stateDir, reference)
    }
  }

  /** One idempotent micro-batch step (public for replay tests):
    * overwrite this batch's bin-count partition, then refresh the
    * one-row TV snapshot from ALL batches' cumulative histogram.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                   stateDir: String, reference: DataFrame): Unit = {
    MicroBatch.writeBatch(batch.filter(col("value").isNotNull)
      .groupBy(binOf(col("value")).as("bin"))
      .agg(count(lit(1)).as("n")), s"$stateDir/bins", batchId)
    val cur = spark.read.parquet(s"$stateDir/bins")
      .groupBy(col("bin")).agg(sum(col("n")).as("n_cur"))
    tvDrift(cur, broadcast(reference))
      .write.mode("overwrite").parquet(s"$stateDir/drift")
  }
}
