package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.ext.Dedup

/** Streaming distinct-count sketch: each micro-batch of user events
  * reduces to ONE HyperLogLog register table (2^p longs — the whole
  * per-batch state, whatever the batch size), persisted under an
  * idempotent `batch=<id>` partition exactly like
  * [[StreamDedup]]'s band state; the live estimate is the per-bucket
  * MAX over all batches — the register-merge identity the d18 oracle
  * proves value-for-value. This is the streaming shape of "how many
  * distinct users ever": state grows by 2 KB per batch (p=8) instead
  * of per user, merges associatively, and a replayed batch ([[MicroBatch]]
  * is at-least-once) rewrites its own partition with identical
  * registers, then the snapshot recomputes to the same estimate.
  */
object StreamSketch {

  val eventSchema: StructType = StructType(Seq(
    StructField("user_id", LongType)))

  def run(spark: SparkSession, landingDir: String, stateDir: String,
          checkpointDir: String, p: Int = 8): StreamingQuery = {
    MicroBatch.run(spark, eventSchema, landingDir, checkpointDir) {
      (batch, batchId) =>
        processBatch(spark, batch, batchId, stateDir, p)
    }
  }

  /** One idempotent micro-batch step (public for replay tests):
    * overwrite this batch's register partition, then refresh the
    * one-row estimate snapshot from ALL batches' registers.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                   stateDir: String, p: Int): Unit = {
    MicroBatch.writeBatch(Dedup.hllRegisters(
      batch.filter(col("user_id").isNotNull), col("user_id"), p),
      s"$stateDir/regs", batchId)
    val merged = spark.read.parquet(s"$stateDir/regs")
      .groupBy(col("bucket")).agg(max(col("m_rho")).as("m_rho"))
    Dedup.hllEstimate(merged, p)
      .write.mode("overwrite").parquet(s"$stateDir/estimate")
  }

  // ---- streaming QUANTILE sketch --------------------------------------

  val quantileSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("value", DoubleType)))

  /** Streaming running-quantile estimate — the rank twin of the HLL
    * stream above, built on w08's proven KMV merge identity
    * ([[Dedup.quantileSketchMerge]]): each micro-batch reduces to its
    * bottom-k rows by portable hash of event_id (k rows of state per
    * batch, whatever the batch size), and the live p50/p90 snapshot
    * re-takes the bottom-k over ALL batches' samples — which the
    * identity guarantees IS the bottom-k of every row ever seen, so
    * the streamed estimate equals the one-pass estimate exactly.
    */
  def runQuantile(spark: SparkSession, landingDir: String, stateDir: String,
                  checkpointDir: String, k: Int = 64): StreamingQuery = {
    MicroBatch.run(spark, quantileSchema, landingDir, checkpointDir) {
      (batch, batchId) =>
        processQuantileBatch(spark, batch, batchId, stateDir, k)
    }
  }

  // ---- streaming HEAVY HITTERS ----------------------------------------

  val hhSchema: StructType = StructType(Seq(
    StructField("k", LongType)))

  /** Streaming exact heavy hitters — the frequency twin of the HLL
    * stream: each micro-batch reduces to its exact per-value count
    * table under an idempotent `batch=<id>` partition, and the live
    * top-N snapshot SUM-merges all batches (counts are the simplest
    * mergeable summary there is) before one map-side TopK. A replayed
    * batch rewrites identical counts, so the snapshot is replay-stable.
    * State honesty: per-batch state is O(distinct values in the batch)
    * — exact HH can't do better; when the value universe itself is
    * unbounded, the bounded-state answer is the count-min sketch (t09)
    * with this same batch-partitioned merge layout.
    */
  def runHeavyHitters(spark: SparkSession, landingDir: String,
                      stateDir: String, checkpointDir: String,
                      topN: Int = 5): StreamingQuery = {
    MicroBatch.run(spark, hhSchema, landingDir, checkpointDir) {
      (batch, batchId) =>
        processHHBatch(spark, batch, batchId, stateDir, topN)
    }
  }

  /** One idempotent micro-batch step (public for replay tests):
    * overwrite this batch's count partition, then refresh the top-N
    * snapshot from the sum-merge of ALL batches' counts (ties rank by
    * lowest value, the TopKAggregator order).
    */
  def processHHBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                     stateDir: String, topN: Int): Unit = {
    require(topN > 0, "topN > 0")
    MicroBatch.writeBatch(batch.filter(col("k").isNotNull)
      .groupBy(col("k")).agg(count(lit(1)).as("n")),
      s"$stateDir/counts", batchId)
    val topk = graft.functions.TopKAggregator.topK(topN)
    spark.read.parquet(s"$stateDir/counts")
      .groupBy(col("k")).agg(sum(col("n")).as("n"))
      .agg(topk(col("k"), col("n").cast("double")).as("sel"))
      .select(posexplode(col("sel")).as(Seq("idx", "s")))
      .select(col("s.id").as("k"), col("s.score").cast("long").as("n"),
        (col("idx") + 1).cast("int").as("rk"))
      .write.mode("overwrite").parquet(s"$stateDir/top")
  }

  /** One idempotent micro-batch step (public for replay tests):
    * overwrite this batch's bottom-k sample partition, then refresh
    * the one-row (m, p50_est, p90_est) snapshot from the KMV re-merge
    * of all batches. The snapshot ranks are picked driver-side over
    * the <= k merged rows — the bounded-collect contract.
    */
  def processQuantileBatch(spark: SparkSession, batch: DataFrame,
                           batchId: Long, stateDir: String, k: Int): Unit = {
    import spark.implicits._
    require(k > 0, "k > 0")
    val topk = graft.functions.TopKAggregator.topK(k)
    val clean = batch
      .filter(col("event_id").isNotNull && col("value").isNotNull)
      .persist()
    try {
      // bottom-k by (h, event_id) via the map-side-combining aggregator
      // (score = -h, as in quantileSketchMerge); values re-attach to
      // the k sampled ids only
      val ids = clean
        .select(col("event_id"),
          graft.functions.Hashing.h32(col("event_id").cast("string")).as("h"))
        .agg(topk(col("event_id"), negate(col("h").cast("double"))).as("smp"))
        .select(explode(col("smp")).as("e"))
        .select(col("e.id").as("event_id"),
          negate(col("e.score")).cast("long").as("h"))
      MicroBatch.writeBatch(ids.join(
          clean.select(col("event_id"), col("value")).hint("shuffle_hash"),
          "event_id"), s"$stateDir/qsample", batchId)
      val merged = spark.read.parquet(s"$stateDir/qsample")
        .orderBy(col("h"), col("event_id")).limit(k) // TakeOrdered: bounded
        .select(col("value")).collect().map(_.getDouble(0)).sorted
      val m = merged.length
      val est =
        if (m == 0) Seq.empty[(Long, Double, Double)]
        else Seq((m.toLong, merged((m + 1) / 2 - 1), merged((9 * m + 9) / 10 - 1)))
      est.toDF("m", "p50_est", "p90_est")
        .write.mode("overwrite").parquet(s"$stateDir/qestimate")
    } finally {
      try clean.unpersist() catch { case scala.util.control.NonFatal(_) => }
      ()
    }
  }

  // ---- streaming BOUNDED-STATE heavy hitters (Misra-Gries) ------------

  val mgSchema: StructType = StructType(Seq(
    StructField("tok", org.apache.spark.sql.types.StringType)))

  /** Streaming heavy hitters with BOUNDED per-batch state: each
    * micro-batch reduces to its k-counter Misra-Gries summary (<= k
    * rows whatever the batch's value universe — the case
    * [[runHeavyHitters]]'s exact counts can't bound) under an
    * idempotent `batch=<id>` partition; the live snapshot merge-folds
    * every batch's summary with
    * [[graft.functions.MisraGriesMergeAggregator]]. Piecewise merges
    * are just another merge tree, so the PODS'12 bound — every token
    * with total frequency > n/(k+1) present, every estimate within
    * n/(k+1) below truth — holds for the WHOLE stream, which is what
    * the StreamSketchSpec audit asserts against exact replay counts.
    */
  def runMgHeavyHitters(spark: SparkSession, landingDir: String,
                        stateDir: String, checkpointDir: String,
                        k: Int = 8): StreamingQuery = {
    MicroBatch.run(spark, mgSchema, landingDir, checkpointDir) {
      (batch, batchId) =>
        processMgBatch(spark, batch, batchId, stateDir, k)
    }
  }

  /** One idempotent micro-batch step (public for replay tests):
    * overwrite this batch's summary partition, then refresh the merged
    * snapshot from ALL batches' summaries. A replayed batch rebuilds
    * the identical summary (the batch's own MG run is deterministic),
    * so the snapshot is replay-stable.
    */
  def processMgBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                     stateDir: String, k: Int): Unit = {
    MicroBatch.writeBatch(batch.filter(col("tok").isNotNull)
      .agg(graft.functions.MisraGries.heavyHitters(k)(col("tok")).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.tok").as("tok"), col("e.est").as("est")),
      s"$stateDir/mg", batchId)
    spark.read.parquet(s"$stateDir/mg")
      .agg(graft.functions.MisraGries.mergeHeavyHitters(k)(
        col("tok"), col("est")).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.tok").as("tok"), col("e.est").as("est"))
      .write.mode("overwrite").parquet(s"$stateDir/mgtop")
  }
}
