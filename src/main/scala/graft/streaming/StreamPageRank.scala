package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ext.Graphs
import graft.operators.Layout

/** Streaming PageRank maintenance — the streaming twin of
  * [[graft.ext.Graphs.pageRankWarmStart]] (g26), closing the last
  * batch-only incremental graph operator: each arriving transition
  * batch lands as an idempotent edge-delta partition (the
  * [[StreamTransitions]] state contract, reused verbatim), then the
  * previous batch's converged ranks WARM-SEED `refreshIters` damped
  * sweeps over the accumulated graph — production rank freshness
  * without a cold fixed-point run per batch (Langville & Meyer's
  * updating chapter).
  *
  * State = the src-bucketed batch-partitioned edge table plus a
  * k-bucketed `_ranks` table holding each batch's post-refresh rank
  * snapshot. Replay is byte-idempotent: batch b reads edge partitions
  * `<= b` and the LATEST rank snapshot `< b` (both deterministic
  * whatever later partitions exist) and overwrites only its own
  * `batch=b` partitions. With an empty seed (batch 0) the refresh IS
  * the cold [[graft.ext.Graphs.pageRank]] over the first batch — the
  * spec pins stream-vs-g26 equality on split cohorts.
  *
  * Scale shape per batch: one partial-aggregable groupBy for the edge
  * delta; the refresh is pageRank's co-partitionable per-sweep shape
  * (src equi-join + groupBy(dst)) over the zero-Exchange bucketed
  * fold; driver values are the node count and envelope observation.
  */
object StreamPageRank {

  val edgeSchema: StructType = StructType(Seq(
    StructField("src", LongType),
    StructField("dst", LongType)))

  private val RankCols: Seq[(String, String)] =
    Seq("k" -> "BIGINT", "r" -> "BIGINT")

  def run(spark: SparkSession, landingDir: String, table: String,
          statePath: String, checkpointDir: String, refreshIters: Int,
          buckets: Int = 8): StreamingQuery =
    MicroBatch.run(MicroBatch.landing(spark, edgeSchema, landingDir)
        .filter(col("src").isNotNull && col("dst").isNotNull),
      checkpointDir, OutputMode.Append) { (batch, batchId) =>
      processBatch(spark, batch, batchId, table, statePath,
        refreshIters, buckets)
    }

  /** One idempotent micro-batch step (public for replay tests):
    * edge-delta write, then the warm rank refresh.
    */
  def processBatch(spark: SparkSession, transDf: DataFrame, batchId: Long,
                   table: String, statePath: String, refreshIters: Int,
                   buckets: Int): Unit = {
    StreamTransitions.writeEdges(spark, transDf.select(col("src"), col("dst")),
      batchId, table, statePath, buckets)
    refreshRanks(spark, table, statePath, batchId, refreshIters, buckets)
  }

  /** Warm-refresh the rank snapshot for `batchId` from the latest
    * strictly-earlier snapshot over edge partitions `<= batchId`.
    */
  def refreshRanks(spark: SparkSession, table: String, statePath: String,
                   batchId: Long, refreshIters: Int, buckets: Int): Unit = {
    val ranksTable = s"${table}_ranks"
    Layout.ensureBucketedBatchTable(spark, ranksTable, s"${statePath}_ranks",
      RankCols, Seq("k"), buckets)
    val edges = spark.table(table).filter(col("batch") <= batchId)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    val prior = spark.table(ranksTable).filter(col("batch") < batchId)
    // bounded 1-row collect: which snapshot seeds this batch
    val latest = prior.agg(max(col("batch"))).collect()(0)
    val seed =
      if (latest.isNullAt(0))
        spark.range(0).select(col("id").as("k"), col("id").as("r"))
      else prior.filter(col("batch") === latest.getLong(0))
        .select(col("k"), col("r"))
    val ranks = Graphs.pageRankRefresh(edges, seed, refreshIters)
      .select(col("k"), col("r_warm").as("r"))
    Layout.overwriteBatch(ranks, ranksTable, batchId)
  }

  /** The freshest rank snapshot (k, r) — bounded 1-row collect for the
    * latest batch id, then one partition read.
    */
  def ranksNow(spark: SparkSession, table: String): DataFrame = {
    val ranks = spark.table(s"${table}_ranks")
    val latest = ranks.agg(max(col("batch"))).collect()(0)
    if (latest.isNullAt(0))
      spark.range(0).select(col("id").as("k"), col("id").as("r"))
    else ranks.filter(col("batch") === latest.getLong(0))
      .select(col("k"), col("r"))
  }
}
