package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ext.Graphs
import graft.operators.Layout

/** Streaming incremental triangle counting — the graph-family member
  * of the incremental-twin family (StreamDedup / StreamAnnIngest /
  * StreamContainment): edge batches arriving as files are counted
  * AGAINST the accumulated graph via [[Graphs.incrementalTriangles]]
  * (Δ-anchored — per-batch work scales with |Δ|·√m, never re-pairing
  * the corpus graph with itself), the per-node triangle DELTAS append
  * to a delta table, and the batch's genuinely-new simple edges join
  * the edge state.
  *
  * State = ONE batch-partitioned table of simple undirected edges
  * ([[Layout.ensureBucketedBatchTable]], bucketed by `a` for the
  * novelty anti-join). [[MicroBatch]] is AT-LEAST-ONCE, so every write
  * is keyed by batch id and the state a batch reads is restricted to
  * STRICTLY EARLIER batches (the StreamDedup replay contract): a
  * replayed batch recomputes the identical delta against the identical
  * prior state and overwrites its own partitions byte-identically.
  *
  * Invariant the spec asserts: summing d_tri over all batch deltas
  * equals [[Graphs.triangleCounts]]' n_tri on the final graph — the
  * incremental path and the batch path agree exactly, whichever order
  * the edges arrived in.
  */
object StreamTriangles {

  val edgeSchema: StructType = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType)))

  private val EdgeCols: Seq[(String, String)] =
    Seq("a" -> "BIGINT", "b" -> "BIGINT")

  def run(spark: SparkSession, landingDir: String, stateDir: String,
          outDir: String, checkpointDir: String,
          buckets: Int = 8): StreamingQuery =
    MicroBatch.run(spark, edgeSchema, landingDir, checkpointDir) {
      (batch, batchId) =>
        processBatch(spark, batch, batchId, stateDir, outDir, buckets)
    }

  /** One idempotent micro-batch step (public for replay tests):
    * triangle deltas of `batch`'s edges against all state from batches
    * `< batchId`, then the batch's novel simple edges overwrite its
    * own `batch=<batchId>` state partition.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                   stateDir: String, outDir: String,
                   buckets: Int): Unit = {
    val table = Layout.stateTableName("graft_tri_edges", stateDir)
    Layout.ensureBucketedBatchTable(spark, table, stateDir,
      EdgeCols, Seq("a"), buckets)
    val prior = spark.table(table)
      .filter(col("batch") < batchId)
      .select(col("a").as("src"), col("b").as("dst"))
    val batchEdges = batch
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val delta = Graphs.incrementalTriangles(prior, batchEdges)
    MicroBatch.writeBatch(delta.coalesce(1), outDir, batchId)
    // state grows by the batch's NOVEL simple edges only (re-added
    // edges are no-ops — exactly the edges the delta ignored)
    val simple = batchEdges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .join(prior.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_anti")
    Layout.overwriteBatch(simple, table, batchId)
  }
}
