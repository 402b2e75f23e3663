package graft.streaming
import graft.core.PlanCapture.CheckpointOps

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.ext.Similarity

/** Streaming EMBEDDING near-duplicate detection — the dense twin of
  * [[StreamDedup]]: vector batches arriving as files are deduplicated
  * incrementally against the accumulated corpus (hyperplane-bucket
  * collision candidates + exact codegen'd cosine verify), then within
  * themselves, and finally join the corpus state.
  *
  * The hyperplanes are FIXED AT STREAM BIRTH — derived from the first
  * batch's lowest vec_ids and persisted to `state/planes` — so every
  * batch buckets identically forever (re-bucketing under new planes
  * would orphan the accumulated bucket state). State is the raw
  * vectors (exact-verify side; plain batch-keyed parquet) and the
  * bucket table — a [[BatchState]] BUCKETED by `bucket`, so the
  * corpus side of every
  * per-batch probe joins with NO Exchange; only the O(batch) new side
  * shuffles. Per-batch work is O(batch), never O(corpus).
  *
  * Same at-least-once discipline as [[StreamDedup]]: every write is
  * keyed `batch=<id>` with (dynamic-partition) overwrite, probes see
  * strictly-earlier batches only, and the planes write is
  * deterministic-overwrite so a batch-0 replay rewrites identical
  * planes.
  */
object StreamSimilarity {

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  def run(spark: SparkSession, landingDir: String, stateDir: String,
          outDir: String, checkpointDir: String,
          nPlanes: Int = 8, threshold: Double = 0.9,
          bucketBuckets: Int = StreamDedup.DefaultBandBuckets): StreamingQuery = {
    MicroBatch.run(spark, vecSchema, landingDir, checkpointDir) {
      (batch0, batchId) =>
        processBatch(spark, batch0, batchId, stateDir, outDir,
          nPlanes, threshold, bucketBuckets)
    }
  }

  /** One idempotent micro-batch step (public for replay tests). */
  def processBatch(spark: SparkSession, batch0: DataFrame, batchId: Long,
                   stateDir: String, outDir: String,
                   nPlanes: Int, threshold: Double,
                   bucketBuckets: Int = StreamDedup.DefaultBandBuckets): Unit = {
    val batch = batch0
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .persist()
    try {
      StreamDedup.refuseFlatLegacyDir(spark, outDir)
      val vecsPath = s"$stateDir/vecs"
      val bucketState = BatchState.open(spark, s"$stateDir/buckets",
        Seq("vec_id" -> "BIGINT", "bucket" -> "BIGINT"), Seq("bucket"),
        bucketBuckets)
      val planes = ensurePlanes(spark, s"$stateDir/planes", batch, nPlanes)
      val nb = batch
        .select(col("vec_id"),
          Similarity.hyperplaneBucket(col("embedding"), planes).as("bucket"))
        .cpGuard() // probe + self-join + state write
      val corpusBuckets = bucketState.before(batchId).drop("batch")
      val corpusVecs = MicroBatch.readBefore(spark, vecsPath, batchId)
      val crossDups = corpusVecs.map { cv =>
        val cand = nb.select(col("vec_id").as("a_id"), col("bucket"))
          .join(corpusBuckets.select(col("vec_id").as("b_id"), col("bucket")),
            "bucket")
        verify(cand, batch, cv, threshold)
      }
      val intraCand = nb.select(col("vec_id").as("a_id"), col("bucket"))
        .join(nb.select(col("vec_id").as("b_id"), col("bucket").as("b_bucket")),
          col("bucket") === col("b_bucket") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), col("bucket"))
      val intraDups = verify(intraCand, batch, batch, threshold)
      val all = crossDups.map(_.unionByName(intraDups)).getOrElse(intraDups)
      // the three per-batch writes are independent (the dup output
      // reads the CHECKPOINTED nb + the persisted batch; the bucket and
      // vector states are disjoint paths, and only the BatchState
      // overwrite touches the catalog): overlap their jobs (guide §2.6) so one
      // write's task tail back-fills the next — per-batch latency is
      // this operator's product. Values unchanged by construction.
      graft.core.Par.eval3(
        MicroBatch.writeBatch(all, outDir, batchId),
        bucketState.overwrite(nb, batchId),
        MicroBatch.writeBatch(batch.select(col("vec_id"), col("embedding")),
          vecsPath, batchId))
    } finally {
      try batch.unpersist() catch { case NonFatal(_) => }
      ()
    }
  }

  /** Exact-cosine verification of (a_id, b_id, bucket) candidates:
    * each side's vectors attach by key-partitioned equi-join (the
    * candidate table is pair-sized, never corpus-sized).
    */
  private def verify(cand: DataFrame, aVecs: DataFrame, bVecs: DataFrame,
                     threshold: Double): DataFrame = {
    def sided(df: DataFrame, p: String): DataFrame =
      df.select(col("vec_id").as(s"${p}_id"),
        col("embedding").as(s"${p}_emb"),
        Similarity.normCol(col("embedding")).as(s"${p}_norm"))
    cand
      .join(sided(aVecs, "a").hint("shuffle_hash"), "a_id")
      .join(sided(bVecs, "b").hint("shuffle_hash"), "b_id")
      .withColumn("cosine",
        Similarity.dotCol(col("a_emb"), col("b_emb")) /
          (col("a_norm") * col("b_norm")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id").as("vec_a"), col("b_id").as("vec_b"),
        col("bucket"), col("cosine"))
  }

  /** Fixed stream-lifetime hyperplanes: derived from the first batch's
    * lowest vec_ids and persisted; later batches read them back. The
    * derivation is deterministic in the batch content, so a batch-0
    * replay overwrites byte-identical planes.
    */
  private def ensurePlanes(spark: SparkSession, planesPath: String,
                           batch: DataFrame, nPlanes: Int): Seq[Array[Float]] = {
    MicroBatch.deriveOnce(spark, planesPath) {
      val derived = batch.select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id")).limit(nPlanes) // TakeOrdered: bounded
        .persist()
      try {
        // An empty batch must NOT persist an empty plane set — the
        // committed guard would pin it forever and poison every later
        // batch. Skip the write so the first data-bearing batch derives.
        require(!derived.isEmpty,
          "no hyperplanes: this batch was empty; planes will derive " +
          "from the first non-empty batch")
        derived.write.mode("overwrite").parquet(planesPath)
      } finally { derived.unpersist(); () }
    }
    val planes = spark.read.parquet(planesPath)
      .orderBy(col("vec_id")).collect()
      .map(_.getSeq[Float](1).toArray).toSeq
    if (planes.isEmpty) {
      // A pre-fix run may have persisted an empty plane set; unpoison by
      // deleting so the next batch can re-derive, then fail this one.
      val p = new Path(planesPath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      throw new IllegalStateException(
        s"persisted planes at $planesPath were empty (pre-migration " +
        "poison state); deleted — the next non-empty batch re-derives")
    }
    planes
  }
}
