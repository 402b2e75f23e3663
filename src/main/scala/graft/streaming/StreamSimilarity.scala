package graft.streaming
import graft.core.PlanCapture.CheckpointOps

import java.security.MessageDigest

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.ext.Similarity
import graft.operators.Layout

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
  * bucket table — an external table BUCKETED by `bucket`
  * ([[Layout.ensureBucketedBatchTable]]), so the corpus side of every
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
      val table = ensureBucketState(spark, s"$stateDir/buckets", bucketBuckets)
      val planes = ensurePlanes(spark, s"$stateDir/planes", batch, nPlanes)
      val nb = batch
        .select(col("vec_id"),
          Similarity.hyperplaneBucket(col("embedding"), planes).as("bucket"))
        .cpGuard() // probe + self-join + state write
      val corpusBuckets = spark.table(table)
        .filter(col("batch") < batchId).drop("batch")
      val corpusVecs = Try(spark.read.parquet(vecsPath)).toOption.map { df =>
        if (df.columns.contains("batch"))
          df.filter(col("batch") < batchId).drop("batch")
        else df
      }
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
      // vector states are disjoint paths, and only overwriteBatch
      // touches the catalog): overlap their jobs (guide §2.6) so one
      // write's task tail back-fills the next — per-batch latency is
      // this operator's product. Values unchanged by construction.
      graft.core.Par.eval3(
        MicroBatch.writeBatch(all, outDir, batchId),
        Layout.overwriteBatch(nb, table, batchId),
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
    val p = new Path(planesPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // commit-marker guard (not bare existence): a crash mid-write must
    // not pin an uncommitted, unreadable plane dir forever
    if (!fs.exists(new Path(p, "_SUCCESS"))) {
      fs.delete(p, true)
    }
    if (!fs.exists(p)) {
      val derived = batch.select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id")).limit(nPlanes) // TakeOrdered: bounded
        .persist()
      try {
        // An empty batch must NOT persist an empty plane set — the
        // fs.exists guard would pin it forever and poison every later
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
      fs.delete(p, true)
      throw new IllegalStateException(
        s"persisted planes at $planesPath were empty (pre-migration " +
        "poison state); deleted — the next non-empty batch re-derives")
    }
    planes
  }

  private def ensureBucketState(spark: SparkSession, path: String,
                                buckets: Int): String = {
    val table = bucketTableName(path)
    Layout.ensureBucketedBatchTable(spark, table, path,
      Seq("vec_id" -> "BIGINT", "bucket" -> "BIGINT"),
      Seq("bucket"), buckets)
    table
  }

  private[graft] def bucketTableName(path: String): String =
    "graft_vbuckets_" + MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(12)
}
