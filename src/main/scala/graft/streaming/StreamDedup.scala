package graft.streaming
import graft.core.PlanCapture.CheckpointOps

import java.security.MessageDigest

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ext.Dedup
import graft.operators.Layout

/** Streaming near-duplicate detection: document batches arriving as
  * files are MinHash-deduplicated incrementally — each micro-batch
  * first against the accumulated corpus ([[Dedup.minhashDupAgainst]],
  * new-vs-corpus bands only), then within itself ([[Dedup.minhashDup]]),
  * and finally joins the corpus state. The dup-pair report accumulates
  * in `outDir`; the checkpoint is the ledger (a batch of files is
  * deduplicated exactly once across restarts).
  *
  * State is TWO tables: the raw docs (texts, needed only for exact
  * verification of candidate docs; plain batch-keyed parquet) and the
  * minhash BAND table — an external table BUCKETED by (band_idx,
  * band_key) ([[Layout.ensureBucketedBatchTable]]) and partitioned by
  * batch. Each batch bands ITSELF, probes the bucketed table, and
  * overwrites its own batch partition — per-batch work is O(batch),
  * not O(corpus) ([[Dedup.minhashDupAgainstBands]]), and because the
  * bucket keys ARE the probe join's keys, the corpus side of every
  * probe plans with NO Exchange: only the O(batch) new side shuffles.
  * The parquet files are the durable state; the (in-memory) catalog
  * entry is re-registered per session with existing batch partitions
  * recovered from the filesystem.
  *
  * [[MicroBatch]] is AT-LEAST-ONCE: a crash after any write but before
  * the checkpoint commit replays the whole batch. Every write is
  * therefore keyed by batch id — `<table>/batch=<id>`, written with
  * (dynamic-partition) overwrite — so a replay rewrites the same
  * partition with the same (deterministic, hash-derived) content
  * instead of appending a second copy; and the corpus state a batch
  * probes is restricted to STRICTLY EARLIER batches, so a replay never
  * sees its own partial writes as "corpus" (which would report every
  * batch doc as its own duplicate).
  *
  * Migration from the pre-batch-keyed layout: flat band/doc parquet
  * under the state dir is folded into a `batch=-1` partition (always
  * strictly earlier than any real batch) the first time a batch runs;
  * a flat OUTPUT dir cannot be folded safely (pairs carry no batch
  * identity) and is refused with a loud error instead of producing a
  * directory Spark can no longer read.
  */
object StreamDedup {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Bucket count for the persisted band table. Sized for the test/
    * local envelope; at cluster scale pick ~corpus_bands_bytes/128MB
    * (fixed at first table creation — re-bucketing is a state rewrite).
    */
  val DefaultBandBuckets = 8

  def run(spark: SparkSession, landingDir: String, stateDir: String,
          outDir: String, checkpointDir: String,
          threshold: Double = 0.5,
          bandBuckets: Int = DefaultBandBuckets): StreamingQuery = {
    MicroBatch.run(spark, docSchema, landingDir, checkpointDir) {
      (batch0, batchId) =>
        processBatch(spark, batch0, batchId, stateDir, outDir, threshold,
          bandBuckets)
    }
  }

  /** One idempotent micro-batch step (public so a replay — the
    * at-least-once delivery of [[MicroBatch]] — can be exercised
    * directly in tests): dedup `batch0` against all state from batches
    * `< batchId`, then within itself, and overwrite this batch's
    * `batch=<batchId>` partition of the dup report, band table, and
    * doc table. Re-running with the same (batch, batchId) leaves all
    * three tables byte-identical.
    */
  def processBatch(spark: SparkSession, batch0: DataFrame, batchId: Long,
                   stateDir: String, outDir: String,
                   threshold: Double,
                   bandBuckets: Int = DefaultBandBuckets): Unit = {
    val batch = batch0.filter(col("doc_id").isNotNull).persist()
    try {
      val docsPath = s"$stateDir/docs"
      refuseFlatLegacyDir(spark, outDir)
      val bandsTable = ensureBandState(spark, s"$stateDir/bands", bandBuckets)
      // state = strictly earlier batches only; a replayed batch must not
      // probe the partial writes of its own failed attempt. Bands come
      // from the bucketed table (batch=-1 holds any folded legacy
      // state); docs written by the pre-batch-keyed layout have no
      // `batch` partition column: all of them were committed by
      // completed batches, so they are prior state wholesale (and must
      // not crash column resolution).
      val corpusBands = spark.table(bandsTable)
        .filter(col("batch") < batchId).drop("batch")
      val corpusDocs = Try(spark.read.parquet(docsPath)).toOption.map { df =>
        if (df.columns.contains("batch"))
          df.filter(col("batch") < batchId).drop("batch")
        else df
      }
      val crossDups = corpusDocs.map { cd =>
        Dedup.minhashDupAgainstBands(corpusBands, cd, batch, threshold)
      }
      val intraDups = Dedup.minhashDup(batch, threshold)
      val all = crossDups.map(_.unionByName(intraDups)).getOrElse(intraDups)
      MicroBatch.writeBatch(all, outDir, batchId)
      Layout.overwriteBatch(
        Dedup.minhashBands(Dedup.minhashSignatures(batch)), bandsTable, batchId)
      MicroBatch.writeBatch(batch.select(col("doc_id"), col("text")),
        docsPath, batchId)
    } finally {
      try batch.unpersist() catch { case NonFatal(_) => }
      ()
    }
  }

  /** Catalog name for the band-state table over `path` — deterministic
    * per state dir so restarts (and concurrent streams on different
    * state dirs) resolve to the right files.
    */
  private[graft] def bandTableName(path: String): String =
    Layout.stateTableName("graft_bands", path)

  /** Ensure the bucketed band table over `path` is registered, folding
    * any flat pre-batch-keyed band files into the `batch=-1` partition
    * (re-written through the bucketed writer — bucketed reads reject
    * files that lack a bucket id in their name).
    */
  private def ensureBandState(spark: SparkSession, path: String,
                              buckets: Int): String = {
    val table = bandTableName(path)
    Layout.ensureBucketedBatchTable(spark, table, path,
      Seq("doc_id" -> "BIGINT", "band_idx" -> "INT", "band_key" -> "STRING"),
      Seq("band_idx", "band_key"), buckets)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val flat = fs.listStatus(p).filter(f => f.isFile && isDataFile(f.getPath.getName))
      if (flat.nonEmpty) {
        // Fold-then-delete: write the legacy rows to the batch=-1
        // partition FIRST (reading straight off the still-present flat
        // files — localCheckpoint is not fault-tolerant, so deleting
        // before the write commits could lose the pre-migration corpus
        // forever), and remove the flat files only once the write is
        // durable. A crash in between re-folds the same deterministic
        // rows into batch=-1 on the next start; the partitioned table
        // read lists partition directories only, so lingering root
        // files are invisible to it.
        val legacy = spark.read.parquet(flat.map(_.getPath.toString).toSeq: _*)
        Layout.overwriteBatch(legacy, table, -1L)
        flat.foreach(f => fs.delete(f.getPath, false))
      }
    }
    table
  }

  /** The dup report accumulated under the pre-batch-keyed layout (flat
    * parquet directly in `dir`) cannot coexist with `batch=<id>`
    * subdirectories — Spark refuses mixed flat/partitioned listings —
    * and unlike band/doc state it carries no identity to fold by.
    * Refuse loudly instead of writing a layout the user can't read.
    */
  private[streaming] def refuseFlatLegacyDir(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) &&
        fs.listStatus(p).exists(f => f.isFile && isDataFile(f.getPath.getName)))
      throw new IllegalStateException(
        s"output dir $dir holds flat parquet from the pre-batch-keyed " +
        "layout; move those files into a batch=<n> subdirectory (any n < " +
        "the stream's next batch id) or start a fresh outDir")
  }

  private[streaming] def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")
}
