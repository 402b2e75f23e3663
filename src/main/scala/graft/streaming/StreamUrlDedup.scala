package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ext.Curation
import graft.operators.Layout

/** Streaming URL-frontier dedup — the incremental twin of c39
  * ([[Curation.urlDedup]]), the stage a crawler runs BEFORE paying to
  * fetch: arriving (doc_id, url) batches are canonicalized
  * ([[Curation.urlNormalize]]) and dropped against the accumulated
  * seen-URL state exactly once. Keeper semantics are c39's "first
  * fetch": within a batch the lowest doc_id of a fresh norm_url wins;
  * across batches the FIRST-ARRIVED keeper wins (ids arrive in fetch
  * order, so first-arrived IS lowest — the split-cohort equivalence
  * the spec pins).
  *
  * State is ONE table: (norm_url, domain, keep_doc), BUCKETED by
  * norm_url ([[Layout.ensureBucketedBatchTable]]) and partitioned by
  * batch — each batch probes it with norm_url equi-joins, so the
  * corpus side of every probe plans with NO Exchange: only the
  * O(batch) arriving side shuffles, and per-batch work is O(batch),
  * never O(frontier).
  *
  * [[MicroBatch]] is AT-LEAST-ONCE (the StreamDedup contract): every
  * write is keyed by batch id (`batch=<id>`, dynamic-partition
  * overwrite), the state a batch probes is restricted to STRICTLY
  * EARLIER batches, and batch content is a deterministic function of
  * the input — so a replayed batch rewrites byte-identical partitions
  * instead of appending a second copy or dropping a doc against its
  * own failed attempt.
  *
  * Many tiny micro-batches accumulate one state partition each, so a
  * probe's file count grows O(#batches) even though its per-row work
  * stays O(batch); [[compactState]] is the maintenance step that folds
  * the accumulated keeper partitions back into one low batch id
  * without breaking the strictly-earlier-batch replay invariant.
  */
object StreamUrlDedup {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("url", StringType)))

  /** Bucket count for the persisted seen-URL table — the test/local
    * envelope; at cluster scale ~frontier_bytes/128MB, fixed at first
    * table creation.
    */
  val DefaultUrlBuckets = 8

  def run(spark: SparkSession, landingDir: String, stateDir: String,
          outDir: String, checkpointDir: String,
          urlBuckets: Int = DefaultUrlBuckets): StreamingQuery = {
    MicroBatch.run(spark, docSchema, landingDir, checkpointDir) {
      (batch0, batchId) =>
        processBatch(spark, batch0, batchId, stateDir, outDir, urlBuckets)
    }
  }

  /** One idempotent micro-batch step (public so replays — the
    * at-least-once delivery — are exercised directly in tests):
    * canonicalize, drop arrivals whose norm_url is in state from
    * batches `< batchId` (cross-batch drops keep the STATE's keeper),
    * collapse fresh norm_urls to their lowest doc_id (intra-batch
    * drops), then overwrite this batch's partition of the drop report
    * and the seen-URL state (fresh keepers only — the state stays one
    * row per norm_url across the whole stream).
    */
  def processBatch(spark: SparkSession, batch0: DataFrame, batchId: Long,
                   stateDir: String, outDir: String,
                   urlBuckets: Int = DefaultUrlBuckets): Unit = {
    // a half-finished compaction leaves the same norm_url in two state
    // partitions (merged row written, old partition not yet dropped) —
    // probing that state double-matches and can duplicate drop records,
    // so the documented "re-run compaction before resuming" contract is
    // CHECKED here, not just written down
    val marker = compactingMarker(spark, s"$stateDir/urls")
    require(!marker._1.getFileSystem(marker._2).exists(marker._1),
      s"StreamUrlDedup: compaction-in-progress marker ${marker._1} " +
        "exists — a prior compactState crashed mid-flight; re-run " +
        "compactState(upToBatch) to convergence before resuming the " +
        "stream (probing half-compacted state double-matches norm_urls)")
    val normed = Curation.urlNormalize(
        batch0.filter(col("doc_id").isNotNull && col("url").isNotNull))
      .select(col("doc_id"), col("norm_url"), col("domain"))
      .persist()
    try {
      val table = ensureUrlState(spark, s"$stateDir/urls", urlBuckets)
      val seen = spark.table(table)
        .filter(col("batch") < batchId).drop("batch")
      // cross-batch drops: the state's keeper wins, whatever this
      // batch's ids are (first fetch already happened)
      val crossDrops = normed
        .join(seen.select(col("norm_url"), col("keep_doc")), "norm_url")
        .select(col("doc_id"), col("norm_url"), col("domain"),
          col("keep_doc"))
      // fresh norm_urls: lowest doc_id keeps, the rest drop
      val fresh = normed.join(seen.select("norm_url"), Seq("norm_url"),
        "left_anti")
      val keepers = fresh.groupBy(col("norm_url"), col("domain"))
        .agg(min(col("doc_id")).as("keep_doc"))
      val intraDrops = fresh
        .join(keepers.select(col("norm_url"), col("keep_doc")), "norm_url")
        .filter(col("doc_id") =!= col("keep_doc"))
        .select(col("doc_id"), col("norm_url"), col("domain"),
          col("keep_doc"))
      MicroBatch.writeBatch(crossDrops.unionByName(intraDrops), outDir,
        batchId)
      Layout.overwriteBatch(
        keepers.select(col("norm_url"), col("domain"), col("keep_doc")),
        table, batchId)
    } finally {
      try normed.unpersist()
      catch { case scala.util.control.NonFatal(_) => }
      ()
    }
  }

  /** Compact the accumulated seen-URL state: rewrite every row from
    * batches <= `upToBatch` into the single partition
    * batch=`upToBatch` and drop the older partitions — the maintenance
    * step that keeps a probe's state side at O(active batches)
    * files/partitions instead of O(every batch ever) when micro-batches
    * are small and many. Correctness invariants preserved:
    *
    *  - probes: any batch b > upToBatch still sees every compacted row
    *    (they keep a batch id < b), and the state stays one row per
    *    norm_url;
    *  - replay: under AvailableNow + checkpointing only the NEWEST
    *    batch can be redelivered, and the guard below refuses to
    *    compact it away — its strictly-earlier probe set is untouched.
    *
    * Offline-idempotent contract: run BETWEEN stream runs, never
    * concurrently with one. A crash between the merged write and the
    * partition drops can leave a row in both its old partition and the
    * merged one; a crashed compaction MUST therefore be re-run before
    * the stream resumes — it converges, because the merged content is
    * a deterministic `distinct` (re-absorbing any such double rows)
    * and the drops are the only missing piece. That contract is
    * ENFORCED, not advisory: a `_COMPACTING` marker (underscore-
    * prefixed, so Spark's file listing ignores it) is written before
    * the merged overwrite and removed only after every old partition
    * is dropped; [[processBatch]] refuses to run while it exists, so a
    * resume against half-compacted state fails loudly instead of
    * double-matching probes. A re-run of compactState itself proceeds
    * through an existing marker (it IS the recovery path).
    */
  def compactState(spark: SparkSession, stateDir: String, upToBatch: Long,
                   urlBuckets: Int = DefaultUrlBuckets): Unit = {
    val path = s"$stateDir/urls"
    val table = ensureUrlState(spark, path, urlBuckets)
    val batches = spark.table(table).select(col("batch")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    if (batches.nonEmpty) {
      require(upToBatch < batches.max,
        s"compactState: upToBatch=$upToBatch must stay strictly below " +
          s"the newest batch ${batches.max} — the newest batch may still " +
          "replay against strictly-earlier state")
      val old = batches.filter(_ < upToBatch)
      if (old.nonEmpty) {
        val (mpath, conf) = compactingMarker(spark, path)
        val fs = mpath.getFileSystem(conf)
        fs.create(mpath, true).close() // raise the in-progress flag
        // materialize BEFORE overwriting a partition the plan reads;
        // distinct rides the norm_url buckets (subset clustering) and
        // re-absorbs double rows left by a crashed prior compaction
        val merged = spark.table(table)
          .filter(col("batch") <= upToBatch)
          .select(col("norm_url"), col("domain"), col("keep_doc"))
          .distinct()
          .localCheckpoint()
        Layout.overwriteBatch(merged, table, upToBatch)
        old.foreach { b =>
          spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (batch=$b)")
          fs.delete(
            new org.apache.hadoop.fs.Path(MicroBatch.partition(path, b)), true)
          ()
        }
        fs.delete(mpath, false) // state is single-copy again
        ()
      }
    }
  }

  /** The accumulated seen-URL state as a DataFrame (norm_url, domain,
    * keep_doc, batch) read through the bucketed table — the probe
    * surface [[graft.streaming.StreamSitemap]] and other consumers
    * join against with NO Exchange on this side. One row per norm_url
    * across all batches (the [[processBatch]] invariant).
    */
  def urlState(spark: SparkSession, stateDir: String,
               urlBuckets: Int = DefaultUrlBuckets): DataFrame =
    spark.table(ensureUrlState(spark, s"$stateDir/urls", urlBuckets))

  /** The compaction-in-progress marker for the state table at `path`:
    * (marker path, hadoop conf). Underscore-prefixed, so Spark's file
    * listing treats it as hidden and probes never read it as data.
    */
  private def compactingMarker(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.Path, org.apache.hadoop.conf.Configuration) =
    (new org.apache.hadoop.fs.Path(path, "_COMPACTING"),
      spark.sparkContext.hadoopConfiguration)

  /** Catalog name for the seen-URL state table over `path`. */
  private[graft] def urlTableName(path: String): String =
    Layout.stateTableName("graft_urls", path)

  private def ensureUrlState(spark: SparkSession, path: String,
                             buckets: Int): String = {
    val table = urlTableName(path)
    Layout.ensureBucketedBatchTable(spark, table, path,
      Seq("norm_url" -> "STRING", "domain" -> "STRING",
        "keep_doc" -> "BIGINT"),
      Seq("norm_url"), buckets)
    table
  }
}
