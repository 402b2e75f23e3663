package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ext.{Dedup, TextOps}
import graft.operators.Layout

/** Streaming boilerplate-lexicon maintenance — the incremental form of
  * [[graft.ext.TextAnalysis.boilerplateCoverage]]'s cross-doc lexicon:
  * each micro-batch appends its per-shingle DISTINCT-doc counts as an
  * idempotent `batch=<id>` partition of a shingle-BUCKETED delta table,
  * so the accumulated lexicon is one zero-Exchange groupBy(s) SUM over
  * the deltas (bucketing on `s` co-locates every shingle's deltas —
  * the [[StreamTransitions.edgesNow]] shape). No stateful operator is
  * needed: counts are additive, and batch-keyed partitions make
  * replays rewrite identical rows.
  *
  * [[lexiconNow]] serves the current boilerplate set (shingles seen in
  * >= minDocs distinct docs so far); [[coverageNow]] scores any doc
  * table against it with the t23 interval-union rule — at scale the
  * persisted delta table IS the lexicon a production scrub pass ships.
  * Docs may arrive across batches; a doc's shingles count once per
  * (doc, shingle) GLOBALLY only if the doc itself is not split across
  * batches (the file-per-doc landing contract).
  */
object StreamScrub {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  val DeltaCols: Seq[(String, String)] = Seq(
    "s" -> "STRING", "nd" -> "BIGINT")

  def run(spark: SparkSession, landingDir: String, table: String,
          statePath: String, checkpointDir: String,
          n: Int = Dedup.ShingleSize, buckets: Int = 8): StreamingQuery = {
    MicroBatch.run(MicroBatch.landing(spark, docSchema, landingDir)
        .filter(col("doc_id").isNotNull && col("text").isNotNull),
      checkpointDir, OutputMode.Append) { (batch, batchId) =>
      writeDeltas(spark, batch, batchId, table, statePath, n, buckets)
    }
  }

  /** One idempotent per-shingle distinct-doc-count delta write. */
  def writeDeltas(spark: SparkSession, docs: DataFrame, batchId: Long,
                  table: String, statePath: String, n: Int,
                  buckets: Int): Unit = {
    Layout.ensureBucketedBatchTable(spark, table, statePath, DeltaCols,
      Seq("s"), buckets)
    val delta = docs
      .select(col("doc_id"),
        explode(TextOps.wordShingles(col("text"), n)).as("s"))
      .groupBy(col("s")).agg(countDistinct(col("doc_id")).as("nd"))
    Layout.overwriteBatch(delta, table, batchId)
  }

  /** The accumulated boilerplate lexicon: shingles in >= minDocs
    * distinct docs so far. Zero Exchange on the delta fold —
    * bucketing on `s` co-locates each shingle's per-batch counts.
    */
  def lexiconNow(spark: SparkSession, table: String,
                 minDocs: Long): DataFrame =
    spark.table(table)
      .groupBy(col("s")).agg(sum(col("nd")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("s"))

  /** Score a doc table against the current lexicon with the t23
    * interval-union coverage rule. Output: (doc_id, n_tokens, covered,
    * frac) for every doc.
    */
  def coverageNow(spark: SparkSession, table: String, docs: DataFrame,
                  n: Int = Dedup.ShingleSize,
                  minDocs: Long = 20L): DataFrame = {
    val sh = graft.core.Tables.spread(docs)
      .select(col("doc_id"),
        posexplode(TextOps.allWordShingles(col("text"), n)).as(Seq("pos", "s")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val covered = sh.join(lexiconNow(spark, table, minDocs), Seq("s"))
      .withColumn("prev_end", coalesce(max(col("pos") + n).over(w), col("pos")))
      .withColumn("contrib",
        greatest(lit(0), col("pos") + n - greatest(col("pos"), col("prev_end"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).cast("long").as("covered"))
    docs.select(col("doc_id"),
        size(TextOps.words(col("text"))).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        (coalesce(col("covered"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("frac"))
      .orderBy(col("doc_id"))
  }
}
