package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ext.Curation

/** Streaming sitemap discovery — the incremental twin of c44
  * ([[Curation.sitemapFrontier]]): advertised (sm_domain, url) locs
  * arrive in micro-batches, each batch is canonicalized with the SAME
  * [[Curation.urlNormalize]] the frontier uses, robots-admitted
  * ([[Curation.admissionVerdict]] — one broadcast rules attach), and
  * probed against the crawler's accumulated seen-URL state (the
  * [[StreamUrlDedup]] bucketed table); `fetchable` = allowed AND
  * unseen — the rows a scheduler fetches NOW, without waiting for a
  * batch discovery sweep. Like c44 it is TRUST-UNAWARE by design: the
  * cross-submission verdict (c48) is a curation-time audit, not a
  * per-batch gate.
  *
  * Shape: the arriving batch is the ONLY side that shuffles — the
  * seen-probe joins the state on norm_url through the bucketed scan
  * (zero Exchange on the state side, the StreamUrlDedup probe
  * contract), so per-batch work is O(batch), never O(frontier).
  *
  * [[MicroBatch]] is AT-LEAST-ONCE (the StreamDedup contract): the
  * output is keyed by batch id (`batch=<id>`, overwrite) and batch
  * content is a deterministic function of (arrivals, state), so a
  * replayed batch rewrites byte-identical rows. Run the discovery
  * stream BETWEEN frontier-dedup runs — the state must not move under
  * a batch and its replay (the same offline contract
  * [[StreamUrlDedup.compactState]] documents).
  */
object StreamSitemap {

  val locSchema: StructType = StructType(Seq(
    StructField("sm_domain", StringType), StructField("url", StringType)))

  def run(spark: SparkSession, landingDir: String, stateDir: String,
          outDir: String, checkpointDir: String,
          urlBuckets: Int = StreamUrlDedup.DefaultUrlBuckets)
      : StreamingQuery = {
    MicroBatch.run(spark, locSchema, landingDir, checkpointDir) {
      (batch0, batchId) =>
        processBatch(spark, batch0, batchId, stateDir, outDir, urlBuckets)
    }
  }

  /** One idempotent micro-batch step (public so replays are exercised
    * directly in tests): canonicalize + admit the batch's locs, flag
    * locs whose canonical URL the state has already seen, overwrite
    * this batch's partition of the discovery report.
    */
  def processBatch(spark: SparkSession, batch0: DataFrame, batchId: Long,
                   stateDir: String, outDir: String,
                   urlBuckets: Int = StreamUrlDedup.DefaultUrlBuckets)
      : Unit = {
    val admitted = Curation.admissionVerdict(Curation.urlNormalize(
        batch0.filter(col("sm_domain").isNotNull && col("url").isNotNull)))
      .select(col("sm_domain"), col("url"), col("norm_url"), col("domain"),
        col("target"), col("matched_rule"), col("allowed"))
    // the state side is one row per norm_url (the processBatch
    // invariant), so the probe needs no distinct — a left join through
    // the bucketed scan keeps the state side Exchange-free
    val seen = StreamUrlDedup.urlState(spark, stateDir, urlBuckets)
      .select(col("norm_url"), lit(true).as("already_seen"))
    MicroBatch.writeBatch(admitted.join(seen, Seq("norm_url"), "left")
      .select(col("sm_domain"), col("url"), col("norm_url"), col("domain"),
        col("target"), col("matched_rule"), col("allowed"),
        coalesce(col("already_seen"), lit(false)).as("already_seen"))
      .withColumn("fetchable", col("allowed") && !col("already_seen")),
      outDir, batchId)
  }
}
