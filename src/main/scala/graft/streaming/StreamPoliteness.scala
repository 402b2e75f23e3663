package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}

/** Streaming crawl-politeness compliance — the incremental twin of
  * c41's gap audit ([[graft.ext.Curation.crawlPoliteness]]'s
  * violation/min-gap half): per-domain fetch events arrive in event
  * time (the file-stream contract — a fetcher logs in order), each
  * micro-batch folds its own consecutive-gap violations AND the
  * boundary gap against the domain's running state, so the cumulative
  * (n_fetches, n_violations, min_gap_ms) equals the batch audit over
  * the full log at every step (the split-cohort equivalence the spec
  * pins).
  *
  * State is ONE table bucketed by domain and partitioned by batch: one
  * CUMULATIVE row per touched domain per batch — the current state of
  * a domain is its row with the highest batch id, read as a
  * partial-aggregable max_by over the bucketed scan (zero Exchange on
  * the state side; only the O(batch) arrival side shuffles). Untouched
  * domains simply keep their older row current.
  *
  * [[MicroBatch]] is AT-LEAST-ONCE (the StreamDedup contract): writes
  * are batch-keyed with dynamic-partition overwrite, the state a batch
  * merges against is restricted to STRICTLY EARLIER batches, and the
  * merge is a deterministic function of (prior, batch) — replays
  * rewrite byte-identical partitions.
  */
object StreamPoliteness {

  val fetchSchema: StructType = StructType(Seq(
    StructField("domain", StringType), StructField("ts", TimestampType)))

  val DefaultDomainBuckets = 8

  def run(spark: SparkSession, landingDir: String, stateDir: String,
          checkpointDir: String, policy: Seq[(String, Long)],
          defaultDelayMs: Long = 600000L,
          domainBuckets: Int = DefaultDomainBuckets): StreamingQuery = {
    MicroBatch.run(spark, fetchSchema, landingDir, checkpointDir) {
      (batch0, batchId) =>
        processBatch(spark, batch0, batchId, stateDir, policy,
          defaultDelayMs, domainBuckets)
    }
  }

  /** One idempotent micro-batch step: aggregate the batch's per-domain
    * gap profile, merge it onto the latest strictly-earlier state row
    * (boundary gap included), overwrite this batch's partition.
    */
  def processBatch(spark: SparkSession, batch0: DataFrame, batchId: Long,
                   stateDir: String, policy: Seq[(String, Long)],
                   defaultDelayMs: Long = 600000L,
                   domainBuckets: Int = DefaultDomainBuckets): Unit = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain")).orderBy(col("ms"))
    // the batch twin's delay resolution, verbatim (one shared broadcast
    // delay-dimension join) — shared so the split-cohort equivalence
    // cannot drift
    val batchAgg = graft.ext.Curation.withDelayMs(
        batch0
          .filter(col("domain").isNotNull && col("ts").isNotNull)
          .select(col("domain"), unix_millis(col("ts")).as("ms"))
          .withColumn("gap", col("ms") - lag(col("ms"), 1).over(w)),
        policy, defaultDelayMs)
      .groupBy(col("domain"))
      .agg(max(col("delay_ms")).as("delay_ms"),
        count(lit(1)).as("b_n"),
        sum(when(col("gap") < col("delay_ms"), 1L).otherwise(0L))
          .as("b_viol"),
        min(col("gap")).as("b_min_gap"),
        min(col("ms")).as("b_first"),
        max(col("ms")).as("b_last"))
    val st = state(spark, stateDir, domainBuckets)
    // latest cumulative row per domain from strictly earlier batches:
    // a partial-aggregable max_by over the domain-bucketed scan
    val prior = st.latest(Seq("domain"), StateVals, st.before(batchId))
      .select(col("domain"), col("n_fetches").as("p_n"),
        col("n_violations").as("p_viol"),
        col("min_gap_ms").as("p_min_gap"), col("last_ms").as("p_last"))
    // out-of-order arrival ACROSS batches (a batch's first event for a
    // domain preceding the prior state's last) would make bgap negative
    // — silently counted as a violation and poisoning min_gap_ms, while
    // the batch twin (which sorts the full log) would disagree. The
    // file-stream contract says fetchers log in order, so event-time
    // disorder is a broken input: fail LOUDLY, inside the consumed
    // expression (a separate assert column would be pruned away).
    val disorder = raise_error(concat(
      lit("StreamPoliteness: out-of-order cross-batch arrival for domain '"),
      col("domain"), lit("': batch first "),
      col("b_first").cast("string"), lit(" ms < prior last "),
      col("p_last").cast("string"),
      lit(" ms — the cumulative audit would diverge from the batch twin;" +
        " replay the fetch log in event-time order")))
    val merged = batchAgg.join(prior, Seq("domain"), "left")
      .withColumn("bgap",
        when(col("p_last").isNotNull,
          when(col("b_first") < col("p_last"), disorder.cast("long"))
            .otherwise(col("b_first") - col("p_last"))))
      .select(col("domain"),
        (coalesce(col("p_n"), lit(0L)) + col("b_n")).as("n_fetches"),
        (coalesce(col("p_viol"), lit(0L)) + col("b_viol") +
          when(col("bgap") < col("delay_ms"), 1L).otherwise(0L))
          .as("n_violations"),
        least(col("p_min_gap"), col("b_min_gap"), col("bgap"))
          .as("min_gap_ms"),
        greatest(coalesce(col("p_last"), col("b_last")), col("b_last"))
          .as("last_ms"))
    st.overwrite(merged, batchId)
  }

  /** Current per-domain compliance snapshot: the highest-batch row per
    * domain, with the verdict attached — what c41's batch audit
    * reports, read incrementally.
    */
  def snapshot(spark: SparkSession, stateDir: String,
               domainBuckets: Int = DefaultDomainBuckets): DataFrame =
    state(spark, stateDir, domainBuckets).latest(Seq("domain"), StateVals)
      .select(col("domain"), col("n_fetches"), col("n_violations"),
        col("min_gap_ms"), (col("n_violations") === 0L).as("compliant"))
      .orderBy(col("domain"))

  private val StateVals = Seq("n_fetches", "n_violations", "min_gap_ms",
    "last_ms")

  private def state(spark: SparkSession, stateDir: String,
                    buckets: Int): BatchState =
    BatchState.open(spark, s"$stateDir/politeness",
      ("domain" -> "STRING") +: StateVals.map(_ -> "BIGINT"),
      Seq("domain"), buckets)
}
