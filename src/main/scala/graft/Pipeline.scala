package graft

import org.apache.spark.sql.functions.col

import graft.core.Sessions
import graft.extract.Extractors
import graft.ingest.IngestJob
import graft.model.Cricsheet
import graft.publish.PublishJob

/** End-to-end pipeline CLI: the whole reference dataflow (E1->E3) as
  * one Spark job graph instead of six Lambdas and a 5-minute SQS delay.
  *
  * Usage: runMain graft.Pipeline <landingDir> <workDir> [maxFiles]
  *
  * landing JSONs -> incremental ingest (ledger anti-join, capped) ->
  * staged scan -> matchwise + deliverywise extraction (one shared scan)
  * -> ordered, renumbered CSV artifacts + version note.
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Pipeline <landingDir> <workDir> [maxFiles]")
      sys.exit(2)
    }
    val landing = args(0); val work = args(1)
    val maxFiles = if (args.length > 2) args(2).toInt else IngestJob.DefaultLimit
    val spark = Sessions.local()
    // status notification hook (the reference's per-Lambda Telegram
    // message becomes a job-outcome listener; transport pluggable)
    graft.core.RunListener.attach(spark,
      m => if (m.contains("finished")) println(s"[pipeline:notify] $m"))

    // a URL is fetched to the work dir first (the reference's download
    // lambda), making `Pipeline <url.zip>` self-contained; a .zip
    // landing path starts from the archive itself (the reference's
    // actual input); a directory goes through the incremental ledger
    // ingest
    val landed =
      if (landing.endsWith(".zip") && graft.sources.Fetch.isFetchUrl(landing)) {
        println(s"[pipeline] fetching $landing")
        graft.sources.Fetch.toLanding(spark, landing, s"$work/landing")
      } else landing
    val ledgerDir = s"$work/ledger"
    var staged: Seq[String] = Nil
    val raw = (if (landed.endsWith(".zip")) {
      println(s"[pipeline] reading matches from archive $landed")
      graft.sources.ZipSource.readMatches(spark, landed)
    } else {
      staged = IngestJob.run(spark, landed, s"$work/staging",
        ledgerDir, maxFiles)
      println(s"[pipeline] ingested ${staged.size} new file(s): ${staged.mkString(", ")}")
      Cricsheet.read(spark, s"$work/staging")
    }).persist()
    val matchwise = PublishJob.buildMatchwise(Extractors.matchwise(raw))
    val deliverywise = PublishJob.buildDeliverywise(
      Extractors.deliverywise(raw), matchwise)

    // each extraction stage marks ITS OWN ledger flag once its artifact
    // is written (the reference's per-stage DynamoDB update_item) — a
    // crash between the two leaves a retryable half-done ledger row
    val mwRows = PublishJob.writeCsv(matchwise, s"$work/output/matchwise_data.csv")
    IngestJob.markStage(spark, ledgerDir, staged, IngestJob.MatchwiseStatus)
    val dwRows =
      PublishJob.writeCsv(deliverywise, s"$work/output/deliverywise_data.csv")
    IngestJob.markStage(spark, ledgerDir, staged, IngestJob.DeliverywiseStatus)
    println(s"[pipeline] matchwise rows: $mwRows")
    println(s"[pipeline] deliverywise rows: $dwRows")
    println(s"[pipeline] version note: ${PublishJob.versionNote(matchwise)}")
    raw.unpersist()
    spark.stop()
  }
}
