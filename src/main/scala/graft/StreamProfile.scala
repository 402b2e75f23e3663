package graft

import org.apache.spark.sql.functions._

/** Dev-only per-BATCH job profiler for the streaming operators:
  * `runMain graft.StreamProfile [sfDir]` seeds each operator's state
  * with a batch-0 call, then profiles a representative warm batch
  * (batch 1) — every Spark job's duration and count for ONE
  * processBatch step, the number a per-batch latency budget actually
  * pays, through [[JobProfile.profiled]] (JobProfile profiles
  * registered queries; streaming steps are not in the registry).
  * Measurement tooling only; never on any query path.
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus.toInt)
    val tmp = java.nio.file.Files.createTempDirectory("streamprofile").toString

    val embs = graft.core.Tables.load(spark, sfDir, "embeddings")
    val ev = graft.core.Tables.load(spark, sfDir, "events")

    // --- StreamSimilarity: batch 0 seeds the vector/bucket state,
    // batch 1 is the profiled warm probe-and-append step
    graft.streaming.StreamSimilarity.processBatch(spark,
      embs.filter(col("vec_id") % 2 === 0), 0L,
      s"$tmp/sim_state", s"$tmp/sim_out", nPlanes = 8, threshold = 0.9)
    JobProfile.profiled(spark, "StreamSimilarity.processBatch(warm)") {
      graft.streaming.StreamSimilarity.processBatch(spark,
        embs.filter(col("vec_id") % 2 === 1), 1L,
        s"$tmp/sim_state", s"$tmp/sim_out", nPlanes = 8, threshold = 0.9)
    }

    // --- StreamSketch (HLL registers): batch 0 seeds, batch 1 profiled
    val users = ev.select(col("event_id"), col("user_id"))
    graft.streaming.StreamSketch.processBatch(spark,
      users.filter(col("event_id") % 2 === 0), 0L, s"$tmp/sk_state", p = 8)
    JobProfile.profiled(spark, "StreamSketch.processBatch(warm)") {
      graft.streaming.StreamSketch.processBatch(spark,
        users.filter(col("event_id") % 2 === 1), 1L, s"$tmp/sk_state", p = 8)
    }

    // --- StreamPageRank: transition edges from consecutive events per
    // user (the StreamTransitions shape); batch 0 seeds graph + ranks,
    // batch 1 is the profiled warm-refresh step
    val edges = ev.select((col("event_id") % 97).as("src"),
        (col("event_id") % 89).as("dst"))
      .filter(col("src") =!= col("dst"))
    spark.sql("DROP TABLE IF EXISTS graft_streamprofile_pr")
    graft.streaming.StreamPageRank.processBatch(spark,
      edges.filter(col("src") % 2 === 0), 0L, "graft_streamprofile_pr",
      s"$tmp/pr_state", refreshIters = 2, buckets = 8)
    JobProfile.profiled(spark, "StreamPageRank.processBatch(warm)") {
      graft.streaming.StreamPageRank.processBatch(spark,
        edges.filter(col("src") % 2 === 1), 1L, "graft_streamprofile_pr",
        s"$tmp/pr_state", refreshIters = 2, buckets = 8)
    }

    spark.stop()
  }
}
