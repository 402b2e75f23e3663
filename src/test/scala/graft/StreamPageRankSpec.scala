package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.ext.Graphs
import graft.streaming.StreamPageRank

/** Streaming warm PageRank maintenance: stream == the g26 warm-start
  * operator on split cohorts, replay idempotency, end-to-end
  * readStream.
  */
class StreamPageRankSpec extends SparkSpec {

  import spark.implicits._

  private var n = 0
  private def fresh(): String = {
    n += 1
    val base = Files.createTempDirectory(s"st_pr$n").toString
    base + "/edges"
  }

  private def transDf(rows: Seq[(Long, Long)]) = rows.toDF("src", "dst")

  private def weighted(rows: Seq[(Long, Long)]) =
    transDf(rows).groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))

  private def ranksMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // two cohorts of transition occurrences, overlapping edges included
  private val b0 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 2L))
  private val b1 = Seq((3L, 4L), (4L, 1L), (1L, 2L))

  test("streamed warm refresh equals the g26 warm-start operator") {
    val state = fresh()
    StreamPageRank.processBatch(spark, transDf(b0), 0L, state,
      refreshIters = 3, buckets = 4)
    StreamPageRank.processBatch(spark, transDf(b1), 1L, state,
      refreshIters = 2, buckets = 4)
    // batch 0 from the empty seed IS cold pageRank over cohort 0
    val r0 = ranksMap(spark.read.parquet(s"${state}_ranks/batch=0"))
    assert(r0 == ranksMap(Graphs.pageRank(weighted(b0), iters = 3)))
    // batch 1 == pageRankWarmStart(cohort0, cohort1): same cold base
    // (baseIters = batch 0's refreshIters), same refresh sweep count
    val warm = Graphs.pageRankWarmStart(weighted(b0), weighted(b1),
      baseIters = 3, refreshIters = 2)
      .select(col("k"), col("r_warm")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranksMap(StreamPageRank.ranksNow(spark, state, 4)) == warm)
  }

  test("replaying a batch rewrites identical edge and rank partitions") {
    val state = fresh()
    StreamPageRank.processBatch(spark, transDf(b0), 0L, state, 2, 4)
    StreamPageRank.processBatch(spark, transDf(b1), 1L, state, 2, 4)
    val before = (spark.read.parquet(state).collect().toSet,
      spark.read.parquet(s"${state}_ranks").collect().toSet)
    // replay BOTH batches out of order: each reads only earlier state
    StreamPageRank.processBatch(spark, transDf(b0), 0L, state, 2, 4)
    StreamPageRank.processBatch(spark, transDf(b1), 1L, state, 2, 4)
    val after = (spark.read.parquet(state).collect().toSet,
      spark.read.parquet(s"${state}_ranks").collect().toSet)
    assert(after == before)
  }

  test("end-to-end readStream maintains ranks across two micro-batches") {
    val state = fresh()
    val landing = Files.createTempDirectory("st_pr_landing").toString
    val ckpt = Files.createTempDirectory("st_pr_ckpt").toString
    def line(e: (Long, Long)) = s"""{"src": ${e._1}, "dst": ${e._2}}"""
    Files.writeString(Paths.get(landing, "b0.json"),
      b0.map(line).mkString("\n"))
    StreamPageRank.run(spark, landing, state, ckpt,
      refreshIters = 3, buckets = 4).awaitTermination()
    Files.writeString(Paths.get(landing, "b1.json"),
      b1.map(line).mkString("\n"))
    StreamPageRank.run(spark, landing, state, ckpt,
      refreshIters = 3, buckets = 4).awaitTermination()
    val warm = Graphs.pageRankWarmStart(weighted(b0), weighted(b1),
      baseIters = 3, refreshIters = 3)
      .select(col("k"), col("r_warm")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranksMap(StreamPageRank.ranksNow(spark, state, 4)) == warm)
  }
}
