package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ext.TextAnalysis
import graft.streaming.{BatchState, StreamNovelty}

/** Streaming first-occurrence novelty: per-batch scores must equal the
  * batch noveltyScore over the concatenated stream (t21), the
  * first-occurrence index must be grow-only and replay-stable, and the
  * corpus side of the anti-join must plan exchange-free.
  */
class StreamNoveltySpec extends SparkSpec {
  import spark.implicits._

  private def outMap(out: String): Map[Long, (Long, Long, Double)] =
    spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap

  test("streamed novelty equals the batch t21 scores, cross-batch and replayed") {
    val state = Files.createTempDirectory("sn_state").toString
    val out = Files.createTempDirectory("sn_out").toString + "/scores"
    val b0 = Seq(
      (0L, "aa bb cc dd ee"),
      (1L, "aa bb cc dd ee")).toDF("doc_id", "text")
    val b1 = Seq(
      (2L, "aa bb cc dd zz"), // 2 of 3 shingles already claimed in b0
      (3L, "pp qq rr ss"),    // all novel
      (4L, "xx yy")).toDF("doc_id", "text") // too short
    StreamNovelty.processBatch(spark, b0, 0L, state, out)
    StreamNovelty.processBatch(spark, b1, 1L, state, out)
    val got = outMap(out)
    // batch twin over the same docs in the same ingestion order
    val want = TextAnalysis.noveltyScore(b0.unionByName(b1)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap
    assert(got == want, s"streamed $got vs batch $want")
    assert(got(0L)._3 == 1.0 && got(1L)._3 == 0.0)
    assert(got(2L) == ((3L, 1L, 1.0 / 3)))
    assert(got(3L)._3 == 1.0 && got(4L)._3 == -1.0)
    // index is grow-only: batch 1 appended only its novel shingles
    def idxCounts(): (Long, Long) = {
      val idx = spark.read.parquet(s"$state/index")
      (idx.filter(col("batch") === 0).count(),
        idx.filter(col("batch") === 1).count())
    }
    assert(idxCounts() == ((3L, 3L)))
    // at-least-once replay: same partition, same scores, no index growth
    StreamNovelty.processBatch(spark, b1, 1L, state, out)
    assert(outMap(out) == got, "replay changed scores")
    assert(idxCounts() == ((3L, 3L)), "replay grew the index")
  }

  test("the corpus side of the anti-join plans exchange-free") {
    val state = Files.createTempDirectory("sn_state2").toString
    val out = Files.createTempDirectory("sn_out2").toString + "/scores"
    val corpus = (0L until 100L).map(i =>
      (i, s"corpus doc number $i with some shared words and body $i"))
      .toDF("doc_id", "text")
    StreamNovelty.processBatch(spark, corpus, 0L, state, out)
    val batch = (1000L until 1010L).map(i =>
      (i, s"fresh doc number $i body $i")).toDF("doc_id", "text")
    val sh = batch.select(col("doc_id"),
      explode(graft.functions.ShingleHashesOf(col("text"),
        graft.ext.Dedup.ShingleSize)).as("s"))
    val corpusS = spark
      .table(BatchState.tableName(s"$state/index"))
      .filter(col("batch") < 1).select(col("s"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = sh.join(corpusS, Seq("s"), "left_anti")
      val plan = probe.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected only the batch-side shuffle:\n$plan")
      assert(plan.contains("SelectedBucketsCount"),
        s"index not read as a bucketed scan:\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
