package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.StreamScrub

/** Streaming boilerplate lexicon: accumulated deltas equal the batch
  * lexicon, coverage against the streamed lexicon equals the batch t23
  * operator, replays are idempotent, and the delta fold is
  * exchange-free.
  */
class StreamScrubSpec extends SparkSpec {

  import spark.implicits._

  private val Buckets = 8
  private val MinDocs = 20L

  // 25 docs carry the planted boilerplate 3-gram run; 10 don't
  private val rows: Seq[(Long, String)] =
    (0 until 25).map(i =>
      (i.toLong, s"alpha$i beta$i the quick brown fox gamma$i delta$i")) ++
      (25 until 35).map(i => (i.toLong, s"alpha$i beta$i gamma$i delta$i"))

  private def writeDocs(dir: String, name: String,
                        rs: Seq[(Long, String)]): Unit = {
    val lines = rs.map { case (id, t) =>
      s"""{"doc_id": $id, "text": "$t"}"""
    }.mkString("\n")
    Files.writeString(Paths.get(dir, name), lines)
    ()
  }

  private def docsDf(rs: Seq[(Long, String)]) = rs.toDF("doc_id", "text")

  test("streamed lexicon and coverage equal the batch t23 operator") {
    val landing = Files.createTempDirectory("scrub_landing").toString
    val state = Files.createTempDirectory("scrub_state").toString + "/lex"
    val ckpt = Files.createTempDirectory("scrub_ckpt").toString
    writeDocs(landing, "b0.json", rows.take(18))
    StreamScrub.run(spark, landing, state, ckpt, buckets = Buckets)
      .awaitTermination()
    writeDocs(landing, "b1.json", rows.drop(18))
    StreamScrub.run(spark, landing, state, ckpt, buckets = Buckets)
      .awaitTermination()
    val all = docsDf(rows)
    val streamedLex = StreamScrub.lexiconNow(spark, state, MinDocs)
      .collect().map(_.getString(0)).toSet
    // the planted phrase yields boilerplate 3-grams; per-doc fillers don't
    assert(streamedLex.contains("the quick brown"))
    assert(streamedLex.contains("quick brown fox"))
    val batchLex = all
      .select(col("doc_id"),
        explode(graft.ext.TextOps.wordShingles(col("text"), 3)).as("s"))
      .groupBy(col("s")).agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= MinDocs).collect().map(_.getString(0)).toSet
    assert(streamedLex == batchLex)
    val streamed = StreamScrub.coverageNow(spark, state, all,
        minDocs = MinDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.ext.TextAnalysis.boilerplateCoverage(all,
        minDocs = MinDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    // boilerplate docs are covered over the 4-token phrase extent
    assert(streamed.take(25).forall(_._3 == 4L))
    assert(streamed.drop(25).forall(_._3 == 0L))
  }

  test("delta writes replay idempotently and fold with no Exchange") {
    val state = Files.createTempDirectory("scrub_state2").toString + "/lex"
    val d = docsDf(rows.take(22))
    StreamScrub.writeDeltas(spark, d, 0L, state, 3, Buckets)
    val first = StreamScrub.lexiconNow(spark, state, MinDocs)
      .collect().map(_.getString(0)).toSet
    StreamScrub.writeDeltas(spark, d, 0L, state, 3, Buckets)
    assert(StreamScrub.lexiconNow(spark, state, MinDocs)
      .collect().map(_.getString(0)).toSet == first)
    val plan = StreamScrub.lexiconNow(spark, state, MinDocs)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"s-bucketed delta fold must be exchange-free:\n$plan")
  }
}
