package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.streaming.{BatchState, StreamAnnIngest}

/** Streaming IVF-index ingestion: the streamed index must serve
  * BIT-IDENTICAL results to the live batch build once the same vectors
  * have landed, survive at-least-once replays, and keep the corpus
  * side of every probe exchange-free.
  */
class StreamAnnIngestSpec extends SparkSpec {

  private val Buckets = 8
  private val embs =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  // frozen-centroid reference: holds every centroid seed (lowest 16
  // target ids), so streamed assignment == the live build's assignment
  private val original = embs.filter(col("vec_id") < 300)

  private def probeSet(state: String) =
    StreamAnnIngest.probe(spark, state, embs, nCentroids = 16, nProbe = 2,
        nQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet

  test("streamed batches serve bit-identical results to the live build") {
    val state = Files.createTempDirectory("sai_state").toString + "/idx"
    // all targets arrive over three micro-batches (uneven splits)
    val cuts = Seq((10L, 150L), (150L, 380L), (380L, 500L))
    cuts.zipWithIndex.foreach { case ((lo, hi), i) =>
      StreamAnnIngest.processBatch(spark,
        embs.filter(col("vec_id") >= lo && col("vec_id") < hi),
        i.toLong, state, original, 16, 10, Buckets)
    }
    val live = Similarity.ivfTopK(embs, 16, 2, 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    assert(probeSet(state) == live)
  }

  test("micro-batch replay is idempotent (at-least-once foreachBatch)") {
    val state = Files.createTempDirectory("sai_state2").toString + "/idx"
    val b0 = embs.filter(col("vec_id") >= 10 && col("vec_id") < 300)
    val b1 = embs.filter(col("vec_id") >= 300)
    StreamAnnIngest.processBatch(spark, b0, 0L, state, original,
      16, 10, Buckets)
    StreamAnnIngest.processBatch(spark, b1, 1L, state, original,
      16, 10, Buckets)
    def full() = (probeSet(state),
      spark.table(BatchState.tableName(state)).groupBy(col("batch")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val once = full()
    StreamAnnIngest.processBatch(spark, b1, 1L, state, original,
      16, 10, Buckets)
    assert(full() == once, "replay changed the index or its batch counts")
  }

  test("true readStream ingestion via json landing, then exchange-free probe") {
    val landing = Files.createTempDirectory("sai_landing").toString
    val state = Files.createTempDirectory("sai_state3").toString + "/idx"
    val ckpt = Files.createTempDirectory("sai_ckpt").toString
    // land all targets as json-lines (float components survive the
    // shortest-roundtrip text form exactly)
    embs.filter(col("vec_id") >= 10).coalesce(1)
      .write.mode("overwrite").json(landing)
    StreamAnnIngest.run(spark, landing, state, ckpt, original,
      nCentroids = 16, nQueries = 10, buckets = Buckets)
      .awaitTermination()
    val live = Similarity.ivfTopK(embs, 16, 2, 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    assert(probeSet(state) == live)
    // corpus side exchange-free at any index size: bucketed scan with
    // only the three query-side shuffles (probe window, cell join,
    // final top-k window)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = StreamAnnIngest.probe(spark, state, embs, 16, 2, 10, 5)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"index not read as a bucketed scan:\n$plan")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 3, s"expected exactly 3 query-side exchanges:\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
