package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.{BatchState, StreamPhash}

/** Streaming perceptual dedup: doc_ids 16 apart render the SAME pattern
  * at different pixel sizes (dHash-identical); pattern differs
  * otherwise. See Multimodal.syntheticPatternImages.
  */
class StreamPhashSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(dir: String, name: String, ids: Seq[Long]): Unit = {
    val lines = ids.map(id => s"""{"doc_id": $id, "text": "x"}""")
      .mkString("\n")
    Files.writeString(Paths.get(dir, name), lines)
    ()
  }

  test("cross-batch and within-batch perceptual pairs accumulate") {
    val landing = Files.createTempDirectory("sp_landing").toString
    val state = Files.createTempDirectory("sp_state").toString
    val out = Files.createTempDirectory("sp_out").toString + "/dups"
    val ckpt = Files.createTempDirectory("sp_ckpt").toString

    // batch 1: two renderings of pattern 1 (27x24 vs 36x24) — one
    // intra pair at hamming 0
    writeDocs(landing, "b1.json", Seq(1L, 17L))
    StreamPhash.run(spark, landing, state, out, ckpt).awaitTermination()
    val p1 = spark.read.parquet(out)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1 == Set((1L, 17L)), s"got $p1")

    // batch 2: a third rendering of pattern 1 plus an unrelated
    // pattern — the newcomer pairs with BOTH corpus renderings, the
    // unrelated image with none
    writeDocs(landing, "b2.json", Seq(33L, 2L))
    StreamPhash.run(spark, landing, state, out, ckpt).awaitTermination()
    val p2 = spark.read.parquet(out)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2 == Set((1L, 17L), (33L, 1L), (33L, 17L)), s"got $p2")

    // checkpoint is the ledger: re-running stages nothing new
    StreamPhash.run(spark, landing, state, out, ckpt).awaitTermination()
    assert(spark.read.parquet(out).count() == 3)
  }

  test("micro-batch replay is idempotent") {
    val state = Files.createTempDirectory("sp_state2").toString
    val out = Files.createTempDirectory("sp_out2").toString + "/dups"
    val b0 = Seq(1L -> "x", 17L -> "x").toDF("doc_id", "text")
    StreamPhash.processBatch(spark, b0, 0L, state, out)
    val b1 = Seq(33L -> "x", 2L -> "x").toDF("doc_id", "text")
    StreamPhash.processBatch(spark, b1, 1L, state, out)
    def snapshot() = (
      spark.read.parquet(out).select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet,
      spark.read.parquet(s"$state/bands").count())
    val once = snapshot()
    assert(once._1 == Set((1L, 17L), (33L, 1L), (33L, 17L)), s"got ${once._1}")
    assert(once._2 == 4L * graft.ext.Dedup.SimhashBands)
    // at-least-once re-delivery of the same batch id: byte-identical
    StreamPhash.processBatch(spark, b1, 1L, state, out)
    assert(snapshot() == once, "replay changed state or output")
  }

  test("the corpus side of the probe plans exchange-free") {
    val state = Files.createTempDirectory("sp_state3").toString
    val out = Files.createTempDirectory("sp_out3").toString + "/dups"
    val corpus = (0L until 64L).map(i => (i, "x")).toDF("doc_id", "text")
    StreamPhash.processBatch(spark, corpus, 0L, state, out)
    val fresh = (1000L until 1008L).map(i => (i, "x")).toDF("doc_id", "text")
    val hashed = graft.ext.Multimodal
      .dhash64(graft.ext.Multimodal.syntheticPatternImages(fresh))
      .select(col("doc_id"), col("dhash").as("fp"))
    val corpusBands = spark
      .table(BatchState.tableName(s"$state/bands"))
      .filter(col("batch") < 1).drop("batch")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = graft.ext.Dedup.bandProbeJoin(corpusBands,
        StreamPhash.bandsOf(hashed))
      val plan = probe.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected only the batch-side shuffle:\n$plan")
      assert(plan.contains("SelectedBucketsCount"),
        s"corpus bands not read as a bucketed scan:\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("audio fingerprints stream through the same banded state (m07 twin)") {
    // doc ids 16 apart share an audio PATTERN at different amplitudes
    // (fingerprint-identical, byte-different WAV) — the audio analog of
    // the multi-resolution image fixture; only the hasher changes, the
    // banded batch-keyed state machinery is identical
    val state = Files.createTempDirectory("sa_state").toString
    val out = Files.createTempDirectory("sa_out").toString + "/dups"
    val b0 = Seq(1L -> "x", 17L -> "x").toDF("doc_id", "text")
    StreamPhash.processBatch(spark, b0, 0L, state, out,
      hasher = StreamPhash.audioHasher)
    val b1 = Seq(33L -> "x", 2L -> "x").toDF("doc_id", "text")
    StreamPhash.processBatch(spark, b1, 1L, state, out,
      hasher = StreamPhash.audioHasher)
    def pairs() = spark.read.parquet(out)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs()
    assert(got == Set((1L, 17L), (33L, 1L), (33L, 17L)), s"got $got")
    // at-least-once replay of the same batch id is byte-identical
    StreamPhash.processBatch(spark, b1, 1L, state, out,
      hasher = StreamPhash.audioHasher)
    assert(pairs() == got, "replay changed the audio dedup output")
  }
}
