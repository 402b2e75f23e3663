package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.{BatchState, StreamDedup}

class StreamDedupSpec extends SparkSpec {

  private def writeDocs(dir: String, name: String,
                        docs: Seq[(Long, String)]): Unit = {
    val lines = docs.map { case (id, t) =>
      s"""{"doc_id": $id, "text": "$t"}"""
    }.mkString("\n")
    Files.writeString(Paths.get(dir, name), lines)
    ()
  }

  test("streaming dedup: cross-batch and within-batch pairs accumulate") {
    val landing = Files.createTempDirectory("sd_landing").toString
    val state = Files.createTempDirectory("sd_state").toString
    val out = Files.createTempDirectory("sd_out").toString + "/dups"
    val ckpt = Files.createTempDirectory("sd_ckpt").toString

    // batch 1: three distinct docs, no pairs
    writeDocs(landing, "b1.json", Seq(
      0L -> "alpha bravo charlie delta echo foxtrot",
      1L -> "one two three four five six seven eight",
      2L -> "completely different content in this doc"))
    StreamDedup.run(spark, landing, state, out, ckpt).awaitTermination()
    assert(spark.read.parquet(out).count() == 0)
    assert(spark.read.parquet(s"$state/docs").count() == 3)

    // batch 2: one dup of batch-1 doc 0, plus an internal exact pair
    writeDocs(landing, "b2.json", Seq(
      10L -> "alpha bravo charlie delta echo foxtrot", // dup of corpus 0
      11L -> "november oscar papa quebec romeo sierra",
      12L -> "november oscar papa quebec romeo sierra")) // dup of 11
    StreamDedup.run(spark, landing, state, out, ckpt).awaitTermination()
    val pairs = spark.read.parquet(out)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 0L), (11L, 12L)), s"got $pairs")
    assert(spark.read.parquet(s"$state/docs").count() == 6)
    // band-table state accumulates too (one row per doc per band)
    assert(spark.read.parquet(s"$state/bands").count() == 6L * graft.ext.Dedup.Bands)

    // re-run over the same landing dir: checkpoint is the ledger —
    // nothing re-deduplicated, state unchanged
    StreamDedup.run(spark, landing, state, out, ckpt).awaitTermination()
    assert(spark.read.parquet(out).count() == 2)
    assert(spark.read.parquet(s"$state/docs").count() == 6)
  }

  test("micro-batch replay is idempotent (at-least-once foreachBatch)") {
    import spark.implicits._
    val state = Files.createTempDirectory("sd_state2").toString
    val out = Files.createTempDirectory("sd_out2").toString + "/dups"

    val b0 = Seq(
      0L -> "alpha bravo charlie delta echo foxtrot",
      1L -> "one two three four five six seven eight").toDF("doc_id", "text")
    StreamDedup.processBatch(spark, b0, 0L, state, out, 0.5)
    val b1 = Seq(
      10L -> "alpha bravo charlie delta echo foxtrot", // dup of corpus 0
      11L -> "november oscar papa quebec romeo sierra",
      12L -> "november oscar papa quebec romeo sierra").toDF("doc_id", "text")
    StreamDedup.processBatch(spark, b1, 1L, state, out, 0.5)

    def snapshot() = (
      spark.read.parquet(out).select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet,
      spark.read.parquet(s"$state/docs").count(),
      spark.read.parquet(s"$state/bands").count())
    val once = snapshot()
    assert(once._1 == Set((10L, 0L), (11L, 12L)), s"got ${once._1}")
    assert(once._2 == 5)

    // simulate a crash after the writes but before the checkpoint
    // commit: the engine re-delivers the SAME batch with the SAME id —
    // no duplicated pairs, docs, or bands, and the batch must not see
    // its own first attempt as corpus (which would pair 10<->10)
    StreamDedup.processBatch(spark, b1, 1L, state, out, 0.5)
    assert(snapshot() == once, "replay changed state or output")
  }

  test("per-batch probe joins the persisted corpus bands with no Exchange") {
    import spark.implicits._
    val state = Files.createTempDirectory("sd_state4").toString
    val out = Files.createTempDirectory("sd_out4").toString + "/dups"
    val corpus = (0L until 200L).map(i =>
      (i, s"corpus doc number $i with some shared words and body $i"))
      .toDF("doc_id", "text")
    StreamDedup.processBatch(spark, corpus, 0L, state, out, 0.5)

    // the shape every subsequent micro-batch runs: batch bands itself
    // and probes the BUCKETED accumulated band table. Corpus side must
    // plan exchange-free — only the O(batch) side shuffles.
    val batch = (1000L until 1020L).map(i =>
      (i, s"fresh doc number $i with some shared words and body $i"))
      .toDF("doc_id", "text")
    val corpusBands = spark.table(BatchState.tableName(s"$state/bands"))
      .filter(col("batch") < 1).drop("batch")
    val nb = graft.ext.Dedup.minhashBands(
      graft.ext.Dedup.minhashSignatures(batch))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = graft.ext.Dedup.bandProbeJoin(corpusBands, nb)
      val plan = probe.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected only the batch-side shuffle:\n$plan")
      assert(plan.contains("SelectedBucketsCount"),
        s"corpus bands not read as a bucketed scan:\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a flat pre-batch-keyed OUTPUT dir is refused, not corrupted") {
    import spark.implicits._
    val state = Files.createTempDirectory("sd_state5").toString
    val out = Files.createTempDirectory("sd_out5").toString + "/dups"
    // legacy layout: pair report written flat (no batch= dirs)
    Seq((1L, 2L, 3L, 1.0)).toDF("doc_a", "doc_b", "n_common", "jaccard")
      .write.parquet(out)
    val b = Seq(
      10L -> "alpha bravo charlie delta echo foxtrot").toDF("doc_id", "text")
    val e = intercept[IllegalStateException] {
      StreamDedup.processBatch(spark, b, 7L, state, out, 0.5)
    }
    assert(e.getMessage.contains("pre-batch-keyed"))
  }

  test("state from the pre-batch-keyed layout is read as prior corpus") {
    import spark.implicits._
    val state = Files.createTempDirectory("sd_state3").toString
    val out = Files.createTempDirectory("sd_out3").toString + "/dups"
    // legacy layout: flat parquet under docs/ and bands/, no batch= dirs
    val legacy = Seq(
      0L -> "alpha bravo charlie delta echo foxtrot").toDF("doc_id", "text")
    legacy.write.parquet(s"$state/docs")
    graft.ext.Dedup.minhashBands(graft.ext.Dedup.minhashSignatures(legacy))
      .write.parquet(s"$state/bands")
    // a new batch must neither crash on the missing batch column nor
    // silently skip the legacy corpus
    val b = Seq(
      10L -> "alpha bravo charlie delta echo foxtrot").toDF("doc_id", "text")
    StreamDedup.processBatch(spark, b, 7L, state, out, 0.5)
    val pairs = spark.read.parquet(out)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 0L)), s"got $pairs")
  }

  test("the band table survives a fresh catalog") {
    import spark.implicits._
    val state = Files.createTempDirectory("sd_state6").toString
    val out = Files.createTempDirectory("sd_out6").toString + "/dups"
    StreamDedup.processBatch(spark,
      Seq(0L -> "alpha bravo charlie delta echo foxtrot").toDF("doc_id", "text"),
      0L, state, out, 0.5)
    StreamDedup.processBatch(spark,
      Seq(10L -> "one two three four five six seven eight").toDF("doc_id", "text"),
      1L, state, out, 0.5)
    def bands() = StreamDedup.bandState(spark, state,
      StreamDedup.DefaultBandBuckets).all.collect().toSet
    val before = bands()
    assert(before.map(_.getAs[Long]("batch")) == Set(0L, 1L))
    // a session whose catalog never registered the table: dropping the
    // EXTERNAL table removes the catalog entry and leaves the files
    spark.sql(s"DROP TABLE ${BatchState.tableName(s"$state/bands")}")
    assert(!spark.catalog.tableExists(BatchState.tableName(s"$state/bands")))
    assert(bands() == before)
  }
}
