package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.{BatchState, StreamContainment}

class StreamContainmentSpec extends SparkSpec {

  private val Host = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
  private val Small = "alpha bravo charlie delta echo" // 3 shingles, all in Host

  private def writeDocs(dir: String, name: String,
                        docs: Seq[(Long, String)]): Unit = {
    val lines = docs.map { case (id, t) =>
      s"""{"doc_id": $id, "text": "$t"}"""
    }.mkString("\n")
    Files.writeString(Paths.get(dir, name), lines)
    ()
  }

  test("fresh doc contained in the corpus is flagged, directed new -> corpus") {
    val landing = Files.createTempDirectory("sc_landing").toString
    val state = Files.createTempDirectory("sc_state").toString
    val out = Files.createTempDirectory("sc_out").toString + "/pairs"
    val ckpt = Files.createTempDirectory("sc_ckpt").toString

    // batch 0: the corpus host + an unrelated doc; nothing contained
    writeDocs(landing, "b0.json", Seq(
      0L -> Host,
      1L -> "november oscar papa quebec romeo sierra tango uniform"))
    StreamContainment.run(spark, landing, state, out, ckpt).awaitTermination()
    assert(spark.read.parquet(out).count() == 0)

    // batch 1: a fresh small doc swallowed by corpus host 0, plus an
    // intra-batch contained pair (12 inside 11)
    writeDocs(landing, "b1.json", Seq(
      10L -> Small,
      11L -> "kilo lima mike november oscar papa quebec romeo victor whiskey",
      12L -> "kilo lima mike november oscar"))
    StreamContainment.run(spark, landing, state, out, ckpt).awaitTermination()
    val pairs = spark.read.parquet(out)
      .select(col("doc_a"), col("doc_b"), col("containment")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs == Set((10L, 0L, 1.0), (12L, 11L, 1.0)), s"got $pairs")

    // re-run over the same landing: checkpoint is the ledger
    StreamContainment.run(spark, landing, state, out, ckpt).awaitTermination()
    assert(spark.read.parquet(out).count() == 2)
  }

  test("micro-batch replay is idempotent (at-least-once foreachBatch)") {
    import spark.implicits._
    val state = Files.createTempDirectory("sc_state2").toString
    val out = Files.createTempDirectory("sc_out2").toString + "/pairs"

    val b0 = Seq(0L -> Host).toDF("doc_id", "text")
    StreamContainment.processBatch(spark, b0, 0L, state, out, 0.8)
    val b1 = Seq(10L -> Small).toDF("doc_id", "text")
    StreamContainment.processBatch(spark, b1, 1L, state, out, 0.8)

    def snapshot() = (
      spark.read.parquet(out).select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet,
      spark.read.parquet(s"$state/docs").count(),
      spark.table(BatchState.tableName(s"$state/postings"))
        .count())
    val once = snapshot()
    assert(once._1 == Set((10L, 0L)), s"got ${once._1}")
    assert(once._2 == 2)

    // same batch, same id re-delivered: byte-identical state and output
    // (and the batch must not probe its own first attempt as corpus)
    StreamContainment.processBatch(spark, b1, 1L, state, out, 0.8)
    assert(snapshot() == once, "replay changed state or output")
  }

  test("per-batch probe joins the persisted postings with no corpus Exchange") {
    import spark.implicits._
    val state = Files.createTempDirectory("sc_state3").toString
    val out = Files.createTempDirectory("sc_out3").toString + "/pairs"
    val corpus = (0L until 100L).map(i =>
      (i, s"corpus doc number $i carrying body words $i and more"))
      .toDF("doc_id", "text")
    StreamContainment.processBatch(spark, corpus, 0L, state, out, 0.8)

    // the probe shape every later batch runs: bottom-K hashes of the
    // fresh docs against the h-BUCKETED posting table
    val corpusPost = spark
      .table(BatchState.tableName(s"$state/postings"))
      .filter(col("batch") < 1).drop("batch")
    val probes = Seq((1000L, 7L)).toDF("doc_a", "h")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = probes.join(
        corpusPost.select(col("doc_id").as("doc_b"), col("h"))
          .hint("shuffle_hash"), "h")
      val plan = probe.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected only the probe-side shuffle:\n$plan")
      assert(plan.contains("SelectedBucketsCount"),
        s"postings not read as a bucketed scan:\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
