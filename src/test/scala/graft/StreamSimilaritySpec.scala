package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.{BatchState, StreamSimilarity}

class StreamSimilaritySpec extends SparkSpec {

  import spark.implicits._

  // 4-dim toy vectors: direction is what cosine sees, so a scaled copy
  // is an exact (1.0) near-dup
  private def vecsDf(rows: Seq[(Long, Array[Float])]) =
    rows.toDF("vec_id", "embedding")

  private def writeVecs(dir: String, name: String,
                        rows: Seq[(Long, Array[Float])]): Unit = {
    val lines = rows.map { case (id, v) =>
      s"""{"vec_id": $id, "embedding": [${v.mkString(", ")}]}"""
    }.mkString("\n")
    Files.writeString(Paths.get(dir, name), lines)
    ()
  }

  test("streaming cosine dedup: cross-batch and within-batch pairs accumulate") {
    val landing = Files.createTempDirectory("ss_landing").toString
    val state = Files.createTempDirectory("ss_state").toString
    val out = Files.createTempDirectory("ss_out").toString + "/dups"
    val ckpt = Files.createTempDirectory("ss_ckpt").toString

    // batch 1: three orthogonal-ish vectors, no pairs at 0.9
    writeVecs(landing, "b1.json", Seq(
      0L -> Array(1f, 0f, 0f, 0f),
      1L -> Array(0f, 1f, 0f, 0f),
      2L -> Array(0f, 0f, 1f, 0f)))
    StreamSimilarity.run(spark, landing, state, out, ckpt,
      nPlanes = 2, threshold = 0.9).awaitTermination()
    assert(spark.read.parquet(out).count() == 0)
    assert(spark.read.parquet(s"$state/vecs").count() == 3)

    // batch 2: a scaled copy of corpus vec 0 plus an internal dup pair
    writeVecs(landing, "b2.json", Seq(
      10L -> Array(3f, 0f, 0f, 0f),   // dup of corpus 0 (cosine 1.0)
      11L -> Array(0f, 2f, 2f, 0f),
      12L -> Array(0f, 1f, 1f, 0f)))  // dup of 11
    StreamSimilarity.run(spark, landing, state, out, ckpt,
      nPlanes = 2, threshold = 0.9).awaitTermination()
    val pairs = spark.read.parquet(out)
      .select(col("vec_a"), col("vec_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 0L), (11L, 12L)), s"got $pairs")
    assert(spark.read.parquet(s"$state/vecs").count() == 6)

    // checkpoint is the ledger: re-run re-deduplicates nothing
    StreamSimilarity.run(spark, landing, state, out, ckpt,
      nPlanes = 2, threshold = 0.9).awaitTermination()
    assert(spark.read.parquet(out).count() == 2)
  }

  test("micro-batch replay is idempotent and planes stay fixed") {
    val state = Files.createTempDirectory("ss_state2").toString
    val out = Files.createTempDirectory("ss_out2").toString + "/dups"

    val b0 = vecsDf(Seq(
      0L -> Array(1f, 0f, 0f, 0f),
      1L -> Array(0f, 1f, 0f, 0f)))
    StreamSimilarity.processBatch(spark, b0, 0L, state, out,
      nPlanes = 2, threshold = 0.9)
    val planesOnce = spark.read.parquet(s"$state/planes")
      .orderBy(col("vec_id")).collect().map(_.toString).toSeq
    val b1 = vecsDf(Seq(
      10L -> Array(2f, 0f, 0f, 0f),   // dup of corpus 0
      11L -> Array(0f, 0f, 0f, 1f)))
    StreamSimilarity.processBatch(spark, b1, 1L, state, out,
      nPlanes = 2, threshold = 0.9)

    def snapshot() = (
      spark.read.parquet(out).select(col("vec_a"), col("vec_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet,
      spark.read.parquet(s"$state/vecs").count(),
      spark.read.parquet(s"$state/buckets").count())
    val once = snapshot()
    assert(once._1 == Set((10L, 0L)), s"got ${once._1}")

    // replay the SAME batch id: no duplicated pairs/vectors/buckets,
    // and the batch must not pair against its own failed attempt
    StreamSimilarity.processBatch(spark, b1, 1L, state, out,
      nPlanes = 2, threshold = 0.9)
    assert(snapshot() == once, "replay changed state or output")
    // planes derive from batch 0 only — untouched by later batches
    val planesAfter = spark.read.parquet(s"$state/planes")
      .orderBy(col("vec_id")).collect().map(_.toString).toSeq
    assert(planesAfter == planesOnce)
  }

  test("per-batch probe joins the persisted corpus buckets with no Exchange") {
    val state = Files.createTempDirectory("ss_state3").toString
    val out = Files.createTempDirectory("ss_out3").toString + "/dups"
    val corpus = (0L until 100L).map(i =>
      (i, Array(i.toFloat + 1, (i % 7).toFloat, 1f, 0f))).toSeq
    StreamSimilarity.processBatch(spark, vecsDf(corpus), 0L, state, out,
      nPlanes = 2, threshold = 0.9)

    val corpusBuckets = spark
      .table(BatchState.tableName(s"$state/buckets"))
      .filter(col("batch") < 1).drop("batch")
    val planes = spark.read.parquet(s"$state/planes")
      .orderBy(col("vec_id")).collect()
      .map(_.getSeq[Float](1).toArray).toSeq
    val nb = vecsDf((1000L until 1010L).map(i =>
        (i, Array(i.toFloat, 1f, 2f, 0f))).toSeq)
      .select(col("vec_id").as("a_id"),
        graft.ext.Similarity.hyperplaneBucket(col("embedding"), planes)
          .as("bucket"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = nb.join(
        corpusBuckets.select(col("vec_id").as("b_id"), col("bucket")), "bucket")
      val plan = probe.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected only the batch-side shuffle:\n$plan")
      assert(plan.contains("SelectedBucketsCount"),
        s"corpus buckets not read as a bucketed scan:\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
