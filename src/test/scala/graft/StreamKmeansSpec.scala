package graft

import java.nio.file.{Files, Paths}

import graft.streaming.StreamKmeans

/** Streaming mini-batch k-means: deterministic seeding, centroid drift
  * from prior-batch moments, replay idempotency, end-to-end readStream.
  */
class StreamKmeansSpec extends SparkSpec {

  import spark.implicits._

  private var n = 0
  private def fresh(): (String, String) = {
    n += 1
    val base = Files.createTempDirectory(s"st_km$n").toString
    (base + "/state", base + "/out")
  }

  private def vecs(rows: (Long, Array[Float])*) =
    rows.toDF("vec_id", "embedding")

  private def cellsOf(outDir: String, batch: Long): Map[Long, Int] =
    spark.read.parquet(s"$outDir/batch=$batch").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("seeds from batch 0, assigns batch 1 under drifted centroids") {
    val (state, out) = fresh()
    // seeds: vec 1 -> c0 at (0,0), vec 2 -> c1 at (1024, 0)
    StreamKmeans.processBatch(spark, vecs(
      (1L, Array(0f, 0f)), (2L, Array(1f, 0f)),
      (3L, Array(4f / 1024, 0f)), (4L, Array(1f, 4f / 1024))), 0L,
      state, out, k = 2, buckets = 4)
    assert(cellsOf(out, 0L) == Map(1L -> 0, 3L -> 0, 2L -> 1, 4L -> 1))
    // batch 1: a point midway-but-left lands in c0's drifted cell
    StreamKmeans.processBatch(spark, vecs(
      (5L, Array(0.4f, 0f)), (6L, Array(0.9f, 0f))), 1L,
      state, out, k = 2, buckets = 4)
    assert(cellsOf(out, 1L) == Map(5L -> 0, 6L -> 1))
  }

  test("an undersized first batch stays a transient failure, never a wedged seed") {
    val (state, out) = fresh()
    // one vector, k = 2: must throw BEFORE persisting any seed — the
    // old order wrote the short seed first and every retry (even with
    // enough vectors) then failed the k-centroid require forever
    val e = intercept[IllegalArgumentException] {
      StreamKmeans.processBatch(spark, vecs((1L, Array(0f, 0f))), 0L,
        state, out, k = 2, buckets = 4)
    }
    assert(e.getMessage.contains("at least k=2"))
    assert(!Files.exists(Paths.get(state, "seed")),
      "no seed may persist from a failed first batch")
    // the retry with an adequate batch succeeds from a clean slate
    StreamKmeans.processBatch(spark, vecs(
      (1L, Array(0f, 0f)), (2L, Array(1f, 0f))), 0L,
      state, out, k = 2, buckets = 4)
    assert(cellsOf(out, 0L) == Map(1L -> 0, 2L -> 1))
  }

  test("an uncommitted seed dir from a crashed write is re-derived, not read") {
    val (cleanState, cleanOut) = fresh()
    val (state, out) = fresh()
    val b0 = vecs((1L, Array(0f, 0f)), (2L, Array(1f, 0f)),
      (3L, Array(4f / 1024, 0f)), (4L, Array(1f, 4f / 1024)))
    StreamKmeans.processBatch(spark, b0, 0L, cleanState, cleanOut, k = 2,
      buckets = 4)
    // a crash during the seed write leaves only the committer's
    // scratch dir, which holds no readable parquet
    Files.createDirectories(Paths.get(state, "seed", "_temporary", "0"))
    StreamKmeans.processBatch(spark, b0, 0L, state, out, k = 2, buckets = 4)
    assert(Files.exists(Paths.get(state, "seed", "_SUCCESS")))
    assert(cellsOf(out, 0L) == cellsOf(cleanOut, 0L))
  }

  test("replaying a batch rewrites identical assignments and moments") {
    val (state, out) = fresh()
    StreamKmeans.processBatch(spark, vecs(
      (1L, Array(0f, 0f)), (2L, Array(1f, 0f))), 0L,
      state, out, k = 2, buckets = 4)
    StreamKmeans.processBatch(spark, vecs(
      (5L, Array(0.2f, 0f))), 1L, state, out, k = 2, buckets = 4)
    val before = (spark.read.parquet(out).collect().toSet,
      spark.read.parquet(s"$state/moments").collect().toSet)
    StreamKmeans.processBatch(spark, vecs(
      (5L, Array(0.2f, 0f))), 1L, state, out, k = 2, buckets = 4) // replay
    val after = (spark.read.parquet(out).collect().toSet,
      spark.read.parquet(s"$state/moments").collect().toSet)
    assert(after == before)
  }

  test("end-to-end readStream clusters two micro-batches") {
    val (state, out) = fresh()
    val landing = Files.createTempDirectory("st_km_landing").toString
    val ckpt = Files.createTempDirectory("st_km_ckpt").toString
    Files.writeString(Paths.get(landing, "b0.json"),
      """{"vec_id": 1, "embedding": [0.0, 0.0]}
        |{"vec_id": 2, "embedding": [1.0, 0.0]}""".stripMargin)
    StreamKmeans.run(spark, landing, state, out, ckpt, k = 2, buckets = 4)
      .awaitTermination()
    Files.writeString(Paths.get(landing, "b1.json"),
      """{"vec_id": 3, "embedding": [0.1, 0.0]}
        |{"vec_id": 4, "embedding": [0.9, 0.0]}""".stripMargin)
    StreamKmeans.run(spark, landing, state, out, ckpt, k = 2, buckets = 4)
      .awaitTermination()
    assert(cellsOf(out, 0L) == Map(1L -> 0, 2L -> 1))
    assert(cellsOf(out, 1L) == Map(3L -> 0, 4L -> 1))
  }
}
