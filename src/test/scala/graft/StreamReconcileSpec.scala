package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.{BatchState, StreamReconcile}

class StreamReconcileSpec extends SparkSpec {

  private val Buckets = 16

  /** Driver-side twin of Hashing.h32 (first 8 md5 hex chars). */
  private def h32Val(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(8), 16)

  private def writeDocs(dir: String, name: String,
                        docs: Seq[(Long, String)]): Unit = {
    val lines = docs.map { case (id, t) =>
      s"""{"doc_id": $id, "text": "$t"}"""
    }.mkString("\n")
    Files.writeString(Paths.get(dir, name), lines)
    ()
  }

  private def reportOf(out: String, batchId: Long) =
    spark.read.parquet(s"$out/batch=$batchId")

  test("replica converges to the reference across micro-batches") {
    import spark.implicits._
    val landing = Files.createTempDirectory("sr_landing").toString
    val state = Files.createTempDirectory("sr_state").toString
    val out = Files.createTempDirectory("sr_out").toString + "/report"
    val ckpt = Files.createTempDirectory("sr_ckpt").toString
    val refPath = Files.createTempDirectory("sr_ref").toString + "/ref"

    val reference = (0L until 40L).map(i => (i, s"reference doc body $i"))
    reference.toDF("doc_id", "text").write.parquet(refPath)

    // batch 0: first half of the reference arrives
    writeDocs(landing, "b0.json", reference.take(20))
    StreamReconcile.run(spark, landing, refPath, state, out, ckpt, Buckets)
      .awaitTermination()
    val mid = reportOf(out, 0L)
    // no bucket can claim a match beyond what the rows support, and the
    // half-delivered replica must NOT read as fully reconciled
    assert(mid.filter(!col("is_match")).count() > 0)

    // batch 1: the second half — replica now equals the reference
    writeDocs(landing, "b1.json", reference.drop(20))
    StreamReconcile.run(spark, landing, refPath, state, out, ckpt, Buckets)
      .awaitTermination()
    val done = reportOf(out, 1L)
    assert(done.count() > 0)
    assert(done.filter(!col("is_match")).count() == 0,
      "fully delivered replica should match every bucket")
  }

  test("a divergent row pins exactly its bucket as mismatched") {
    import spark.implicits._
    val state = Files.createTempDirectory("sr_state2").toString
    val out = Files.createTempDirectory("sr_out2").toString + "/report"
    val refPath = Files.createTempDirectory("sr_ref2").toString + "/ref"

    val reference = (0L until 30L).map(i => (i, s"doc body $i"))
    reference.toDF("doc_id", "text").write.parquet(refPath)
    // replica: doc 7 modified, everything else identical
    val replica = reference.map { case (i, t) =>
      (i, if (i == 7L) t + " DIVERGED" else t) }
    StreamReconcile.processBatch(spark, replica.toDF("doc_id", "text"), 0L,
      refPath, state, out, Buckets)

    val bad = reportOf(out, 0L).filter(!col("is_match"))
      .select(col("bucket")).collect().map(_.getLong(0)).toSet
    val expected = h32Val("7") % Buckets
    assert(bad == Set(expected),
      s"expected only doc 7's bucket $expected mismatched, got $bad")
    // counts agree in the divergent bucket (modification, not add/drop)
    val row = reportOf(out, 0L)
      .filter(col("bucket") === expected).head()
    assert(row.getAs[Long]("n_a") == row.getAs[Long]("n_b"))
    assert(row.getAs[Long]("digest_a") != row.getAs[Long]("digest_b"))
  }

  test("micro-batch replay is idempotent (at-least-once foreachBatch)") {
    import spark.implicits._
    val state = Files.createTempDirectory("sr_state3").toString
    val out = Files.createTempDirectory("sr_out3").toString + "/report"
    val refPath = Files.createTempDirectory("sr_ref3").toString + "/ref"

    val reference = (0L until 25L).map(i => (i, s"doc body $i"))
    reference.toDF("doc_id", "text").write.parquet(refPath)
    val b0 = reference.take(10).toDF("doc_id", "text")
    val b1 = reference.drop(10).toDF("doc_id", "text")
    StreamReconcile.processBatch(spark, b0, 0L, refPath, state, out, Buckets)
    StreamReconcile.processBatch(spark, b1, 1L, refPath, state, out, Buckets)

    def snapshot() = (
      reportOf(out, 1L).orderBy(col("bucket")).collect().toSeq,
      spark.table(BatchState.tableName(s"$state/digests"))
        .orderBy(col("batch"), col("bucket")).collect().toSeq)
    val once = snapshot()
    assert(once._1.forall(_.getAs[Boolean]("is_match")))

    // crash after the writes, before the checkpoint commit: the engine
    // re-delivers the SAME batch with the SAME id — state and report
    // must come out byte-identical (no doubled digests)
    StreamReconcile.processBatch(spark, b1, 1L, refPath, state, out, Buckets)
    assert(snapshot() == once, "replay changed digest state or report")
  }

  test("an uncommitted ref-digest dir (crash mid-write) is re-derived, not pinned") {
    import spark.implicits._
    val state = Files.createTempDirectory("sr_state5").toString
    val out = Files.createTempDirectory("sr_out5").toString + "/report"
    val refPath = Files.createTempDirectory("sr_ref5").toString + "/ref"
    val reference = (0L until 20L).map(i => (i, s"doc body $i"))
    reference.toDF("doc_id", "text").write.parquet(refPath)
    // simulate a crash between starting and committing the digest
    // write: directory exists, no _SUCCESS marker, stray partial file
    val digDir = Paths.get(state, "ref_digests")
    Files.createDirectories(digDir)
    Files.writeString(digDir.resolve("part-00000.parquet"), "garbage")
    StreamReconcile.processBatch(spark, reference.toDF("doc_id", "text"), 0L,
      refPath, state, out, Buckets)
    val rep = reportOf(out, 0L)
    assert(rep.count() > 0)
    assert(rep.filter(!col("is_match")).count() == 0,
      "digests should have been re-derived from the reference, not pinned")
  }

  test("accumulated-corpus digest merge plans with no Exchange") {
    import spark.implicits._
    val state = Files.createTempDirectory("sr_state4").toString
    val out = Files.createTempDirectory("sr_out4").toString + "/report"
    val refPath = Files.createTempDirectory("sr_ref4").toString + "/ref"
    val reference = (0L until 200L).map(i => (i, s"doc body $i"))
    reference.toDF("doc_id", "text").write.parquet(refPath)
    StreamReconcile.processBatch(spark,
      reference.take(100).toDF("doc_id", "text"), 0L,
      refPath, state, out, Buckets)
    StreamReconcile.processBatch(spark,
      reference.drop(100).toDF("doc_id", "text"), 1L,
      refPath, state, out, Buckets)

    // the O(corpus-state) side of every batch: summing the persisted
    // per-batch digests. The table is file-bucketed by `bucket`, so the
    // groupBy must plan exchange-free — only O(batch) work shuffles.
    val merged = StreamReconcile.corpusDigests(spark, state, 2L)
    val plan = merged.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 0, s"corpus digest merge should not shuffle:\n$plan")
    assert(plan.contains("SelectedBucketsCount"),
      s"digest state not read as a bucketed scan:\n$plan")
    // and the merge itself is correct: equals a direct digest of all rows
    val direct = graft.ext.Reconcile.bucketDigests(
      reference.toDF("doc_id", "text"), "doc_id", Seq("doc_id", "text"), Buckets)
    assert(merged.orderBy(col("bucket")).collect().toSeq ==
      direct.orderBy(col("bucket")).collect().toSeq)
  }
}
