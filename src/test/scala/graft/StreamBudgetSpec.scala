package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.{BatchState, StreamBudget}

/** Streaming token-budget admission: prefix-truncation semantics,
  * cross-batch quota accounting, replay idempotency, and the
  * zero-Exchange state-side plan contract.
  */
class StreamBudgetSpec extends SparkSpec {

  import spark.implicits._

  private val Buckets = 8

  private def writeDocs(dir: String, name: String,
                        rows: Seq[(Long, String, String)]): Unit = {
    val lines = rows.map { case (id, st, text) =>
      s"""{"doc_id": $id, "stratum": "$st", "text": "$text"}"""
    }.mkString("\n")
    Files.writeString(Paths.get(dir, name), lines)
    ()
  }

  private def batchDf(rows: Seq[(Long, String, String)]) =
    rows.toDF("doc_id", "stratum", "text")

  private def admitted(state: String): Seq[(Long, String, Long, Long)] =
    spark.table(BatchState.tableName(state)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("stratum"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("batch")))
      .toSeq.sortBy(_._1)

  test("admission truncates at the quota prefix and never back-fills") {
    val state = Files.createTempDirectory("sb_state1").toString + "/adm"
    // en quota 7 tokens: doc 1 (3) + doc 2 (3) fit (prefix 6); doc 3
    // (2) overflows (prefix 8); doc 4 (1) would fit alone but the
    // cutline is a prefix — it must NOT back-fill (prefix 9)
    StreamBudget.processBatch(spark, batchDf(Seq(
      (1L, "en", "a b c"), (2L, "en", "d e f"),
      (3L, "en", "g h"), (4L, "en", "i"))),
      0L, state, Map("en" -> 7L), Buckets)
    assert(admitted(state) == Seq((1L, "en", 3L, 0L), (2L, "en", 3L, 0L)))
  }

  test("quota accounting spans batches; exhausted strata stay closed") {
    val state = Files.createTempDirectory("sb_state2").toString + "/adm"
    val quotas = Map("en" -> 5L, "de" -> 2L)
    StreamBudget.processBatch(spark, batchDf(Seq(
      (1L, "en", "a b c"), (2L, "de", "x y"))),
      0L, state, quotas, Buckets)
    // batch 1: en has 2 tokens left -> doc 3 (2) fits, doc 4 rejected;
    // de is exactly full -> doc 5 rejected
    StreamBudget.processBatch(spark, batchDf(Seq(
      (3L, "en", "d e"), (4L, "en", "f"), (5L, "de", "z"))),
      1L, state, quotas, Buckets)
    assert(admitted(state) == Seq(
      (1L, "en", 3L, 0L), (2L, "de", 2L, 0L), (3L, "en", 2L, 1L)))
    // batch 2: en full after batch 1 -> nothing lands
    StreamBudget.processBatch(spark, batchDf(Seq((6L, "en", "g"))),
      2L, state, quotas, Buckets)
    assert(!admitted(state).exists(_._1 == 6L))
  }

  test("strata without a quota admit nothing") {
    val state = Files.createTempDirectory("sb_state3").toString + "/adm"
    StreamBudget.processBatch(spark, batchDf(Seq(
      (1L, "en", "a"), (2L, "xx", "b c"))),
      0L, state, Map("en" -> 10L), Buckets)
    assert(admitted(state).map(_._1) == Seq(1L))
  }

  test("replaying a batch is idempotent and blind to its own write") {
    val state = Files.createTempDirectory("sb_state4").toString + "/adm"
    val quotas = Map("en" -> 4L)
    val b0 = batchDf(Seq((1L, "en", "a b c")))
    StreamBudget.processBatch(spark, b0, 0L, state, quotas, Buckets)
    val b1 = batchDf(Seq((2L, "en", "d"), (3L, "en", "e")))
    StreamBudget.processBatch(spark, b1, 1L, state, quotas, Buckets)
    val first = admitted(state)
    assert(first.map(_._1) == Seq(1L, 2L)) // doc 3 overflows (3+1+1 > 4)
    // at-least-once replay of batch 1: consumedBefore(1) must not see
    // the earlier batch=1 write, and the partition rewrite must leave
    // the table identical
    StreamBudget.processBatch(spark, b1, 1L, state, quotas, Buckets)
    assert(admitted(state) == first)
  }

  test("the end-to-end stream admits across micro-batches via readStream") {
    val landing = Files.createTempDirectory("sb_landing").toString
    val state = Files.createTempDirectory("sb_state5").toString + "/adm"
    val ckpt = Files.createTempDirectory("sb_ckpt").toString
    val quotas = Map("en" -> 5L)
    writeDocs(landing, "b0.json", Seq((1L, "en", "a b c")))
    StreamBudget.run(spark, landing, state, quotas, ckpt, Buckets)
      .awaitTermination()
    writeDocs(landing, "b1.json", Seq((2L, "en", "d e"), (3L, "en", "f")))
    StreamBudget.run(spark, landing, state, quotas, ckpt, Buckets)
      .awaitTermination()
    assert(admitted(state).map(_._1) == Seq(1L, 2L))
  }

  test("consumed-tokens state groupBy plans with no Exchange") {
    val state = Files.createTempDirectory("sb_state6").toString + "/adm"
    StreamBudget.processBatch(spark, batchDf(Seq((1L, "en", "a"))),
      0L, state, Map("en" -> 10L), Buckets)
    val plan = StreamBudget.consumedBefore(spark, state, 1L)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 0,
      s"bucketed state groupBy must be exchange-free:\n$plan")
  }
}
