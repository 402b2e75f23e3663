package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.{BatchState, StreamUpsert}

class StreamUpsertSpec extends SparkSpec {

  import spark.implicits._

  private val Buckets = 8

  private def writeChanges(dir: String, name: String,
                           rows: Seq[(Long, String, Long, Int)]): Unit = {
    val lines = rows.map { case (u, ts, e, k) =>
      s"""{"user_id": $u, "ts": "${ts.replace(' ', 'T')}", "event_id": $e, "k": $k}"""
    }.mkString("\n")
    Files.writeString(Paths.get(dir, name), lines)
    ()
  }

  private def batchDf(rows: Seq[(Long, String, Long, Int)]) =
    rows.toDF("user_id", "tss", "event_id", "k")
      .select(col("user_id"), col("tss").cast("timestamp").as("ts"),
        col("event_id"), col("k"))

  private def stateOf(snapshotDir: String): Map[Long, Int] =
    spark.read.parquet(snapshotDir).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Int]("k")).toMap

  test("current state tracks the latest change per key across batches") {
    val landing = Files.createTempDirectory("su_landing").toString
    val state = Files.createTempDirectory("su_state").toString + "/changes"
    val snap = Files.createTempDirectory("su_snap").toString + "/current"
    val ckpt = Files.createTempDirectory("su_ckpt").toString

    writeChanges(landing, "b0.json", Seq(
      (1L, "2024-01-01 10:00:00", 100L, 5),
      (2L, "2024-01-01 10:01:00", 101L, 7),
      (1L, "2024-01-01 11:00:00", 102L, 6)))
    StreamUpsert.run(spark, landing, state, snap, ckpt, Buckets)
      .awaitTermination()
    assert(stateOf(snap) == Map(1L -> 6, 2L -> 7))

    writeChanges(landing, "b1.json", Seq(
      (1L, "2024-01-02 09:00:00", 200L, 9), // newer: overrides
      (3L, "2024-01-01 08:00:00", 201L, 4))) // new key
    StreamUpsert.run(spark, landing, state, snap, ckpt, Buckets)
      .awaitTermination()
    assert(stateOf(snap) == Map(1L -> 9, 2L -> 7, 3L -> 4))
  }

  test("event-time wins: late-arriving older changes never clobber") {
    val state = Files.createTempDirectory("su_state2").toString + "/changes"
    val snap = Files.createTempDirectory("su_snap2").toString + "/current"

    StreamUpsert.processBatch(spark,
      batchDf(Seq((1L, "2024-01-05 12:00:00", 300L, 1))),
      0L, state, snap, Buckets)
    // an OLDER event-time change arriving in a LATER batch
    StreamUpsert.processBatch(spark,
      batchDf(Seq((1L, "2024-01-01 12:00:00", 301L, 2))),
      1L, state, snap, Buckets)
    assert(stateOf(snap) == Map(1L -> 1), "older ts must not clobber")

    // equal ts: the (ts, event_id) total order breaks the tie — the
    // higher event_id is the later change
    StreamUpsert.processBatch(spark,
      batchDf(Seq((2L, "2024-01-03 00:00:00", 400L, 10),
        (2L, "2024-01-03 00:00:00", 401L, 11))),
      2L, state, snap, Buckets)
    assert(stateOf(snap)(2L) == 11)
  }

  test("micro-batch replay is idempotent (at-least-once foreachBatch)") {
    val state = Files.createTempDirectory("su_state3").toString + "/changes"
    val snap = Files.createTempDirectory("su_snap3").toString + "/current"
    val b0 = batchDf(Seq((1L, "2024-01-01 10:00:00", 100L, 5),
      (2L, "2024-01-01 10:30:00", 101L, 7)))
    val b1 = batchDf(Seq((1L, "2024-01-02 10:00:00", 200L, 8)))
    StreamUpsert.processBatch(spark, b0, 0L, state, snap, Buckets)
    StreamUpsert.processBatch(spark, b1, 1L, state, snap, Buckets)
    def full() = (stateOf(snap),
      spark.table(BatchState.tableName(state)).orderBy(col("batch"), col("user_id"))
        .collect().toSeq)
    val once = full()
    assert(once._1 == Map(1L -> 8, 2L -> 7))
    StreamUpsert.processBatch(spark, b1, 1L, state, snap, Buckets)
    assert(full() == once, "replay changed state or snapshot")
  }

  test("current-state merge plans with no Exchange") {
    val state = Files.createTempDirectory("su_state4").toString + "/changes"
    val snap = Files.createTempDirectory("su_snap4").toString + "/current"
    StreamUpsert.processBatch(spark,
      batchDf((0L until 50L).map(i =>
        (i % 10, f"2024-01-01 ${i % 24}%02d:00:00", i, i.toInt))),
      0L, state, snap, Buckets)
    StreamUpsert.processBatch(spark,
      batchDf((50L until 100L).map(i =>
        (i % 10, f"2024-01-02 ${i % 24}%02d:00:00", i, i.toInt))),
      1L, state, snap, Buckets)
    val plan = StreamUpsert.currentState(spark, state)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 0,
      s"bucketed state groupBy must be exchange-free:\n$plan")
  }
}
