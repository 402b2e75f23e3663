package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.StreamTransitions

/** Streaming transition-edge derivation: batch-equivalence of the
  * stateful fold, in-order split equivalence, late-event drop, replay
  * idempotency, and the zero-Exchange accumulated-edge plan.
  */
class StreamTransitionsSpec extends SparkSpec {

  import spark.implicits._

  private val Buckets = 8

  private def writeEvents(dir: String, name: String,
                          rows: Seq[(Long, String, Long, Int)]): Unit = {
    val lines = rows.map { case (u, ts, e, k) =>
      s"""{"user_id": $u, "ts": "${ts.replace(' ', 'T')}", "event_id": $e, "k": $k}"""
    }.mkString("\n")
    Files.writeString(Paths.get(dir, name), lines)
    ()
  }

  private def eventsDf(rows: Seq[(Long, String, Long, Int)]) =
    rows.toDF("user_id", "tss", "event_id", "k")
      .select(col("user_id"), col("tss").cast("timestamp").as("ts"),
        col("event_id"), col("k"))

  /** The batch lag-window twin (the eventEdges shape). */
  private def lagEdges(rows: Seq[(Long, String, Long, Int)]) = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    eventsDf(rows).withColumn("src", lag(col("k"), 1).over(w))
      .filter(col("src").isNotNull)
      .groupBy(col("src").cast("long").as("src"),
        col("k").cast("long").as("dst"))
      .agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
  }

  private def edgesOf(state: String): Map[(Long, Long), Long] =
    StreamTransitions.edgesNow(spark, state).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  private val rows = Seq(
    (1L, "2024-01-01 10:00:00", 100L, 5),
    (1L, "2024-01-01 10:01:00", 101L, 7),
    (1L, "2024-01-01 10:02:00", 102L, 5),
    (2L, "2024-01-01 10:00:30", 103L, 7),
    (2L, "2024-01-01 10:03:00", 104L, 9),
    (1L, "2024-01-01 10:04:00", 105L, 7))

  test("batch fold equals the lag-window edge derivation") {
    val got = StreamTransitions
      .transitions(eventsDf(rows).as[StreamTransitions.TransEvent])
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == lagEdges(rows))
  }

  test("in-order micro-batch splits accumulate the same edge multiset") {
    val landing = Files.createTempDirectory("st_landing").toString
    val state = Files.createTempDirectory("st_state1").toString + "/edges"
    val ckpt = Files.createTempDirectory("st_ckpt").toString
    // split respects per-user event-time order across batches
    writeEvents(landing, "b0.json", rows.take(3))
    StreamTransitions.run(spark, landing, state, ckpt, Buckets)
      .awaitTermination()
    writeEvents(landing, "b1.json", rows.drop(3))
    StreamTransitions.run(spark, landing, state, ckpt, Buckets)
      .awaitTermination()
    assert(edgesOf(state) == lagEdges(rows))
    // the cross-batch seam 5 -> 7 (user 1, events 102 -> 105) exists
    assert(edgesOf(state).contains((5L, 7L)))
  }

  test("cross-batch late events are dropped, not spliced") {
    val landing = Files.createTempDirectory("st_landing2").toString
    val state = Files.createTempDirectory("st_state2").toString + "/edges"
    val ckpt = Files.createTempDirectory("st_ckpt2").toString
    writeEvents(landing, "b0.json", Seq(
      (1L, "2024-01-01 10:00:00", 100L, 5),
      (1L, "2024-01-01 10:02:00", 102L, 9)))
    StreamTransitions.run(spark, landing, state, ckpt, Buckets)
      .awaitTermination()
    // event 101 is older than the carried last (102): dropped
    writeEvents(landing, "b1.json", Seq(
      (1L, "2024-01-01 10:01:00", 101L, 7),
      (1L, "2024-01-01 10:03:00", 103L, 6)))
    StreamTransitions.run(spark, landing, state, ckpt, Buckets)
      .awaitTermination()
    assert(edgesOf(state) == Map((5L, 9L) -> 1L, (9L, 6L) -> 1L))
    // the drop is METERED, not silent: batch 0 recorded zero drops
    // (partition exists but is empty), batch 1 one drop for user 1
    val drops = StreamTransitions.dropsNow(spark, state).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(drops == Map((1L, 1L) -> 1L), s"unexpected drop meter: $drops")
  }

  test("edge-delta writes replay idempotently") {
    val state = Files.createTempDirectory("st_state3").toString + "/edges"
    val delta = Seq((5L, 7L), (5L, 7L), (7L, 9L)).toDF("src", "dst")
    StreamTransitions.writeEdges(spark, delta, 0L, state, Buckets)
    val first = edgesOf(state)
    assert(first == Map((5L, 7L) -> 2L, (7L, 9L) -> 1L))
    StreamTransitions.writeEdges(spark, delta, 0L, state, Buckets)
    assert(edgesOf(state) == first)
  }

  test("accumulated-edge groupBy plans with no Exchange; ranks match batch") {
    val state = Files.createTempDirectory("st_state4").toString + "/edges"
    val delta = Seq((5L, 7L), (7L, 5L), (5L, 9L)).toDF("src", "dst")
    StreamTransitions.writeEdges(spark, delta, 0L, state, Buckets)
    val plan = StreamTransitions.edgesNow(spark, state)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 0,
      s"src-bucketed edge groupBy must be exchange-free:\n$plan")
    val live = StreamTransitions.ranksNow(spark, state, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.ext.Graphs.pageRank(
      delta.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w")),
      iters = 2).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(live == batch)
  }
}
