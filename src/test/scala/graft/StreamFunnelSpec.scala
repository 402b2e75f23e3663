package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.{BatchState, StreamFunnel}

/** Streaming funnel: batch-equivalence of the stateful greedy fold,
  * in-order split equivalence against the batch w20 operator, late-drop
  * metering, and replay idempotency.
  */
class StreamFunnelSpec extends SparkSpec {

  import spark.implicits._

  private val Buckets = 8
  private val Stages = Seq("view", "click", "purchase")

  private def writeEvents(dir: String, name: String,
                          rows: Seq[(Long, String, Long, String)]): Unit = {
    val lines = rows.map { case (u, ts, e, t) =>
      s"""{"user_id": $u, "ts": "${ts.replace(' ', 'T')}", "event_id": $e, "event_type": "$t"}"""
    }.mkString("\n")
    Files.writeString(Paths.get(dir, name), lines)
    ()
  }

  private def eventsDf(rows: Seq[(Long, String, Long, String)]) =
    rows.toDF("user_id", "tss", "event_id", "event_type")
      .select(col("user_id"), col("tss").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"))

  private def funnelRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq

  // user 1 completes all 3 stages; user 2 stalls at click (purchase too
  // late); user 3 views only; user 4 clicks with no prior view
  private val rows = Seq(
    (1L, "2024-01-01 10:00:00", 100L, "view"),
    (1L, "2024-01-01 10:10:00", 101L, "click"),
    (1L, "2024-01-01 10:40:00", 102L, "purchase"),
    (2L, "2024-01-01 10:00:00", 103L, "view"),
    (2L, "2024-01-01 10:20:00", 104L, "click"),
    (2L, "2024-01-01 12:00:00", 105L, "purchase"),
    (3L, "2024-01-01 11:00:00", 106L, "view"),
    (4L, "2024-01-01 11:00:00", 107L, "click"))

  test("batch fold equals the batch funnel operator") {
    val convs = StreamFunnel
      .conversions(eventsDf(rows).as[StreamFunnel.FunnelEvent], Stages, 60)
      .filter(!col("late"))
      .groupBy(col("stage")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batch = graft.ext.Funnels.eventFunnel(eventsDf(rows), Stages, 60)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(convs == batch.filter(_._2 > 0))
  }

  test("in-order micro-batch splits equal the batch funnel on the concatenation") {
    val landing = Files.createTempDirectory("sf_landing").toString
    val state = Files.createTempDirectory("sf_state").toString + "/convs"
    val ckpt = Files.createTempDirectory("sf_ckpt").toString
    // split mid-stream: user 1's purchase and user 3/4 arrive later
    writeEvents(landing, "b0.json", rows.take(5))
    StreamFunnel.run(spark, landing, state, ckpt, Stages, 60, Buckets)
      .awaitTermination()
    writeEvents(landing, "b1.json", rows.drop(5))
    StreamFunnel.run(spark, landing, state, ckpt, Stages, 60, Buckets)
      .awaitTermination()
    val streamed = funnelRows(StreamFunnel.funnelNow(spark, state, Stages))
    val batch = funnelRows(graft.ext.Funnels.eventFunnel(
      eventsDf(rows), Stages, 60))
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    // cross-batch seam: user 1's purchase (batch 1) chained onto the
    // click conversion carried from batch 0
    assert(streamed.exists { case (st, _, n) => st == 3 && n == 1L })
  }

  test("cross-batch late events are dropped and metered, not spliced") {
    val landing = Files.createTempDirectory("sf_landing2").toString
    val state = Files.createTempDirectory("sf_state2").toString + "/convs"
    val ckpt = Files.createTempDirectory("sf_ckpt2").toString
    writeEvents(landing, "b0.json", Seq(
      (1L, "2024-01-01 10:30:00", 100L, "view")))
    StreamFunnel.run(spark, landing, state, ckpt, Stages, 60, Buckets)
      .awaitTermination()
    // an EARLIER view arrives late: would have moved the conversion
    // earlier — dropped and metered instead
    writeEvents(landing, "b1.json", Seq(
      (1L, "2024-01-01 10:00:00", 99L, "view"),
      (1L, "2024-01-01 10:45:00", 101L, "click")))
    StreamFunnel.run(spark, landing, state, ckpt, Stages, 60, Buckets)
      .awaitTermination()
    val streamed = funnelRows(StreamFunnel.funnelNow(spark, state, Stages))
    assert(streamed.collect { case (st, _, n) if st <= 2 => n } == Seq(1L, 1L))
    val drops = StreamFunnel.dropsNow(spark, state).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(drops == Map((1L, 1L) -> 1L), s"unexpected drop meter: $drops")
  }

  test("conversion writes replay idempotently") {
    val state = Files.createTempDirectory("sf_state3").toString + "/convs"
    val convs = BatchState.open(spark, state,
      StreamFunnel.ConvCols, Seq("user_id"), Buckets)
    val delta = Seq((1L, 1, 1000L, false), (2L, 1, 2000L, false))
      .toDF("user_id", "stage", "ct_us", "late")
    convs.overwrite(delta, 0L)
    val first = funnelRows(StreamFunnel.funnelNow(spark, state, Stages))
    convs.overwrite(delta, 0L)
    assert(funnelRows(StreamFunnel.funnelNow(spark, state, Stages)) == first)
  }
}
