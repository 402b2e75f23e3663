package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.ext.TimeSeries
import graft.streaming.StreamCusum

/** Streaming CUSUM: the stateful recursion must equal the batch w27
  * window-identity formulation (the two formulations audit each
  * other), plus split equivalence, late-drop metering, and replay
  * idempotency.
  */
class StreamCusumSpec extends SparkSpec {

  import spark.implicits._

  private val Buckets = 8
  private val K = 500L  // 5.00
  private val H = 1000L // 10.00

  private def writeEvents(dir: String, name: String,
                          rows: Seq[(Long, String, Long, Double)]): Unit = {
    val lines = rows.map { case (u, ts, e, v) =>
      s"""{"user_id": $u, "ts": "${ts.replace(' ', 'T')}", "event_id": $e, "value": $v}"""
    }.mkString("\n")
    Files.writeString(Paths.get(dir, name), lines)
    ()
  }

  private def eventsDf(rows: Seq[(Long, String, Long, Double)]) =
    rows.toDF("user_id", "tss", "event_id", "value")
      .select(col("user_id"), col("tss").cast("timestamp").as("ts"),
        col("event_id"), col("value"))

  /** The batch w27 window identity: user -> (n, alarms, final_s). */
  private def batchCusum(rows: Seq[(Long, String, Long, Double)]) =
    TimeSeries.cusum(eventsDf(rows), kCents = K, hCents = H)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap

  private def nowOf(state: String): Map[Long, (Long, Long, Long, Long)] =
    StreamCusum.cusumNow(spark, state).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap

  private val rows = Seq(
    (1L, "2024-01-01 10:00:00", 100L, 20.0),
    (1L, "2024-01-01 10:01:00", 101L, 1.0),
    (2L, "2024-01-01 10:00:30", 102L, 3.0),
    (1L, "2024-01-01 10:02:00", 103L, 1.0),
    (2L, "2024-01-01 10:03:00", 104L, 30.0),
    (1L, "2024-01-01 10:04:00", 105L, 20.0))

  test("stateful recursion equals the batch window identity") {
    val got = StreamCusum
      .snapshots(eventsDf(rows).as[StreamCusum.CusumEvent], K, H)
      .collect().map(s => s.user_id ->
        ((s.n, s.n_alarms, s.cusum_cents))).toMap
    assert(got == batchCusum(rows))
  }

  test("in-order micro-batch splits converge to the batch result") {
    val landing = Files.createTempDirectory("sc_landing").toString
    val state = Files.createTempDirectory("sc_state1").toString + "/cusum"
    val ckpt = Files.createTempDirectory("sc_ckpt").toString
    writeEvents(landing, "b0.json", rows.take(3))
    StreamCusum.run(spark, landing, state, ckpt, K, H, Buckets)
      .awaitTermination()
    writeEvents(landing, "b1.json", rows.drop(3))
    StreamCusum.run(spark, landing, state, ckpt, K, H, Buckets)
      .awaitTermination()
    val want = batchCusum(rows)
    nowOf(state).foreach { case (u, (n, a, s, dropped)) =>
      assert((n, a, s) == want(u), s"user $u")
      assert(dropped == 0L)
    }
  }

  test("late cross-batch events drop and meter; recursion state unchanged") {
    val landing = Files.createTempDirectory("sc_landing2").toString
    val state = Files.createTempDirectory("sc_state2").toString + "/cusum"
    val ckpt = Files.createTempDirectory("sc_ckpt2").toString
    writeEvents(landing, "b0.json", Seq(
      (1L, "2024-01-01 10:00:00", 100L, 20.0),
      (1L, "2024-01-01 10:02:00", 102L, 1.0)))
    StreamCusum.run(spark, landing, state, ckpt, K, H, Buckets)
      .awaitTermination()
    writeEvents(landing, "b1.json", Seq(
      (1L, "2024-01-01 10:01:00", 101L, 99.0), // late: dropped
      (1L, "2024-01-01 10:03:00", 103L, 1.0)))
    StreamCusum.run(spark, landing, state, ckpt, K, H, Buckets)
      .awaitTermination()
    val inOrder = Seq(
      (1L, "2024-01-01 10:00:00", 100L, 20.0),
      (1L, "2024-01-01 10:02:00", 102L, 1.0),
      (1L, "2024-01-01 10:03:00", 103L, 1.0))
    val want = batchCusum(inOrder)(1L)
    assert(nowOf(state) ==
      Map(1L -> ((want._1, want._2, want._3, 1L))))
  }

  test("snapshot writes replay idempotently") {
    val state = Files.createTempDirectory("sc_state3").toString + "/cusum"
    val snap = Seq((1L, 2L, 1L, 700L, 0L))
      .toDF("user_id", "n", "n_alarms", "cusum_cents", "n_dropped")
    StreamCusum.writeSnapshots(spark, snap, 0L, state, Buckets)
    val first = nowOf(state)
    StreamCusum.writeSnapshots(spark, snap, 0L, state, Buckets)
    assert(nowOf(state) == first && first(1L) == ((2L, 1L, 700L, 0L)))
  }
}
