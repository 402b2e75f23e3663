package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.ext.TimeSeries
import graft.streaming.StreamOhlc

/** Streaming OHLC: the monoid bar state absorbs out-of-order and
  * late arrivals exactly (no drop discipline needed — the contrast
  * with StreamEma/StreamCusum), equals the batch w25 operator on any
  * split, and replays idempotently.
  */
class StreamOhlcSpec extends SparkSpec {

  import spark.implicits._

  private val Buckets = 8

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

  /** Batch w25 bars: (user, hour_us) -> (open, high, low, close,
    * volume, n). */
  private def batchBars(rows: Seq[(Long, String, Long, Double)]) =
    TimeSeries.ohlc(eventsDf(rows)).collect().map { r =>
      val hourUs = r.getTimestamp(1).toInstant.getEpochSecond * 1000000L
      (r.getLong(0), hourUs) -> ((r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getLong(7)))
    }.toMap

  private def nowOf(state: String) =
    StreamOhlc.barsNow(spark, state).collect().map { r =>
      (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6) / 100.0,
        r.getLong(7)))
    }.toMap

  private val rows = Seq(
    (1L, "2024-01-01 10:05:00", 100L, 5.0),
    (1L, "2024-01-01 10:15:00", 101L, 9.0),
    (1L, "2024-01-01 10:25:00", 102L, 2.0),
    (1L, "2024-01-01 10:45:00", 103L, 7.0),
    (1L, "2024-01-01 11:05:00", 104L, 1.0),
    (2L, "2024-01-01 10:30:00", 105L, 4.25))

  test("batch snapshot fold equals the w25 operator") {
    val got = StreamOhlc
      .snapshots(eventsDf(rows).as[StreamOhlc.OhlcEvent])
      .collect().map(s => (s.user_id, s.hour_us) ->
        ((s.open, s.high, s.low, s.close, s.vol_cents / 100.0, s.n)))
      .toMap
    assert(got == batchBars(rows))
  }

  test("OUT-OF-ORDER split equals the batch bars — monoid state needs no drops") {
    val landing = Files.createTempDirectory("so_landing").toString
    val state = Files.createTempDirectory("so_state1").toString + "/bars"
    val ckpt = Files.createTempDirectory("so_ckpt").toString
    // batch 0 gets the LATER events, batch 1 delivers the earlier
    // ones late — an order-sensitive operator would have to drop them
    writeEvents(landing, "b0.json", rows.drop(3))
    StreamOhlc.run(spark, landing, state, ckpt, Buckets)
      .awaitTermination()
    writeEvents(landing, "b1.json", rows.take(3))
    StreamOhlc.run(spark, landing, state, ckpt, Buckets)
      .awaitTermination()
    assert(nowOf(state) == batchBars(rows))
  }

  test("snapshot writes replay idempotently") {
    val state = Files.createTempDirectory("so_state2").toString + "/bars"
    val snap = Seq((1L, 0L, 5.0, 9.0, 2.0, 7.0, 2300L, 4L))
      .toDF("user_id", "hour_us", "open", "high", "low", "close",
        "vol_cents", "n")
    StreamOhlc.writeSnapshots(spark, snap, 0L, state, Buckets)
    val first = nowOf(state)
    StreamOhlc.writeSnapshots(spark, snap, 0L, state, Buckets)
    assert(nowOf(state) == first && first((1L, 0L))._6 == 4L)
  }
}
