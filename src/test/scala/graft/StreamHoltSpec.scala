package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.ext.TimeSeries
import graft.streaming.StreamHolt

/** Streaming Holt: integer-exact batch-fold equivalence (vs the w32
  * operator), in-order split equivalence, late-event drop metering,
  * replay idempotency, and the zero-Exchange latest-snapshot read.
  */
class StreamHoltSpec extends SparkSpec {

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

  /** The batch w32 fold on the same rows: user -> (n, level, trend,
    * forecast4). */
  private def batchHolt(rows: Seq[(Long, String, Long, Double)]) =
    TimeSeries.holt(eventsDf(rows)).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap

  private def holtOf(state: String) =
    StreamHolt.holtNow(spark, state).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5)))).toMap

  private val rows = Seq(
    (1L, "2024-01-01 10:00:00", 100L, 1.0),
    (1L, "2024-01-01 10:01:00", 101L, 2.0),
    (2L, "2024-01-01 10:00:30", 102L, 5.5),
    (1L, "2024-01-01 10:02:00", 103L, 3.0),
    (2L, "2024-01-01 10:03:00", 104L, 4.5),
    (1L, "2024-01-01 10:04:00", 105L, 4.0))

  test("in-order micro-batch splits equal the batch w32 fold, drops zero") {
    val landing = Files.createTempDirectory("sh_landing").toString
    val state = Files.createTempDirectory("sh_state1").toString + "/holt"
    val ckpt = Files.createTempDirectory("sh_ckpt").toString
    writeEvents(landing, "b0.json", rows.take(3))
    StreamHolt.run(spark, landing, state, ckpt, Buckets)
      .awaitTermination()
    writeEvents(landing, "b1.json", rows.drop(3))
    StreamHolt.run(spark, landing, state, ckpt, Buckets)
      .awaitTermination()
    val want = batchHolt(rows)
    val got = holtOf(state)
    assert(got.keySet == want.keySet)
    got.foreach { case (u, (n, l, b, f4, dropped)) =>
      assert((n, l, b, f4) == want(u), s"user $u: != batch ${want(u)}")
      assert(dropped == 0L)
    }
  }

  test("cross-batch late events are dropped and metered, not spliced") {
    val landing = Files.createTempDirectory("sh_landing2").toString
    val state = Files.createTempDirectory("sh_state2").toString + "/holt"
    val ckpt = Files.createTempDirectory("sh_ckpt2").toString
    writeEvents(landing, "b0.json", Seq(
      (1L, "2024-01-01 10:00:00", 100L, 8.0),
      (1L, "2024-01-01 10:02:00", 102L, 4.0)))
    StreamHolt.run(spark, landing, state, ckpt, Buckets)
      .awaitTermination()
    writeEvents(landing, "b1.json", Seq(
      (1L, "2024-01-01 10:01:00", 101L, 99.0), // late: dropped + metered
      (1L, "2024-01-01 10:03:00", 103L, 6.0)))
    StreamHolt.run(spark, landing, state, ckpt, Buckets)
      .awaitTermination()
    val inOrder = Seq(
      (1L, "2024-01-01 10:00:00", 100L, 8.0),
      (1L, "2024-01-01 10:02:00", 102L, 4.0),
      (1L, "2024-01-01 10:03:00", 103L, 6.0))
    val want = batchHolt(inOrder)(1L)
    val got = holtOf(state)(1L)
    assert((got._1, got._2, got._3, got._4) == want)
    assert(got._5 == 1L, "late event must be metered")
  }

  test("negative-trend state streams exactly (arithmetic-shift floor)") {
    val falling = Seq(
      (3L, "2024-01-01 10:00:00", 200L, 9.99),
      (3L, "2024-01-01 10:01:00", 201L, 7.37),
      (3L, "2024-01-01 10:02:00", 202L, 5.01),
      (3L, "2024-01-01 10:03:00", 203L, 2.23))
    val got = StreamHolt
      .snapshots(eventsDf(falling).as[StreamHolt.HoltEvent])
      .collect().head
    val want = batchHolt(falling)(3L)
    assert(got.trend_s20 < 0L)
    assert(got.level_s20.toDouble / 104857600.0 == want._2)
    assert(got.trend_s20.toDouble / 104857600.0 == want._3)
  }

  test("snapshot writes replay idempotently") {
    val state = Files.createTempDirectory("sh_state3").toString + "/holt"
    val snap = Seq((1L, 2L, 700L << 20, 1L << 19, 0L),
      (2L, 1L, 550L << 20, 0L, 0L))
      .toDF("user_id", "n", "level_s20", "trend_s20", "n_dropped")
    StreamHolt.writeSnapshots(spark, snap, 0L, state, Buckets)
    val first = holtOf(state)
    StreamHolt.writeSnapshots(spark, snap, 0L, state, Buckets)
    assert(holtOf(state) == first)
  }

  test("latest-snapshot read plans with no Exchange over the bucketed history") {
    val state = Files.createTempDirectory("sh_state4").toString + "/holt"
    val b0 = Seq((1L, 1L, 800L << 20, 0L, 0L))
      .toDF("user_id", "n", "level_s20", "trend_s20", "n_dropped")
    val b1 = Seq((1L, 2L, 700L << 20, 1L << 18, 0L))
      .toDF("user_id", "n", "level_s20", "trend_s20", "n_dropped")
    StreamHolt.writeSnapshots(spark, b0, 0L, state, Buckets)
    StreamHolt.writeSnapshots(spark, b1, 1L, state, Buckets)
    val df = StreamHolt.holtNow(spark, state)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 0,
      s"user-bucketed latest-snapshot read must be exchange-free:\n$plan")
    val Array(r) = df.collect()
    assert(r.getLong(1) == 2L && r.getDouble(2) == 7.0)
    assert(r.getDouble(3) == (1L << 18).toDouble / 104857600.0)
  }
}
