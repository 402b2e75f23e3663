package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.ext.TimeSeries
import graft.streaming.{BatchState, StreamEma}

/** Streaming EMA: bit-exact batch-fold equivalence (vs the w23
  * ordered-fold operator), in-order split equivalence, late-event
  * drop metering, replay idempotency, and the zero-Exchange latest-
  * snapshot read.
  */
class StreamEmaSpec extends SparkSpec {

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

  /** The batch w23 fold on the same rows: user -> (n, ema). */
  private def batchEma(rows: Seq[(Long, String, Long, Double)]) =
    TimeSeries.ema(eventsDf(rows)
        .withColumn("event_id", col("event_id")), alpha = StreamEma.Alpha)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap

  private def emaOf(state: String): Map[Long, (Long, Double, Long)] =
    StreamEma.emaNow(spark, state).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getLong(3)))).toMap

  private val rows = Seq(
    (1L, "2024-01-01 10:00:00", 100L, 8.0),
    (1L, "2024-01-01 10:01:00", 101L, 4.0),
    (2L, "2024-01-01 10:00:30", 102L, 5.5),
    (1L, "2024-01-01 10:02:00", 103L, 6.0),
    (2L, "2024-01-01 10:03:00", 104L, 7.5),
    (1L, "2024-01-01 10:04:00", 105L, 1.0))

  test("batch snapshot fold is bit-identical to the w23 ordered fold") {
    val got = StreamEma
      .snapshots(eventsDf(rows).as[StreamEma.EmaEvent])
      .collect().map(s => s.user_id -> ((s.n, s.ema))).toMap
    val want = batchEma(rows)
    assert(got == want, s"stream fold $got != batch fold $want")
  }

  test("in-order micro-batch splits converge to the batch EMA, drops zero") {
    val landing = Files.createTempDirectory("se_landing").toString
    val state = Files.createTempDirectory("se_state1").toString + "/ema"
    val ckpt = Files.createTempDirectory("se_ckpt").toString
    writeEvents(landing, "b0.json", rows.take(3))
    StreamEma.run(spark, landing, state, ckpt, Buckets)
      .awaitTermination()
    writeEvents(landing, "b1.json", rows.drop(3))
    StreamEma.run(spark, landing, state, ckpt, Buckets)
      .awaitTermination()
    val want = batchEma(rows)
    val got = emaOf(state)
    assert(got.keySet == want.keySet)
    got.foreach { case (u, (n, ema, dropped)) =>
      assert((n, ema) == want(u), s"user $u: ($n, $ema) != ${want(u)}")
      assert(dropped == 0L)
    }
  }

  test("cross-batch late events are dropped and metered, not spliced") {
    val landing = Files.createTempDirectory("se_landing2").toString
    val state = Files.createTempDirectory("se_state2").toString + "/ema"
    val ckpt = Files.createTempDirectory("se_ckpt2").toString
    writeEvents(landing, "b0.json", Seq(
      (1L, "2024-01-01 10:00:00", 100L, 8.0),
      (1L, "2024-01-01 10:02:00", 102L, 4.0)))
    StreamEma.run(spark, landing, state, ckpt, Buckets)
      .awaitTermination()
    // event 101 is older than the carried (102): dropped + metered
    writeEvents(landing, "b1.json", Seq(
      (1L, "2024-01-01 10:01:00", 101L, 99.0),
      (1L, "2024-01-01 10:03:00", 103L, 6.0)))
    StreamEma.run(spark, landing, state, ckpt, Buckets)
      .awaitTermination()
    // the EMA equals the fold over the ordered prefix WITHOUT the
    // late event: 8 -> 7 -> 6.75
    val inOrder = Seq(
      (1L, "2024-01-01 10:00:00", 100L, 8.0),
      (1L, "2024-01-01 10:02:00", 102L, 4.0),
      (1L, "2024-01-01 10:03:00", 103L, 6.0))
    assert(emaOf(state) ==
      Map(1L -> ((3L, batchEma(inOrder)(1L)._2, 1L))))
  }

  test("snapshot writes replay idempotently") {
    val state = Files.createTempDirectory("se_state3").toString + "/ema"
    val snap = Seq((1L, 2L, 7.0, 0L), (2L, 1L, 5.5, 0L))
      .toDF("user_id", "n", "ema", "n_dropped")
    StreamEma.writeSnapshots(spark, snap, 0L, state, Buckets)
    val first = emaOf(state)
    assert(first == Map(1L -> ((2L, 7.0, 0L)), 2L -> ((1L, 5.5, 0L))))
    StreamEma.writeSnapshots(spark, snap, 0L, state, Buckets)
    assert(emaOf(state) == first)
  }

  test("the latest-snapshot read survives a fresh catalog") {
    val state = Files.createTempDirectory("se_state5").toString + "/ema"
    val b0 = Seq((1L, 1L, 8.0, 0L), (2L, 1L, 5.5, 0L))
      .toDF("user_id", "n", "ema", "n_dropped")
    val b1 = Seq((1L, 2L, 7.0, 0L)).toDF("user_id", "n", "ema", "n_dropped")
    StreamEma.writeSnapshots(spark, b0, 0L, state, Buckets)
    StreamEma.writeSnapshots(spark, b1, 1L, state, Buckets)
    val before = emaOf(state)
    assert(before == Map(1L -> ((2L, 7.0, 0L)), 2L -> ((1L, 5.5, 0L))))
    // a session whose catalog never registered the table: dropping the
    // EXTERNAL table removes the catalog entry and leaves the files
    spark.sql(s"DROP TABLE ${BatchState.tableName(state)}")
    assert(!spark.catalog.tableExists(BatchState.tableName(state)))
    assert(emaOf(state) == before)
  }

  test("latest-snapshot read plans with no Exchange over the bucketed history") {
    val state = Files.createTempDirectory("se_state4").toString + "/ema"
    val b0 = Seq((1L, 1L, 8.0, 0L)).toDF("user_id", "n", "ema", "n_dropped")
    val b1 = Seq((1L, 2L, 7.0, 0L)).toDF("user_id", "n", "ema", "n_dropped")
    StreamEma.writeSnapshots(spark, b0, 0L, state, Buckets)
    StreamEma.writeSnapshots(spark, b1, 1L, state, Buckets)
    val df = StreamEma.emaNow(spark, state)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 0,
      s"user-bucketed latest-snapshot read must be exchange-free:\n$plan")
    // and the latest batch wins
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2))).toSeq == Seq((1L, 2L, 7.0)))
  }
}
