package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType, TimestampType}

/** Streaming OHLC bars — the stateful twin of the batch
  * [[graft.ext.TimeSeries.ohlc]] (query w25), keyed by (user, hour).
  *
  * Unlike [[StreamEma]]/[[StreamCusum]], the bar state is
  * ORDER-INSENSITIVE: open/close are argmin/argmax over the
  * event-time key (ts, event_id), high/low/volume are plain
  * min/max/sum — a commutative monoid merge. So late or out-of-order
  * arrivals fold in EXACTLY like in-order ones (spec-asserted:
  * shuffled splits equal the batch operator), and nothing is ever
  * dropped — the contrast that shows WHICH streaming operators need
  * the late-drop discipline (order-sensitive recursions) and which
  * don't (monoid aggregations).
  *
  * Volume accumulates in exact BIGINT cents (BigDecimal conversion,
  * the [[StreamCusum]] discipline) and converts to double once at
  * snapshot time — the same correctly-rounded value as the batch
  * side's exact-DECIMAL sum cast.
  */
object StreamOhlc {

  val eventSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_id", LongType),
    StructField("value", DoubleType)))

  val SnapCols: Seq[(String, String)] = Seq(
    "user_id" -> "BIGINT", "hour_us" -> "BIGINT", "open" -> "DOUBLE",
    "high" -> "DOUBLE", "low" -> "DOUBLE", "close" -> "DOUBLE",
    "vol_cents" -> "BIGINT", "n" -> "BIGINT")

  case class OhlcEvent(user_id: Long, ts: Timestamp, event_id: Long,
                       value: Double)
  case class BarKey(user_id: Long, hour_us: Long)
  case class BarState(openUs: Long, openId: Long, open: Double,
                      high: Double, low: Double,
                      closeUs: Long, closeId: Long, close: Double,
                      volCents: Long, n: Long)
  case class BarSnap(user_id: Long, hour_us: Long, open: Double,
                     high: Double, low: Double, close: Double,
                     vol_cents: Long, n: Long)

  private def toUs(t: Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  private def centsOf(v: Double): Long =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      .*(BigDecimal(100)).toLongExact

  private val HourUs = 3600L * 1000000L

  /** Commutative monoid merge of one event into the bar. */
  private def merge(st: Option[BarState], e: OhlcEvent): BarState = {
    val us = toUs(e.ts); val c = centsOf(e.value)
    st match {
      case None =>
        BarState(us, e.event_id, e.value, e.value, e.value,
          us, e.event_id, e.value, c, 1L)
      case Some(s) =>
        val ord = Ordering[(Long, Long)]
        val openFirst = ord.lt((us, e.event_id), (s.openUs, s.openId))
        val closeLast = ord.gt((us, e.event_id), (s.closeUs, s.closeId))
        BarState(
          if (openFirst) us else s.openUs,
          if (openFirst) e.event_id else s.openId,
          if (openFirst) e.value else s.open,
          math.max(s.high, e.value), math.min(s.low, e.value),
          if (closeLast) us else s.closeUs,
          if (closeLast) e.event_id else s.closeId,
          if (closeLast) e.value else s.close,
          s.volCents + c, s.n + 1)
    }
  }

  /** Per-bar running snapshot — batch input folds each group once
    * from empty state (equals the w25 operator exactly). */
  def snapshots(events: Dataset[OhlcEvent]): Dataset[BarSnap] = {
    import events.sparkSession.implicits._
    def snap(k: BarKey, s: BarState) =
      BarSnap(k.user_id, k.hour_us, s.open, s.high, s.low, s.close,
        s.volCents, s.n)
    val keyed = events.groupByKey(e =>
      BarKey(e.user_id, toUs(e.ts) / HourUs * HourUs))
    if (!events.isStreaming) {
      keyed.mapGroups { (k: BarKey, evs: Iterator[OhlcEvent]) =>
        snap(k, evs.foldLeft(Option.empty[BarState])(
          (st, e) => Some(merge(st, e))).get)
      }
    } else {
      keyed.mapGroupsWithState[BarState, BarSnap](
        GroupStateTimeout.NoTimeout) {
        (k: BarKey, evs: Iterator[OhlcEvent],
         state: GroupState[BarState]) =>
          val st = evs.foldLeft(state.getOption)(
            (s, e) => Some(merge(s, e))).get
          state.update(st)
          snap(k, st)
      }
    }
  }

  def run(spark: SparkSession, landingDir: String, statePath: String,
          checkpointDir: String, buckets: Int = 8): StreamingQuery = {
    import spark.implicits._
    val events = MicroBatch.landing(spark, eventSchema, landingDir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull && col("value").isNotNull)
      .as[OhlcEvent]
    MicroBatch.run(snapshots(events), checkpointDir, OutputMode.Update) {
      (batch, batchId) =>
        writeSnapshots(spark, batch.toDF(), batchId, statePath, buckets)
    }
  }

  def writeSnapshots(spark: SparkSession, snaps: DataFrame, batchId: Long,
                     statePath: String, buckets: Int): Unit =
    state(spark, statePath, buckets).overwrite(snaps, batchId)

  private def state(spark: SparkSession, statePath: String,
                    buckets: Int): BatchState =
    BatchState.open(spark, statePath, SnapCols, Seq("user_id"), buckets)

  /** Latest bar per (user, hour) — zero-Exchange read is not claimed
    * here: the grouping key (user, hour) is finer than the bucket key
    * (user), so one narrow exchange may appear; user-bucketing still
    * co-locates each user's bars. */
  def barsNow(spark: SparkSession, statePath: String,
              buckets: Int = 8): DataFrame =
    state(spark, statePath, buckets).latest(Seq("user_id", "hour_us"),
      Seq("open", "high", "low", "close", "vol_cents", "n"))
}
