package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType, TimestampType}

/** Streaming exponential moving average — the stateful twin of the
  * batch [[graft.ext.TimeSeries.ema]] fold (query w23): as events
  * arrive, each user's EMA advances by ema' = ema + alpha*(x - ema)
  * in (ts, event_id) order.
  *
  * The batch twin is an ordered left fold inside one aggregation; a
  * stream cannot re-fold rows it has already consumed, so the carried
  * state per user is exactly the fold accumulator: (last event key,
  * n, ema). Within a micro-batch the group's events are sorted by
  * (ts, event_id) and folded from the carried accumulator — for any
  * arrival respecting per-user event-time order across batches (the
  * Kafka-partition contract) the streamed accumulator is IDENTICAL to
  * the batch fold on the concatenated input, bit-for-bit: both sides
  * run the same JVM-double operation sequence (spec-asserted). A
  * cross-batch LATE event cannot be folded in place (the recurrence
  * is order-sensitive: splicing would change every subsequent value),
  * so it is dropped and METERED per user, never silently absorbed.
  *
  * Each batch writes the touched users' running (n, ema, n_dropped)
  * snapshots under an idempotent `batch=<id>` partition of a
  * user-bucketed table; [[emaNow]] reads the latest snapshot per user
  * with ZERO Exchange (bucketing on user_id co-locates each user's
  * history).
  */
object StreamEma {

  val Alpha = 0.25 // dyadic: exact in both engines' literals

  val eventSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_id", LongType),
    StructField("value", DoubleType)))

  val SnapCols: Seq[(String, String)] = Seq(
    "user_id" -> "BIGINT", "n" -> "BIGINT", "ema" -> "DOUBLE",
    "n_dropped" -> "BIGINT")

  case class EmaEvent(user_id: Long, ts: Timestamp, event_id: Long,
                      value: Double)
  case class EmaState(tsUs: Long, eventId: Long, n: Long, ema: Double,
                      nDropped: Long)
  case class EmaSnap(user_id: Long, n: Long, ema: Double, n_dropped: Long)

  private def toUs(t: Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Fold this batch's (sorted) events from the carried accumulator;
    * late events (at or before the carried key) only bump the drop
    * meter. */
  private def fold(carried: Option[EmaState],
                   evs: Iterator[EmaEvent]): EmaState = {
    val sorted = evs.toList.sortBy(e => (toUs(e.ts), e.event_id))
    var st = carried.getOrElse(EmaState(Long.MinValue, Long.MinValue, 0L,
      0.0, 0L))
    sorted.foreach { e =>
      val key = (toUs(e.ts), e.event_id)
      if (st.n > 0L &&
          Ordering[(Long, Long)].lteq(key, (st.tsUs, st.eventId))) {
        st = st.copy(nDropped = st.nDropped + 1)
      } else {
        val ema =
          if (st.n == 0L) e.value
          else st.ema + Alpha * (e.value - st.ema)
        st = EmaState(key._1, key._2, st.n + 1, ema, st.nDropped)
      }
    }
    st
  }

  /** Per-user running snapshot after folding the input — works on
    * batch AND streaming input (batch folds each group once from the
    * empty accumulator — exactly the w23 fold; nothing is ever
    * late). */
  def snapshots(events: Dataset[EmaEvent]): Dataset[EmaSnap] = {
    import events.sparkSession.implicits._
    if (!events.isStreaming) {
      events.groupByKey(_.user_id)
        .mapGroups { (u: Long, evs: Iterator[EmaEvent]) =>
          val st = fold(None, evs)
          EmaSnap(u, st.n, st.ema, st.nDropped)
        }
    } else {
      events.groupByKey(_.user_id)
        .mapGroupsWithState[EmaState, EmaSnap](
          GroupStateTimeout.NoTimeout) {
          (u: Long, evs: Iterator[EmaEvent], state: GroupState[EmaState]) =>
            val st = fold(state.getOption, evs)
            state.update(st)
            EmaSnap(u, st.n, st.ema, st.nDropped)
        }
    }
  }

  def run(spark: SparkSession, landingDir: String, statePath: String,
          checkpointDir: String, buckets: Int = 8): StreamingQuery = {
    import spark.implicits._
    val events = MicroBatch.landing(spark, eventSchema, landingDir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull && col("value").isNotNull)
      .as[EmaEvent]
    MicroBatch.run(snapshots(events), checkpointDir, OutputMode.Update) {
      (batch, batchId) =>
        writeSnapshots(spark, batch.toDF(), batchId, statePath, buckets)
    }
  }

  /** One idempotent per-batch write of the touched users' running
    * snapshots (public for replay tests). */
  def writeSnapshots(spark: SparkSession, snaps: DataFrame, batchId: Long,
                     statePath: String, buckets: Int): Unit =
    state(spark, statePath, buckets).overwrite(snaps, batchId)

  private def state(spark: SparkSession, statePath: String,
                    buckets: Int): BatchState =
    BatchState.open(spark, statePath, SnapCols, Seq("user_id"), buckets)

  /** Latest running (n, ema, n_dropped) per user — max_by over the
    * batch id, planned with ZERO Exchange over the user-bucketed
    * snapshot history. */
  def emaNow(spark: SparkSession, statePath: String,
             buckets: Int = 8): DataFrame =
    state(spark, statePath, buckets)
      .latest(Seq("user_id"), Seq("n", "ema", "n_dropped"))
}
