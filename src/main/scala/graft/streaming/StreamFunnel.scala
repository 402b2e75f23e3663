package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

import graft.core.PlanCapture.CheckpointOps

/** Streaming twin of [[graft.ext.Funnels.eventFunnel]]: per-user funnel
  * progress carried as flatMapGroupsWithState state across
  * micro-batches, so stage conversions are detected AS THEY ARRIVE
  * instead of re-scanning the accumulated stream per report.
  *
  * The batch funnel is greedy earliest-event chaining (stage i converts
  * at the first event of stage i's type strictly after the stage-(i-1)
  * conversion and within the window); a single time-ordered scan per
  * user implements exactly that greedy rule, so for any arrival that
  * respects per-user event-time order across batches (the
  * [[StreamTransitions]] Kafka-partition contract) the streamed
  * conversion set is IDENTICAL to the batch funnel on the concatenated
  * input (spec-asserted). Cross-batch late events are dropped AND
  * metered (`late = true` emits), the [[StreamTransitions]] discipline:
  * a late stage-1 event could only move a conversion EARLIER, and
  * splicing history would mean retracting downstream conversions
  * already emitted.
  *
  * Each batch's new conversions land in an idempotent `batch=<id>`
  * partition of a user-BUCKETED table; [[funnelNow]] folds them into
  * the per-stage counts with one tiny groupBy — O(conversions), never
  * O(events).
  */
object StreamFunnel {

  val eventSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_id", LongType),
    StructField("event_type", StringType)))

  val ConvCols: Seq[(String, String)] = Seq(
    "user_id" -> "BIGINT", "stage" -> "INT", "ct_us" -> "BIGINT",
    "late" -> "BOOLEAN")

  case class FunnelEvent(user_id: Long, ts: Timestamp, event_id: Long,
                         event_type: String)
  /** stage reached so far (0 = none), its conversion time, and the
    * last-seen (ts, event_id) high-water mark for late detection. */
  case class FunnelState(stage: Int, ctUs: Long, lastUs: Long, lastId: Long)
  case class Conv(user_id: Long, stage: Int, ct_us: Long, late: Boolean)

  private def toUs(t: Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  private def fold(user: Long, stages: Seq[String], winUs: Long,
                   carried: Option[FunnelState],
                   evs: Iterator[FunnelEvent])
      : (List[Conv], FunnelState) = {
    val sorted = evs.toList.sortBy(e => (toUs(e.ts), e.event_id))
    var st = carried.getOrElse(FunnelState(0, 0L, Long.MinValue, Long.MinValue))
    val out = List.newBuilder[Conv]
    sorted.foreach { e =>
      val us = toUs(e.ts)
      if (Ordering[(Long, Long)].lteq((us, e.event_id), (st.lastUs, st.lastId))) {
        out += Conv(user, 0, us, late = true)
      } else {
        if (st.stage < stages.length && e.event_type == stages(st.stage) &&
            (st.stage == 0 || (us > st.ctUs && us <= st.ctUs + winUs))) {
          st = st.copy(stage = st.stage + 1, ctUs = us)
          out += Conv(user, st.stage, us, late = false)
        }
        st = st.copy(lastUs = us, lastId = e.event_id)
      }
    }
    (out.result(), st)
  }

  /** Conversion (and late-marker) stream; works on batch AND streaming
    * input (batch folds each group once from empty state). */
  def conversions(events: Dataset[FunnelEvent], stages: Seq[String],
                  windowMinutes: Int): Dataset[Conv] = {
    require(stages.nonEmpty && windowMinutes > 0, "stages + window required")
    import events.sparkSession.implicits._
    val winUs = windowMinutes * 60L * 1000000L
    if (!events.isStreaming) {
      events.groupByKey(_.user_id)
        .flatMapGroupsWithState[FunnelState, Conv](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (u: Long, evs: Iterator[FunnelEvent], _: GroupState[FunnelState]) =>
            fold(u, stages, winUs, None, evs)._1.iterator
        }
    } else {
      events.groupByKey(_.user_id)
        .flatMapGroupsWithState[FunnelState, Conv](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (u: Long, evs: Iterator[FunnelEvent],
           state: GroupState[FunnelState]) =>
            val (out, st) = fold(u, stages, winUs, state.getOption, evs)
            state.update(st)
            out.iterator
        }
    }
  }

  def run(spark: SparkSession, landingDir: String, statePath: String,
          checkpointDir: String, stages: Seq[String], windowMinutes: Int,
          buckets: Int = 8): StreamingQuery = {
    import spark.implicits._
    val events = MicroBatch.landing(spark, eventSchema, landingDir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull && col("event_type").isNotNull)
      .as[FunnelEvent]
    MicroBatch.run(conversions(events, stages, windowMinutes), checkpointDir,
      OutputMode.Append) { (batch, batchId) =>
      state(spark, statePath, buckets).overwrite(batch.toDF(), batchId)
    }
  }

  private def state(spark: SparkSession, statePath: String,
                    buckets: Int): BatchState =
    BatchState.open(spark, statePath, ConvCols, Seq("user_id"), buckets)

  /** Per-stage funnel counts over every conversion accumulated so far —
    * the [[graft.ext.Funnels.eventFunnel]] output shape, computed from
    * O(conversions) state. Late markers (stage 0) are excluded here;
    * [[dropsNow]] serves them.
    */
  def funnelNow(spark: SparkSession, statePath: String, stages: Seq[String],
                buckets: Int = 8): DataFrame = {
    import spark.implicits._
    val counts = state(spark, statePath, buckets).all
      .filter(!col("late"))
      .groupBy(col("stage")).agg(count(lit(1)).cast("long").as("n_users"))
      .cpGuard() // three bounded consumers below (|stages| rows)
    val names = stages.zipWithIndex
      .map { case (t, i) => (i + 1, t) }
      .toDF("stage", "event_type")
    val all = names.join(counts, Seq("stage"), "left")
      .select(col("stage"), col("event_type"),
        coalesce(col("n_users"), lit(0L)).as("n_users"))
    val prev = all.select((col("stage") + 1).as("stage"),
      col("n_users").as("prev_n"))
    val first = all.filter(col("stage") === 1)
      .select(col("n_users").as("n_first"))
    all.join(prev, Seq("stage"), "left")
      .crossJoin(broadcast(first))
      .select(col("stage"), col("event_type"), col("n_users"),
        when(col("prev_n") > 0,
          col("n_users").cast("double") / col("prev_n").cast("double"))
          .as("conv_from_prev"),
        when(col("n_first") > 0,
          col("n_users").cast("double") / col("n_first").cast("double"))
          .as("conv_from_first"))
      .orderBy(col("stage"))
  }

  /** Per-batch per-user late-drop counts — the alertable meter. */
  def dropsNow(spark: SparkSession, statePath: String,
               buckets: Int = 8): DataFrame =
    state(spark, statePath, buckets).all.filter(col("late"))
      .groupBy(col("batch"), col("user_id"))
      .agg(count(lit(1)).as("n_dropped"))
}
