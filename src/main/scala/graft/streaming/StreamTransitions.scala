package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType, TimestampType}

import graft.core.PlanCapture.CheckpointOps

/** Streaming derivation of the per-user transition edge list — the
  * stateful streaming twin of the lag-window `eventEdges` build that
  * feeds every graph query (g01 PageRank, g08 HITS, g09 link
  * prediction): as events arrive, each user's consecutive item
  * transitions (prev.k -> k) become weighted edges of the continuously
  * accumulating item graph.
  *
  * The batch twin computes `lag(k) over (partition by user order by
  * ts, event_id)`; a stream cannot window over rows it has not seen,
  * so the per-user LAST event (ts, event_id, k) is carried as
  * flatMapGroupsWithState state across micro-batches. Within a batch
  * the group's events are sorted by (ts, event_id) and folded from the
  * carried state — so for any arrival that respects per-user event-time
  * order across batches (the Kafka-partition contract), the emitted
  * transition multiset is IDENTICAL to the batch lag-window on the
  * concatenated input (spec-asserted). A cross-batch LATE event (at or
  * before the carried (ts, event_id)) is dropped, never emitted: the
  * batch twin would have spliced a transition into the middle of the
  * sequence, and emitting a wrong-order edge would silently corrupt
  * the graph — dropping keeps the state a faithful prefix of the
  * ordered stream.
  *
  * Per batch, per-occurrence transitions reduce to (src, dst, w)
  * counts (one partial-aggregable groupBy — per-batch state is
  * O(distinct edges in the batch)) written under an idempotent
  * `batch=<id>` partition of a src-BUCKETED table; [[edgesNow]] folds
  * all batches with a groupBy(src, dst) that plans with ZERO Exchange
  * because hash-partitioning on src already co-locates every (src,
  * dst) group. [[ranksNow]] serves PageRank over the accumulated
  * graph on demand.
  */
object StreamTransitions {

  val eventSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_id", LongType),
    StructField("k", IntegerType)))

  val EdgeCols: Seq[(String, String)] = Seq(
    "src" -> "BIGINT", "dst" -> "BIGINT", "w" -> "BIGINT")

  case class TransEvent(user_id: Long, ts: Timestamp, event_id: Long, k: Int)
  case class Transition(src: Long, dst: Long)
  case class LastEvent(tsUs: Long, eventId: Long, k: Int)

  /** Raw stateful-fold output: an edge occurrence, or (late = true) a
    * DROPPED cross-batch late event — surfaced so a production graph
    * build can meter and alert on silent drops instead of discovering
    * them as missing edges. */
  case class TransEmit(user_id: Long, src: Long, dst: Long, late: Boolean)

  val DropCols: Seq[(String, String)] = Seq(
    "user_id" -> "BIGINT", "n_dropped" -> "BIGINT")

  /** java.sql.Timestamp.getTime is millisecond-truncated; events are
    * microsecond-precision, so convert through Instant. */
  private def toUs(t: Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Sort this batch's events and fold transitions from the carried
    * last event; returns the emitted rows (edges AND late-drop
    * markers) and the new state. Events at or before the carried
    * (ts, event_id) are late — dropped from the edge stream, but each
    * drop is emitted as a `late = true` marker so the run can meter
    * them. */
  private def fold(user: Long, carried: Option[LastEvent],
                   evs: Iterator[TransEvent])
      : (List[TransEmit], Option[LastEvent]) = {
    val sorted = evs.toList.sortBy(e => (toUs(e.ts), e.event_id))
    var last = carried
    val out = List.newBuilder[TransEmit]
    sorted.foreach { e =>
      val key = (toUs(e.ts), e.event_id)
      last match {
        case Some(l) if Ordering[(Long, Long)].lteq(key, (l.tsUs, l.eventId)) =>
          // late arrival: the ordered prefix already moved past it
          out += TransEmit(user, 0L, 0L, late = true)
        case l =>
          l.foreach(prev =>
            out += TransEmit(user, prev.k.toLong, e.k.toLong, late = false))
          last = Some(LastEvent(key._1, key._2, e.k))
      }
    }
    (out.result(), last)
  }

  /** Raw fold output — edge occurrences plus late-drop markers; works
    * on batch AND streaming input (batch folds each group once from
    * empty state — exactly the lag-window semantics, in which nothing
    * is ever late). */
  def emits(events: Dataset[TransEvent]): Dataset[TransEmit] = {
    import events.sparkSession.implicits._
    if (!events.isStreaming) {
      events.groupByKey(_.user_id)
        .flatMapGroupsWithState[LastEvent, TransEmit](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (u: Long, evs: Iterator[TransEvent], _: GroupState[LastEvent]) =>
            fold(u, None, evs)._1.iterator
        }
    } else {
      events.groupByKey(_.user_id)
        .flatMapGroupsWithState[LastEvent, TransEmit](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (u: Long, evs: Iterator[TransEvent], state: GroupState[LastEvent]) =>
            val (out, newLast) = fold(u, state.getOption, evs)
            newLast.foreach(state.update)
            out.iterator
        }
    }
  }

  /** Per-occurrence transitions (the edge stream; drop markers
    * filtered out — see [[emits]] / [[dropsNow]] for the meter). */
  def transitions(events: Dataset[TransEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    emits(events).filter(!_.late).map(e => Transition(e.src, e.dst))
  }

  def run(spark: SparkSession, landingDir: String, statePath: String,
          checkpointDir: String, buckets: Int = 8): StreamingQuery = {
    import spark.implicits._
    val events = MicroBatch.landing(spark, eventSchema, landingDir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull && col("k").isNotNull)
      .as[TransEvent]
    MicroBatch.run(emits(events), checkpointDir, OutputMode.Append) {
      (batch, batchId) =>
        // one materialization feeds both the edge write and the drop
        // meter (two passes over a re-planned stream batch would
        // recompute the stateful fold)
        val b = batch.toDF().cpGuard()
        writeEdges(spark, b.filter(!col("late"))
          .select(col("src"), col("dst")), batchId, statePath, buckets)
        writeDrops(spark, b, batchId, statePath, buckets)
    }
  }

  /** One idempotent per-user dropped-count write for this batch — the
    * late-arrival meter next to the edge deltas. Always writes (an
    * empty partition when nothing was late) so "no row for batch b"
    * means "batch b not processed", never "no drops". */
  def writeDrops(spark: SparkSession, emitsDf: DataFrame, batchId: Long,
                 statePath: String, buckets: Int): Unit =
    dropState(spark, statePath, buckets).overwrite(emitsDf.filter(col("late"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_dropped")), batchId)

  /** Per-batch per-user dropped-event counts (batch, user_id,
    * n_dropped) — the alertable signal that upstream ordering broke. */
  def dropsNow(spark: SparkSession, statePath: String,
               buckets: Int = 8): DataFrame =
    dropState(spark, statePath, buckets).all
      .select(col("batch"), col("user_id"), col("n_dropped"))

  private def dropState(spark: SparkSession, statePath: String,
                        buckets: Int): BatchState =
    BatchState.open(spark, s"${statePath}_drops", DropCols, Seq("user_id"),
      buckets)

  /** One idempotent edge-delta write (public for replay tests). */
  def writeEdges(spark: SparkSession, transDf: DataFrame, batchId: Long,
                 statePath: String, buckets: Int): Unit =
    edgeState(spark, statePath, buckets).overwrite(transDf
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w")), batchId)

  /** The src-bucketed edge-delta state (shared with [[StreamPageRank]]). */
  private[streaming] def edgeState(spark: SparkSession, statePath: String,
                                   buckets: Int): BatchState =
    BatchState.open(spark, statePath, EdgeCols, Seq("src"), buckets)

  /** The accumulated weighted edge list — zero Exchange: partitioning
    * on the src bucket key co-locates every (src, dst) group
    * (spec-asserted). */
  def edgesNow(spark: SparkSession, statePath: String,
               buckets: Int = 8): DataFrame =
    edgeState(spark, statePath, buckets).all.groupBy(col("src"), col("dst"))
      .agg(sum(col("w")).as("w"))

  /** PageRank over the graph as accumulated so far. */
  def ranksNow(spark: SparkSession, statePath: String, iters: Int,
               buckets: Int = 8): DataFrame =
    graft.ext.Graphs.pageRank(edgesNow(spark, statePath, buckets), iters)
}
