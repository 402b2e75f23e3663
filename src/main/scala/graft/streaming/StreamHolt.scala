package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType, TimestampType}

import graft.operators.Layout

/** Streaming Holt linear-trend smoother — the stateful twin of the
  * batch [[graft.ext.TimeSeries.holt]] fold (query w32): as events
  * arrive, each user's (level, trend) advances by
  *   l' = (cents<<20 + 3*(l + b)) >> 2
  *   b' = (l' - l + b) >> 1
  * in (ts, event_id) order — the identical BIGINT arithmetic (dyadic
  * alpha = 1/4, beta = 1/2; arithmetic shifts are exact floor
  * divisions, negative trends included), so under in-order arrival
  * the streamed state EQUALS the batch fold on the concatenated
  * input, integer-for-integer (spec-asserted).
  *
  * Like [[StreamEma]]/[[StreamCusum]], the recursion is
  * order-sensitive: a cross-batch LATE event cannot be spliced
  * without rewriting every subsequent state, so it is dropped and
  * METERED per user, never silently absorbed. ([[StreamOhlc]] is the
  * contrast: its monoid state needs no such discipline.)
  *
  * Each batch writes the touched users' running (n, level_s20,
  * trend_s20, n_dropped) snapshots — the RAW integer state, so
  * nothing is lost to a float edge — under an idempotent `batch=<id>`
  * partition of a user-bucketed table; [[holtNow]] reads the latest
  * snapshot per user with ZERO Exchange and derives the double
  * level/trend/forecast4 exactly as the batch operator does (single
  * IEEE divisions of exact integers).
  */
object StreamHolt {

  val eventSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_id", LongType),
    StructField("value", DoubleType)))

  val SnapCols: Seq[(String, String)] = Seq(
    "user_id" -> "BIGINT", "n" -> "BIGINT", "level_s20" -> "BIGINT",
    "trend_s20" -> "BIGINT", "n_dropped" -> "BIGINT")

  case class HoltEvent(user_id: Long, ts: Timestamp, event_id: Long,
                       value: Double)
  case class HoltState(tsUs: Long, eventId: Long, n: Long, l: Long,
                       b: Long, nDropped: Long)
  case class HoltSnap(user_id: Long, n: Long, level_s20: Long,
                      trend_s20: Long, n_dropped: Long)

  private def toUs(t: Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Exact integer cents of a 2-decimal double via BigDecimal — the
    * same value Spark's decimal(18,2) cast produces. */
  private def centsOf(v: Double): Long =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      .*(BigDecimal(100)).toLongExact

  /** Fold this batch's (sorted) events from the carried accumulator;
    * late events (at or before the carried key) only bump the drop
    * meter. The step arithmetic is byte-for-byte the w32 recurrence. */
  private def fold(carried: Option[HoltState],
                   evs: Iterator[HoltEvent]): HoltState = {
    val sorted = evs.toList.sortBy(e => (toUs(e.ts), e.event_id))
    var st = carried.getOrElse(HoltState(Long.MinValue, Long.MinValue,
      0L, 0L, 0L, 0L))
    sorted.foreach { e =>
      val key = (toUs(e.ts), e.event_id)
      if (st.n > 0L &&
          Ordering[(Long, Long)].lteq(key, (st.tsUs, st.eventId))) {
        st = st.copy(nDropped = st.nDropped + 1)
      } else if (st.n == 0L) {
        st = HoltState(key._1, key._2, 1L, centsOf(e.value) << 20, 0L,
          st.nDropped)
      } else {
        val lNew = ((centsOf(e.value) << 20) + 3L * (st.l + st.b)) >> 2
        val bNew = (lNew - st.l + st.b) >> 1
        st = HoltState(key._1, key._2, st.n + 1, lNew, bNew, st.nDropped)
      }
    }
    st
  }

  /** Per-user running snapshot after folding the input — works on
    * batch AND streaming input (batch folds each group once from the
    * empty accumulator — exactly the w32 fold; nothing is ever
    * late). */
  def snapshots(events: Dataset[HoltEvent]): Dataset[HoltSnap] = {
    import events.sparkSession.implicits._
    if (!events.isStreaming) {
      events.groupByKey(_.user_id)
        .mapGroups { (u: Long, evs: Iterator[HoltEvent]) =>
          val st = fold(None, evs)
          HoltSnap(u, st.n, st.l, st.b, st.nDropped)
        }
    } else {
      events.groupByKey(_.user_id)
        .mapGroupsWithState[HoltState, HoltSnap](
          GroupStateTimeout.NoTimeout) {
          (u: Long, evs: Iterator[HoltEvent],
           state: GroupState[HoltState]) =>
            val st = fold(state.getOption, evs)
            state.update(st)
            HoltSnap(u, st.n, st.l, st.b, st.nDropped)
        }
    }
  }

  def run(spark: SparkSession, landingDir: String, table: String,
          statePath: String, checkpointDir: String,
          buckets: Int = 8): StreamingQuery = {
    import spark.implicits._
    val events = MicroBatch.landing(spark, eventSchema, landingDir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull && col("value").isNotNull)
      .as[HoltEvent]
    MicroBatch.run(snapshots(events), checkpointDir, OutputMode.Update) {
      (batch, batchId) =>
        writeSnapshots(spark, batch.toDF(), batchId, table, statePath,
          buckets)
    }
  }

  /** One idempotent per-batch write of the touched users' running
    * snapshots (public for replay tests). */
  def writeSnapshots(spark: SparkSession, snaps: DataFrame, batchId: Long,
                     table: String, statePath: String,
                     buckets: Int): Unit = {
    Layout.ensureBucketedBatchTable(spark, table, statePath, SnapCols,
      Seq("user_id"), buckets)
    Layout.overwriteBatch(
      snaps.select(col("user_id"), col("n"), col("level_s20"),
        col("trend_s20"), col("n_dropped")), table, batchId)
  }

  /** Latest running state per user, derived to doubles EXACTLY as the
    * batch w32 operator derives them — max_by over the batch id,
    * planned with ZERO Exchange over the user-bucketed history. */
  def holtNow(spark: SparkSession, table: String): DataFrame = {
    val outDiv = 104857600.0 // 2^20 * 100 cents
    spark.table(table)
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("n"), col("level_s20"), col("trend_s20"),
        col("n_dropped")), col("batch")).as("s"))
      .select(col("user_id"), col("s.n").as("n"),
        (col("s.level_s20").cast("double") / outDiv).as("level"),
        (col("s.trend_s20").cast("double") / outDiv).as("trend"),
        ((col("s.level_s20") + lit(4L) * col("s.trend_s20"))
          .cast("double") / outDiv).as("forecast4"),
        col("s.n_dropped").as("n_dropped"))
  }
}
