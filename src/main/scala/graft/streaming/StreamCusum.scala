package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType, TimestampType}

import graft.operators.Layout

/** Streaming CUSUM — the stateful twin of the batch
  * [[graft.ext.TimeSeries.cusum]] (query w27). The batch side computes
  * the clamp recursion s_i = max(0, s_{i-1} + x_i - k) WITHOUT
  * recursion (prefix identity, two window passes); the stream holds
  * the accumulator (s, n, alarms) per user and advances it as events
  * arrive — so the two formulations cross-check each other: for any
  * in-order arrival the streamed accumulator must equal the batch
  * window identity on the concatenated input, exactly (all BIGINT
  * cents — spec-asserted). Late cross-batch events cannot be spliced
  * into an order-sensitive recursion: dropped and METERED (the
  * [[StreamEma]] contract).
  *
  * This is the alerting deployment shape: CUSUM exists to fire WHILE
  * the shift happens, so the streaming form is the production form
  * and the batch window identity is its audit.
  */
object StreamCusum {

  val eventSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_id", LongType),
    StructField("value", DoubleType)))

  val SnapCols: Seq[(String, String)] = Seq(
    "user_id" -> "BIGINT", "n" -> "BIGINT", "n_alarms" -> "BIGINT",
    "cusum_cents" -> "BIGINT", "n_dropped" -> "BIGINT")

  case class CusumEvent(user_id: Long, ts: Timestamp, event_id: Long,
                        value: Double)
  case class CusumState(tsUs: Long, eventId: Long, n: Long, s: Long,
                        alarms: Long, nDropped: Long)
  case class CusumSnap(user_id: Long, n: Long, n_alarms: Long,
                       cusum_cents: Long, n_dropped: Long)

  private def toUs(t: Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Exact integer cents of a 2-decimal double via BigDecimal —
    * the decimal(18,2) cast the batch side uses, never value*100 in
    * IEEE floats. */
  private def centsOf(v: Double): Long =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      .*(BigDecimal(100)).toLongExact

  private def fold(kCents: Long, hCents: Long, carried: Option[CusumState],
                   evs: Iterator[CusumEvent]): CusumState = {
    val sorted = evs.toList.sortBy(e => (toUs(e.ts), e.event_id))
    var st = carried.getOrElse(
      CusumState(Long.MinValue, Long.MinValue, 0L, 0L, 0L, 0L))
    sorted.foreach { e =>
      val key = (toUs(e.ts), e.event_id)
      if (st.n > 0L &&
          Ordering[(Long, Long)].lteq(key, (st.tsUs, st.eventId))) {
        st = st.copy(nDropped = st.nDropped + 1)
      } else {
        val s2 = math.max(0L, st.s + centsOf(e.value) - kCents)
        st = CusumState(key._1, key._2, st.n + 1, s2,
          st.alarms + (if (s2 > hCents) 1L else 0L), st.nDropped)
      }
    }
    st
  }

  /** Per-user running snapshot after folding the input — batch input
    * folds each group once from the empty accumulator (equals the w27
    * window identity; nothing is ever late). */
  def snapshots(events: Dataset[CusumEvent], kCents: Long,
                hCents: Long): Dataset[CusumSnap] = {
    import events.sparkSession.implicits._
    if (!events.isStreaming) {
      events.groupByKey(_.user_id)
        .mapGroups { (u: Long, evs: Iterator[CusumEvent]) =>
          val st = fold(kCents, hCents, None, evs)
          CusumSnap(u, st.n, st.alarms, st.s, st.nDropped)
        }
    } else {
      events.groupByKey(_.user_id)
        .mapGroupsWithState[CusumState, CusumSnap](
          GroupStateTimeout.NoTimeout) {
          (u: Long, evs: Iterator[CusumEvent],
           state: GroupState[CusumState]) =>
            val st = fold(kCents, hCents, state.getOption, evs)
            state.update(st)
            CusumSnap(u, st.n, st.alarms, st.s, st.nDropped)
        }
    }
  }

  def run(spark: SparkSession, landingDir: String, table: String,
          statePath: String, checkpointDir: String, kCents: Long,
          hCents: Long, buckets: Int = 8): StreamingQuery = {
    import spark.implicits._
    val events = MicroBatch.landing(spark, eventSchema, landingDir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull && col("value").isNotNull)
      .as[CusumEvent]
    MicroBatch.run(snapshots(events, kCents, hCents), checkpointDir,
      OutputMode.Update) { (batch, batchId) =>
      writeSnapshots(spark, batch.toDF(), batchId, table, statePath, buckets)
    }
  }

  def writeSnapshots(spark: SparkSession, snaps: DataFrame, batchId: Long,
                     table: String, statePath: String,
                     buckets: Int): Unit = {
    Layout.ensureBucketedBatchTable(spark, table, statePath, SnapCols,
      Seq("user_id"), buckets)
    Layout.overwriteBatch(
      snaps.select(col("user_id"), col("n"), col("n_alarms"),
        col("cusum_cents"), col("n_dropped")), table, batchId)
  }

  /** Latest running snapshot per user — zero Exchange over the
    * user-bucketed history (the [[StreamEma.emaNow]] plan). */
  def cusumNow(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("n"), col("n_alarms"), col("cusum_cents"),
        col("n_dropped")), col("batch")).as("s"))
      .select(col("user_id"), col("s.n").as("n"),
        col("s.n_alarms").as("n_alarms"),
        col("s.cusum_cents").as("cusum_cents"),
        col("s.n_dropped").as("n_dropped"))
}
