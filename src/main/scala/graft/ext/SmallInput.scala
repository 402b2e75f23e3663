package graft.ext

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{count, lit}

import graft.core.PlanCapture
import graft.core.PlanCapture.CheckpointOps

/** The one size gate behind the [[Graphs]] and [[Dedup]] driver
  * shortcuts. On a small input, fixed per-job scheduling overhead
  * outweighs the work, so below `driverThreshold` rows an operator
  * collects its input and runs the SAME integer algorithm on the
  * driver (spec-pinned against `driverThreshold = 0`, which forces the
  * distributed plan). The gate is the only place that knows the rules
  * every shortcut shares:
  *
  *  - ONE materialization and ONE size probe: the input is
  *    checkpointed once and its row count (plus any `observed`
  *    aggregates) rides that checkpoint job. An input `cpGuard` finds
  *    already materialized is not re-checkpointed; one aggregate job
  *    over it measures it instead.
  *  - ONE check: `check` sees the observed aggregates before either
  *    path runs, so both paths accept and reject the same inputs.
  *  - EVERY collected side is bounded: the driver path runs only when
  *    the input and each of `sides` fit the threshold; a side is
  *    collected in one job in which each partition ships at most
  *    threshold + 1 rows and the driver keeps at most threshold.
  *  - ONE default, [[DefaultThreshold]].
  */
object SmallInput {

  /** Default `driverThreshold`: 2^20 rows, 16 MB of BIGINT pairs. */
  val DefaultThreshold: Long = 1L << 20

  /** The driver path's inputs: the materialized input (for its schema
    * and session), its collected rows, and each side's rows in `sides`
    * order.
    */
  final case class Collected(input: DataFrame, rows: Array[Row],
                             sides: Seq[Array[Row]])

  /** Materialize `input`, run `check` on its observed aggregates, then
    * `driver` when the input and every side fit `threshold` rows, else
    * `distributed` on the materialized input and its row count.
    */
  def gate[A](input: DataFrame, threshold: Long,
              observed: Seq[Column] = Nil,
              check: Map[String, Any] => Unit = _ => (),
              sides: Seq[DataFrame] = Nil)
             (driver: Collected => A)(distributed: (DataFrame, Long) => A): A = {
    val probes = count(lit(1)).as("n_rows") +: observed
    val obs = Observation()
    val probed = input.observe(obs, probes.head, probes.tail: _*)
    val (ed, stats) =
      if (PlanCapture.observesMaterialized(probed)) {
        val r = input.agg(probes.head, probes.tail: _*).head()
        (input, r.getValuesMap[Any](r.schema.fieldNames.toSeq))
      } else (probed.cpGuard(), obs.get)
    check(stats)
    val rows = stats("n_rows").asInstanceOf[Long]
    lazy val sideRows = sides.map(upTo(_, threshold))
    if (rows <= threshold && sideRows.forall(_.isDefined))
      driver(Collected(ed, ed.collect(), sideRows.map(_.get)))
    else distributed(ed, rows)
  }

  /** `df`'s rows if it has at most `limit` of them — one job in which
    * each partition ships at most `limit` + 1 rows and the driver keeps
    * at most `limit`.
    */
  private def upTo(df: DataFrame, limit: Long): Option[Array[Row]] = {
    val cap = math.min(limit, Int.MaxValue - 1L).toInt + 1
    val got = ArrayBuffer.empty[Row]
    var n = 0L
    df.sparkSession.sparkContext.runJob(df.rdd,
      (it: Iterator[Row]) => it.take(cap).toArray,
      (_: Int, part: Array[Row]) => {
        n += part.length
        if (n <= limit) got ++= part else got.clear()
      })
    if (n <= limit) Some(got.toArray) else None
  }
}
