package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LogicalPlan, Project}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}

/** Sees through `localCheckpoint` for plan audits.
  *
  * Several engine operators deliberately materialize a subplan behind
  * an eager `localCheckpoint` (bounded baselines, per-iteration graph
  * states, 1-row stats) so the REGISTERED plan stays small — but that
  * also hides the checkpointed stage from any audit that only inspects
  * the final `queryExecution`. Every internal checkpoint in the engine
  * therefore goes through [[CheckpointOps.cpGuard]], which first
  * records the pre-checkpoint physical plan whenever a capture is
  * active (PlanGuardSpec wraps each registered query build in
  * [[capturing]]), then takes the normal `localCheckpoint()`. Outside a
  * capture the cost is one volatile read — production behavior is
  * byte-identical to calling `localCheckpoint()` directly.
  */
object PlanCapture {
  @volatile private var label: Option[String] = None
  private val buf = ArrayBuffer.empty[(String, SparkPlan)]

  /** When true, every [[CheckpointOps.cpGuard]] takes a RELIABLE
    * `checkpoint()` (files under [[CheckpointDirKey]]) instead of
    * `localCheckpoint()`. localCheckpoint pins blocks to executors —
    * losing one executor mid-SCC/CC/PageRank at cluster scale loses
    * the RDD and fails the whole job; the reliable path survives
    * executor loss at the cost of a filesystem round-trip per
    * materialization, the right trade for long iterative loops on a
    * real cluster. Default false: local mode has no executor to lose.
    */
  val ReliableKey = "spark.graft.reliableCheckpoints"

  /** Checkpoint directory for [[ReliableKey]]; applied to the
    * SparkContext on first reliable cpGuard if none is set yet.
    */
  val CheckpointDirKey = "spark.graft.checkpointDir"

  /** Run `body` recording every [[CheckpointOps.cpGuard]] plan under
    * `name`. Single-audit-thread contract (PlanGuardSpec builds
    * queries sequentially); not meant for concurrent captures.
    */
  def capturing[A](name: String)(body: => A): A = {
    label = Some(name)
    try body finally label = None
  }

  /** Drain and return all (queryName, preCheckpointPlan) captures. */
  def drain(): Seq[(String, SparkPlan)] = buf.synchronized {
    val r = buf.toList
    buf.clear()
    r
  }

  /** True when the plan is an already-materialized RDD scan, possibly
    * under attribute-only projections (select/rename — narrow and free
    * to recompute per consuming job). Re-checkpointing such a plan
    * re-writes the table it just read for nothing: one wasted job plus
    * a duplicate block copy (measured +14% on t33 when textrank and
    * pageRank both checkpointed the same boundary; the same shape
    * appears whenever a composed operator cpGuards its input before an
    * inner operator cpGuards its own narrow edge/probe selection of it,
    * e.g. pageRankWarmStart -> pageRank).
    */
  private def alreadyMaterialized(p: LogicalPlan): Boolean = p match {
    case _: LogicalRDD => true
    case pr: Project if pr.projectList.forall {
        case _: AttributeReference => true
        case a: Alias => a.child.isInstanceOf[AttributeReference]
        case _ => false
      } => alreadyMaterialized(pr.child)
    case _ => false
  }

  /** True when `ds` only observes metrics over an already-materialized
    * input: the [[graft.ext.SmallInput]] gate then measures that input
    * with one aggregate instead of re-checkpointing it.
    */
  def observesMaterialized(ds: Dataset[_]): Boolean =
    ds.queryExecution.optimizedPlan match {
      case c: CollectMetrics => alreadyMaterialized(c.child)
      case _ => false
    }

  implicit class CheckpointOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** `localCheckpoint()` that is visible to plan audits. */
    def cpGuard(): Dataset[T] = {
      // an already-materialized input has nothing to materialize (and
      // nothing a checkpoint would hide from the plan audit: attribute
      // projections over an RDD scan carry no joins/windows) — return
      // it unchanged instead of re-writing the same table
      if (alreadyMaterialized(ds.queryExecution.optimizedPlan)) return ds
      // capture the pre-AQE physical plan: it is immutable (an
      // executed AdaptiveSparkPlanExec would later stringify BOTH its
      // final and initial plans, double-counting nodes) and its tree
      // is collect-able (AQE hides its subtree from collect)
      if (label.isDefined) buf.synchronized {
        label.foreach(l => buf += ((l, ds.queryExecution.sparkPlan)))
      }
      val spark = ds.sparkSession
      if (spark.conf.get(ReliableKey, "false").toBoolean) {
        if (spark.sparkContext.getCheckpointDir.isEmpty)
          spark.conf.getOption(CheckpointDirKey)
            .foreach(spark.sparkContext.setCheckpointDir)
        ds.checkpoint()
      } else ds.localCheckpoint()
    }
  }
}
