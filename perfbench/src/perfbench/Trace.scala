package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts that Spark's listeners attribute to one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs = 0L          // executor run time, summed over tasks
  var singleTaskMs = 0L   // wall time of stages that ran as one task
  var bytesIn, rowsIn, bytesOut, rowsOut = 0L
  var shuffleBytes, spillBytes, resultBytes = 0L
  var planMs = 0L         // Catalyst analysis + optimization + planning

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    singleTaskMs += o.singleTaskMs; bytesIn += o.bytesIn; rowsIn += o.rowsIn
    bytesOut += o.bytesOut; rowsOut += o.rowsOut
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    resultBytes += o.resultBytes; planMs += o.planMs
  }

  def json: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"run_ms":$runMs,""" +
      s""""single_task_ms":$singleTaskMs,"bytes_in":$bytesIn,"rows_in":$rowsIn,""" +
      s""""bytes_out":$bytesOut,"rows_out":$rowsOut,"shuffle_bytes":$shuffleBytes,""" +
      s""""spill_bytes":$spillBytes,"result_bytes":$resultBytes,"plan_ms":$planMs}"""
}

/** One call into a layer. `values` holds counts the benchmark itself
  * takes at the boundary (rows materialised, files listed). */
final case class Span(id: Int, name: String, parent: Int, run: Int,
                      startNs: Long, var endNs: Long = 0L,
                      var gcMs: Long = 0L,
                      counters: Counters = new Counters,
                      values: mutable.Map[String, Double] = mutable.LinkedHashMap.empty)

/** Spans around the benchmark's calls into each layer, kept in memory
  * and written out when the run ends. Off, `span` only runs its body,
  * so untraced runs time exactly the calls the program makes; `active`
  * switches recording per operation within a traced run.
  *
  * Attribution: the listener bus is drained when a span opens and when
  * it closes, so every job, stage, task and planning event
  * is processed while its span is the innermost open one.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  @volatile private var current: Span = _
  private var spark: SparkSession = _
  var run = 0
  var active: Boolean = enabled

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def drain(): Unit = if (spark != null) PerfbenchBus.drain(spark.sparkContext)

  private def counters: Option[Counters] = Option(current).map(_.counters)

  /** Registers the listeners on a (new) session. */
  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        counters.foreach(_.jobs += 1)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        counters.foreach { c =>
          val i = e.stageInfo
          c.stages += 1
          if (i.numTasks == 1)
            for (a <- i.submissionTime; b <- i.completionTime) c.singleTaskMs += b - a
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (c <- counters; m <- Option(e.taskMetrics)) {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.bytesIn += m.inputMetrics.bytesRead
          c.rowsIn += m.inputMetrics.recordsRead
          c.bytesOut += m.outputMetrics.bytesWritten
          c.rowsOut += m.outputMetrics.recordsWritten
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.resultBytes += m.resultSize
        }
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        counters.foreach(_.planMs += qe.tracker.phases.values.map(_.durationMs).sum)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Adds a count taken by the benchmark to the innermost open span. */
  def value(key: String, v: Double): Unit =
    if (active && current != null) current.values(key) = current.values.getOrElse(key, 0.0) + v

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      drain()
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        run, System.nanoTime())
      s.gcMs = gcMs
      spans += s
      stack = s :: stack
      current = s
      try body
      finally {
        drain()
        s.endNs = System.nanoTime()
        s.gcMs = gcMs - s.gcMs
        stack = stack.tail
        current = stack.headOption.orNull
      }
    }

  def seconds(s: Span): Double = (s.endNs - s.startNs) / 1e9

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Span time not covered by its child spans (children never overlap:
    * the main thread opens them one after another). */
  def selfSeconds(s: Span): Double = seconds(s) - children(s).map(seconds).sum

  /** Counters of a span and all its descendants. */
  def total(s: Span): Counters = {
    val c = new Counters
    c.add(s.counters)
    children(s).foreach(k => c.add(total(k)))
    c
  }

  def json(workload: String, seed: Long): String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.map { s =>
      val values = s.values.map { case (k, v) => "\"" + k + "\":" + v }.mkString(",")
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":${s.run},""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f,""" +
        f""""self_s":${selfSeconds(s)}%.6f,"gc_s":${s.gcMs / 1e3}%.3f,""" +
        s""""counters":${s.counters.json},"values":{$values}}"""
    }.mkString(s"""{"workload":"$workload","seed":$seed,"spans":[\n""", ",\n", "\n]}\n")
  }
}
