package perfbench

/** Per-layer metrics of a traced run, from its spans. Each is the median
  * over the run's traced measured operations (the cold one when none
  * was traced). A layer the workload does not enter reads 0. */
object Layers {

  /** (name, unit) of every per-layer metric, in output order. */
  val names: Seq[(String, String)] = Seq(
    "core.session_s" -> "s", "jvm.gc_s" -> "s", "jvm.cold_setup_s" -> "s",
    "jvm.first_op_s" -> "s",
    "warm.op_s" -> "s", "warm.op_cpu_s" -> "s",
    "sources.wall_s" -> "s", "sources.tasks" -> "count",
    "sources.single_task_s" -> "s", "sources.busy_ratio" -> "ratio",
    "sources.bytes_in" -> "bytes", "sources.rows_out" -> "count",
    "ingest.run_s" -> "s", "ingest.mark_s" -> "s", "ingest.jobs" -> "count",
    "ingest.listed_files" -> "count", "ingest.new_ratio" -> "ratio",
    "ingest.ledger_files" -> "count",
    "extract.wall_s" -> "s", "extract.rows_out" -> "count",
    "extract.single_task_s" -> "s", "extract.busy_ratio" -> "ratio",
    "extract.useful_ratio" -> "ratio",
    "publish.wall_s" -> "s", "publish.jobs" -> "count",
    "publish.single_task_s" -> "s", "publish.shuffle_bytes" -> "bytes",
    "publish.spill_bytes" -> "bytes", "publish.bytes_out" -> "bytes",
    "publish.rewrite_ratio" -> "ratio",
    "trace.overhead_s" -> "s", "trace.ops" -> "count",
    "local1.op_s" -> "s", "local1.busy_ratio" -> "ratio")

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Layer metrics of one traced operation. */
  private def ofOp(r: PerfBench.Run, run: Int): Map[String, Double] = {
    val t = r.tracer
    val spans = t.spans.filter(_.run == run)
    def named(n: String) = spans.filter(_.name == n)
    def wall(n: String) = named(n).map(t.seconds).sum
    def sum(n: String)(f: Counters => Long) = named(n).map(s => f(s.counters).toDouble).sum
    def value(n: String, k: String) = named(n).map(_.values.getOrElse(k, 0.0)).sum
    def busy(n: String) = ratio(sum(n)(_.runMs) / 1e3, wall(n) * r.cores)
    Map(
      "jvm.gc_s" -> named("op").map(_.gcMs / 1e3).sum,
      "sources.wall_s" -> wall("sources"),
      "sources.tasks" -> sum("sources")(_.tasks),
      "sources.single_task_s" -> sum("sources")(_.singleTaskMs) / 1e3,
      "sources.busy_ratio" -> busy("sources"),
      "sources.bytes_in" -> sum("sources")(_.bytesIn),
      "sources.rows_out" -> value("sources", "rows"),
      "ingest.run_s" -> wall("ingest.run"),
      "ingest.mark_s" -> wall("ingest.mark"),
      "ingest.jobs" -> (sum("ingest.run")(_.jobs) + sum("ingest.mark")(_.jobs)),
      "ingest.listed_files" -> value("ingest.run", "listed"),
      "ingest.new_ratio" -> ratio(value("ingest.run", "staged"), value("ingest.run", "listed")),
      "extract.wall_s" -> wall("extract"),
      "extract.rows_out" -> value("extract", "rows"),
      "extract.single_task_s" -> sum("extract")(_.singleTaskMs) / 1e3,
      "extract.busy_ratio" -> busy("extract"),
      "extract.useful_ratio" -> ratio(value("extract", "new_rows"), value("extract", "rows")),
      "publish.wall_s" -> named("publish").map(t.selfSeconds).sum,
      "publish.jobs" -> sum("publish")(_.jobs),
      "publish.single_task_s" -> sum("publish")(_.singleTaskMs) / 1e3,
      "publish.shuffle_bytes" -> sum("publish")(_.shuffleBytes),
      "publish.spill_bytes" -> sum("publish")(_.spillBytes),
      "publish.bytes_out" -> sum("publish")(_.bytesOut),
      "publish.rewrite_ratio" -> ratio(sum("publish")(_.rowsOut), value("publish", "new_rows")))
  }

  def summarise(r: PerfBench.Run): Seq[(String, Double, String)] = {
    val t = r.tracer
    val cold = r.ops.headOption.toSeq
    val tracedOps = {
      val m = r.measured.filter(_.traced)
      if (m.nonEmpty) m else cold
    }
    val perOp = tracedOps.map(o => ofOp(r, o.run))
    val values = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    names.foreach { case (n, _) =>
      values(n) = PerfBench.median(perOp.flatMap(_.get(n)))
    }
    values("core.session_s") =
      PerfBench.median(t.spans.filter(_.name == "core.session").map(t.seconds).toSeq)
    val untraced = r.measured.filterNot(_.traced)
    values("jvm.cold_setup_s") = r.setupSeconds
    values("jvm.first_op_s") = cold.map(_.seconds).sum
    values("warm.op_s") = PerfBench.median(untraced.map(_.seconds))
    values("warm.op_cpu_s") = PerfBench.median(untraced.map(_.cpuSeconds))
    values("trace.overhead_s") =
      PerfBench.median(r.measured.filter(_.traced).map(_.seconds)) -
        PerfBench.median(untraced.map(_.seconds))
    values("trace.ops") = tracedOps.size.toDouble
    r.layer.foreach { case (k, v) => values(k) = v }
    names.map { case (n, u) => (n, values(n), u) }
  }
}
