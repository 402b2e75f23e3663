package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.Sessions
import graft.extract.Extractors
import graft.ingest.IngestJob
import graft.model.Cricsheet
import graft.publish.PublishJob
import graft.sources.ZipSource

/** One JVM of a workload run: the workload's set-up, then (unless
  * setup_only=1) its operations. `run.py` generates the inputs, builds
  * this harness with the program, starts the JVMs one after another and
  * reads the result file written here. Every loop is closed with one
  * client: the next pass or drop starts only after the previous one has
  * finished.
  *
  * Usage: PerfBench key=value... with keys workload, seed, seconds,
  * trace (0|1), setup_only (0|1), cores, data (generator output), work
  * (scratch dir), result and spans (JSON files written), launched (epoch
  * ms at which the JVM was launched).
  */
object PerfBench {

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One timed operation. `run` is its tracer run id; `traced` says
    * whether its layers were recorded. */
  final case class Op(run: Int, seconds: Double, cpuSeconds: Double,
                      stageSeconds: Double, traced: Boolean, ok: Boolean)

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU nanoseconds so far of each live Java thread: the main thread
    * (planning, code generation, collects), Spark's task threads and its
    * broadcast, scheduler, result and listener threads. JIT compiler and
    * GC threads are not listed, and are left out: their share varies from
    * JVM to JVM. Time the hypervisor steals, which wall time includes, is
    * not CPU time. */
  def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** CPU seconds the Java threads used since `before`, a thread started
    * since then in full; a thread that ended since then is not counted. */
  def cpuSince(before: Map[Long, Long]): Double =
    threadCpu().iterator.map { case (id, t) => t - before.getOrElse(id, 0L) }.sum / 1e9

  final class Run(val args: Map[String, String]) {
    val workload: String = args("workload")
    val seed: Long = args("seed").toLong
    val seconds: Double = args("seconds").toDouble
    val traced: Boolean = args("trace") == "1"
    val cores: Int = args("cores").toInt
    val data: String = args("data")
    val work: String = args("work")
    val setupOnly: Boolean = args("setup_only") == "1"
    val launched: Long = args("launched").toLong
    val totals: JsonNode = new ObjectMapper().readTree(new File(s"$data/totals.json"))
    val tracer = new Tracer(traced)
    val errors = mutable.ArrayBuffer.empty[String]
    val ops = mutable.ArrayBuffer.empty[Op]
    /** Seconds from JVM launch to the end of the set-up. */
    var setupSeconds = 0.0
    val layer = mutable.LinkedHashMap.empty[String, Double]
    var spark: SparkSession = _

    def session(n: Int = cores): SparkSession = {
      spark = tracer.span("core.session")(Sessions.local(n))
      tracer.attach(spark)
      spark
    }

    def stopSession(): Unit = if (spark != null) { spark.stop(); spark = null }

    /** The workload's set-up, timed from JVM launch, so it holds JVM
      * start and class loading too. The first operation follows it. */
    def setUp(f: Run => Unit): Unit = {
      f(this)
      setupSeconds = (System.currentTimeMillis() - launched) / 1e3
    }

    /** Runs `op(k)` for k = 0, 1, ...: the cold first operation, then
      * warm ones until the run's seconds are used (at least one; two when
      * traced). A traced run records the cold operation and every other
      * warm one, so tracing overhead is measured within the run. */
    def loop(limit: Int)(op: Int => (Double, Double, Boolean)): Unit = {
      var k = 0
      def step(trace: Boolean): Unit = {
        tracer.run += 1
        tracer.active = trace
        val cpu0 = threadCpu()
        val (s, stage, ok) = op(k)
        ops += Op(tracer.run, s, cpuSince(cpu0), stage, trace, ok)
        k += 1
      }
      step(traced)
      val m0 = System.nanoTime()
      var m = 0
      def measuring = m == 0 || secs(m0) < seconds || (traced && m < 2)
      while (k < limit && measuring) {
        step(traced && m % 2 == 0)
        m += 1
      }
      if (measuring) errors += s"inputs ran out after $k operations, before the run's $seconds s"
      tracer.active = traced
    }

    /** The warm operations, after the cold first one. */
    def measured: Seq[Op] = ops.drop(1).toSeq

    def check(errs: Seq[String]): Boolean = {
      errors ++= errs.map(e => s"[op ${ops.size}] $e")
      errs.isEmpty
    }
  }

  /** Lands files by hard link: atomic per file and free of copy time, so
    * an operation's clock starts with its input already in place. */
  private def land(files: Seq[File], dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    files.foreach(f => Files.createLink(Paths.get(dir, f.getName), f.toPath))
  }

  private def listed(dir: String, suffix: String): Seq[File] =
    Option(new File(dir).listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(suffix)).sortBy(_.getName).toSeq

  private def countFiles(dir: String): Long = {
    val f = new File(dir)
    if (!f.exists) 0L
    else Files.walk(f.toPath).iterator.asScala.count(Files.isRegularFile(_)).toLong
  }

  // ---- the paper's pipeline, in graft.Pipeline's order -------------------

  /** Pipeline's body after the raw scan: extract, publish both CSVs and
    * the version note, marking each ledger stage after its artifact.
    * Traced, each layer's output is materialised at its boundary.
    * `raw0` is built inside the sources span, since creating the reader
    * already lists its input files. `newRows` is how many of the
    * extracted rows belong to new matches. */
  private def extractPublish(spark: SparkSession, t: Tracer, raw0: => DataFrame,
                             out: String, ledger: Option[(String, Seq[String])],
                             newRows: Double): String = {
    val raw = t.span("sources") {
      val p = raw0.persist()
      if (t.active) t.value("rows", p.count().toDouble)
      p
    }
    val (mx, dx) = t.span("extract") {
      val m = Extractors.matchwise(raw); val d = Extractors.deliverywise(raw)
      if (t.active) {
        t.value("rows", (m.persist().count() + d.persist().count()).toDouble)
        t.value("new_rows", newRows)
      }
      (m, d)
    }
    def mark(field: String): Unit = ledger.foreach { case (dir, files) =>
      t.span("ingest.mark")(IngestJob.markStage(spark, dir, files, field))
    }
    val note = t.span("publish") {
      val mw = PublishJob.buildMatchwise(mx)
      val dw = PublishJob.buildDeliverywise(dx, mw)
      PublishJob.writeCsv(mw, s"$out/matchwise_data.csv")
      mark(IngestJob.MatchwiseStatus)
      PublishJob.writeCsv(dw, s"$out/deliverywise_data.csv")
      mark(IngestJob.DeliverywiseStatus)
      t.value("new_rows", newRows)
      PublishJob.versionNote(mw)
    }
    if (t.active) { mx.unpersist(); dx.unpersist() }
    raw.unpersist()
    note
  }

  private def rows(expect: JsonNode): Double =
    (expect.get("matches").asLong + expect.get("deliveries").asLong).toDouble

  private def checkOutputs(r: Run, out: String, expect: JsonNode, note: String): Boolean =
    r.check(Checks.matchwise(s"$out/matchwise_data.csv", expect.get("matches").asLong) ++
      Checks.deliverywise(s"$out/deliverywise_data.csv", expect.get("deliveries").asLong) ++
      Checks.note(note, expect.get("note").asText))

  // ---- workloads ---------------------------------------------------------

  /** Full rebuild from the archive zip, pass after pass. */
  private def archiveCold(r: Run): Unit = {
    val zip = s"${r.data}/archive.zip"
    val out = s"${r.work}/output"
    val history = r.totals.get("history")
    var crcs: Seq[Long] = Nil
    def crcNow = Seq("matchwise", "deliverywise").map(n => Checks.crc(s"$out/${n}_data.csv"))
    def pass(t: Tracer): String = t.span("op") {
      extractPublish(r.spark, t, ZipSource.readMatches(r.spark, zip),
        out, None, rows(history))
    }
    r.loop(Int.MaxValue) { _ =>
      val t0 = System.nanoTime()
      val note = pass(r.tracer)
      val s = secs(t0)
      // the first pass is checked in full; later ones must publish its bytes
      val ok =
        if (crcs.isEmpty) {
          val ok = checkOutputs(r, out, history, note)
          if (ok) crcs = crcNow
          ok
        } else r.check(Checks.note(note, history.get("note").asText) ++
          (if (crcNow == crcs) Nil else Seq("a later pass published different bytes")))
      (s, 0.0, ok)
    }
    if (r.traced) {
      // one pass at local[1]: the single-threaded baseline of busy_ratio
      r.tracer.run += 1
      r.stopSession(); r.session(1)
      val t0 = System.nanoTime()
      pass(r.tracer)
      r.layer("local1.op_s") = secs(t0)
      val c = r.tracer.total(r.tracer.spans.filter(s => s.run == r.tracer.run && s.name == "op").head)
      r.layer("local1.busy_ratio") = c.runMs / 1e3 / r.layer("local1.op_s")
    }
  }

  private def ledgerDirs(r: Run) =
    (s"${r.work}/landing", s"${r.work}/staging", s"${r.work}/ledger", s"${r.work}/output")

  /** `weekly_ledger`'s set-up: the history staged through the program,
    * with both stage flags marked. */
  private def stageHistory(r: Run): Unit = {
    val (landing, staging, ledger, _) = ledgerDirs(r)
    val history = listed(s"${r.data}/history", ".json")
    land(history, landing)
    r.session()
    r.tracer.span("setup.history") {
      val staged = IngestJob.run(r.spark, landing, staging, ledger, Int.MaxValue)
      IngestJob.markStage(r.spark, ledger, staged, IngestJob.MatchwiseStatus)
      IngestJob.markStage(r.spark, ledger, staged, IngestJob.DeliverywiseStatus)
      r.check(if (staged.size == history.size) Nil
        else Seq(s"history staged ${staged.size} of ${history.size} files"))
    }
  }

  /** Weekly drops of new files over the staged history, each taken
    * through ingest, extract and publish. */
  private def weeklyLedger(r: Run): Unit = {
    val drops = r.totals.get("drops")
    val (landing, staging, ledger, out) = ledgerDirs(r)
    val t = r.tracer
    r.loop(drops.size) { k =>
      val expect = drops.get(k)
      val files = expect.get("files").asScala.map(_.asText).toSeq
      val newRows = rows(expect) - rows(if (k == 0) r.totals.get("history") else drops.get(k - 1))
      land(files.map(f => new File(f"${r.data}/drops/$k%03d/$f")), landing)
      val t0 = System.nanoTime()
      var stageS = 0.0
      val note = t.span("op") {
        val staged = t.span("ingest.run") {
          if (t.active) t.value("listed", listed(landing, ".json").size.toDouble)
          val s = IngestJob.run(r.spark, landing, staging, ledger)
          t.value("staged", s.size.toDouble)
          s
        }
        stageS = secs(t0)
        r.check(if (staged.sorted == files.sorted) Nil
          else Seq(s"drop $k staged ${staged.mkString(",")}"))
        extractPublish(r.spark, t, Cricsheet.read(r.spark, staging),
          out, Some((ledger, staged)), newRows)
      }
      val s = secs(t0)
      (s, stageS, checkOutputs(r, out, expect, note))
    }
    // untimed: the ledger holds every file with both flags, and (in the
    // traced run, which has time for one more pass) the archive path over
    // exactly the published matches gives the same bytes
    val n = r.ops.size
    val l = IngestJob.ledger(r.spark, ledger)
    val want = drops.get(n - 1).get("matches").asLong
    val all = l.count()
    val done = l.filter(col(IngestJob.MatchwiseStatus) && col(IngestJob.DeliverywiseStatus)).count()
    r.check(if (all == want && done == want) Nil
      else Seq(s"ledger holds $all files, $done fully marked, expected $want"))
    if (r.traced) {
      r.layer("ingest.ledger_files") = countFiles(ledger).toDouble
      val check = s"${r.work}/check"
      land(new File(s"${r.data}/archive.zip") +:
        (0 until n).map(i => new File(f"${r.data}/drops/$i%03d.zip")), s"$check/zips")
      val note = extractPublish(r.spark, new Tracer(false),
        ZipSource.readMatches(r.spark, s"$check/zips"), s"$check/output", None, 0)
      r.check(Checks.note(note, drops.get(n - 1).get("note").asText) ++
        Seq("matchwise_data.csv", "deliverywise_data.csv").flatMap(f =>
          Checks.sameBytes(s"$out/$f", s"$check/output/$f", f)))
    }
  }

  // ---- results -----------------------------------------------------------

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""

  def main(argv: Array[String]): Unit = {
    val r = new Run(argv.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap)
    try {
      val (setUp, operate): (Run => Unit, Run => Unit) = r.workload match {
        case "archive_cold" => (_.session(), archiveCold)
        case "weekly_ledger" => (stageHistory, weeklyLedger)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      r.setUp(setUp)
      if (!r.setupOnly) operate(r)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.errors += s"run aborted: ${e.getClass.getName}: ${e.getMessage}"
    }
    val metrics: Seq[(String, Double, String)] =
      if (!r.traced)
        Seq(("first_op_s", r.ops.headOption.map(_.seconds).getOrElse(0.0), "s"),
          ("first_op_cpu_s", r.ops.headOption.map(_.cpuSeconds).getOrElse(0.0), "s"),
          ("peak_rss_mb", peakRssMb(), "MB"))
      else Layers.summarise(r)
    r.stopSession()
    val aborted = r.errors.exists(_.startsWith("run aborted"))
    val ran = r.ops.nonEmpty || r.setupOnly
    val failed = r.ops.count(!_.ok) + (if (aborted || !ran) 1 else 0)
    val body = metrics.map { case (k, v, u) => s"${quote(k)}:{\"value\":$v,\"unit\":${quote(u)}}" }
    val res = s"""{"correct":${r.errors.isEmpty && ran},""" +
      s""""attempted":${math.max(1, r.ops.size)},"failed":$failed,""" +
      s""""metrics":{${body.mkString(",")}},""" +
      s""""ops_s":[${r.ops.map(_.seconds).mkString(",")}],""" +
      s""""cpu_s":[${r.ops.map(_.cpuSeconds).mkString(",")}],""" +
      s""""stage_s":[${r.ops.map(_.stageSeconds).mkString(",")}],""" +
      s""""setup_s":${r.setupSeconds},""" +
      s""""errors":[${r.errors.take(20).map(quote).mkString(",")}]}"""
    Files.write(Paths.get(r.args("result")), res.getBytes(StandardCharsets.UTF_8))
    if (r.traced)
      Files.write(Paths.get(r.args("spans")),
        r.tracer.json(r.workload, r.seed).getBytes(StandardCharsets.UTF_8))
  }
}
