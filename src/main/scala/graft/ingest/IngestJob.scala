package graft.ingest

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Incremental ingest: the reference's download-lambda dataflow
  * (download_from_cricsheet_lambda_function.py:77-118) minus the HTTP
  * fetch (out-of-engine). landing files − ledger → cap N → stage →
  * ledger append.
  *
  * The DynamoDB status table becomes a parquet ledger keyed by
  * file_name — base rows appended by [[run]] plus an append-only
  * `_updates` flag log compacted on read ([[ledger]]), so no code path
  * ever rewrites existing ledger files in place; "only new files" is a
  * left_anti join against the view's key set. The reference processes
  * files in nondeterministic os.walk order — we impose
  * orderBy(file_name) so the cap is reproducible.
  *
  * The two per-stage extraction flags are modeled as the reference
  * models them (utils.py:74-89 — one DynamoDB update_item per field):
  * [[run]] creates each staged file's row with both flags FALSE, and
  * each stage marks ITS OWN column via [[markStage]] when it completes
  * — so a stage failure-then-retry is representable (one flag true,
  * the other still false), not collapsed into a single both-true
  * append.
  */
object IngestJob {

  val DefaultLimit = 10 // aws/constants.py:3

  /** utils.py:74's `field` values, as the reference names them. */
  val MatchwiseStatus = "matchwise_data_extraction_status"
  val DeliverywiseStatus = "deliverywise_data_extraction_status"

  private val StageFields = Seq(MatchwiseStatus, DeliverywiseStatus)

  /** Update-log subdir: underscore-prefixed, so the base read
    * (`spark.read.parquet(ledgerDir)`) never sees it.
    */
  private def updatesDir(ledgerDir: String) = new Path(ledgerDir, "_updates")

  /** In-JVM tie-breaker for [[nextSeq]] — the low 20 bits under the
    * call-time millis, so two markStage calls in the same millisecond
    * (same or different threads) still get distinct, ordered seqs.
    */
  private val seqCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Monotonic floor for [[nextSeq]]: the raw millis<<20|counter
    * candidate can invert across a 2^20 counter wrap inside one
    * millisecond, or across a wall-clock step-back — the clamp keeps
    * in-JVM ordering strictly increasing regardless.
    */
  private val lastSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Last-writer-wins order for same-(file, field) updates: derived
    * from the WALL CLOCK AT CALL TIME (millis << 20 | counter), not a
    * JVM-start anchor — a long-running JVM's later update must not
    * carry a smaller seq than a younger JVM's earlier one — then
    * clamped to max(candidate, last+1) so in-JVM order stays strictly
    * monotonic even across a same-millisecond counter wrap or an NTP
    * step-back. Cross-JVM ordering is time-ordered to millisecond
    * resolution; same-millisecond cross-JVM ties break
    * deterministically by status in [[ledger]]'s max_by, the same race
    * DynamoDB itself has.
    */
  private def nextSeq(): Long = {
    val candidate = (System.currentTimeMillis() << 20) |
      (seqCounter.incrementAndGet() & 0xFFFFFL)
    lastSeq.updateAndGet(prev => math.max(candidate, prev + 1))
  }

  /** True if `dir` holds at least one non-hidden entry — i.e. a
    * `spark.read.parquet(dir)` would find data files (Spark's listing
    * skips `_`/`.`-prefixed paths, so `_updates`, `_SUCCESS`,
    * `_temporary` crash debris and `.upd_tmp_*` dirs don't count).
    */
  private def hasVisibleFiles(fs: org.apache.hadoop.fs.FileSystem,
                              dir: Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }

  /** The ledger key: every base, snapshot and update file carries it. */
  private val NameSchema = StructType(Seq(StructField("file_name", StringType)))

  private def emptyLedger(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], NameSchema)

  private def snapshotsDir(ledgerDir: String) = new Path(ledgerDir, "_snapshots")

  /** Latest committed compaction snapshot: its data dir plus the raw
    * base/update file names it has folded (excluded from reads). */
  private case class SnapState(dataDir: Option[Path],
                               foldedBase: Set[String],
                               foldedUpd: Set[String])

  private def readLines(fs: org.apache.hadoop.fs.FileSystem,
                        p: Path): Set[String] = {
    if (!fs.exists(p)) return Set.empty
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toSet
    finally in.close()
  }

  /** Snapshots are named v<zero-padded-millis>-<uuid>; the dir RENAME
    * that publishes one is atomic, so the lexicographically-latest
    * snapshot is always complete — no pointer file, hence no
    * delete-then-rename window where a reader could miss folded rows.
    */
  private def latestSnapshot(fs: org.apache.hadoop.fs.FileSystem,
                             ledgerDir: String): SnapState = {
    val sdir = snapshotsDir(ledgerDir)
    if (!fs.exists(sdir)) return SnapState(None, Set.empty, Set.empty)
    val vs = fs.listStatus(sdir)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v"))
      .map(_.getPath)
    if (vs.isEmpty) return SnapState(None, Set.empty, Set.empty)
    val latest = vs.maxBy(_.getName)
    SnapState(Some(new Path(latest, "data")),
      readLines(fs, new Path(latest, "manifest_base.txt")),
      readLines(fs, new Path(latest, "manifest_updates.txt")))
  }

  private def visibleNames(fs: org.apache.hadoop.fs.FileSystem,
                           dir: Path): Seq[String] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSeq

  /** The files the ledger view is read from: the latest snapshot's
    * data (when it holds any), plus the base and `_updates` files that
    * snapshot has not folded. `snap` is kept for [[compactLedger]],
    * which folds exactly these names into its manifests.
    */
  private case class LedgerFiles(snap: SnapState, snapData: Option[Path],
                                 base: Seq[Path], updates: Seq[Path]) {
    def basePaths: Seq[String] = (snapData.toSeq ++ base).map(_.toString)
    def updatePaths: Seq[String] = updates.map(_.toString)
  }

  private def ledgerFiles(spark: SparkSession, ledgerDir: String): LedgerFiles = {
    val p = new Path(ledgerDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = latestSnapshot(fs, ledgerDir)
    val udir = updatesDir(ledgerDir)
    LedgerFiles(snap, snap.dataDir.filter(d => hasVisibleFiles(fs, d)),
      visibleNames(fs, p).filterNot(snap.foldedBase).map(new Path(p, _)),
      visibleNames(fs, udir).filterNot(snap.foldedUpd).map(new Path(udir, _)))
  }

  /** Fold the current view into a new snapshot — the OPTIMIZE step
    * keeping read-side work bounded however many weekly drips accrue.
    * Crash-atomic by construction: data + manifests are written into a
    * hidden tmp dir and published by ONE directory rename; a crash at
    * any point leaves either the old read state (tmp dirs are hidden)
    * or the complete new snapshot. Readers need no coordination — the
    * manifests carry every raw file name this snapshot supersedes
    * (cumulative across prior snapshots), so not-yet-vacuumed folded
    * files are simply skipped. Concurrent [[markStage]] commits that
    * land after the listing stay unfolded and apply on read as usual.
    */
  def compactLedger(spark: SparkSession, ledgerDir: String): Unit = {
    val fs = new Path(ledgerDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = ledgerFiles(spark, ledgerDir)
    val foldBase = files.snap.foldedBase ++ files.base.map(_.getName)
    val foldUpd = files.snap.foldedUpd ++ files.updates.map(_.getName)
    // view is built from the EXPLICIT listing above (not ledger()'s
    // own re-listing), so the snapshot contains exactly what the
    // manifests claim — see [[ledgerFrom]]'s race note
    val view =
      ledgerFrom(spark, files.basePaths, files.updatePaths).localCheckpoint()
    val tmp = new Path(snapshotsDir(ledgerDir),
      s".snap_tmp_${java.util.UUID.randomUUID().toString.take(12)}")
    view.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(new Path(tmp, "data").toString)
    def writeLines(name: String, lines: Set[String]): Unit = {
      val out = fs.create(new Path(tmp, name), true)
      try out.write(lines.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
    writeLines("manifest_base.txt", foldBase)
    writeLines("manifest_updates.txt", foldUpd)
    val vname = f"v${System.currentTimeMillis()}%013d-" +
      java.util.UUID.randomUUID().toString.take(8)
    if (!fs.rename(tmp, new Path(snapshotsDir(ledgerDir), vname)))
      throw new java.io.IOException(
        s"atomic publish of ledger snapshot $vname failed")
    ()
  }

  /** Delete raw base/update files folded into the latest snapshot.
    * Safe to crash mid-way: every file deleted here is already
    * excluded from reads by the committed manifest.
    */
  def vacuumLedger(spark: SparkSession, ledgerDir: String): Unit = {
    val p = new Path(ledgerDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = latestSnapshot(fs, ledgerDir)
    require(snap.dataDir.isDefined,
      "vacuumLedger: no committed snapshot — nothing is safely foldable")
    snap.foldedBase.foreach(n => fs.delete(new Path(p, n), false))
    snap.foldedUpd.foreach(n =>
      fs.delete(new Path(updatesDir(ledgerDir), n), false))
  }

  /** The ledger VIEW: the latest compaction snapshot (if any) plus
    * not-yet-folded base rows (appended by [[run]]) with the
    * not-yet-folded `_updates` append-log compacted on read — latest
    * `seq` per (file_name, field) wins; a file that only ever appeared
    * in an update (the reference's update-creates-item DynamoDB
    * semantic) still gets a row via the full-outer join. The log is
    * metadata-sized (one tiny file per completed stage batch) and
    * [[compactLedger]] bounds it further, so the read-side work is
    * bounded at any corpus scale.
    */
  def ledger(spark: SparkSession, ledgerDir: String): DataFrame = {
    val files = ledgerFiles(spark, ledgerDir)
    ledgerFrom(spark, files.basePaths, files.updatePaths)
  }

  /** Every file name the ledger view holds a row for — its key set,
    * without the flags. A name has a view row exactly when some file
    * [[ledger]] reads carries it (the full-outer joins keep every key),
    * so this is one scan of the column all ledger files share, with the
    * schema given: no per-field aggregates, no joins, no schema
    * inference. The files are resolved as for [[ledger]], but the scan
    * names the directories that hold them — the snapshot data, the
    * base dir, `_updates` — so Spark lists them on the driver however
    * many files they hold (a list of more than 32 file paths costs a
    * parallel listing job). A directory read this way also yields the
    * folded files a vacuum has not deleted yet; they add no name, since
    * the snapshot holds every name they hold.
    */
  private def ledgerNames(spark: SparkSession, ledgerDir: String): DataFrame = {
    val files = ledgerFiles(spark, ledgerDir)
    val dirs = files.snapData.toSeq ++
      Seq(files.base, files.updates).flatMap(_.headOption.map(_.getParent))
    if (dirs.isEmpty) emptyLedger(spark)
    else spark.read.schema(NameSchema).parquet(dirs.map(_.toString): _*)
  }

  /** [[ledger]]'s view over an EXPLICIT file list — so [[compactLedger]]
    * folds exactly the files its manifests name (a concurrent run()
    * base append landing between the listing and the read would
    * otherwise be baked into the snapshot but missing from
    * manifest_base, and its raw file would be read AGAIN alongside the
    * snapshot: duplicate base rows, which — unlike updates — are not
    * idempotent under the read-side compaction).
    */
  private def ledgerFrom(spark: SparkSession, basePaths: Seq[String],
                         updPaths: Seq[String]): DataFrame = {
    val base0 =
      if (basePaths.nonEmpty) spark.read.parquet(basePaths: _*)
      else emptyLedger(spark)
    val anyUpdates = updPaths.nonEmpty
    val base = StageFields.foldLeft(base0) { (df, c) =>
      if (df.columns.contains(c) || !anyUpdates) df
      else df.withColumn(c, lit(null).cast("boolean"))
    }
    if (!anyUpdates) return base
    val upd = spark.read.parquet(updPaths: _*)
    // latest status per (file_name, field); equal-seq ties (distinct
    // JVMs in the same counter window) break deterministically by
    // status — the same "concurrent opposing update_items race"
    // DynamoDB has, with neither write LOST
    def latestFor(f: String): DataFrame = upd
      .filter(col("field") === f)
      .groupBy(col("file_name"))
      .agg(max_by(col("status"), struct(col("seq"), col("status")))
        .as(s"__upd_$f"))
    val latest = latestFor(MatchwiseStatus)
      .join(latestFor(DeliverywiseStatus), Seq("file_name"), "full_outer")
    StageFields.foldLeft(
      base.join(latest, Seq("file_name"), "full_outer")) { (df, f) =>
      df.withColumn(f, coalesce(col(s"__upd_$f"), col(f)))
        .drop(s"__upd_$f")
    }
  }

  /** Landing-dir *.json names minus already-ledgered ones, capped.
    *
    * Discovery is a DISTRIBUTED binaryFile scan of names (content
    * column never selected, so no bytes are read): Spark's parallel
    * partition discovery spreads the listing RPCs across executors
    * once the dir crosses the parallelism threshold, the anti-join
    * against [[ledgerNames]] runs as a plan, and only the capped
    * `limit` names are collected (TakeOrdered). A million-file landing
    * dir never funnels through a driver-side listStatus array + local
    * set difference.
    */
  def newFiles(spark: SparkSession, landingDir: String, ledgerDir: String,
               limit: Int = DefaultLimit): Seq[String] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.json")
      .load(landingDir)
      .select(substring_index(col("path"), "/", -1).as("file_name"))
      .join(ledgerNames(spark, ledgerDir), Seq("file_name"), "left_anti")
      .orderBy(col("file_name"))
      .limit(limit)
      .as[String].collect().toSeq
  }

  /** Upsert `field := status` for `files`, keyed by file_name — the
    * engine twin of the reference's per-field DynamoDB update_item
    * (utils.py:74-89), INCLUDING its durability: the call appends one
    * immutable update file to the `_updates` log and never rewrites
    * (let alone deletes) existing ledger state, so a crash at any
    * point leaves a consistent ledger — either the update is fully
    * visible or not at all. Commit protocol: write the tiny update
    * parquet to a hidden `.upd_tmp_*` dir, then an ATOMIC
    * `FileSystem.rename` into `_updates/` — two concurrent stage
    * markers (the reference runs its two extract lambdas in parallel,
    * aws/mens_t20i_dataset_stack.py:190-214, 253-277) land distinct
    * files and cannot lose each other's flags. Rows absent from the
    * ledger are created at read ([[ledger]]'s full-outer compaction)
    * with every other column null.
    */
  def markStage(spark: SparkSession, ledgerDir: String, files: Seq[String],
                field: String, status: Boolean = true): Unit = {
    import spark.implicits._
    require(field == MatchwiseStatus || field == DeliverywiseStatus,
      s"unknown ledger stage field: $field")
    if (files.isEmpty) return
    val seq = nextSeq()
    val conf = spark.sparkContext.hadoopConfiguration
    val udir = updatesDir(ledgerDir)
    val fs = udir.getFileSystem(conf)
    val tmp = new Path(ledgerDir,
      s".upd_tmp_${java.util.UUID.randomUUID().toString.take(12)}")
    files.toDF("file_name")
      .withColumn("field", lit(field))
      .withColumn("status", lit(status))
      .withColumn("seq", lit(seq))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val part = fs.listStatus(tmp)
      .map(_.getPath).find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"update write produced no parquet part under $tmp"))
    fs.mkdirs(udir)
    val committed = fs.rename(part,
      new Path(udir, s"upd-$seq-${part.getName}"))
    if (!committed) throw new java.io.IOException(
      s"atomic commit of ledger update $seq into $udir failed")
    fs.delete(tmp, true)
    ()
  }

  /** Copy the capped new files into staging and ledger them with both
    * stage flags false (staged-but-not-yet-extracted — presence alone
    * excludes them from the next run's anti-join). Idempotent by
    * construction: a re-run sees them in the ledger and copies nothing
    * (the reference instead crashes on Mongo duplicate _id — a
    * deliberate divergence, documented in SURVEY §7).
    */
  def run(spark: SparkSession, landingDir: String, stagingDir: String,
          ledgerDir: String, limit: Int = DefaultLimit): Seq[String] = {
    import spark.implicits._
    val files = newFiles(spark, landingDir, ledgerDir, limit)
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(landingDir); val dst = new Path(stagingDir)
    val fs = src.getFileSystem(conf)
    fs.mkdirs(dst)
    files.foreach { f =>
      FileUtil.copy(fs, new Path(src, f), fs, new Path(dst, f), false, conf)
    }
    if (files.nonEmpty)
      files.toDF("file_name")
        .withColumn(MatchwiseStatus, lit(false))
        .withColumn(DeliverywiseStatus, lit(false))
        .write.mode(SaveMode.Append).parquet(ledgerDir)
    files
  }
}
