package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.extract.Extractors
import graft.ingest.IngestJob
import graft.model.Cricsheet
import graft.streaming.StreamIngest

class IngestStreamSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def copyFixtures(dst: String, names: Seq[String]): Unit =
    names.foreach { n =>
      Files.copy(Paths.get(fixturesDir, n), Paths.get(dst, n),
        StandardCopyOption.REPLACE_EXISTING)
    }

  test("ingest: anti-join picks only un-ledgered files, capped and ordered") {
    val landing = tmp("landing"); val staging = tmp("staging")
    val ledger = s"${tmp("ledger_root")}/ledger"
    copyFixtures(landing, Seq("1001.json", "1002.json", "1003.json", "1004.json"))

    val first = IngestJob.run(spark, landing, staging, ledger, limit = 3)
    assert(first == Seq("1001.json", "1002.json", "1003.json"))

    val second = IngestJob.run(spark, landing, staging, ledger, limit = 3)
    assert(second == Seq("1004.json"))

    // idempotent: nothing new -> no-op
    val third = IngestJob.run(spark, landing, staging, ledger, limit = 3)
    assert(third.isEmpty)

    val staged = Files.list(Paths.get(staging)).iterator().asScala
      .filter(_.toString.endsWith(".json")).toSeq
    assert(staged.size == 4)
  }

  test("per-stage ledger flags transition independently and re-run idempotently") {
    val landing = tmp("st_landing"); val staging = tmp("st_staging")
    val ledger = s"${tmp("st_ledger_root")}/ledger"
    copyFixtures(landing, Seq("1001.json", "1002.json"))
    val staged = IngestJob.run(spark, landing, staging, ledger, limit = 10)
    assert(staged == Seq("1001.json", "1002.json"))

    // read through the VIEW — the ledger is base rows + an append-only
    // update log compacted on read, not a single rewritten parquet
    def flags(): Map[String, (Boolean, Boolean)] =
      IngestJob.ledger(spark, ledger).collect().map { r =>
        r.getAs[String]("file_name") ->
          ((r.getAs[Boolean](IngestJob.MatchwiseStatus),
            r.getAs[Boolean](IngestJob.DeliverywiseStatus)))
      }.toMap

    // staged-but-unextracted: both flags false
    assert(flags() == Map("1001.json" -> ((false, false)),
      "1002.json" -> ((false, false))))

    // matchwise stage completes for one file only (a partial failure):
    // ONLY its matchwise flag flips — the state the single-row
    // both-true append could not represent
    IngestJob.markStage(spark, ledger, Seq("1001.json"), IngestJob.MatchwiseStatus)
    assert(flags() == Map("1001.json" -> ((true, false)),
      "1002.json" -> ((false, false))))

    // the retry marks the remaining file; deliverywise then runs whole
    IngestJob.markStage(spark, ledger, Seq("1002.json"), IngestJob.MatchwiseStatus)
    IngestJob.markStage(spark, ledger,
      Seq("1001.json", "1002.json"), IngestJob.DeliverywiseStatus)
    assert(flags() == Map("1001.json" -> ((true, true)),
      "1002.json" -> ((true, true))))

    // per-stage re-run idempotency: marking again changes nothing
    IngestJob.markStage(spark, ledger,
      Seq("1001.json", "1002.json"), IngestJob.DeliverywiseStatus)
    assert(flags() == Map("1001.json" -> ((true, true)),
      "1002.json" -> ((true, true))))

    // a marked file stays excluded from the next ingest's anti-join
    assert(IngestJob.run(spark, landing, staging, ledger, limit = 10).isEmpty)

    // a stage mark for a file the ledger has never seen creates its row
    IngestJob.markStage(spark, ledger, Seq("9999.json"), IngestJob.MatchwiseStatus)
    val row = IngestJob.ledger(spark, ledger)
      .filter(col("file_name") === "9999.json").collect().head
    assert(row.getAs[Boolean](IngestJob.MatchwiseStatus))
    assert(row.isNullAt(row.fieldIndex(IngestJob.DeliverywiseStatus)))
  }

  test("ledger survives a crash mid-commit: partial update debris is invisible") {
    val landing = tmp("cr_landing"); val staging = tmp("cr_staging")
    val ledger = s"${tmp("cr_ledger_root")}/ledger"
    copyFixtures(landing, Seq("1001.json", "1002.json"))
    IngestJob.run(spark, landing, staging, ledger, limit = 10)
    IngestJob.markStage(spark, ledger, Seq("1001.json"), IngestJob.MatchwiseStatus)

    def view(): Map[String, (Boolean, Boolean)] =
      IngestJob.ledger(spark, ledger).collect().map { r =>
        r.getAs[String]("file_name") ->
          ((r.getAs[Boolean](IngestJob.MatchwiseStatus),
            r.getAs[Boolean](IngestJob.DeliverywiseStatus)))
      }.toMap
    val before = view()
    assert(before == Map("1001.json" -> ((true, false)),
      "1002.json" -> ((false, false))))

    // crash BEFORE the atomic rename: a stranded .upd_tmp_* dir with a
    // half-written (corrupt) parquet part — hidden from both the base
    // read and the _updates read, so the view is byte-identical
    val tmpDir = Paths.get(ledger, ".upd_tmp_crashed")
    Files.createDirectories(tmpDir)
    Files.write(tmpDir.resolve("part-00000.parquet"),
      "not a parquet file".getBytes)
    // crash DURING a task write inside _updates: committer _temporary
    // debris — underscore-hidden from the update-log read
    val tempDir = Paths.get(ledger, "_updates", "_temporary", "0")
    Files.createDirectories(tempDir)
    Files.write(tempDir.resolve("part-00000.parquet"),
      "also not parquet".getBytes)
    assert(view() == before)

    // and the ledger still accepts (and shows) the next real update
    IngestJob.markStage(spark, ledger, Seq("1002.json"), IngestJob.MatchwiseStatus)
    assert(view() == Map("1001.json" -> ((true, false)),
      "1002.json" -> ((true, false))))

    // invariant behind crash-atomicity: no markStage ever deletes or
    // rewrites an existing ledger file (append-only log + rename)
    val baseParts = Files.list(Paths.get(ledger)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    IngestJob.markStage(spark, ledger, Seq("1001.json"), IngestJob.DeliverywiseStatus)
    val basePartsAfter = Files.list(Paths.get(ledger)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    assert(basePartsAfter == baseParts)
  }

  test("ledger compaction folds the log atomically; vacuum keeps the view") {
    val landing = tmp("cp_landing"); val staging = tmp("cp_staging")
    val ledger = s"${tmp("cp_ledger_root")}/ledger"
    copyFixtures(landing, Seq("1001.json", "1002.json"))
    IngestJob.run(spark, landing, staging, ledger, limit = 10)
    IngestJob.markStage(spark, ledger, Seq("1001.json"), IngestJob.MatchwiseStatus)
    IngestJob.markStage(spark, ledger, Seq("1002.json"), IngestJob.DeliverywiseStatus)

    def view(): Map[String, (Boolean, Boolean)] =
      IngestJob.ledger(spark, ledger).collect().map { r =>
        r.getAs[String]("file_name") ->
          ((r.getAs[Boolean](IngestJob.MatchwiseStatus),
            r.getAs[Boolean](IngestJob.DeliverywiseStatus)))
      }.toMap
    val v1 = view()
    assert(v1 == Map("1001.json" -> ((true, false)),
      "1002.json" -> ((false, true))))

    // a crashed compaction (tmp dir never renamed) is invisible
    val orphan = Paths.get(ledger, "_snapshots", ".snap_tmp_crashed", "data")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-0.parquet"), "junk".getBytes)
    assert(view() == v1)

    IngestJob.compactLedger(spark, ledger)
    assert(view() == v1) // fold is a pure re-layout

    // post-compaction updates land in the log and apply over the snapshot
    IngestJob.markStage(spark, ledger, Seq("1002.json"), IngestJob.MatchwiseStatus)
    val v2 = view()
    assert(v2 == Map("1001.json" -> ((true, false)),
      "1002.json" -> ((true, true))))

    // vacuum deletes only manifest-covered raw files; the view holds,
    // and the unfolded post-compaction update survives
    IngestJob.vacuumLedger(spark, ledger)
    val rootParquet = Files.list(Paths.get(ledger)).iterator().asScala
      .map(_.getFileName.toString)
      .count(n => !n.startsWith("_") && !n.startsWith("."))
    assert(rootParquet == 0, "vacuum must remove folded base files")
    assert(view() == v2)

    // second compaction folds the remainder (cumulative manifest) and
    // new ingests keep working afterwards
    IngestJob.compactLedger(spark, ledger)
    IngestJob.vacuumLedger(spark, ledger)
    assert(view() == v2)
    assert(IngestJob.run(spark, landing, staging, ledger, limit = 10).isEmpty)
  }

  test("two interleaved stage markers lose neither flag") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val landing = tmp("cc_landing"); val staging = tmp("cc_staging")
    val ledger = s"${tmp("cc_ledger_root")}/ledger"
    copyFixtures(landing, Seq("1001.json", "1002.json"))
    IngestJob.run(spark, landing, staging, ledger, limit = 10)
    // the reference runs its matchwise and deliverywise extract lambdas
    // in parallel (mens_t20i_dataset_stack.py:190-214, 253-277); the old
    // read-merge-Overwrite lost whichever writer committed first
    val files = Seq("1001.json", "1002.json")
    val both = Future.sequence(Seq(
      Future(IngestJob.markStage(spark, ledger, files,
        IngestJob.MatchwiseStatus)),
      Future(IngestJob.markStage(spark, ledger, files,
        IngestJob.DeliverywiseStatus))))
    Await.result(both, 2.minutes)
    val got = IngestJob.ledger(spark, ledger).collect().map { r =>
      r.getAs[String]("file_name") ->
        ((r.getAs[Boolean](IngestJob.MatchwiseStatus),
          r.getAs[Boolean](IngestJob.DeliverywiseStatus)))
    }.toMap
    assert(got == Map("1001.json" -> ((true, true)),
      "1002.json" -> ((true, true))))
  }

  test("update seq is anchored at call-time wall clock, not JVM start") {
    // cross-JVM last-writer-wins is only as good as the seq ordering:
    // a seq anchored at JVM START would make every update from a
    // long-running JVM lose to any update from a younger JVM. Pin the
    // contract: seq >> 20 is the millis of the markStage CALL.
    val landing = tmp("sq_landing"); val staging = tmp("sq_staging")
    val ledger = s"${tmp("sq_ledger_root")}/ledger"
    copyFixtures(landing, Seq("1001.json"))
    IngestJob.run(spark, landing, staging, ledger, limit = 10)
    val t0 = System.currentTimeMillis()
    IngestJob.markStage(spark, ledger, Seq("1001.json"),
      IngestJob.MatchwiseStatus)
    val t1 = System.currentTimeMillis()
    val seqs = spark.read.parquet(s"$ledger/_updates")
      .select("seq").collect().map(_.getLong(0))
    assert(seqs.nonEmpty)
    seqs.foreach { s =>
      val millis = s >> 20
      assert(millis >= t0 && millis <= t1,
        s"seq millis $millis outside call window [$t0, $t1]")
    }
  }

  test("discovery survives a many-thousand-file landing dir") {
    val landing = tmp("big_landing"); val staging = tmp("big_staging")
    val ledger = s"${tmp("big_ledger_root")}/ledger"
    // 3000 files — enough to cross the parallel-discovery threshold;
    // the capped pick must still be the lexicographic head
    (0 until 3000).foreach { i =>
      Files.writeString(Paths.get(landing, f"m$i%05d.json"), "{}")
      ()
    }
    val picked = IngestJob.newFiles(spark, landing, ledger, limit = 5)
    assert(picked == (0 until 5).map(i => f"m$i%05d.json"))
    // ledger the head, the next pick moves on
    IngestJob.run(spark, landing, staging, ledger, limit = 5)
    val next = IngestJob.newFiles(spark, landing, ledger, limit = 3)
    assert(next == (5 until 8).map(i => f"m$i%05d.json"))
  }

  /** `newFiles` as it read before the names-only ledger scan: the
    * anti-join against the full ledger view's file_name column. */
  private def viaLedgerView(landing: String, ledger: String): Seq[String] = {
    import spark.implicits._
    spark.read.format("binaryFile").option("pathGlobFilter", "*.json")
      .load(landing)
      .select(substring_index(col("path"), "/", -1).as("file_name"))
      .join(IngestJob.ledger(spark, ledger).select("file_name"),
        Seq("file_name"), "left_anti")
      .orderBy(col("file_name")).as[String].collect().toSeq
  }

  test("newFiles excludes update-only and snapshot-folded names, as the view does") {
    val landing = tmp("nm_landing"); val staging = tmp("nm_staging")
    val ledger = s"${tmp("nm_ledger_root")}/ledger"
    val names = (1001 to 1006).map(i => s"$i.json")
    copyFixtures(landing, names)
    assert(IngestJob.run(spark, landing, staging, ledger, limit = 2) ==
      Seq("1001.json", "1002.json"))
    IngestJob.markStage(spark, ledger, Seq("1001.json"), IngestJob.MatchwiseStatus)
    // update-creates-item: 1003 is marked but was never staged, so its
    // name lives only in the _updates log
    IngestJob.markStage(spark, ledger, Seq("1003.json"), IngestJob.DeliverywiseStatus)
    def check(state: String): Unit = {
      val got = IngestJob.newFiles(spark, landing, ledger, limit = 100)
      assert(got == Seq("1004.json", "1005.json", "1006.json"), state)
      assert(got == viaLedgerView(landing, ledger), state)
    }
    check("base rows and update log")
    IngestJob.compactLedger(spark, ledger)
    check("after compaction")
    IngestJob.vacuumLedger(spark, ledger)
    check("after vacuum")
  }

  test("newFiles reads a 40-round ledger in at most 2 jobs") {
    val landing = tmp("nj_landing"); val staging = tmp("nj_staging")
    val ledger = s"${tmp("nj_ledger_root")}/ledger"
    (0 until 45).foreach { i =>
      Files.writeString(Paths.get(landing, f"m$i%03d.json"), "{}")
      ()
    }
    (0 until 40).foreach { _ =>
      val staged = IngestJob.run(spark, landing, staging, ledger, limit = 1)
      IngestJob.markStage(spark, ledger, staged, IngestJob.MatchwiseStatus)
    }
    var got = Seq.empty[String]
    val jobs = JobProfile.profiled(spark, "newFiles") {
      got = IngestJob.newFiles(spark, landing, ledger)
    }
    assert(got == (40 until 45).map(i => f"m$i%03d.json"))
    assert(jobs.size <= 2, jobs.mkString("\n"))
  }

  test("streaming: AvailableNow extract equals the batch extract") {
    val landing = tmp("s_landing"); val staging = tmp("s_staging")
    val checkpoint = tmp("s_ckpt")
    copyFixtures(landing,
      Seq("1001.json", "1002.json", "1003.json", "1004.json", "1005.json", "1006.json"))

    val q = StreamIngest.run(spark, landing, staging, checkpoint, maxFilesPerTrigger = 2)
    q.awaitTermination()

    val mw = spark.read.parquet(s"$staging/matchwise")
    val dw = spark.read.parquet(s"$staging/deliverywise")
    assert(mw.count() == 6)
    assert(dw.count() == 24)

    val batch = Extractors.matchwise(Cricsheet.read(spark, fixturesDir))
    assert(mw.orderBy("match_id").collect().toSeq ==
      batch.orderBy("match_id").collect().toSeq)
  }

  test("streaming: a landing file with no digits in its name stages with a null match_id") {
    val landing = tmp("n_landing"); val staging = tmp("n_staging")
    val checkpoint = tmp("n_ckpt")
    copyFixtures(landing,
      Seq("1001.json", "1002.json", "1003.json", "1004.json", "1005.json", "1006.json"))
    Files.copy(Paths.get(fixturesDir, "1001.json"), Paths.get(landing, "notes.json"))

    StreamIngest.run(spark, landing, staging, checkpoint).awaitTermination()

    val mw = spark.read.parquet(s"$staging/matchwise")
    val batch = Extractors.matchwise(Cricsheet.read(spark, landing))
    assert(mw.filter(col("match_id").isNull).count() == 1)
    assert(mw.orderBy("match_id").collect().toSeq ==
      batch.orderBy("match_id").collect().toSeq)
  }

  test("staging backend is config-pluggable (json stand-in for a connector)") {
    // the same StreamIngest code path writes through whatever DataSource
    // the session config names — json here stands in for s3a:// parquet
    // or the mongodb connector (whose jars aren't in this container)
    val landing = tmp("c_landing"); val staging = tmp("c_staging")
    val checkpoint = tmp("c_ckpt")
    copyFixtures(landing, Seq("1001.json", "1002.json"))
    spark.conf.set(graft.core.Connectors.FormatKey, "json")
    spark.conf.set(s"${graft.core.Connectors.OptionPrefix}compression", "none")
    try {
      StreamIngest.run(spark, landing, staging, checkpoint).awaitTermination()
      val parts = Files.list(Paths.get(staging, "matchwise")).iterator().asScala
        .map(_.getFileName.toString).toSeq
      assert(parts.exists(_.endsWith(".json")), parts.mkString(", "))
      val back = graft.core.Connectors.readStaging(spark, s"$staging/matchwise")
      assert(back.count() == 2)
      assert(back.select("match_id").collect().map(_.getLong(0)).toSet == Set(1001L, 1002L))
    } finally {
      spark.conf.unset(graft.core.Connectors.FormatKey)
      spark.conf.unset(s"${graft.core.Connectors.OptionPrefix}compression")
    }
  }

  test("store-addressed connector branch: collstore collection round-trip") {
    // a REAL store-addressed DataSource (collection option, no path):
    // the Connectors non-path branch runs through actual V2 connector
    // machinery, not a file format wearing a costume
    val landing = tmp("s_landing"); val checkpoint = tmp("s_ckpt")
    copyFixtures(landing, Seq("1001.json", "1002.json"))
    graft.sources.CollectionStore.drop("matchwise")
    graft.sources.CollectionStore.drop("deliverywise")
    spark.conf.set(graft.core.Connectors.FormatKey, "collstore")
    try {
      StreamIngest.run(spark, landing, "store://staging", checkpoint)
        .awaitTermination()
      // written by collection name (the target's last segment), never a path
      assert(graft.sources.CollectionStore.schemaOf("matchwise").isDefined)
      val back = graft.core.Connectors.readStaging(spark, "store://staging/matchwise")
      assert(back.count() == 2)
      assert(back.select("match_id").collect().map(_.getInt(0)).toSet ==
        Set(1001, 1002))
      val dw = graft.core.Connectors.readStaging(spark, "store://staging/deliverywise")
      assert(dw.count() > 0)
    } finally {
      spark.conf.unset(graft.core.Connectors.FormatKey)
      graft.sources.CollectionStore.drop("matchwise")
      graft.sources.CollectionStore.drop("deliverywise")
    }
  }

  test("tables load through scheme-qualified URIs (file:// as the s3a:// stand-in)") {
    val orders = graft.core.Tables.load(spark, "file:///root/testdata/sf0.001", "orders")
    assert(orders.count() > 0)
    val events = graft.core.Tables.load(spark, "file:///root/testdata/sf0.001", "events")
    assert(events.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType) // nanos normalization holds via URI too
  }

  test("e2e slice: zip landing -> stream extract -> publish, idempotent re-run") {
    import java.io.{File, FileOutputStream}
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val landing = tmp("z_landing"); val work = tmp("z_work")
    val zip = new File(landing, "t20s.zip")
    val zos = new ZipOutputStream(new FileOutputStream(zip))
    Files.list(Paths.get(fixturesDir)).iterator().asScala
      .filter(_.toString.endsWith(".json")).foreach { p =>
        zos.putNextEntry(new ZipEntry(s"t20s_male/${p.getFileName}"))
        zos.write(Files.readAllBytes(p)); zos.closeEntry()
      }
    zos.close()

    def readArtifact(name: String): String =
      Files.list(Paths.get(work, "output", name)).iterator().asScala
        .filter(_.toString.endsWith(".csv")).map(p => new String(Files.readAllBytes(p)))
        .mkString

    val (mw1, dw1, note1) = StreamIngest.runPipeline(spark, landing, work)
    assert(mw1 == 6 && dw1 == 24)
    assert(note1.startsWith("Updated till the match between"))
    val csv1 = readArtifact("matchwise_data.csv")
    val stagedRaw1 = spark.read.parquet(s"$work/staging/matchwise").count()

    // re-run against the unchanged landing dir: the checkpoint is the
    // ledger — zero new staged rows, identical artifacts
    val (mw2, dw2, note2) = StreamIngest.runPipeline(spark, landing, work)
    val stagedRaw2 = spark.read.parquet(s"$work/staging/matchwise").count()
    assert(stagedRaw2 == stagedRaw1, "second run must stage zero new rows")
    assert((mw2, dw2, note2) == (mw1, dw1, note1))
    assert(readArtifact("matchwise_data.csv") == csv1)

    // the published artifact equals the batch pipeline's over the same data
    val batch = graft.publish.PublishJob.buildMatchwise(
      Extractors.matchwise(Cricsheet.read(spark, fixturesDir)))
    val streamed = spark.read.option("header", "true")
      .csv(s"$work/output/matchwise_data.csv")
    assert(streamed.count() == batch.count())
  }

  test("e2e slice runs end-to-end on a NON-file Hadoop scheme (graftfs://)") {
    import java.io.{File, FileOutputStream}
    import java.util.zip.{ZipEntry, ZipOutputStream}
    // register the foreign-scheme FS (the s3a:// stand-in); storage is
    // local disk but every path the pipeline touches carries graftfs://
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftFs].getName)
    val landing = tmp("gfs_landing"); val work = tmp("gfs_work")
    val zip = new File(landing, "t20s.zip")
    val zos = new ZipOutputStream(new FileOutputStream(zip))
    Files.list(Paths.get(fixturesDir)).iterator().asScala
      .filter(_.toString.endsWith(".json")).foreach { p =>
        zos.putNextEntry(new ZipEntry(s"t20s_male/${p.getFileName}"))
        zos.write(Files.readAllBytes(p)); zos.closeEntry()
      }
    zos.close()
    val (mw, dw, note) = StreamIngest.runPipeline(spark,
      s"graftfs://$landing", s"graftfs://$work")
    assert(mw == 6 && dw == 24)
    assert(note.startsWith("Updated till the match between"))
    // artifacts written under — and readable back through — the scheme
    assert(spark.read.parquet(s"graftfs://$work/staging/matchwise")
      .count() > 0)
    assert(spark.read.option("header", "true")
      .csv(s"graftfs://$work/output/matchwise_data.csv").count() == mw)
  }

  test("streaming: corrupt archive quarantines durably, good archive stages") {
    import java.io.{File, FileOutputStream}
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val landing = tmp("q_landing"); val staging = tmp("q_staging")
    val checkpoint = tmp("q_ckpt")
    val good = new File(landing, "good.zip")
    val zos = new ZipOutputStream(new FileOutputStream(good))
    zos.putNextEntry(new ZipEntry("t/1001.json"))
    zos.write(Files.readAllBytes(Paths.get(fixturesDir, "1001.json")))
    zos.closeEntry(); zos.close()
    // garbage bytes under a .zip name — the decoder fails immediately
    Files.write(Paths.get(landing, "junk.zip"), Array.fill[Byte](256)(0x41))

    StreamIngest.runZip(spark, landing, staging, checkpoint).awaitTermination()
    assert(spark.read.parquet(s"$staging/matchwise")
      .filter(col("match_id") === 1001).count() == 1)
    val q = spark.read.parquet(s"$staging/quarantine").collect()
    assert(q.length == 1, s"expected one quarantine row, got ${q.toSeq}")
    assert(q.head.getAs[String]("zip_path").endsWith("junk.zip"))
    assert(q.head.getAs[String]("zip_error").nonEmpty)

    // the checkpoint marks junk.zip processed: a re-run must not
    // re-quarantine (no duplicate rows) nor re-stage
    StreamIngest.runZip(spark, landing, staging, checkpoint).awaitTermination()
    assert(spark.read.parquet(s"$staging/quarantine").count() == 1)
    assert(spark.read.parquet(s"$staging/matchwise").count() == 1)
  }

  test("streaming: zip expansion scans only the path column of each archive") {
    import java.io.{File, FileOutputStream}
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val landing = tmp("p_landing"); val staging = tmp("p_staging")
    val checkpoint = tmp("p_ckpt")
    val zos = new ZipOutputStream(new FileOutputStream(new File(landing, "a.zip")))
    zos.putNextEntry(new ZipEntry("t/1001.json"))
    zos.write(Files.readAllBytes(Paths.get(fixturesDir, "1001.json")))
    zos.closeEntry(); zos.close()

    val q = StreamIngest.runZip(spark, landing, staging, checkpoint)
    q.awaitTermination()
    // the archive is opened once, by the expansion; the stream's own
    // scan must not load `content` too
    val plan = new java.io.ByteArrayOutputStream()
    Console.withOut(plan)(q.explain())
    assert(plan.toString.contains("ReadSchema: struct<path:string>"), plan.toString)
    assert(spark.read.parquet(s"$staging/matchwise").count() == 1)
  }

  test("streaming: restart with same checkpoint reprocesses nothing") {
    val landing = tmp("r_landing"); val staging = tmp("r_staging")
    val checkpoint = tmp("r_ckpt")
    copyFixtures(landing, Seq("1001.json", "1002.json"))

    StreamIngest.run(spark, landing, staging, checkpoint).awaitTermination()
    val n1 = spark.read.parquet(s"$staging/matchwise").count()

    // re-run over the same landing dir: checkpoint is the ledger
    StreamIngest.run(spark, landing, staging, checkpoint).awaitTermination()
    val n2 = spark.read.parquet(s"$staging/matchwise").count()
    assert(n1 == 2 && n2 == 2)

    // new arrival -> only the new file is processed
    copyFixtures(landing, Seq("1003.json"))
    StreamIngest.run(spark, landing, staging, checkpoint).awaitTermination()
    assert(spark.read.parquet(s"$staging/matchwise").count() == 3)
  }
}
