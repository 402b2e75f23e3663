package graft

import java.io.{FileOutputStream, File}
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ext.Multimodal
import graft.extract.Extractors
import graft.model.Cricsheet
import graft.sources.ZipSource

class ZipSourceSpec extends SparkSpec {

  private lazy val zipPath: String = {
    val dir = Files.createTempDirectory("graft_zip")
    val zip = new File(dir.toFile, "t20s.zip")
    val zos = new ZipOutputStream(new FileOutputStream(zip))
    // mirror the real archive layout: entries in a subdirectory
    Files.list(Paths.get(fixturesDir)).iterator().forEachRemaining { p =>
      if (p.toString.endsWith(".json")) {
        zos.putNextEntry(new ZipEntry(s"t20s_male/${p.getFileName}"))
        zos.write(Files.readAllBytes(p))
        zos.closeEntry()
      }
    }
    zos.putNextEntry(new ZipEntry("t20s_male/README.txt"))
    zos.write("not a match".getBytes)
    zos.closeEntry()
    zos.close()
    zip.getAbsolutePath
  }

  test("zip entries expand distributed, filtered to .json") {
    val entries = ZipSource.readEntries(spark, zipPath)
    assert(entries.count() == 6) // README.txt excluded
    assert(entries.filter(col("entry").contains("README")).count() == 0)
  }

  test("matches parsed from the archive equal the directory-based read") {
    val fromZip = Extractors.matchwise(ZipSource.readMatches(spark, zipPath))
    val fromDir = Extractors.matchwise(Cricsheet.read(spark, fixturesDir))
    assert(fromZip.exceptAll(fromDir).count() == 0)
    assert(fromDir.exceptAll(fromZip).count() == 0)
    assert(fromZip.count() == 6)
  }

  test("archive fetch lands a file:// URL and the zip reads end-to-end") {
    val landing = Files.createTempDirectory("graft_fetch").toString
    val url = new File(zipPath).toURI.toString // file:///.../t20s.zip
    assert(graft.sources.Fetch.isFetchUrl(url))
    assert(!graft.sources.Fetch.isFetchUrl("/data/landing/t20s.zip"))
    val landed = graft.sources.Fetch.toLanding(spark, url, landing)
    assert(landed.endsWith("t20s.zip"))
    assert(ZipSource.readMatches(spark, landed).count() == 6)
    // re-fetch overwrites, not duplicates or fails
    val again = graft.sources.Fetch.toLanding(spark, url, landing)
    assert(again == landed)
  }

  /** (entry, text) of every .json entry, read on the driver with
    * java.util.zip.ZipFile — independent of the Spark expansion path.
    */
  private def zipFileEntries(zip: String): Set[(String, String)] = {
    val zf = new ZipFile(zip)
    try zf.entries().asScala.filter(e => !e.isDirectory && e.getName.endsWith(".json"))
      .map(e => e.getName -> new String(zf.getInputStream(e).readAllBytes(), "UTF-8"))
      .toSet
    finally zf.close()
  }

  private def entryTexts(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
    df.select("entry", "text").collect().map(r => r.getString(0) -> r.getString(1)).toSeq

  test("readEntries equals a ZipFile read; a truncated archive salvages with one marker") {
    val got = entryTexts(ZipSource.readEntries(spark, zipPath))
    assert(got.size == 6)
    assert(got.toSet == zipFileEntries(zipPath))

    // truncated archive: salvages the leading entries + one error row
    val dir = Files.createTempDirectory("graft_zs_stream")
    val whole = Files.readAllBytes(Paths.get(zipPath))
    Files.write(Paths.get(dir.toString, "trunc.zip"),
      java.util.Arrays.copyOf(whole, whole.length - whole.length / 4))
    val s = ZipSource.expandEntriesWithErrors(
      spark.read.format("binaryFile").load(dir.toString + "/trunc.zip"))
    val errs = s.filter(col("zip_error").isNotNull).count()
    val oks = s.filter(col("zip_error").isNull).count()
    assert(errs == 1, s"expected one error marker, got $errs")
    assert(oks >= 1 && oks < 6, s"expected partial salvage, got $oks")
  }

  test("readEntries expands a many-entry archive entry for entry") {
    val dir = Files.createTempDirectory("graft_zs_many")
    val zip = new File(dir.toFile, "many.zip")
    val zos = new ZipOutputStream(new FileOutputStream(zip))
    (0 until 500).foreach { i =>
      zos.putNextEntry(new ZipEntry(s"d/$i.json"))
      zos.write(s"""{"n": $i, "pad": "${"x" * 2000}"}""".getBytes)
      zos.closeEntry()
    }
    zos.close()
    val got = entryTexts(ZipSource.readEntries(spark, zip.getAbsolutePath))
    assert(got.size == 500)
    assert(got.toSet == zipFileEntries(zip.getAbsolutePath))
  }

  test("expansion reads only the path column of the binaryFile scan") {
    val plan = ZipSource.expandEntriesWithErrors(
      spark.read.format("binaryFile").load(zipPath)).queryExecution.executedPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.requiredSchema
    }
    assert(scans.map(_.fieldNames.toSeq) == Seq(Seq("path")), plan.toString)
  }

  test("an archive whose name needs URL escaping reopens on the executor") {
    val dir = Files.createTempDirectory("graft_zs_escape")
    val zip = Paths.get(dir.toString, "t20s 100%.zip")
    Files.copy(Paths.get(zipPath), zip)
    val m = ZipSource.readMatches(spark, dir.toString)
    assert(m.count() == 6)
  }

  test("readEntries on a missing path raises") {
    val missing = Files.createTempDirectory("graft_zs_missing").toString + "/none.zip"
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      ZipSource.readEntries(spark, missing).count()
    }
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }

  test("fetch leaves no temp files behind") {
    val landing = Files.createTempDirectory("graft_fetch_tmp").toString
    val url = new File(zipPath).toURI.toString
    graft.sources.Fetch.toLanding(spark, url, landing)
    // dot-prefixed names (Hadoop LocalFS .crc sidecars) are invisible
    // to Spark's file sources; what must NOT remain is any ._tmp. file
    def visible = new File(landing).list().toSeq.filterNot(_.startsWith("."))
    def tmps = new File(landing).list().toSeq.filter(_.contains("._tmp."))
    assert(visible == Seq("t20s.zip"), s"unexpected landing contents: $visible")
    assert(tmps.isEmpty, s"temp remnants: $tmps")
    // a failed fetch cleans its temp up too
    intercept[Exception] {
      graft.sources.Fetch.toLanding(spark,
        new File(zipPath + ".does-not-exist").toURI.toString, landing)
    }
    assert(visible == Seq("t20s.zip") && tmps.isEmpty)
  }

  test("real imageio decode round-trips synthetic PNGs exactly") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 40)
    val decoded = Multimodal.decodeImages(Multimodal.syntheticImages(docs))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3))).toMap
    assert(decoded.size == 40)
    decoded.foreach { case (id, (w, h, sum)) =>
      val (ew, eh) = (4 + (id % 13).toInt, 3 + (id % 7).toInt)
      val esum = (0 until ew * eh).map(i => (id * 31 + i) % 256).sum
      assert((w, h, sum) == ((ew, eh, esum)), s"doc $id decode mismatch")
    }
  }

  test("jpeg decode audit: real lossy round-trip holds geometry and tolerance") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 40)
    // the payload really is JPEG (SOI marker), not a PNG fallback
    val bytes = Multimodal.syntheticJpegImages(docs.limit(1))
      .collect().head.getAs[Array[Byte]]("payload")
    assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8,
      "missing JPEG SOI marker")
    val got = Multimodal.jpegDecodeAudit(docs).collect()
    assert(got.length == 40)
    got.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == 4 + (id % 13).toInt, s"doc $id width")
      assert(r.getInt(2) == 3 + (id % 7).toInt, s"doc $id height")
      assert(r.getLong(3) == r.getInt(1).toLong * r.getInt(2))
      assert(r.getBoolean(4), s"doc $id max-error tolerance")
      assert(r.getBoolean(5), s"doc $id mean-error tolerance")
    }
  }

  test("jpeg decode audit: undecodable payload degrades to null row") {
    import spark.implicits._
    // feed garbage through the same decode core via decodeImages
    val junk = Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val out = Multimodal.decodeImages(junk).collect().head
    assert(out.isNullAt(1) && out.isNullAt(2) && out.isNullAt(3))
  }

  test("image patches: grid shape, analytic sums, ragged edge cropped") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 30)
    val got = Multimodal.imagePatches(Multimodal.syntheticImages(docs), p = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    (0L until 30L).foreach { id =>
      val (w, h) = (4 + (id % 13).toInt, 3 + (id % 7).toInt)
      val rows = got.keys.filter(_._1 == id)
      assert(rows.size == (w / 2) * (h / 2), s"doc $id patch count")
      // ragged edge: no patch index reaches past the cropped grid
      assert(rows.forall { case (_, px, py) => px < w / 2 && py < h / 2 })
      rows.foreach { case k @ (_, px, py) =>
        val want = (for { dy <- 0 to 1; dx <- 0 to 1 }
          yield (id * 31 + (2 * py + dy) * w + (2 * px + dx)) % 256).sum
        assert(got(k) == want, s"doc $id patch ($px,$py)")
      }
    }
  }

  test("image resize: doc 0's 4x3 image pools to exact quadrant sums") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") === 0)
    val got = Multimodal.imageResize(Multimodal.syntheticImages(docs))
      .collect()
      .map(r => (r.getInt(1), r.getInt(2)) ->
        (r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // doc 0: w=4, h=3, pixel(x,y) = y*4 + x; cy = y*2/3 -> rows {0,1}|{2}
    assert(got == Map(
      (0, 0) -> (4L, 10L, 2.5), (1, 0) -> (4L, 18L, 4.5),
      (0, 1) -> (2L, 17L, 8.5), (1, 1) -> (2L, 21L, 10.5)))
  }

  test("image resize: undecodable payload emits zero rows, not a crash") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val notImages = Multimodal.withPayload(docs.limit(5))
    assert(Multimodal.imageResize(notImages).count() == 0L)
  }

  test("audio resample: decimated stats match the generator fold, floor on negative sums") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 20)
    val got = Multimodal.audioResample(Multimodal.syntheticAudio(docs))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    (0L until 20L).foreach { id =>
      val n = (256 + (id % 7) * 64).toInt
      def gen(i: Int): Int = (((id * 31 + i.toLong * 7) % 2001) - 1000).toInt
      val dec = (0 until n / 2).map(j => (gen(2 * j) + gen(2 * j + 1)) >> 1)
      val zc = dec.sliding(2).count {
        case Seq(a, b) => (a >= 0) != (b >= 0); case _ => false }
      assert(got(id) ==
        (n.toLong, (n / 2).toLong, dec.map(v => v.toLong * v).sum, zc.toLong),
        s"doc $id resample mismatch")
    }
    // undecodable payload -> null features, never a crash
    val bad = Multimodal.withPayload(docs.limit(3))
    assert(Multimodal.audioResample(bad).filter(col("n_out").isNotNull)
      .count() == 0)
  }

  test("image patches: undecodable payload emits zero rows, not a crash") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val notImages = Multimodal.withPayload(docs.limit(5)) // utf8 text bytes
    assert(Multimodal.imagePatches(notImages).count() == 0L)
  }

  test("undecodable payload yields null decode columns, not a crash") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val notImages = Multimodal.withPayload(docs.limit(5)) // utf8 text bytes
    val out = Multimodal.decodeImages(notImages).collect()
    assert(out.length == 5)
    assert(out.forall(r => r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3)))
  }

  test("batched decode plumbing runs the injected codec per payload") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val withBin = Multimodal.withPayload(docs.limit(50))
    val decoded = Multimodal.decodeBatched(withBin) { bytes =>
      (bytes.length % 1920, bytes.length % 1080) // deterministic stub codec
    }
    assert(decoded.count() == 50)
    val bad = decoded.filter(
      col("width") =!= col("media_meta.n_bytes") % 1920 ||
      col("height") =!= col("media_meta.n_bytes") % 1080)
    assert(bad.count() == 0)
  }
}
