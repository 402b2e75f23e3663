package graft.sources

import java.io.{BufferedInputStream, InputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.ZipInputStream

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import graft.model.Cricsheet

/** Distributed zip expansion (SURVEY S1/S2): the reference downloads
  * the Cricsheet archive and extracts it on Lambda local disk; here
  * Spark's `binaryFile` source lists the archives (one row each) and
  * every archive is streamed off its filesystem on an executor and
  * decoded one entry at a time — no local-disk staging, no archive-sized
  * byte array, and many archives expand in parallel. Peak memory per
  * task is a single decompressed ENTRY, whatever the archive's size.
  */
object ZipSource {

  private type Entry = (String, String, String, String)

  /** (zip_path, entry, text) for every file entry matching `suffix`;
    * corrupt archives keep their salvaged entries, markers dropped (the
    * engine's malformed-input contract — null/absent rows, never job
    * failure).
    */
  def readEntries(spark: SparkSession, path: String,
                  suffix: String = ".json"): DataFrame =
    expandEntriesWithErrors(spark.read.format("binaryFile").load(path), suffix)
      .filter(col("zip_error").isNull)
      .drop("zip_error")

  /** Expand a `binaryFile` frame of zip archives into
    * (zip_path, entry, text, zip_error). Only its `path` column is
    * read — each archive is opened through its Hadoop filesystem on
    * the executor, so the scan never loads `content` — and it works on
    * a batch scan and equally on a streaming micro-batch
    * (StreamIngest.runZip), which keeps the zip→publish chain a single
    * code path in both modes.
    *
    * A corrupt archive must not kill the job: entries decoded before
    * the corruption are kept (their zip_error is null) and ONE extra
    * row (null entry/text, zip_error = the decoder's complaint) marks
    * the archive as partially read, so callers choose their policy —
    * the batch path drops the marker, the streaming path quarantines it
    * durably (the checkpoint would otherwise mark the file processed
    * forever with no trace). Any non-fatal throwable is salvaged:
    * hostile archives surface IllegalArgumentException and friends from
    * the zip decoder, not just IOException. An archive that cannot be
    * opened at all fails the task, as a failed file read does.
    */
  def expandEntriesWithErrors(files: DataFrame,
                              suffix: String = ".json"): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    // the session's Hadoop conf carries fs.<scheme>.impl and credentials,
    // so graftfs:// and s3a:// archives resolve on the executors
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    files.select(col("path")).as[String]
      .flatMap { zipPath =>
        val p = new Path(zipPath)
        entries(zipPath, p.getFileSystem(conf.value).open(p), suffix)
      }
      .toDF("zip_path", "entry", "text", "zip_error")
  }

  /** Lazy (zip_path, entry, text, zip_error) rows of one archive: one
    * entry decompressed at a time, the salvage cut-off as the last row,
    * and `in` closed on exhaustion or at task completion, whichever
    * comes first.
    */
  private def entries(zipPath: String, in: InputStream,
                      suffix: String): Iterator[Entry] = {
    // ZipInputStream pulls 512 bytes per read; the buffer keeps that
    // off the filesystem stream's per-call overhead
    val buffered = new BufferedInputStream(in)
    val zis = new ZipInputStream(buffered)
    def close(): Unit = { Try(zis.close()); () }
    // a downstream operator may stop consuming mid-archive (limit,
    // short-circuited join), so exhaustion never comes: the
    // task-completion hook reclaims the FS handle (close is idempotent)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))
    // ZipInputStream scans for a PK local-header signature and treats a
    // signature-free payload as an EMPTY archive — garbage under a .zip
    // name would silently yield nothing. All real zips (including empty
    // ones: the end-of-central-directory record) start with "PK".
    // readNBytes never short-reads before EOF, so a valid archive is
    // never misclassified on a 1-byte read.
    buffered.mark(2)
    val magic = buffered.readNBytes(2)
    buffered.reset()
    if (magic.length < 2 || magic(0) != 'P'.toByte || magic(1) != 'K'.toByte) {
      close()
      Iterator.single((zipPath, null, null, "not a zip archive (no PK signature)"))
    } else new Iterator[Entry] {
      private var nextRow: Entry = _
      private var done = false
      private def finish(): Unit = { done = true; close() }
      private def advance(): Unit = {
        nextRow = null
        if (done) return
        try {
          var e = zis.getNextEntry
          while (e != null && nextRow == null) {
            if (!e.isDirectory && e.getName.endsWith(suffix)) {
              nextRow = (zipPath, e.getName,
                new String(zis.readAllBytes(), StandardCharsets.UTF_8), null)
            } else e = zis.getNextEntry
          }
          if (nextRow == null) finish()
        } catch {
          case NonFatal(ex) =>
            nextRow = (zipPath, null, null,
              s"${ex.getClass.getName}: ${ex.getMessage}")
            finish()
        }
      }
      advance()
      override def hasNext: Boolean = nextRow != null
      override def next(): Entry = {
        val r = nextRow; advance(); r
      }
    }
  }

  /** Cricsheet matches parsed straight out of the archive: same shape
    * as [[Cricsheet.read]] over an exploded directory (match_id from
    * the entry name), so the extractors run unchanged.
    */
  def readMatches(spark: SparkSession, zipPath: String): DataFrame =
    matchesFrom(readEntries(spark, zipPath))

  /** Parse expanded entries into the [[Cricsheet.read]] shape. */
  def matchesFrom(entries: DataFrame): DataFrame =
    entries
      .withColumn("parsed", from_json(col("text"), Cricsheet.schema))
      .select(
        col("parsed.meta").as("meta"),
        col("parsed.info").as("info"),
        col("parsed.innings").as("innings"),
        Cricsheet.matchId(col("entry")).as("match_id"))
}
