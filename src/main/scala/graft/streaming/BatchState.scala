package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A streaming operator's persisted state: an EXTERNAL parquet table
  * over `path`, partitioned by a `batch BIGINT` column and
  * bucketed+sorted by the operator's keys. This is the only code that
  * knows how such a table is named, registered, read and written.
  *
  *  - Each micro-batch overwrites only its own `batch=<id>` partition
  *    ([[overwrite]]), so an at-least-once replay ([[MicroBatch]])
  *    rewrites identical rows instead of appending a second copy.
  *  - A batch probes only STRICTLY EARLIER batches ([[before]]), so a
  *    replay never sees its own partial writes as prior state.
  *  - Every read is bucket-partitioned, so a probe equi-join or
  *    groupBy on the bucket keys plans with NO Exchange on the state
  *    side.
  *
  * The files under `path` are the durable state; the catalog entry is
  * not (local sessions use an in-memory catalog). [[BatchState.open]]
  * derives the catalog name from the path, and registers the table
  * with its existing `batch=` partitions recovered from the
  * filesystem whenever the catalog lacks it — a reader in a fresh
  * session sees every batch an earlier one wrote.
  */
final class BatchState private (spark: SparkSession, val path: String) {

  /** Catalog name of the table over [[path]]. */
  val table: String = BatchState.tableName(path)

  /** Every batch's rows, `batch` column included. */
  def all: DataFrame = spark.table(table)

  /** Rows of batches strictly before `batchId` — the replay-safe probe. */
  def before(batchId: Long): DataFrame = all.filter(col("batch") < batchId)

  /** Rows of batches up to and including `batchId`. */
  def through(batchId: Long): DataFrame = all.filter(col("batch") <= batchId)

  /** The highest-batch row per `keys` of `rows` (default: every batch),
    * as `keys ++ values` — a partial-aggregable max_by over the batch
    * id, which plans with ZERO Exchange when `keys` cover the bucket
    * keys.
    */
  def latest(keys: Seq[String], values: Seq[String],
             rows: DataFrame = all): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(max_by(struct(values.map(col): _*), col("batch")).as("s"))
      .select(keys.map(col) ++ values.map(v => col(s"s.$v").as(v)): _*)

  /** Overwrite EXACTLY the `batch=<batchId>` partition with `df`, which
    * must carry the table's data columns (order-insensitive). Dynamic
    * partition overwrite rewrites the same partition with the same
    * content on replay and never touches other batches.
    */
  def overwrite(df: DataFrame, batchId: Long): Unit =
    BatchState.overwriteModeLock.synchronized {
      val ordered = all.columns.toSeq
      // insertInto ignores writer options; dynamic-vs-static lives in the
      // session conf (static would truncate ALL batches, not just this
      // one) — the conf of the session that plans `df`'s write, which
      // inside foreachBatch is the stream's own clone of `spark`
      val conf = df.sparkSession.conf
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prior = conf.getOption(key)
      conf.set(key, "dynamic")
      try df.withColumn("batch", lit(batchId))
        .select(ordered.map(col): _*)
        .write.mode(SaveMode.Overwrite)
        .insertInto(table)
      finally prior match {
        case Some(v) => conf.set(key, v)
        case None => conf.unset(key)
      }
    }

  /** Remove batch `batchId`'s partition from the catalog and its files. */
  def dropBatch(batchId: Long): Unit = {
    spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (batch=$batchId)")
    val p = new Path(MicroBatch.partition(path, batchId))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }
}

object BatchState {

  /** Open the state table over `path` with data columns `cols` (name ->
    * SQL type), bucketed+sorted by `keys` into `buckets` buckets. The
    * layout is fixed when the files are first written: a reader must
    * pass its writer's `keys` and `buckets`.
    */
  def open(spark: SparkSession, path: String, cols: Seq[(String, String)],
           keys: Seq[String], buckets: Int): BatchState = {
    val state = new BatchState(spark, path)
    if (!spark.catalog.tableExists(state.table)) {
      // RECOVER PARTITIONS lists the location; make sure it exists even
      // before the first batch has written anything
      val p = new Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
      val colsDdl = (cols.map { case (n, t) => s"$n $t" } :+ "batch BIGINT")
        .mkString(", ")
      spark.sql(
        s"""CREATE TABLE ${state.table} ($colsDdl) USING parquet
           |PARTITIONED BY (batch)
           |CLUSTERED BY (${keys.mkString(", ")})
           |SORTED BY (${keys.mkString(", ")}) INTO $buckets BUCKETS
           |LOCATION '$path'""".stripMargin)
      spark.sql(s"ALTER TABLE ${state.table} RECOVER PARTITIONS")
    }
    state
  }

  /** Catalog name for the state table over `path`: MD5 of the path
    * keeps the name collision-free across distinct state dirs in one
    * session (31-bit `String.hashCode` cannot, and
    * `math.abs(Int.MinValue)` is negative — an invalid identifier).
    */
  def tableName(path: String): String =
    "graft_state_" + java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(12)

  /** The partitionOverwriteMode toggle in [[BatchState.overwrite]]
    * mutates SESSION-global conf; two concurrent foreachBatch writers
    * on one session (e.g. StreamDedup + StreamSimilarity) could
    * interleave so one restores "static" while the other's insertInto
    * is still planning — which would truncate every batch partition.
    * All toggle+write sequences are serialized through this lock
    * (driver-side only; the writes themselves still run distributed).
    */
  private val overwriteModeLock = new Object
}
