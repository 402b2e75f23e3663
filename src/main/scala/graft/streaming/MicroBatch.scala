package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one micro-batch contract every streaming operator runs on — the
  * reference's S3-event -> Lambda -> DynamoDB-ledger plumbing in
  * Spark's own parts:
  *
  *  - a landing directory is the event source (file arrival IS the
  *    event), read as JSON lines against a declared schema (a stream
  *    has no inference pass);
  *  - the checkpoint IS the ledger: an AvailableNow trigger drains every
  *    landed file exactly once across restarts, then stops — the
  *    weekly catch-up run;
  *  - each micro-batch runs one `step(batch, batchId)`, AT-LEAST-ONCE:
  *    a crash after the step's writes but before the checkpoint commit
  *    replays the same batch under the same id. So every write a step
  *    makes is keyed by batch id — [[writeBatch]] overwrites the
  *    `batch=<id>` partition of a parquet dir, and
  *    [[graft.operators.Layout.overwriteBatch]] the same partition of a
  *    bucketed state table — and every probe of accumulated state reads
  *    only STRICTLY EARLIER batches, so a replay rewrites identical rows
  *    instead of appending a second copy.
  */
object MicroBatch {

  /** JSON-lines landing source over `dir`, one record per line. */
  def landing(spark: SparkSession, schema: StructType, dir: String): DataFrame =
    spark.readStream.schema(schema).json(dir)

  /** Drain the JSON-lines files landed in `landingDir` through `step`.
    * Returns the started query (await it).
    */
  def run(spark: SparkSession, schema: StructType, landingDir: String,
          checkpointDir: String)(
      step: (DataFrame, Long) => Unit): StreamingQuery =
    run(landing(spark, schema, landingDir), checkpointDir,
      OutputMode.Append)(step)

  /** Drain any streaming `source` — a stream derived from [[landing]], or
    * a source with its own options — through `step`, in the output
    * `mode` the source's stateful operators require.
    */
  def run[T](source: Dataset[T], checkpointDir: String, mode: OutputMode)(
      step: (Dataset[T], Long) => Unit): StreamingQuery =
    source.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(step)
      .start()

  /** Batch `batchId`'s partition directory under `dir`. */
  def partition(dir: String, batchId: Long): String = s"$dir/batch=$batchId"

  /** Overwrite batch `batchId`'s partition of the parquet dir `dir`. */
  def writeBatch(df: DataFrame, dir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(partition(dir, batchId))
}
