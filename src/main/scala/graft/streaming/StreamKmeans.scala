package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.operators.Layout

/** Streaming MINI-BATCH k-means — the online twin of
  * [[graft.ext.Similarity.kmeansLloyd]] (Sculley WWW'10's mini-batch
  * update re-expressed as idempotent batch-keyed state): each arriving
  * vector batch is assigned to the centroids implied by ALL PRIOR
  * batches' moments, and contributes its own per-cell moment partition
  * — so centroids drift with the stream while every micro-batch's
  * write stays replay-idempotent.
  *
  * State = TWO tables under the StreamDedup contract: `seed` (written
  * once by batch 0 — the k lowest-vec_id quantized vectors of the
  * first batch, the kmeansLloyd determinism) and `moments` —
  * batch-partitioned (c_id, pos, s, n) partial sums. The centroid a
  * batch assigns under is total-prior-moments' truncating-div mean
  * per dimension, seed where a cell has no mass yet; a replayed batch
  * reads STRICTLY EARLIER moments only, recomputes the identical
  * assignment, and overwrites its own partitions byte-identically.
  *
  * Scale shape per batch: ONE bounded k·d collect (prior moments +
  * seed), ONE k·d centroid-literal broadcast against the batch scan
  * (the s39 distance identity in exact integer-valued doubles), ONE
  * map-side-combining min_by per vector, ONE groupBy(c_id, pos) over
  * the batch — O(batch), never O(stream).
  */
object StreamKmeans {

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private val MomentCols: Seq[(String, String)] = Seq(
    "c_id" -> "INT", "pos" -> "INT", "s" -> "BIGINT", "n" -> "BIGINT")

  def run(spark: SparkSession, landingDir: String, stateDir: String,
          outDir: String, checkpointDir: String, k: Int,
          buckets: Int = 8): StreamingQuery =
    MicroBatch.run(spark, vecSchema, landingDir, checkpointDir) {
      (batch, batchId) =>
        processBatch(spark, batch, batchId, stateDir, outDir, k, buckets)
    }

  /** One idempotent micro-batch step (public for replay tests). */
  def processBatch(spark: SparkSession, batch0: DataFrame, batchId: Long,
                   stateDir: String, outDir: String, k: Int,
                   buckets: Int): Unit = {
    import spark.implicits._
    val table = Layout.stateTableName("graft_kmeans_moments", stateDir)
    Layout.ensureBucketedBatchTable(spark, table, s"$stateDir/moments",
      MomentCols, Seq("c_id"), buckets)
    val quant = batch0
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1024d).cast("float")).as("qv"))
      .localCheckpoint()
    val seedPath = s"$stateDir/seed"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(seedPath), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(seedPath))) {
      // batch 0 (or its replay before any write): seed from this
      // batch's k lowest ids — deterministic, so a replay re-derives
      // the identical seed before the exists() check short-circuits.
      // Validate BEFORE persisting: an undersized first batch must stay
      // a transient failure, not wedge every later batch on a short seed.
      val rows = quant.orderBy(col("vec_id")).limit(k).collect()
      require(rows.length == k,
        s"first batch must carry at least k=$k vectors to seed, got ${rows.length}")
      rows.zipWithIndex
        .flatMap { case (r, cid) =>
          r.getSeq[Float](1).zipWithIndex.map { case (v, p) =>
            (cid, p, v.toLong)
          }
        }.toSeq.toDF("c_id", "pos", "c0")
        .coalesce(1).write.mode("overwrite").parquet(seedPath)
    }
    val seed = spark.read.parquet(seedPath)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    require(seed.keys.map(_._1).toSet.size == k,
      s"seed table at $seedPath does not carry k=$k centroids")
    val prior = spark.table(table).filter(col("batch") < batchId)
      .groupBy(col("c_id"), col("pos"))
      .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val d = seed.keys.map(_._2).max + 1
    val cents = (0 until k).map { cid =>
      val arr = Array.tabulate(d) { p =>
        prior.get((cid, p)).filter(_._2 > 0)
          .map { case (s, n) => (s / n).toFloat }
          .getOrElse(seed((cid, p)).toFloat)
      }
      (cid, arr, arr.map(v => v.toDouble * v).sum)
    }
    val cdf = broadcast(cents.toDF("c_id", "c_arr", "cc"))
    val assigned = quant.crossJoin(cdf)
      .withColumn("dist",
        graft.ext.Similarity.dotCol(col("qv"), col("qv")) -
          lit(2d) * graft.ext.Similarity.dotCol(col("qv"), col("c_arr")) +
          col("cc"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("c_id"), struct(col("dist"), col("c_id"))).as("c_id"))
      .localCheckpoint() // feeds the output write AND the moment write
    MicroBatch.writeBatch(assigned.coalesce(1), outDir, batchId)
    val moments = assigned
      .join(quant, "vec_id")
      .select(col("c_id"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy(col("c_id"), col("pos"))
      .agg(sum(col("x").cast("long")).as("s"), count(lit(1)).as("n"))
    Layout.overwriteBatch(moments, table, batchId)
  }
}
