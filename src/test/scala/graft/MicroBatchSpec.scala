package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ext.Curation
import graft.streaming.{StreamDrift, StreamNovelty, StreamSitemap, StreamSketch, StreamUrlDedup}

/** End-to-end drains of the streaming entry points no other spec
  * starts: two JSON-lines files land one after the other, each is
  * drained with AvailableNow (batch ids 0 and 1), and every output the
  * stream leaves must equal calling the operator's per-batch step
  * directly on the same two batches.
  */
class MicroBatchSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Land each batch as a JSON-lines file in one landing dir and drain
    * `start(landing, checkpoint)` after each; returns the batches as
    * the stream's file source reads them back.
    */
  private def drainEach(schema: StructType, batches: Seq[DataFrame])(
      start: (String, String) => StreamingQuery): Seq[DataFrame] = {
    val landing = tmp("mb_landing")
    val ckpt = tmp("mb_ckpt")
    batches.zipWithIndex.map { case (b, i) =>
      val file = Paths.get(landing, s"b$i.json")
      Files.writeString(file, b.toJSON.collect().mkString("\n"))
      start(landing, ckpt).awaitTermination()
      spark.read.schema(schema).json(file.toString)
    }
  }

  private def rows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).toSeq.sorted

  /** Each named output is non-empty and identical under both roots; a
    * per-batch output also holds exactly the partitions of batches 0, 1.
    */
  private def assertSame(streamed: String, direct: String,
                         outputs: Seq[String], perBatch: Seq[String]): Unit = {
    for (o <- outputs) {
      val got = rows(s"$streamed/$o")
      assert(got.nonEmpty, s"$o is empty")
      assert(got == rows(s"$direct/$o"), s"$o: streamed vs processBatch")
    }
    for (o <- perBatch) {
      val parts = Paths.get(streamed, o).toFile.list()
        .filter(_.startsWith("batch=")).sorted.toSeq
      assert(parts == Seq("batch=0", "batch=1"), s"$o partitions $parts")
    }
  }

  test("StreamDrift.run drains two landed files to the processBatch state") {
    val ref = StreamDrift.referenceHistogram(
      Seq((0L, 10.0), (1L, 60.0), (2L, 110.0)).toDF("event_id", "value"))
    val (streamed, direct) = (tmp("mb_drift_s"), tmp("mb_drift_d"))
    val batches = drainEach(StreamDrift.eventSchema, Seq(
      Seq((0L, 10.0), (1L, 10.0), (2L, 60.0)).toDF("event_id", "value"),
      Seq((3L, 10.0), (4L, 160.0)).toDF("event_id", "value"))) {
      (landing, ckpt) => StreamDrift.run(spark, landing, streamed, ckpt, ref)
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamDrift.processBatch(spark, b, i.toLong, direct, ref) }
    assertSame(streamed, direct, Seq("bins", "drift"), Seq("bins"))
  }

  test("StreamNovelty.run drains two landed files to the processBatch scores and index") {
    val (streamed, direct) = (tmp("mb_nov_s"), tmp("mb_nov_d"))
    val batches = drainEach(graft.streaming.StreamDedup.docSchema, Seq(
      Seq((0L, "aa bb cc dd ee"), (1L, "aa bb cc dd ee")).toDF("doc_id", "text"),
      Seq((2L, "aa bb cc dd zz"), (3L, "pp qq rr ss")).toDF("doc_id", "text"))) {
      (landing, ckpt) =>
        StreamNovelty.run(spark, landing, streamed, s"$streamed/out", ckpt)
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamNovelty.processBatch(spark, b, i.toLong, direct, s"$direct/out") }
    assertSame(streamed, direct, Seq("out", "index"), Seq("out", "index"))
  }

  test("StreamSitemap.run drains two landed files to the processBatch discovery report") {
    val state = tmp("mb_sm_state")
    val frontier = (0L until 7L).toDF("doc_id")
      .withColumn("text", lit("x")).withColumn("source", lit("s"))
    StreamUrlDedup.processBatch(spark,
      Curation.urlPlant(frontier).select(col("doc_id"), col("url")),
      0L, state, tmp("mb_sm_drops") + "/d")
    val locs = Curation.DomainSitemaps.flatMap { case (d, xml) =>
      "<loc>([^<]*)</loc>".r.findAllMatchIn(xml).map(m => (d, m.group(1)))
    }.sortBy(_._2)
    val (c1, c2) = locs.splitAt(4)
    val (streamed, direct) = (tmp("mb_sm_s"), tmp("mb_sm_d"))
    val batches = drainEach(StreamSitemap.locSchema, Seq(
      c1.toDF("sm_domain", "url"), c2.toDF("sm_domain", "url"))) {
      (landing, ckpt) =>
        StreamSitemap.run(spark, landing, state, s"$streamed/disc", ckpt)
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamSitemap.processBatch(spark, b, i.toLong, state, s"$direct/disc") }
    assertSame(streamed, direct, Seq("disc"), Seq("disc"))
  }

  test("StreamSketch.runQuantile drains two landed files to the processQuantileBatch state") {
    def batch(ids: Seq[Long]) =
      ids.map(i => (i, (i % 37).toDouble)).toDF("event_id", "value")
    val (streamed, direct) = (tmp("mb_q_s"), tmp("mb_q_d"))
    val batches = drainEach(StreamSketch.quantileSchema,
      Seq(batch(0L until 40L), batch(40L until 90L))) { (landing, ckpt) =>
      StreamSketch.runQuantile(spark, landing, streamed, ckpt, k = 16)
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamSketch.processQuantileBatch(spark, b, i.toLong, direct, 16) }
    assertSame(streamed, direct, Seq("qsample", "qestimate"), Seq("qsample"))
  }

  test("StreamSketch.runHeavyHitters drains two landed files to the processHHBatch state") {
    val (streamed, direct) = (tmp("mb_hh_s"), tmp("mb_hh_d"))
    val batches = drainEach(StreamSketch.hhSchema, Seq(
      (Seq.fill(10)(7L) ++ Seq.fill(6)(3L) ++ Seq(1L, 2L)).toDF("k"),
      (Seq.fill(5)(7L) ++ Seq.fill(8)(9L) ++ Seq(1L)).toDF("k"))) {
      (landing, ckpt) =>
        StreamSketch.runHeavyHitters(spark, landing, streamed, ckpt, topN = 3)
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamSketch.processHHBatch(spark, b, i.toLong, direct, 3) }
    assertSame(streamed, direct, Seq("counts", "top"), Seq("counts"))
  }

  test("StreamSketch.runMgHeavyHitters drains two landed files to the processMgBatch state") {
    def batch(prefix: String) = (Seq.fill(30)("hot") ++
      (0 until 12).flatMap(i => Seq.fill(2)(s"$prefix$i"))).toDF("tok")
    val (streamed, direct) = (tmp("mb_mg_s"), tmp("mb_mg_d"))
    val batches = drainEach(StreamSketch.mgSchema,
      Seq(batch("a"), batch("b"))) { (landing, ckpt) =>
      StreamSketch.runMgHeavyHitters(spark, landing, streamed, ckpt, k = 4)
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamSketch.processMgBatch(spark, b, i.toLong, direct, 4) }
    assertSame(streamed, direct, Seq("mg", "mgtop"), Seq("mg"))
  }
}
