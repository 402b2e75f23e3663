package graft

import java.nio.file.{Files, Paths}

import graft.streaming.{BatchState, StreamValidate}

/** Streaming data-quality gate: admit/quarantine split semantics,
  * per-batch metrics, replay idempotency, end-to-end readStream.
  */
class StreamValidateSpec extends SparkSpec {

  import spark.implicits._

  private val Buckets = 8

  private case class Tables(admit: String, quar: String, met: String)

  private var n = 0
  private def fresh(): (Tables, String, String, String) = {
    n += 1
    val base = Files.createTempDirectory(s"sv_state$n").toString
    (Tables(BatchState.tableName(base + "/admit"),
      BatchState.tableName(base + "/quar"), BatchState.tableName(base + "/met")),
      base + "/admit", base + "/quar", base + "/met")
  }

  private def batchDf(rows: Seq[(Long, Double, Double, String)]) =
    rows.toDF("id", "qty", "price", "flag")

  private def process(t: Tables, p: (String, String, String),
                      rows: Seq[(Long, Double, Double, String)],
                      batchId: Long): Unit =
    StreamValidate.processBatch(spark, batchDf(rows), batchId,
      p._1, p._2, p._3, Buckets)

  test("clean rows admit; each defect quarantines with its named checks") {
    val (t, pa, pq, pm) = fresh()
    process(t, (pa, pq, pm), Seq(
      (1L, 5.0, 100.0, "A"), // clean
      (2L, 60.0, -1.0, "Z"), // range + nonneg + domain
      (3L, 5.0, 100.0, null)), 0L) // completeness
    val adm = spark.table(t.admit).collect().map(_.getAs[Long]("id")).toSeq
    assert(adm == Seq(1L))
    val q = spark.table(t.quar).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("failed_checks"))
      .toMap
    assert(q == Map(
      2L -> "domain_flag,nonneg_price,range_qty_1_50",
      3L -> "complete_flag"))
    val met = spark.table(t.met).collect()
      .map(r => r.getAs[String]("check_name") ->
        (r.getAs[Long]("violations"), r.getAs[Long]("n_rows"))).toMap
    assert(met == Map(
      "complete_id" -> (0L, 3L),
      "complete_flag" -> (1L, 3L), "range_qty_1_50" -> (1L, 3L),
      "nonneg_price" -> (1L, 3L), "domain_flag" -> (1L, 3L)))
  }

  test("null-id rows quarantine under complete_id instead of vanishing") {
    val (t, pa, pq, pm) = fresh()
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, 5.0, 100.0, "A"),
      org.apache.spark.sql.Row(null, 5.0, 100.0, "A"),
      org.apache.spark.sql.Row(null, 60.0, 100.0, "A"))
    StreamValidate.processBatch(spark,
      spark.createDataFrame(rows, StreamValidate.rowSchema), 0L,
      pa, pq, pm, Buckets)
    assert(spark.table(t.admit).collect()
      .map(_.getAs[Long]("id")).toSeq == Seq(1L))
    val q = spark.table(t.quar).collect()
      .map(_.getAs[String]("failed_checks")).sorted.toSeq
    assert(q == Seq("complete_id", "complete_id,range_qty_1_50"))
    val met = spark.table(t.met).collect()
      .map(r => r.getAs[String]("check_name") ->
        (r.getAs[Long]("violations"), r.getAs[Long]("n_rows"))).toMap
    assert(met("complete_id") == (2L, 3L))
    assert(met("range_qty_1_50") == (1L, 3L))
  }

  test("replaying a batch rewrites identical partitions (at-least-once safe)") {
    val (t, pa, pq, pm) = fresh()
    val rows = Seq((1L, 5.0, 100.0, "A"), (2L, 60.0, 1.0, "A"))
    process(t, (pa, pq, pm), rows, 0L)
    process(t, (pa, pq, pm), Seq((3L, 5.0, 1.0, "N")), 1L)
    val before = (
      spark.table(t.admit).collect().toSet,
      spark.table(t.quar).collect().toSet,
      spark.table(t.met).collect().toSet)
    process(t, (pa, pq, pm), rows, 0L) // replay batch 0
    val after = (
      spark.table(t.admit).collect().toSet,
      spark.table(t.quar).collect().toSet,
      spark.table(t.met).collect().toSet)
    assert(after == before)
  }

  test("end-to-end readStream gates two micro-batches") {
    val (t, pa, pq, pm) = fresh()
    val landing = Files.createTempDirectory("sv_landing").toString
    val ckpt = Files.createTempDirectory("sv_ckpt").toString
    Files.writeString(Paths.get(landing, "b0.json"),
      """{"id": 1, "qty": 5.0, "price": 10.0, "flag": "A"}
        |{"id": 2, "qty": 99.0, "price": 10.0, "flag": "A"}""".stripMargin)
    StreamValidate.run(spark, landing, pa, pq, pm, ckpt,
      Buckets).awaitTermination()
    Files.writeString(Paths.get(landing, "b1.json"),
      """{"id": 3, "qty": 5.0, "price": -2.0, "flag": "R"}""")
    StreamValidate.run(spark, landing, pa, pq, pm, ckpt,
      Buckets).awaitTermination()
    assert(spark.table(t.admit).collect()
      .map(_.getAs[Long]("id")).toSeq == Seq(1L))
    assert(spark.table(t.quar).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("failed_checks"))
      .toMap == Map(2L -> "range_qty_1_50", 3L -> "nonneg_price"))
  }
}
