package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ext.Curation
import graft.streaming.{BatchState, StreamPoliteness}

class StreamPolitenessSpec extends SparkSpec {

  private val policy = Seq("burst.com" -> 10000L, "steady.org" -> 1800000L)

  private def fetches(rows: Seq[(String, Long)]) = {
    import spark.implicits._
    rows.toDF("domain", "sec")
      .select(col("domain"), to_timestamp(col("sec")).as("ts"))
  }

  // the c41 fixture: burst.com 6 fetches a second apart, steady.org 4
  // fetches an hour apart — split mid-BURST in time order (seconds!),
  // so burst.com's 2s->3s violation crosses the batch boundary and the
  // merge's boundary-gap path is genuinely exercised
  private val all = (0 until 6).map(s => ("burst.com", s.toLong)) ++
    (0 until 4).map(h => ("steady.org", h * 3600L))
  private val (c1, c2) = all.partition(_._2 < 3L)

  test("split cohorts: streaming compliance == the batch c41 audit") {
    val state = Files.createTempDirectory("sp_state").toString
    StreamPoliteness.processBatch(spark, fetches(c1), 0L, state, policy)
    StreamPoliteness.processBatch(spark, fetches(c2), 1L, state, policy)
    val streamed = StreamPoliteness.snapshot(spark, state).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getBoolean(4)))).toMap
    val batch = Curation.crawlPoliteness(fetches(all), policy).collect()
      .map(r => r.getAs[String]("domain") -> ((r.getAs[Long]("n_fetches"),
        r.getAs[Long]("n_violations"),
        Option(r.get(r.fieldIndex("min_gap_ms"))).map(_.asInstanceOf[Long]),
        r.getAs[Boolean]("compliant")))).toMap
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    // the boundary gap crosses the cohort split: burst.com's cohort-2
    // first fetch (3s) against cohort-1's last (2s) is itself a
    // violation — the merge must count it exactly once
    assert(streamed("burst.com") == ((6L, 5L, Some(1000L), false)))
    assert(streamed("steady.org") == ((4L, 0L, Some(3600000L), true)))
  }

  test("micro-batch replay is idempotent (at-least-once foreachBatch)") {
    val state = Files.createTempDirectory("sp_state2").toString
    StreamPoliteness.processBatch(spark, fetches(c1), 0L, state, policy)
    StreamPoliteness.processBatch(spark, fetches(c2), 1L, state, policy)
    val once = StreamPoliteness.snapshot(spark, state).collect().toSeq
    // crash-after-write replay: same batch, same id — the merge reads
    // strictly earlier batches, so it must not double-count itself
    StreamPoliteness.processBatch(spark, fetches(c2), 1L, state, policy)
    val again = StreamPoliteness.snapshot(spark, state).collect().toSeq
    assert(once == again, "replay changed the cumulative state")
  }

  test("out-of-order cross-batch arrival fails loudly, commits nothing") {
    val state = Files.createTempDirectory("sp_state5").toString
    StreamPoliteness.processBatch(spark, fetches(c2), 0L, state, policy)
    val before = StreamPoliteness.snapshot(spark, state).collect().toSeq
    // replaying the EARLIER cohort as a LATER batch puts burst.com's
    // first event (0s) before the state's last (5s): event-time
    // disorder — the silent alternative would be a negative bgap
    // counted as a violation and a negative min_gap_ms
    val e = intercept[Exception] {
      StreamPoliteness.processBatch(spark, fetches(c1), 1L, state, policy)
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("out-of-order cross-batch arrival"), msgs)
    // the failed batch committed nothing: state snapshot unchanged
    assert(StreamPoliteness.snapshot(spark, state).collect().toSeq == before)
  }

  test("end to end through readStream, checkpoint as ledger") {
    val landing = Files.createTempDirectory("sp_landing").toString
    val state = Files.createTempDirectory("sp_state3").toString
    val ckpt = Files.createTempDirectory("sp_ckpt").toString
    def write(name: String, rows: Seq[(String, Long)]): Unit = {
      val lines = rows.map { case (d, s) =>
        s"""{"domain": "$d", "ts": "${java.time.Instant.ofEpochSecond(s)}"}"""
      }.mkString("\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(landing, name), lines)
      ()
    }
    write("b1.json", c1)
    StreamPoliteness.run(spark, landing, state, ckpt, policy)
      .awaitTermination()
    write("b2.json", c2)
    StreamPoliteness.run(spark, landing, state, ckpt, policy)
      .awaitTermination()
    // a third run over the same landing dir re-processes nothing
    StreamPoliteness.run(spark, landing, state, ckpt, policy)
      .awaitTermination()
    val got = StreamPoliteness.snapshot(spark, state).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("burst.com" -> ((6L, 5L)),
      "steady.org" -> ((4L, 0L))), got.toString)
  }

  test("state probe aggregates the bucketed table with no Exchange") {
    val state = Files.createTempDirectory("sp_state4").toString
    StreamPoliteness.processBatch(spark,
      fetches((0L until 200L).map(i => (s"d$i.com", i))), 0L, state, policy)
    val table = spark.table(
      BatchState.tableName(s"$state/politeness"))
    val probe = table.filter(col("batch") < 1)
      .groupBy(col("domain"))
      .agg(max_by(struct(col("n_fetches")), col("batch")).as("s"))
    val plan = probe.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"state aggregation should ride the buckets:\n$plan")
    assert(plan.contains("SelectedBucketsCount"),
      s"state not read as a bucketed scan:\n$plan")
  }
}
