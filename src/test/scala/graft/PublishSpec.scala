package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.extract.Extractors
import graft.model.Cricsheet
import graft.publish.PublishJob

class PublishSpec extends SparkSpec {

  lazy val raw = Cricsheet.read(spark, fixturesDir).cache()
  lazy val mw = PublishJob.buildMatchwise(Extractors.matchwise(raw)).cache()

  test("match_number is dense 1..N in (date, match_id) order") {
    val rows = mw.select(col("match_number"), col("match_id")).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    assert(rows.toSeq == Seq((1, 1001), (2, 1002), (3, 1003),
      (4, 1004), (5, 1005), (6, 1006)))
  }

  test("matchwise columns match the shipped artifact header") {
    assert(mw.columns.toSeq == Cricsheet.matchwiseColumns)
  }

  test("deliverywise gets match_number joined and 4-key ordering") {
    val dw = PublishJob.buildDeliverywise(Extractors.deliverywise(raw), mw)
    assert(dw.columns.toSeq == Cricsheet.deliverywiseColumns)
    val key = dw.select(col("match_number"), col("innings_number"),
      col("over_number"), col("ball_number")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(key.toSeq == key.toSeq.sorted)
    assert(dw.filter(col("match_number").isNull).count() == 0)
  }

  test("CSV artifact matches pandas conventions (header, nulls, floats, quoting)") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val quoted = mw.withColumn("ground_name",
      when(col("match_id") === 1001, lit("Eden Park, Auckland"))
        .otherwise(col("ground_name")))
    PublishJob.writeCsv(quoted, s"$dir/matchwise")
    val part = Files.list(Paths.get(s"$dir/matchwise")).iterator().asScala
      .find(_.toString.endsWith(".csv")).get
    val lines = Files.readAllLines(part).asScala
    assert(lines.head == Cricsheet.matchwiseColumns.mkString(","))
    // f01 row: margin_runs renders 7.0, missing margin_wickets/method empty,
    // comma-bearing ground name quoted
    val f01 = lines.find(_.contains("1001")).get
    assert(f01 == "1,1001,2020-01-01,Fixture Cup,\"Eden Park, Auckland\"," +
      "Alphaville,Alpha,Beta,Alpha,bat,13,6,Alpha,7.0,,,A One")
    // f03 row: sparse fields all empty, team_2_total_runs = 0
    val f03 = lines.find(_.contains("1003")).get
    assert(f03 == "3,1003,2020-03-03,,Ground C,,Eps,Zeta,Eps,bat,1,0,no result,,,,")
  }

  test("deliverywise CSV golden rows (byte-level pandas conventions)") {
    val dir = Files.createTempDirectory("graft_dw_csv").toString
    val dw = PublishJob.buildDeliverywise(
      Extractors.deliverywise(raw), mw)
    PublishJob.writeCsv(dw, s"$dir/dw")
    val part = Files.list(Paths.get(s"$dir/dw")).iterator().asScala
      .find(_.toString.endsWith(".csv")).get
    val lines = Files.readAllLines(part).asScala
    assert(lines.head == Cricsheet.deliverywiseColumns.mkString(","))
    // f01 first ball: plain ints, empty wicket fields, match_number joined
    assert(lines(1) == "1001,1,Alpha,Beta,0,1,A One,B One,A Two," +
      "0,0,0,0,0,1,0,1,,,,1")
    // f02 wide ball: extras split into the wide_runs column
    val wide = lines.find(l => l.startsWith("1002,1,Gamma,Delta,0,1,")).get
    assert(wide == "1002,1,Gamma,Delta,0,1,G One,D One,G Two," +
      "1,0,0,0,0,0,1,1,,,,2")
    // f02 double-wicket ball: first wicket + first fielder only
    val wicket = lines.find(l => l.startsWith("1002,1,Gamma,Delta,0,6,")).get
    assert(wicket == "1002,1,Gamma,Delta,0,6,G One,D One,G Two," +
      "0,0,0,0,0,1,0,1,G One,run out,D Five,2")
  }

  test("publish plans: one materialized matchwise frame, no exchange, no recompute") {
    val fresh = PublishJob.buildMatchwise(Extractors.matchwise(raw))
    val plan = fresh.queryExecution.optimizedPlan
    assert(plan.isInstanceOf[LogicalRDD], s"not materialized:\n$plan")
    assert(fresh.rdd.getNumPartitions == 1)

    val dir = Files.createTempDirectory("graft_plan").toString
    val dw = PublishJob.buildDeliverywise(Extractors.deliverywise(raw), fresh)
    // stage scopes name the operators each job ran; the matchwise
    // window shows as a "Window" scope wherever it is recomputed
    val scopes = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        scopes.synchronized {
          scopes ++= e.stageInfo.rddInfos.flatMap(_.scope).map(_.name)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val (mwRows, dwRows, note) = try {
      var out = (0L, 0L, "")
      val jobs = JobProfile.profiled(spark, "publish") {
        out = (PublishJob.writeCsv(fresh, s"$dir/mw"),
          PublishJob.writeCsv(dw, s"$dir/dw"), PublishJob.versionNote(fresh))
      }
      // matchwise write, key broadcast, deliverywise write, note
      assert(jobs.size <= 4, jobs.mkString("\n"))
      out
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(!scopes.contains("Window"), scopes.distinct.mkString(", "))
    assert((mwRows, dwRows) == ((fresh.count(), dw.count())))
    assert(note == "Updated till the match between Mu and Nu on 06/06/2020")

    val exchanges = new AdaptiveSparkPlanHelper {}
      .collect(dw.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }
    assert(!exchanges.exists {
      case _: RangePartitioning | _: HashPartitioning => true
      case _ => false
    }, dw.queryExecution.executedPlan.toString)
  }

  test("version note formats the latest match (P8/P9)") {
    assert(PublishJob.versionNote(mw) ==
      "Updated till the match between Mu and Nu on 06/06/2020")
  }
}
