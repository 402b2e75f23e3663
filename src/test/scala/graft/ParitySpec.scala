package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.analyze.CricketQueries
import graft.core.RunListener
import graft.extract.Extractors
import graft.model.Cricsheet
import graft.publish.PublishJob

/** Parity against the REAL shipped artifact (/root/reference/
  * matchwise_data.csv, 3037 matches 2005-2025) and source/sink
  * round-trips the reference relies on (SURVEY S6/K5/K8).
  *
  * The shipped artifact belongs to the read-only reference snapshot,
  * which lives outside the repository. The two tests that read it run
  * only where that file exists and are canceled elsewhere; every other
  * test here runs on the in-repo fixtures.
  */
class ParitySpec extends SparkSpec {

  val shippedPath = "/root/reference/matchwise_data.csv"

  lazy val shipped = spark.read
    .option("header", "true").option("inferSchema", "true")
    .csv(shippedPath)
    .cache()

  private def assumeShipped(): Unit =
    assume(Files.exists(Paths.get(shippedPath)),
      s"shipped artifact $shippedPath is absent (reference snapshot not mounted)")

  test("shipped artifact invariants hold (SURVEY §5.2)") {
    assumeShipped()
    assert(shipped.count() == 3037)
    assert(shipped.columns.toSeq == Cricsheet.matchwiseColumns)

    // match_number is the dense 1..N sequence in (date, match_id) order
    val renumbered = shipped
      .withColumn("expect", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("date"), col("match_id"))))
    assert(renumbered.filter(col("match_number") =!= col("expect")).count() == 0)

    // winner is a team name, 'tie', or 'no result'
    val bad = shipped.filter(!(col("winner") === col("team_1") ||
      col("winner") === col("team_2") ||
      lower(col("winner")).isin("tie", "no result") || col("winner").isNull))
    assert(bad.count() == 0)

    // margins are mutually exclusive on decided-by matches
    assert(shipped.filter(col("margin_runs").isNotNull &&
      col("margin_wickets").isNotNull).count() == 0)
  }

  test("A-workload runs on the real 3037-match table") {
    assumeShipped()
    val years = CricketQueries.matchesPerYear(shipped).collect()
    assert(years.head.getInt(0) == 2005 && years.last.getInt(0) == 2025)
    assert(years.map(_.getLong(1)).sum == 3037)

    val teams = CricketQueries.allTeams(shipped).count()
    assert(teams > 50) // T20I includes many associate nations

    val toss = CricketQueries.tossWinnerWon(shipped).collect()
      .map(r => (r.getBoolean(0), r.getLong(1))).toMap
    assert(toss.values.sum > 2800) // completed, non-tie matches
  }

  test("CSV sink round-trips through the CSV source (K5 -> S6)") {
    val dir = Files.createTempDirectory("graft_rt").toString
    val mw = PublishJob.buildMatchwise(
      Extractors.matchwise(Cricsheet.read(spark, fixturesDir)))
    PublishJob.writeCsv(mw, s"$dir/mw")
    val back = spark.read
      .option("header", "true").option("inferSchema", "true")
      .csv(s"$dir/mw")
    assert(back.count() == mw.count())
    assert(back.columns.toSeq == mw.columns.toSeq)
    // numeric/null fidelity through the round-trip
    val a = back.select("match_id", "team_1_total_runs", "margin_runs")
      .collect().map(_.toSeq).toSet
    val b = mw.select("match_id", "team_1_total_runs", "margin_runs")
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("run listener observes job outcomes (K8 hook)") {
    val seen = scala.collection.mutable.Buffer.empty[String]
    val l = RunListener.attach(spark, m => seen += m)
    Cricsheet.read(spark, fixturesDir).limit(5).count()
    // listener bus is async; poll briefly for delivery. RunListener.record
    // appends to both buffers under the listener's lock on the bus thread,
    // so read them under that lock too.
    def events = l.synchronized(l.events.toList)
    val deadline = System.currentTimeMillis() + 10000
    while (!events.exists(_.contains("finished: JobSucceeded")) &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(events.exists(_.contains("finished: JobSucceeded")))
    assert(l.synchronized(seen.nonEmpty))
    spark.sparkContext.removeSparkListener(l)
  }

  test("kaggle metadata contract (K6)") {
    val md = PublishJob.kaggleMetadata("user/mens-t20i", "Men's T20I data")
    assert(md.contains("\"id\": \"user/mens-t20i\""))
    assert(md.contains("licenses"))
  }
}
