package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cricsheet match-JSON data model.
  *
  * Schema shape from the reference's field accesses
  * (extract_matchwise_cricsheet_data_lambda_function.py:56-98 and
  * extract_deliverywise_cricsheet_data_lambda_function.py:96-202 in
  * /root/reference). Every nested field is nullable — the reference
  * defaults via .get() everywhere, and historical Cricsheet files omit
  * event/city/outcome.by/player_of_match freely.
  */
object Cricsheet {

  val deliverySchema: StructType = StructType(Seq(
    StructField("batter", StringType),
    StructField("bowler", StringType),
    StructField("non_striker", StringType),
    StructField("runs", StructType(Seq(
      StructField("batter", LongType),
      StructField("extras", LongType),
      StructField("total", LongType)))),
    StructField("extras", StructType(Seq(
      StructField("wides", LongType),
      StructField("legbyes", LongType),
      StructField("byes", LongType),
      StructField("noballs", LongType),
      StructField("penalty", LongType)))),
    StructField("wickets", ArrayType(StructType(Seq(
      StructField("player_out", StringType),
      StructField("kind", StringType),
      StructField("fielders", ArrayType(StructType(Seq(
        StructField("name", StringType)))))))))))

  val schema: StructType = StructType(Seq(
    StructField("meta", StructType(Seq(
      StructField("data_version", StringType),
      StructField("created", StringType),
      StructField("revision", LongType)))),
    StructField("info", StructType(Seq(
      StructField("match_type_number", LongType),
      StructField("dates", ArrayType(StringType)),
      StructField("event", StructType(Seq(StructField("name", StringType)))),
      StructField("venue", StringType),
      StructField("city", StringType),
      StructField("teams", ArrayType(StringType)),
      StructField("toss", StructType(Seq(
        StructField("winner", StringType),
        StructField("decision", StringType)))),
      StructField("outcome", StructType(Seq(
        StructField("winner", StringType),
        StructField("result", StringType),
        StructField("by", StructType(Seq(
          StructField("runs", LongType),
          StructField("wickets", LongType)))),
        StructField("method", StringType)))),
      StructField("player_of_match", ArrayType(StringType))))),
    StructField("innings", ArrayType(StructType(Seq(
      StructField("team", StringType),
      StructField("overs", ArrayType(StructType(Seq(
        StructField("over", LongType),
        StructField("deliveries", ArrayType(deliverySchema))))))))))))

  /** matchwise_data.csv column order (header of the shipped artifact). */
  val matchwiseColumns: Seq[String] = Seq(
    "match_number", "match_id", "date", "event_name", "ground_name",
    "ground_city", "team_1", "team_2", "toss_winner", "toss_decision",
    "team_1_total_runs", "team_2_total_runs", "winner", "margin_runs",
    "margin_wickets", "winning_method", "player_of_the_match")

  /** deliverywise_data.csv column order (constants.py:19-40 + joined
    * match_number).
    */
  val deliverywiseColumns: Seq[String] = Seq(
    "match_id", "innings_number", "batting_team", "bowling_team",
    "over_number", "ball_number", "batter", "bowler", "non_striker",
    "wide_runs", "leg_bye_runs", "bye_runs", "no_ball_runs",
    "penalty_runs", "batsman_runs", "extra_runs", "total_runs",
    "player_dismissed", "dismissal_type", "fielder_name", "match_number")

  /** Read a directory/glob of one-object-per-file Cricsheet JSONs.
    * match_id comes from the file name (<match_id>.json), exactly like
    * the reference's parse_eventbridge_event_message (utils.py:99-101).
    * One input file = one Spark partition split, so per-file parallelism
    * matches the reference's per-file Lambda fan-out for free.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).option("multiLine", "true").json(path)
      .withColumn("match_id", matchId(input_file_name()))

  /** match_id from a file or entry name: the digits before `.json`, or
    * null when there are none. ANSI mode makes cast('') throw, so a
    * non-numeric name must map to null explicitly rather than through
    * a failed cast.
    */
  def matchId(name: Column): Column = {
    val idStr = regexp_extract(name, "(\\d+)\\.json", 1)
    when(idStr =!= "", idStr.cast("int"))
  }
}
