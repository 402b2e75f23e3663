package graft.publish

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.PlanCapture.CheckpointOps
import graft.model.Cricsheet

/** Dataset preparation: ordered, renumbered CSV artifacts
  * (convert_mongo_db_data_to_csv_lambda.py) plus the Kaggle version
  * note (upload_dataset_to_kaggle_lambda.py:63-67).
  *
  * Each artifact is one file with one writer, so both frames are built
  * on one partition: dedup, numbering and sort run without an
  * exchange. Unlike the reference — which recomputes the whole
  * matchwise pipeline a second time for the join build side
  * (convert_mongo…:53 re-invokes the property) — the matchwise frame is
  * materialized once, and its CSV, the deliverywise join keys and the
  * version note all read that one copy.
  */
object PublishJob {

  /** Sort by (date, match_id) and assign the dense 1..N match_number
    * (P3/P4). The result is materialized, one partition in
    * match_number order.
    */
  def buildMatchwise(extracted: DataFrame): DataFrame = {
    // primary-key semantics of the Mongo _id (K2): one row per match_id
    // instead of the reference's crash-on-duplicate insert. Which copy
    // survives is unspecified — dropDuplicates keeps whichever row its
    // aggregate meets first; ROADMAP direction 1 defines the rule
    extracted.coalesce(1)
      .dropDuplicates("match_id")
      .withColumn("match_number",
        row_number().over(Window.orderBy(col("date"), col("match_id"))))
      .select(Cricsheet.matchwiseColumns.map(col): _*)
      .orderBy(col("match_number"))
      .cpGuard()
  }

  /** Left-join match_number onto deliveries via the (tiny, broadcast)
    * key projection (P5/P6) and order by the 4-part ball key (P7), all
    * on one partition.
    */
  def buildDeliverywise(deliveries: DataFrame, matchwise: DataFrame): DataFrame = {
    val keys = matchwise.select(col("match_number"), col("match_id"))
    deliveries.coalesce(1)
      // composite-key semantics of the Mongo _id (K3)
      .dropDuplicates("match_id", "innings_number", "over_number", "ball_number")
      .join(broadcast(keys), Seq("match_id"), "left")
      .select(Cricsheet.deliverywiseColumns.map(col): _*)
      .orderBy(col("match_number"), col("innings_number"),
        col("over_number"), col("ball_number"))
  }

  /** Write `df` as the reference's one-file CSV artifact with
    * pandas-compatible conventions: header, nulls and empty strings
    * both rendered as nothing, minimal quoting. Returns the number of
    * rows written, observed during the write itself.
    */
  def writeCsv(df: DataFrame, path: String): Long = {
    val written = Observation()
    df.observe(written, count(lit(1)).as("rows")).coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("emptyValue", "")
      .csv(path)
    written.get("rows").asInstanceOf[Long]
  }

  /** Kaggle dataset-metadata.json content (K6 contract,
    * upload_dataset_to_kaggle_lambda.py:45-60): the engine produces the
    * artifact + metadata; the API upload itself is out-of-engine.
    */
  def kaggleMetadata(datasetId: String, title: String): String =
    s"""{
       |  "id": "$datasetId",
       |  "title": "$title",
       |  "licenses": [{"name": "CC0-1.0"}]
       |}""".stripMargin

  /** "Updated till the match between {team_1} and {team_2} on
    * {dd/MM/yyyy}" from the latest match (P8/P9).
    */
  def versionNote(matchwise: DataFrame): String =
    matchwise
      .orderBy(col("date").desc, col("match_id").desc).limit(1)
      .select(col("team_1"), col("team_2"),
        date_format(to_date(col("date")), "dd/MM/yyyy").as("d"))
      .collect().headOption
      .map(last => s"Updated till the match between ${last.getString(0)} and " +
        s"${last.getString(1)} on ${last.getString(2)}")
      .getOrElse("No matches published")
}
