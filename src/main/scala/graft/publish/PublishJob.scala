package graft.publish

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Cricsheet

/** Dataset preparation: ordered, renumbered CSV artifacts
  * (convert_mongo_db_data_to_csv_lambda.py) plus the Kaggle version
  * note (upload_dataset_to_kaggle_lambda.py:63-67).
  *
  * Unlike the reference — which recomputes the whole matchwise pipeline
  * a second time for the join build side (convert_mongo…:53 re-invokes
  * the property) — the matchwise frame is built once and reused.
  */
object PublishJob {

  /** Sort by (date, match_id) and assign the dense 1..N match_number
    * (P3/P4).
    */
  def buildMatchwise(extracted: DataFrame): DataFrame = {
    // primary-key semantics of the Mongo _id (K2): last-write-wins dedup
    // on match_id instead of the reference's crash-on-duplicate insert
    extracted.dropDuplicates("match_id")
      .withColumn("match_number",
        row_number().over(Window.orderBy(col("date"), col("match_id"))))
      .select(Cricsheet.matchwiseColumns.map(col): _*)
      .orderBy(col("match_number"))
  }

  /** Left-join match_number onto deliveries via the (tiny, broadcast)
    * key projection (P5/P6) and order by the 4-part ball key (P7).
    */
  def buildDeliverywise(deliveries: DataFrame, matchwise: DataFrame): DataFrame = {
    val keys = matchwise.select(col("match_number"), col("match_id"))
    deliveries
      // composite-key semantics of the Mongo _id (K3)
      .dropDuplicates("match_id", "innings_number", "over_number", "ball_number")
      .join(broadcast(keys), Seq("match_id"), "left")
      .select(Cricsheet.deliverywiseColumns.map(col): _*)
      .orderBy(col("match_number"), col("innings_number"),
        col("over_number"), col("ball_number"))
  }

  /** CSV write with pandas-compatible conventions: header, nulls and
    * empty strings both rendered as nothing, minimal quoting.
    * `singleFile = true` reproduces the reference's one-file artifact
    * (driver-sized data only); at scale leave false for sharded output.
    */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("emptyValue", "")
      .csv(path)
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
