package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Physical-layout operators for the 100 TB design point.
  *
  * - Bucketing: pre-shuffle a fact table once at write time so every
  *   subsequent equi-join/aggregation on the bucket key runs with NO
  *   exchange. At cluster scale this converts the dominant recurring
  *   shuffle of a star-join workload into a one-time write cost.
  * - Salting: spread a skewed hot key across `salt` sub-keys; the
  *   build side is exploded to every salt so the join stays an
  *   equi-join. AQE's skew-join handles moderate skew automatically;
  *   salting is for the pathological single-hot-key case AQE splits
  *   poorly (e.g. one user with 30% of all events).
  */
object Layout {

  /** Write df bucketed+sorted by key into the session warehouse as
    * `table`. Joins/aggs on `key` against other tables bucketed the
    * same way are exchange-free.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    writeBucketed(df, table, Seq(key), buckets)

  /** Multi-key form: bucket by ALL the join's keys — Spark requires the
    * partitioning to carry every cluster key for co-partitioned joins
    * (`spark.sql.requireAllClusterKeysForCoPartition`, default true),
    * so bucketing a subset would be planned with an exchange anyway.
    */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet").saveAsTable(table)

  /** Salted equi-join of a skewed left side with a smaller right side
    * on `key`: left rows get a deterministic salt from a high-entropy
    * sibling column, right rows are replicated to all salts.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salts: Int, entropyCol: String): DataFrame =
    saltedJoin(left, right, Seq(key), salts, entropyCol)

  /** Compound-key form of [[saltedJoin]]: every qualifying pair meets
    * on exactly one (keys..., salt) combination — the left row's salt —
    * so the result multiset is identical to the unsalted join while a
    * hot key's rows spread over `salts` reduce partitions.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 salts: Int, entropyCol: String): DataFrame = {
    val saltedLeft = left.withColumn("__salt",
      pmod(hash(col(entropyCol)), lit(salts)))
    val saltedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLeft.join(saltedRight, keys :+ "__salt").drop("__salt")
  }
}
