package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Layout

class LayoutSpec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"

  // bucketed tables need a writable warehouse; build a dedicated session
  // (clear the shared one first — getOrCreate would silently reuse it
  // and ignore the warehouse config)
  lazy val wspark: SparkSession = {
    val wh = Files.createTempDirectory("graft_wh").toString
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-bucketing")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sql("DROP TABLE IF EXISTS li_b")
    s.sql("DROP TABLE IF EXISTS o_b")
    s
  }

  test("bucketed co-located join plans without a shuffle exchange") {
    val li = Tables.load(wspark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val o = Tables.load(wspark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    Layout.writeBucketed(li, "li_b", "l_orderkey", 8)
    Layout.writeBucketed(o.withColumnRenamed("o_orderkey", "l_orderkey"),
      "o_b", "l_orderkey", 8)

    // disable broadcast: on driver-sized fixtures Spark would broadcast
    // instead; the point here is the shuffle-free sort-merge path that
    // bucketing buys on fact-to-fact joins at scale
    wspark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = wspark.table("li_b").join(wspark.table("o_b"), "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected no shuffle, got:\n$plan")
      assert(joined.count() == li.count()) // every lineitem has its order

      val unbucketed = Tables.load(wspark, sf, "lineitem")
        .select(col("l_orderkey"))
        .join(Tables.load(wspark, sf, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice")),
          "l_orderkey")
      assert(unbucketed.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
    } finally wspark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("bucketed band table makes the incremental-dedup probe corpus-shuffle-free") {
    import wspark.implicits._
    wspark.sql("DROP TABLE IF EXISTS corpus_bands")
    val corpus = (0L until 200L).map(i =>
      (i, s"corpus doc number $i with some shared words and body $i"))
      .toDF("doc_id", "text")
    val batch = (1000L until 1020L).map(i =>
      (i, s"fresh doc number $i with some shared words and body $i"))
      .toDF("doc_id", "text")
    // the StreamDedup state shape at cluster scale: corpus bands are
    // written bucketed by BOTH join keys once; each batch's probe then
    // shuffles ONLY the batch side
    graft.operators.Layout.writeBucketed(
      graft.ext.Dedup.minhashBands(graft.ext.Dedup.minhashSignatures(corpus)),
      "corpus_bands", Seq("band_idx", "band_key"), 8)
    wspark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val nb = graft.ext.Dedup.minhashBands(
        graft.ext.Dedup.minhashSignatures(batch))
      val cand = wspark.table("corpus_bands").as("c")
        .join(nb.as("x"),
          col("c.band_idx") === col("x.band_idx") &&
          col("c.band_key") === col("x.band_key"))
      val plan = cand.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected only the batch-side shuffle:\n$plan")
    } finally {
      wspark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      wspark.sql("DROP TABLE IF EXISTS corpus_bands")
      ()
    }
  }

  test("registered w17 keeps the co-located join exchange-free") {
    // the oracle-gated w17 query end to end: the ONLY hash exchange in
    // the plan is the post-join priority rollup — the sort-merge join
    // over the two freshly written bucketed tables shuffles nothing
    val df = graft.analyze.OpQueries
      .queries("w17_bucketed_colocated_join")(wspark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"join must be exchange-free (1 rollup shuffle only):\n$plan")
    assert(df.collect().length == 5) // the five order priorities
  }

  test("stateTableName: collision-free and valid where hashCode is neither") {
    // "Aa" and "BB" share a 31-bit String.hashCode — the old naming
    // scheme would have mixed two streams' state tables
    assert("/s/Aa".hashCode == "/s/BB".hashCode)
    val a = graft.streaming.BatchState.tableName("/s/Aa")
    val b = graft.streaming.BatchState.tableName("/s/BB")
    assert(a != b)
    // deterministic and a valid (identifier-safe) table name even for
    // paths whose hashCode is Int.MinValue-adjacent garbage
    assert(a == graft.streaming.BatchState.tableName("/s/Aa"))
    assert(a.matches("[A-Za-z0-9_]+"), a)
  }

  test("salted join equals the plain join result under a hot key") {
    val events = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"), col("value"))
    val users = events.select(col("user_id")).distinct()
      .withColumn("user_tag", concat(lit("u"), col("user_id")))
    val plain = events.join(users, "user_id")
      .select(col("event_id"), col("user_tag"))
    val salted = Layout.saltedJoin(events, users, "user_id",
        salts = 8, entropyCol = "event_id")
      .select(col("event_id"), col("user_tag"))
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  /** Max shuffle-read records any single task saw while `body` ran —
    * the per-task input-size skew signal (a hot join key funnels all
    * its rows through one reduce task).
    */
  private def maxTaskShuffleRecords(body: => Unit): Long = {
    val records = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          records.add(e.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // the listener bus is async: wait until no new task-end arrives
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        if (records.size == last) stable += 1
        else { stable = 0; last = records.size }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    records.asScala.foldLeft(0L)(math.max)
  }

  test("salting flattens the d06 candidate join under a planted hot key") {
    // power-law blocking key: 400 docs, ALL in one (lang, bucket) cell
    // — the exact shape that funnels a shuffle join through one task
    val docs = spark.range(400).select(
      col("id").as("doc_id"),
      lit("en").as("lang"),
      (lit(40) + col("id") % 8).as("n_chars"),
      concat(lit("text"), col("id") % 7).as("text"))
      .localCheckpoint()
    // pin a SHUFFLE join so per-task skew is observable (broadcast
    // would hide it; AQE's skew splitter only fires past 256MB), and
    // keep AQE from coalescing the toy-sized salt splits back into one
    // task (at real scale a hot cell's splits exceed the advisory
    // partition size and stay separate)
    val priorBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val priorCo = spark.conf.get(coalesceKey)
    // enough reduce partitions that the 8 (bucket, salt) heavy combos
    // land apart (murmur3 is seed-fixed, so the layout is stable)
    val priorSp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(coalesceKey, "false")
    spark.conf.set("spark.sql.shuffle.partitions", "128")
    try {
      // the full operator must give identical dup pairs either way
      // (the saltedJoin exactness contract)
      val unsaltedFull = graft.ext.Dedup
        .ngramJaccardDup(docs, n = 4, maxLenDiff = 10, threshold = 0.5)
      val saltedFull = graft.ext.Dedup
        .ngramJaccardDup(docs, n = 4, maxLenDiff = 10, threshold = 0.5,
          salts = 8)
      assert(saltedFull.exceptAll(unsaltedFull).count() == 0)
      assert(unsaltedFull.exceptAll(saltedFull).count() == 0)
      // task metering on the CANDIDATE JOIN alone — the verify stage
      // downstream reads all ~80k pairs and would mask the join
      val maxPlain = maxTaskShuffleRecords {
        graft.ext.Dedup.ngramCandidates(docs, 10, salts = 1).count(); ()
      }
      val maxSalted = maxTaskShuffleRecords {
        graft.ext.Dedup.ngramCandidates(docs, 10, salts = 8).count(); ()
      }
      // unsalted: ONE reduce task reads the whole hot cell (400 a-rows
      // in the matching bucket + 400 b-rows = 800). Salted with s=8:
      // each (cell, salt) task reads ~A/s + B ≈ 50 + 400 = 450 — in a
      // SELF-join the b-side replicates to every salt, so records-read
      // flattens toward B while the quadratic pair WORK per task
      // ((A/s)·B vs A·B) drops by the full salt factor
      assert(maxPlain >= 790L, s"hot task read only $maxPlain records")
      assert(maxSalted <= 560L,
        s"salted task read $maxSalted records, want ~A/s + B = 450")
      assert(maxSalted * 10 < maxPlain * 7,
        s"salting did not flatten: max task $maxSalted vs $maxPlain")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorBc)
      spark.conf.set(coalesceKey, priorCo)
      spark.conf.set("spark.sql.shuffle.partitions", priorSp)
    }
  }
}
