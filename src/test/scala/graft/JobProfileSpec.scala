package graft

import org.apache.spark.sql.functions.broadcast

/** JobProfile's per-job call sites: a job AQE launches from its async
  * broadcast thread is named by its query's call site, not by the
  * thread pool's frame.
  */
class JobProfileSpec extends SparkSpec {

  test("a broadcast join's async jobs carry their query's call site") {
    val small = spark.range(10).toDF("id")
    val big = spark.range(100000).toDF("id")
    val rows = JobProfile.profiled(spark, "broadcast join") {
      assert(big.join(broadcast(small), "id").count() == 10L)
    }
    assert(rows.size >= 2, s"expected the broadcast and the count jobs: $rows")
    val sites = rows.map(_._3)
    assert(!sites.exists(_.contains("CompletableFuture")), sites.mkString("\n"))
  }
}
