package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import scala.collection.mutable

/** Dev-only per-job wall-clock profiler for registered queries:
  * `runMain graft.JobProfile <name> [<name>...] <sfDir>` runs each query
  * once (warm) and prints every Spark job's duration plus its first
  * stage's call site — the fastest way to see WHICH eager
  * materialization a multi-job query spends its time in. Accepts many
  * names so a whole checklist profiles in one JVM (one session spin-up,
  * comparable numbers). Measurement tooling only; never on any query
  * path.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobProfile <name> [<name>...] <sfDir>")
    val (names, sfDir) = (args.init.toSeq, args.last)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus.toInt)

    names.foreach { name =>
      def runOnce(): Unit =
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      runOnce() // warm codegen/FS caches like Bench does

      val starts = mutable.Map[Int, (Long, String)]()
      val rows = mutable.ArrayBuffer[(Int, Long, String)]()
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          starts.synchronized {
            val site = js.stageInfos.headOption.map(_.details.split('\n')
              .find(l => l.contains("graft") && !l.contains("JobProfile"))
              .getOrElse(js.stageInfos.head.name)).getOrElse("?")
            starts(js.jobId) = (js.time, site)
          }
        override def onJobEnd(je: SparkListenerJobEnd): Unit =
          starts.synchronized {
            starts.remove(je.jobId).foreach { case (t0, site) =>
              rows += ((je.jobId, je.time - t0, site))
            }
          }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      runOnce()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the async listener bus drain BEFORE
      // removal — events still queued at removeSparkListener are
      // silently dropped and would undercount tail jobs
      spark.sparkContext.removeSparkListener(listener)
      println(f"== $name%s: wall $wall%.2f s, ${rows.size}%d jobs ==")
      rows.sortBy(_._1).foreach { case (id, ms, site) =>
        println(f"  job $id%3d  ${ms / 1000.0}%6.2f s  $site%s")
      }
      val sum = rows.map(_._2).sum / 1000.0
      println(f"  (sum of job times $sum%.2f s; gap to wall = driver/planning)")
    }
    spark.stop()
  }
}
