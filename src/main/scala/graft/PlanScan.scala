package graft

/** Plan-shape audit main — the [[graft.core.PlanAudit]] rules applied
  * at an ARBITRARY scale factor, closing the sf-variance blind spot:
  * PlanGuardSpec proves the allowance tables at sf0.001 on every test
  * run, but operators that branch on runtime counts (dupClusters'
  * driver-threshold, HotBuckets short-circuits, empty-input
  * degradations) can take a different physical shape at the bench sf.
  * This main builds every registered query's plan against the given
  * dir (executing checkpointed stages — the only way to observe the
  * shape the data actually produces), writes the per-query node counts
  * as a JSON artifact, and exits nonzero on ANY count that drifts from
  * its declared allowance — so "N unpartitioned-window warnings in the
  * bench tail" is attributable query-by-query instead of "probably
  * all q30".
  *
  * Usage: runMain graft.PlanScan <sfDir> [out.json] [query ...]
  *
  * The artifact embeds BOTH n_queries (scanned) and n_registry (the
  * full registry size at run time), so a stale or subset scan is
  * self-evident to a reader — the r15 lesson, where the committed
  * artifact predated the round's last registered query by one commit
  * and the gap was only visible by diffing against the registry.
  */
object PlanScan {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "planscan_out.json"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args.drop(2).toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.core.Sessions.local(cpus.toInt)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val audits = names.map { n =>
      try graft.core.PlanAudit.auditQuery(spark, n, sfDir)
      catch { case e: Throwable =>
        graft.core.PlanAudit.QueryAudit(n, 0, 0, 0, 0, 0, 0,
          Seq(s"$n: audit build failed: ${e.getMessage}"))
      }
    }
    val failures = audits.flatMap(_.failures)
    val qjson = audits.map { a =>
      s""""${a.name}":{"cart":${a.cart},"bnlj":${a.bnlj},"gwin":${a.gwin},""" +
        s""""cp_cart":${a.cpCart},"cp_bnlj":${a.cpBnlj},"cp_gwin":${a.cpGwin},""" +
        s""""ok":${a.failures.isEmpty}}"""
    }.mkString("{", ",", "}")
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ")
    val fjson = failures.map(f => "\"" + esc(f) + "\"")
      .mkString("[", ",", "]")
    val line =
      s"""{"sf":"$sfDir","n_queries":${names.size},""" +
        s""""n_registry":${SparkEntry.queries.size},""" +
        s""""n_failures":${failures.size},"failures":$fjson,""" +
        s""""queries":$qjson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    println(s"""{"planscan":"$sfDir","n_queries":${names.size},""" +
      s""""n_registry":${SparkEntry.queries.size},""" +
      s""""n_failures":${failures.size},"detail":"$out"}""")
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[planscan] $f"))
      sys.exit(1)
    }
  }
}
