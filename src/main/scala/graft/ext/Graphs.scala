package graft.ext
import graft.core.PlanCapture.CheckpointOps

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

/** Distributed graph measures over edge lists.
  *
  * The motivating use at corpus scale is link-graph quality signals for
  * web-crawl curation (PageRank-family centrality over the host/page
  * graph is a standard document-quality prior for training-data
  * selection). Everything here follows the engine's oracle discipline:
  * fixed-point integer arithmetic only — no IEEE accumulation order to
  * disagree about, so ranks verify value-for-value cross-engine.
  */
object Graphs {

  /** Fixed-point damped PageRank over a weighted edge list `(src, dst,
    * w)` (BIGINT node ids, positive BIGINT weights), run for exactly
    * `iters` iterations from the uniform start — deterministic by
    * construction, no convergence epsilon.
    *
    * All arithmetic is integer: ranks live at `scale` = 2^40 fixed
    * point; each edge contributes floor(r(src) * w / out(src)); the
    * damped update is tele + floor(damping * sum / 100) with
    * tele = floor(floor((100-damping) * scale / 100) / n). Operand
    * envelope: r <= scale = 2^40, w < 2^22 ⇒ r*w < 2^62; damping * sum
    * <= 85 * scale < 2^47 — no Long overflow at any real graph size.
    * Mass reaching dangling nodes (no out-edges) is dropped, not
    * redistributed — the common sparse-web-graph simplification; ranks
    * remain a valid quality ORDERING (the use case), just not a
    * probability vector.
    *
    * Shape at scale: each iteration is one equi-join of the rank vector
    * to the (static) edge list on src plus one groupBy(dst) — both
    * shuffle on node id, so a cluster run co-partitions edges and ranks
    * once and every iteration reuses that partitioning. The only
    * driver-side value is n (one count), used for the two start/tele
    * literals. Below `driverThreshold` edges the [[SmallInput]] gate
    * runs the identical sweeps on the driver instead.
    */
  def pageRank(edges: DataFrame, iters: Int, scale: Long = 1L << 40,
               damping: Int = 85,
               driverThreshold: Long = SmallInput.DefaultThreshold): DataFrame = {
    require(iters >= 0 && damping > 0 && damping < 100,
      "iters >= 0, damping in (0, 100)")
    // the gate materializes the (possibly expensive) edge derivation
    // ONCE: the node set, the out-weight table and the edge join each
    // materialize in their own job, and without it every one of those
    // jobs re-derives the whole upstream edge pipeline (for the
    // registered queries a json-parse + window + groupBy over events).
    // One narrow (src, dst, w) materialization is also the
    // cluster-scale shape the iteration contract promises: derive
    // once, co-partition, iterate.
    SmallInput.gate(keyed(edges), driverThreshold, prEnvelope,
        checkPrEnvelope) { small =>
      keyedFrame(small, Seq(StructField("r", LongType)),
        prDriver(small.rows, iters, scale, damping, _ => true)
          .map { case (k, _, r) => Row(k, r) })
    } { (ed, _) =>
      val nodes = ed.select(col("src").as("k"))
        .union(ed.select(col("dst").as("k"))).distinct().cpGuard()
      val n = nodes.count()
      require(n > 0, EmptyGraph)
      val tele = ((100 - damping) * scale / 100) / n
      val edFull = withOutWeight(ed)
      var r = nodes.withColumn("r", lit(scale / n))
      for (_ <- 0 until iters)
        r = prUpdate(edFull, nodes, r, tele, damping)
      r.orderBy(col("k"))
    }
  }

  private val EmptyGraph = "PageRank over an empty graph"

  /** `(src, dst, w)` with both endpoints cast to the type their union
    * coerces to, so the driver and distributed paths of a shortcut
    * emit one `k` type (an INT src beside a BIGINT dst keys every node
    * as BIGINT, exactly as the distributed node union does).
    */
  private def keyed(edges: DataFrame): DataFrame = {
    val t = edges.select(col("src").as("k"))
      .union(edges.select(col("dst").as("k"))).schema("k").dataType
    edges.select(col("src").cast(t).as("src"), col("dst").cast(t).as("dst"),
      col("w"))
  }

  /** A driver shortcut's result: `rows` keyed by the gated edges' key
    * type, then `cols`, ordered by k.
    */
  private def keyedFrame(small: SmallInput.Collected, cols: Seq[StructField],
                         rows: Seq[Row]): DataFrame =
    small.input.sparkSession.createDataFrame(rows.asJava,
        StructType(StructField("k", small.input.schema("src").dataType) +: cols))
      .orderBy(col("k"))

  /** The PageRank weight envelope, observed on the gated edge
    * materialization and checked once for both paths: r <= scale = 2^40
    * and w < 2^22 keep r*w < 2^62; an over-envelope weight would
    * silently overflow Long and corrupt EVERY rank downstream (mirrors
    * kmeansCentsFromVecs' fixed-point require). Every edge row counts,
    * null endpoints included.
    */
  private val prEnvelope = Seq(max(col("w")).cast("long").as("wmax"),
    min(col("w")).cast("long").as("wmin"))

  private def checkPrEnvelope(stats: Map[String, Any]): Unit =
    (stats("wmax"), stats("wmin")) match {
      case (wmax: Long, wmin: Long) =>
        require(wmin >= 0L, "PageRank edge weights must be >= 0")
        require(wmax < (1L << 22),
          s"PageRank edge weight $wmax >= 2^22: r*w would overflow Long " +
            "at scale=2^40 fixed point; rescale weights (ranks depend " +
            "only on relative weight per source)")
      case _ => // no weighted edges: nothing to overflow
    }

  /** Edges with their source's out-weight attached, materialized once:
    * every distributed sweep reads it.
    */
  private def withOutWeight(ed: DataFrame): DataFrame =
    ed.join(ed.groupBy(col("src")).agg(sum(col("w")).as("ow")), "src")
      .cpGuard()

  /** One damped fixed-point update — the iteration body shared by
    * [[pageRank]] and [[pageRankRefresh]] (identical plan shape:
    * one src-keyed equi-join + one groupBy(dst) + the node attach).
    */
  private def prUpdate(edFull: DataFrame, nodes: DataFrame, r: DataFrame,
                       tele: Long, damping: Int): DataFrame = {
    val contrib = edFull
      .join(r.withColumnRenamed("k", "src"), "src")
      .select(col("dst"), expr("r * w div ow").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("s"))
    nodes.join(contrib, col("k") === col("dst"), "left")
      .select(col("k"),
        (lit(tele) +
          expr(s"(CAST($damping AS BIGINT) * coalesce(s, CAST(0 AS BIGINT))) div 100"))
          .as("r"))
  }

  /** The driver sweep behind all three PageRank shortcuts — [[prUpdate]]
    * verbatim over collected (src, dst, w) rows: per edge
    * floor(r(src)·w / ow(src)) (a zero out-weight contributes nothing,
    * as the distributed div-by-zero null does), per node
    * tele + floor(damping·Σ / 100). The teleport share and the uniform
    * start go to the nodes `teleports` admits (every node, or ppr's
    * seeds); `warm` overrides the start where it holds a rank
    * (refresh). Node sets include every endpoint, null included, as
    * the distributed unions do; null-weight edges carry no mass, as
    * null-skipping SUMs behave, and no mass moves along an edge with a
    * null endpoint, which the distributed joins drop (its weight still
    * counts in ow(src), as the groupBy(src) does). Returns
    * (k, start rank, final rank).
    */
  private def prDriver(rows: Array[Row], iters: Int, scale: Long,
                       damping: Int, teleports: Any => Boolean,
                       noTeleport: String = EmptyGraph,
                       warm: collection.Map[Any, Long] = Map.empty)
      : Seq[(Any, Long, Long)] = {
    val nodes = (rows.map(_.get(0)) ++ rows.map(_.get(1))).distinct.toSeq
    val es = rows.filterNot(_.isNullAt(2))
      .map(r => (r.get(0), r.get(1), r.getAs[Number](2).longValue))
    val ow = es.groupMapReduce(_._1)(_._3)(_ + _)
    val moves = es.filter(e => e._1 != null && e._2 != null)
    val m = nodes.count(teleports).toLong
    require(m > 0, noTeleport)
    val tele = ((100 - damping) * scale / 100) / m
    val start = nodes.map(k =>
      k -> warm.getOrElse(k, if (teleports(k)) scale / m else 0L)).toMap
    var r = start
    for (_ <- 0 until iters) {
      val s = scala.collection.mutable.HashMap.empty[Any, Long]
      moves.foreach { case (src, dst, w) =>
        val o = ow.getOrElse(src, 0L)
        if (o != 0L) s(dst) = s.getOrElse(dst, 0L) + r(src) * w / o
      }
      r = nodes.map(k => k -> ((if (teleports(k)) tele else 0L) +
        damping * s.getOrElse(k, 0L) / 100)).toMap
    }
    nodes.map(k => (k, start(k), r(k)))
  }

  /** WARM-START PageRank refresh for a growing graph — the graph
    * family's second incremental member beside
    * [[incrementalTriangles]]: converged old-graph ranks seed the
    * union graph's iteration (new nodes start at the uniform floor),
    * and `refreshIters` damped updates absorb the new edges — exactly
    * how production rank maintenance amortizes a batch of link changes
    * (a handful of warm-started sweeps instead of a cold fixed-point
    * run; Langville & Meyer's updating chapter). Output reports the
    * perturbation per node: (k, r_start, r_warm, d_fp = warm − start)
    * — the "who moved" answer a freshness monitor reads.
    *
    * Scale shape: [[pageRank]] on the OLD graph (its own envelope),
    * one weight-adding groupBy to merge the edge sets, then the same
    * co-partitionable per-iteration shape via [[prUpdate]]; the only
    * driver values are the two node counts.
    */
  def pageRankWarmStart(oldEdges: DataFrame, newEdges: DataFrame,
                        baseIters: Int = 3, refreshIters: Int = 1,
                        scale: Long = 1L << 40,
                        damping: Int = 85): DataFrame = {
    // the old cohort's derivation is read by BOTH phases (its own
    // fixed point and the merged refresh graph): materialize it once
    // up front; pageRank's gate then measures it without re-writing it
    val old = oldEdges.select(col("src"), col("dst"), col("w")).cpGuard()
    val rOld = pageRank(old, baseIters, scale, damping)
    // cohort edge sets merge by ADDING weights (disjoint user cohorts
    // partition the transition multiset, so the merged table equals
    // the all-users derivation; pageRankRefresh's internal groupBy
    // performs the merge)
    val ed = old
      .unionAll(newEdges.select(col("src"), col("dst"), col("w")))
    pageRankRefresh(ed, rOld, refreshIters, scale, damping)
      .select(col("k"), col("r_start"), col("r_warm"),
        (col("r_warm") - col("r_start")).as("d_fp"))
      .orderBy(col("k"))
  }

  /** The refresh half of [[pageRankWarmStart]], exposed for streaming
    * rank maintenance ([[graft.streaming.StreamPageRank]]): seed the
    * damped iteration over `edges` from `startRanks` (k, r) — nodes
    * absent from the seed start at the uniform floor, so an EMPTY seed
    * makes this exactly [[pageRank]](edges, refreshIters). Output:
    * (k, r_start, r_warm). Same co-partitionable per-iteration shape
    * and integer envelope as pageRank; driver values are the node
    * count and the envelope observation only. The driver shortcut also
    * needs the snapshot to fit `driverThreshold` rows.
    */
  def pageRankRefresh(edges: DataFrame, startRanks: DataFrame,
                      refreshIters: Int = 1, scale: Long = 1L << 40,
                      damping: Int = 85,
                      driverThreshold: Long = SmallInput.DefaultThreshold): DataFrame = {
    require(refreshIters >= 1, "refreshIters >= 1")
    // the gate materializes the MERGED edge table once (the pageRank
    // contract): the out-weight, node and edge-join jobs below
    // otherwise each re-run the upstream derivation AND this merge
    val ek = keyed(edges)
    val snapshot = startRanks.select(col("k").cast(ek.schema("src").dataType),
      col("r").cast("long"))
    SmallInput.gate(
        ek.groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w")),
        driverThreshold, prEnvelope, checkPrEnvelope, Seq(snapshot)) { small =>
      // null keys and ranks never match the distributed left join, and
      // its final inner join drops a null k
      val warm = small.sides.head.filterNot(r => r.anyNull)
        .map(r => r.get(0) -> r.getLong(1)).toMap
      keyedFrame(small,
        Seq(StructField("r_start", LongType), StructField("r_warm", LongType)),
        prDriver(small.rows, refreshIters, scale, damping, _ => true,
          warm = warm).collect { case (k, s, r) if k != null => Row(k, s, r) })
    } { (ed, _) =>
      val nodes = ed.select(col("src").as("k"))
        .union(ed.select(col("dst").as("k"))).distinct().cpGuard()
      val n = nodes.count()
      require(n > 0, EmptyGraph)
      val tele = ((100 - damping) * scale / 100) / n
      val edFull = withOutWeight(ed)
      val start = nodes
        .join(startRanks.select(col("k"), col("r").as("r_old")), Seq("k"), "left")
        .select(col("k"), coalesce(col("r_old"), lit(scale / n)).as("r"))
        .cpGuard() // read by every refresh round AND the final attach
      var r = start
      for (_ <- 0 until refreshIters)
        r = prUpdate(edFull, nodes, r, tele, damping)
      r.withColumnRenamed("r", "r_warm")
        .join(start.withColumnRenamed("r", "r_start"), "k")
        .select(col("k"), col("r_start"), col("r_warm"))
    }
  }

  /** PERSONALIZED PageRank (random walk with restart to a seed set):
    * [[pageRank]]'s fixed-point iteration with the teleport mass
    * confined to `seeds` — the relevance-to-a-topic ranking
    * (Jeh & Widom, WWW'03) used to expand a trusted corpus from seed
    * domains. Start vector and teleport are uniform over the seed
    * nodes; non-seeds receive only propagated mass. Identical integer
    * envelope and per-iteration shuffle shape as [[pageRank]] (one
    * co-partitionable equi-join + groupBy(dst) per round); the only
    * driver-side value is the seed count. The driver shortcut also
    * needs the seed set to fit `driverThreshold` rows.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
                           scale: Long = 1L << 40,
                           damping: Int = 85,
                           driverThreshold: Long = SmallInput.DefaultThreshold): DataFrame = {
    require(iters >= 0 && damping > 0 && damping < 100,
      "iters >= 0, damping in (0, 100)")
    val noSeed = "personalized PageRank needs at least one seed in the graph"
    val ek = keyed(edges)
    val seedKeys = seeds.select(col("k").cast(ek.schema("src").dataType))
      .distinct()
    SmallInput.gate(ek, driverThreshold, prEnvelope, checkPrEnvelope,
        Seq(seedKeys)) { small =>
      // a null seed never matches the distributed left join
      val seedSet = small.sides.head.filterNot(_.isNullAt(0)).map(_.get(0)).toSet
      keyedFrame(small,
        Seq(StructField("is_seed", BooleanType, nullable = false),
          StructField("r", LongType)),
        prDriver(small.rows, iters, scale, damping, seedSet, noSeed)
          .map { case (k, _, r) => Row(k, seedSet(k), r) })
    } { (ed, _) =>
      val nodes = ed.select(col("src").as("k"))
        .union(ed.select(col("dst").as("k"))).distinct()
      val flagged = nodes
        .join(seeds.select(col("k")).distinct().withColumn("__s", lit(true)),
          Seq("k"), "left")
        .select(col("k"), coalesce(col("__s"), lit(false)).as("is_seed"))
        .cpGuard()
      val ns = flagged.filter(col("is_seed")).count()
      require(ns > 0, noSeed)
      val tele = ((100 - damping) * scale / 100) / ns
      val edFull = withOutWeight(ed)
      var r = flagged.select(col("k"), col("is_seed"),
        when(col("is_seed"), lit(scale / ns)).otherwise(lit(0L)).as("r"))
      for (_ <- 0 until iters) {
        val contrib = edFull
          .join(r.select(col("k").as("src"), col("r")), "src")
          .select(col("dst"), expr("r * w div ow").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        r = flagged.join(contrib, col("k") === col("dst"), "left")
          .select(col("k"), col("is_seed"),
            (when(col("is_seed"), lit(tele)).otherwise(lit(0L)) +
              expr(s"(CAST($damping AS BIGINT) * coalesce(s, CAST(0 AS BIGINT))) div 100"))
              .as("r"))
      }
      r.select(col("k"), col("is_seed"), col("r")).orderBy(col("k"))
    }
  }

  /** Fixed-point weighted HITS (Kleinberg 1999) over a directed edge
    * list `(src, dst, w)`, run for exactly `iters` iterations from the
    * uniform hub start — the hubs-and-authorities decomposition link
    * curation uses next to [[pageRank]]: directories/aggregators score
    * as hubs, canonical content as authorities.
    *
    * All arithmetic is integer, so scores verify value-for-value
    * cross-engine. Each iteration computes the raw sums
    * a_raw(v) = sum over in-edges of w * h, then renormalizes to
    * `scale` = 2^20 by INTEGER division with
    * denom = greatest(1, max(a_raw) div scale) — the portable stand-in
    * for HITS' usual L2 normalization (scores are only meaningful up
    * to a per-vector constant); hubs likewise from the normalized
    * authorities. Post-normalization values stay < 2*scale = 2^21, so
    * with the enforced envelope (w < 2^22 per edge, total weight
    * < 2^41) every product and sum stays far inside Long.
    *
    * Shape at scale: per iteration one equi-join of the score vector
    * to the static edge list + one partial-aggregable groupBy per
    * direction (both keyed on node id — co-partitionable exactly like
    * [[pageRank]]), plus a 1-row max aggregate broadcast for each
    * renormalization. Output: (k, auth_fp, hub_fp) per node.
    */
  def hits(edges: DataFrame, iters: Int, scale: Long = 1L << 20,
           driverThreshold: Long = SmallInput.DefaultThreshold): DataFrame = {
    require(iters >= 1, "iters >= 1")
    // Envelope enforcement rides on the ONE edge materialization the
    // gate takes: per-edge w < 2^22 and total weight < 2^41 keep
    // w * score < 2^43 and every in/out sum < 2^62. The edge
    // checkpoint comes FIRST so the node-set job below reads the
    // materialized table instead of re-deriving the edge pipeline
    // twice (once per union branch).
    SmallInput.gate(keyed(edges), driverThreshold,
      Seq(max(col("w")).cast("long").as("wmax"),
        min(col("w")).cast("long").as("wmin"),
        sum(col("w")).cast("long").as("wtot")),
      stats => (stats("wmax"), stats("wmin"), stats("wtot")) match {
        case (wmax: Long, wmin: Long, wtot: Long) =>
          require(wmin >= 0L, "HITS edge weights must be >= 0")
          require(wmax < (1L << 22) && wtot < (1L << 41),
            s"HITS weight envelope exceeded (max $wmax, total $wtot): " +
            "w must be < 2^22 and total weight < 2^41 so integer " +
            "score sums cannot overflow Long; rescale weights")
        case _ => // edge-free graph: nothing to overflow
      })(hitsDriver(_, iters, scale)) { (edC, _) =>
      val nodes = edC.select(col("src").as("k"))
        .union(edC.select(col("dst").as("k"))).distinct().cpGuard()
      def renorm(raw: DataFrame, c: String): DataFrame = {
        val m = raw.agg(max(col(c)).as("m"))
        raw.crossJoin(broadcast(m))
          .select(col("k"),
            expr(s"$c div greatest(CAST(1 AS BIGINT), m div $scale)").as(c))
      }
      var hub = nodes.withColumn("h", lit(scale))
      var auth = nodes.withColumn("a", lit(0L))
      for (_ <- 0 until iters) {
        val aRaw = nodes.join(
          edC.join(hub.select(col("k").as("src"), col("h")), "src")
            .groupBy(col("dst")).agg(sum(expr("w * h")).as("ar")),
          col("k") === col("dst"), "left")
          .select(col("k"), coalesce(col("ar"), lit(0L)).as("ar"))
        // ONE materialization per half-iteration (the kCore/bfs loop
        // discipline): without it each renorm references its input twice
        // (the max row and the main branch), so the lineage — and the
        // recomputation — doubles per half-iteration (2^(2*iters) plan
        // growth; the iters=2 plan carried 22 BNLJ nodes).
        auth = renorm(aRaw, "ar").withColumnRenamed("ar", "a")
          .cpGuard()
        val hRaw = nodes.join(
          edC.join(auth.select(col("k").as("dst"), col("a")), "dst")
            .groupBy(col("src")).agg(sum(expr("w * a")).as("hr")),
          col("k") === col("src"), "left")
          .select(col("k"), coalesce(col("hr"), lit(0L)).as("hr"))
        hub = renorm(hRaw, "hr").withColumnRenamed("hr", "h")
          .cpGuard()
      }
      auth.join(hub, "k")
        .select(col("k"), col("a").as("auth_fp"), col("h").as("hub_fp"))
        .orderBy(col("k"))
    }
  }

  /** Driver-side [[hits]] for a below-threshold edge list — the same
    * renormalized integer iterations (spec-pinned via
    * driverThreshold = 0). As in the distributed joins, no score moves
    * along an edge with a null endpoint and a null k is not reported.
    */
  private def hitsDriver(small: SmallInput.Collected, iters: Int,
                         scale: Long): DataFrame = {
    val rows = small.rows
    val es = rows.filterNot(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2))
      .map(r => (r.get(0), r.get(1), r.getAs[Number](2).longValue))
    val nodes = (rows.map(_.get(0)) ++ rows.map(_.get(1))).distinct.toSeq
    var hub: Map[Any, Long] = nodes.map(_ -> scale).toMap
    var auth: Map[Any, Long] = nodes.map(_ -> 0L).toMap
    // m = max raw score over ALL nodes (no-in-edge nodes count as 0,
    // the distributed left-join coalesce); denom = max(1, m div scale)
    def renorm(raw: collection.Map[Any, Long]): Map[Any, Long] = {
      val m = if (nodes.isEmpty) 0L else nodes.map(k => raw.getOrElse(k, 0L)).max
      val denom = math.max(1L, m / scale)
      nodes.map(k => k -> raw.getOrElse(k, 0L) / denom).toMap
    }
    for (_ <- 0 until iters) {
      val ar = scala.collection.mutable.HashMap.empty[Any, Long]
      es.foreach { case (src, dst, w) =>
        ar(dst) = ar.getOrElse(dst, 0L) + w * hub(src) }
      auth = renorm(ar)
      val hr = scala.collection.mutable.HashMap.empty[Any, Long]
      es.foreach { case (src, dst, w) =>
        hr(src) = hr.getOrElse(src, 0L) + w * auth(dst) }
      hub = renorm(hr)
    }
    keyedFrame(small,
      Seq(StructField("auth_fp", LongType), StructField("hub_fp", LongType)),
      nodes.filter(_ != null).map(k => Row(k, auth(k), hub(k))))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over the
    * undirected weighted graph, run for exactly `iters` iterations —
    * the near-linear community-detection pass corpus curation uses to
    * group a link graph into sites/communities before per-community
    * quotas. Deterministic by construction: every node starts labeled
    * with its own id; each iteration relabels a node to the neighbor
    * label with the greatest incident weight sum, ties to the SMALLEST
    * label — no randomized visit order, so results verify
    * value-for-value cross-engine and across runs.
    *
    * Shape at scale: per iteration one equi-join of the label vector
    * to the symmetrized edge list on dst, one partial-aggregable
    * groupBy (src, label), and one per-src window (PARTITIONED — the
    * argmax state is one row per (node, distinct neighbor label),
    * never a neighborhood array). Everything keys on node id, so a
    * cluster run co-partitions edges and labels once and every
    * iteration reuses that partitioning — the same contract as
    * [[pageRank]].
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, "iters >= 0")
    // one edge materialization before the symmetrize union reads the
    // derivation twice (the pageRank contract)
    val dir = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("w")).cpGuard()
    val sym = dir
      .unionAll(dir.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .cpGuard() // static across iterations; cap lineage
    val nodes = sym.select(col("src").as("k")).distinct()
    var lab = nodes.withColumn("label", col("k"))
    for (_ <- 0 until iters) {
      val scored = sym
        .join(lab.select(col("k").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src"), col("nl")).agg(sum(col("w")).as("s"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("s").desc, col("nl"))
      val next = scored.withColumn("rn", row_number().over(win))
        .filter(col("rn") === 1)
        .select(col("src").as("k"), col("nl").as("newlab"))
      lab = lab.join(next, Seq("k"), "left")
        .select(col("k"), coalesce(col("newlab"), col("label")).as("label"))
    }
    lab.orderBy(col("k"))
  }

  /** Modularity of a node partition (Newman & Girvan 2004) over the
    * weighted undirected graph induced by an edge list — the partition-
    * quality audit that says whether [[labelPropagation]]'s communities
    * are real structure or noise (Q near 0 = no better than random
    * given the degree sequence). With sym the symmetrized adjacency
    * (each undirected edge counted in both directions), M2 = sum(sym.w)
    * = 2m, intra2 = the same sum restricted to same-label endpoint
    * pairs and D_c the per-community degree sums:
    * Q = intra2/M2 - sum_c D_c^2 / M2^2 = (intra2*M2 - sum D_c^2)/M2^2
    * — computed as exact BIGINTs with ONE final double division, so
    * the value is aggregation-order-free and bit-portable. An
    * Observation on the symmetrize pass enforces M2 < 2^31 (else
    * M2^2 overflows Long); beyond that envelope rescale weights.
    *
    * Shape: symmetrize groupBy + two node-keyed label attaches +
    * keyed degree/community groupBys; two 1-row aggregates meet in one
    * bounded broadcast join. Output: one row (m2, intra2, dsq,
    * modularity).
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val dir = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("w"))
    val m2Obs = org.apache.spark.sql.Observation()
    val sym = dir
      .unionAll(dir.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .observe(m2Obs, coalesce(sum(col("w")), lit(0L)).cast("long").as("m2"))
      .join(labels.select(col("k").as("src"), col("label").as("la")), "src")
      .join(labels.select(col("k").as("dst"), col("label").as("lb")), "dst")
      .cpGuard() // feeds both 1-row aggregates; never re-derive edges
    m2Obs.get.get("m2") match {
      case Some(m2: Long) => require(m2 < (1L << 31),
        s"total symmetrized weight $m2 >= 2^31: M2^2 would overflow " +
          "Long; rescale edge weights (modularity is scale-invariant)")
      case _ => () // empty graph: nothing to overflow
    }
    val tot = sym.agg(
      coalesce(sum(col("w")), lit(0L)).cast("long").as("m2"),
      coalesce(sum(when(col("la") === col("lb"), col("w"))
        .otherwise(0L)), lit(0L)).cast("long").as("intra2"))
    val dsq = sym
      .groupBy(col("src"), col("la")).agg(sum(col("w")).as("d"))
      .groupBy(col("la")).agg(sum(col("d")).as("dc"))
      .agg(coalesce(sum(col("dc") * col("dc")), lit(0L)).cast("long")
        .as("dsq"))
    tot.crossJoin(broadcast(dsq))
      .select(col("m2"), col("intra2"), col("dsq"),
        when(col("m2") > 0,
          (col("intra2") * col("m2") - col("dsq")).cast("double") /
            (col("m2") * col("m2")).cast("double"))
          .as("modularity"))
  }

  /** Per-community structure profile over the same labeled symmetrized
    * graph as [[modularity]]: size, intra-community edge weight
    * (both directions), total degree mass, and the internal ratio
    * intra2 / deg_sum — per-community cohesion (1 - ratio is the
    * community's cut fraction, the conductance numerator). The
    * community-level complement of g12's single global Q: Q says the
    * partition is real, this says WHICH communities are cohesive
    * enough to treat as curation units.
    *
    * Shape: two node-keyed label attaches + one groupBy(label) with
    * conditional sums — exact BIGINTs, single double division per row.
    */
  def communityProfile(edges: DataFrame, labels: DataFrame): DataFrame = {
    val dir = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("w"))
    val sym = dir
      .unionAll(dir.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .join(labels.select(col("k").as("src"), col("label").as("la")), "src")
      .join(labels.select(col("k").as("dst"), col("label").as("lb")), "dst")
    val nodes = labels.groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("n_nodes"))
    sym
      .groupBy(col("la"))
      .agg(coalesce(sum(when(col("la") === col("lb"), col("w"))
          .otherwise(0L)), lit(0L)).cast("long").as("intra2"),
        coalesce(sum(col("w")), lit(0L)).cast("long").as("deg_sum"))
      .join(nodes.select(col("label").as("la"), col("n_nodes")), Seq("la"),
        "right")
      .select(col("la").as("label"),
        col("n_nodes"),
        coalesce(col("intra2"), lit(0L)).as("intra2"),
        coalesce(col("deg_sum"), lit(0L)).as("deg_sum"),
        when(coalesce(col("deg_sum"), lit(0L)) > 0,
          col("intra2").cast("double") / col("deg_sum").cast("double"))
          .as("internal_ratio"))
      .orderBy(col("label"))
  }

  /** Degree assortativity (Newman 2002) of the undirected simple graph
    * — do high-degree nodes link to high-degree nodes (organic hubs)
    * or to leaves (scrape-star spam shapes)? Over the symmetrized
    * directed edge list the endpoint degrees x and y are identically
    * distributed, so Pearson's r collapses to the FULLY RATIONAL form
    * r = (M*Sxy - Sx^2) / (M*Sxx - Sx^2) — exact BIGINT sums, no
    * square root, ONE double division. Degenerate (regular or empty)
    * graphs have zero denominator: r is null, not NaN. Envelope:
    * M * Sxx must stay below 2^63 (M directed-sym edges, Sxx the
    * degree-square sum) — at 2^20 edges and 2^20-bounded degrees this
    * holds with room; rescale by sampling beyond it.
    *
    * Shape: symmetrize + distinct, one degree groupBy, two node-keyed
    * degree attaches, one global aggregate row.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val dir = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    val sym = dir.unionAll(dir.select(col("dst").as("src"),
        col("src").as("dst")))
      .distinct()
      .cpGuard() // feeds the degree table AND the edge attach
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("dx"))
    sym
      .join(deg.select(col("src"), col("dx").as("x")), "src")
      .join(deg.select(col("src").as("dst"), col("dx").as("y")), "dst")
      .agg(count(lit(1)).cast("long").as("m"),
        coalesce(sum(col("x")), lit(0L)).cast("long").as("sx"),
        coalesce(sum(col("x") * col("x")), lit(0L)).cast("long").as("sxx"),
        coalesce(sum(col("x") * col("y")), lit(0L)).cast("long").as("sxy"))
      .select(col("m"), col("sx"), col("sxx"), col("sxy"),
        when(col("m") * col("sxx") - col("sx") * col("sx") > 0,
          (col("m") * col("sxy") - col("sx") * col("sx")).cast("double") /
            (col("m") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("assortativity"))
  }

  /** Per-node triangle counts over the undirected simple graph induced
    * by a weighted edge list — the local-clustering signal link-graph
    * curation uses to separate organic link neighborhoods (high
    * closure) from spam farms and scrape chains (star/chain shaped,
    * near-zero closure).
    *
    * Shape at scale — the degree-ORIENTED wedge join (Chiba–Nishizeki /
    * the standard MR triangle scheme): every undirected edge {a,b} is
    * oriented from its lower endpoint to its higher endpoint under the
    * total order (degree, id), so a node's oriented out-neighborhood is
    * O(sqrt(m)) however hot the node is. Wedges are the self-join of
    * the oriented list on its source, closed by a semi-join back
    * against the oriented list — overall O(m^1.5) work, three
    * node-keyed equi-joins, never a neighborhood array on one row and
    * never an unoriented hub self-join (a 10^6-degree hub would
    * otherwise contribute 10^12 wedge rows; oriented it contributes at
    * most m). All outputs are exact integers: per-node degree, wedge
    * count deg*(deg-1)/2 (the closure denominator), and triangle
    * membership count.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .cpGuard() // read by deg AND the orientation join
    val deg = und.select(col("a").as("k"))
      .unionAll(und.select(col("b").as("k")))
      .groupBy(col("k")).agg(count(lit(1)).as("deg"))
      .cpGuard() // read by the orientation join AND the output
    // Orient a->b unless deg(a) > deg(b) (ties break on id, and a < b
    // already): u is always the (deg, id)-smaller endpoint.
    val oriented = und
      .join(deg.select(col("k").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("k").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") > col("db"), col("b")).otherwise(col("a")).as("u"),
        when(col("da") > col("db"), col("a")).otherwise(col("b")).as("v"),
        when(col("da") > col("db"), col("da")).otherwise(col("db")).as("dv"))
      .cpGuard() // the wedge join reads this THREE times (o1,
      // o2, and the closing semi-join) — without the checkpoint the
      // whole edge-derivation pipeline re-runs once per reference
    // Wedges (u; v1 < v2 under (deg, id)) closed by the oriented edge
    // v1 -> v2 — each triangle is produced exactly once.
    val o2 = oriented.select(col("u"), col("v").as("w"), col("dv").as("dw"))
    val tri = oriented.join(o2, Seq("u"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .join(oriented.select(col("u").as("v"), col("v").as("w")),
        Seq("v", "w"), "left_semi")
      .select(col("u"), col("v"), col("w"))
    val perNode = tri.select(col("u").as("k"))
      .unionAll(tri.select(col("v").as("k")))
      .unionAll(tri.select(col("w").as("k")))
      .groupBy(col("k")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("k"), "left")
      .select(col("k"), col("deg"),
        expr("deg * (deg - 1) div 2").as("n_wedges"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .orderBy(col("k"))
  }

  /** INCREMENTAL per-node triangle deltas for a growing edge table —
    * the graph-family batch-vs-corpus twin (the c04/c05/c06 and s25
    * contract lifted to graphs): given the EXISTING simple graph and a
    * NEW edge batch, count only the triangles of old ∪ Δ that contain
    * at least one genuinely-new edge (Δ = simple(new) anti-join old —
    * re-adding an existing edge creates nothing), each exactly once,
    * WITHOUT re-pairing the old graph with itself.
    *
    * Enumeration (exact, once-counted): orient the union by (union
    * degree, id) as in [[triangleCounts]]; a triangle is its unique
    * apex wedge (u; v, w) plus closing edge v→w. Split by where the
    * new edge sits — (1) wedge edge 1 new (anything else), (2) wedge
    * edge 1 old + edge 2 new, (3) both wedge edges old + closing edge
    * new. Categories are disjoint and cover every Δ-touching triangle.
    *
    * Scale shape: every stage is Δ-ANCHORED — (1)/(2) are u-keyed
    * wedge joins with the O(|Δ|) side on one leg (out-neighborhoods
    * O(√m) by orientation), (3) is the classic per-new-edge
    * common-neighbor join (two node-keyed equi-joins from the Δ edge's
    * endpoints); the only O(m) passes are linear (degree groupBy,
    * orientation attach). Per-batch work scales with |Δ|·√m, not
    * m^1.5 — the whole point of the incremental twin. At cluster scale
    * the degree table would persist and update incrementally; here it
    * recomputes in one partial-aggregable groupBy.
    *
    * Output: (k, d_tri) — nodes whose triangle membership grows, with
    * the exact increment; ordered by k. Oracle-checkable scheme-blind
    * as per-node T(union) − T(old).
    */
  def incrementalTriangles(oldEdges: DataFrame, newEdges: DataFrame): DataFrame = {
    def simple(e: DataFrame) = e.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val undOld = simple(oldEdges).cpGuard() // anti-join + union + category-3 legs
    val delta = simple(newEdges)
      .join(undOld, Seq("a", "b"), "left_anti")
    val union = undOld.withColumn("is_new", lit(false))
      .unionAll(delta.withColumn("is_new", lit(true)))
      .cpGuard() // degree AND orientation read it
    val deg = union.select(col("a").as("k"))
      .unionAll(union.select(col("b").as("k")))
      .groupBy(col("k")).agg(count(lit(1)).as("deg"))
    val oriented = union
      .join(deg.select(col("k").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("k").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") > col("db"), col("b")).otherwise(col("a")).as("u"),
        when(col("da") > col("db"), col("a")).otherwise(col("b")).as("v"),
        when(col("da") > col("db"), col("da")).otherwise(col("db")).as("dv"),
        col("is_new"))
      .cpGuard() // read by all three categories + the closing semi-join
    val oN = oriented.filter(col("is_new")).drop("is_new")
    val oO = oriented.filter(!col("is_new")).drop("is_new")
    def snd(df: DataFrame) =
      df.select(col("u"), col("v").as("w"), col("dv").as("dw"))
    val wedgeOrder = col("dv") < col("dw") ||
      (col("dv") === col("dw") && col("v") < col("w"))
    // (1) wedge edge 1 new, edge 2 anything; (2) edge 1 old, edge 2 new
    val wNew = oN.join(snd(oriented.drop("is_new")), Seq("u")).filter(wedgeOrder)
      .unionAll(oO.join(snd(oN), Seq("u")).filter(wedgeOrder))
    val closedNewWedge = wNew
      .join(oriented.select(col("u").as("v"), col("v").as("w")),
        Seq("v", "w"), "left_semi")
      .select(col("u"), col("v"), col("w"))
    // (3) old-old wedge closed by the NEW edge: Δ edge (v, w) anchors a
    // common-oriented-predecessor join; the wedge order (dv,v) < (dw,w)
    // is implied by the Δ edge's own orientation
    val triClosing = oN.select(col("u").as("v"), col("v").as("w"))
      .join(oO.select(col("u"), col("v")), Seq("v"))
      .join(oO.select(col("u"), col("v").as("w")), Seq("u", "w"), "left_semi")
      .select(col("u"), col("v"), col("w"))
    val newTri = closedNewWedge.unionAll(triClosing)
    newTri.select(col("u").as("k"))
      .unionAll(newTri.select(col("v").as("k")))
      .unionAll(newTri.select(col("w").as("k")))
      .groupBy(col("k")).agg(count(lit(1)).as("d_tri"))
      .orderBy(col("k"))
  }

  /** k-truss peel over the undirected simple graph, run for exactly
    * `iters` rounds (the [[kCore]] contract lifted from nodes to
    * EDGES): repeatedly drop edges whose support — the number of
    * triangles containing them — is below k-2, recompute support over
    * the survivors, repeat. A k-truss is strictly stronger cohesion
    * than a k-core (every edge is wedged into k-2 shared neighbors),
    * so it is the next quality gate after [[kCore]] for link-farm
    * screening: a farm's star hub survives degree-based peeling but
    * its spokes share no neighbors and shed immediately here. Output:
    * surviving `(a, b, sup)` with `sup` recomputed on the FINAL edge
    * set (fixed rounds, an upper bound of the fixpoint — the kCore
    * determinism convention).
    *
    * Shape at scale: per round one wedge self-join on the shared
    * endpoint + one edge-membership semi-join (the [[triangleCounts]]
    * closing shape) and a partial-aggregable per-edge count;
    * everything keys on node/edge ids, localCheckpoint per round caps
    * lineage.
    */
  def kTruss(edges: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 3 && iters >= 0, "k >= 3, iters >= 0")
    // support per edge: each triangle (x; y < z) contributes one
    // support unit to its three edges
    def support(e: DataFrame): DataFrame = {
      val wedges = e.select(col("a").as("x"), col("b").as("y"))
        .join(e.select(col("a").as("x"), col("b").as("z")), Seq("x"))
        .filter(col("y") < col("z"))
      val tri = wedges
        .join(e.select(col("a").as("y"), col("b").as("z")),
          Seq("y", "z"), "left_semi")
      tri.select(col("x").as("a"), col("y").as("b"))
        .unionAll(tri.select(col("x").as("a"), col("z").as("b")))
        .unionAll(tri.select(col("y").as("a"), col("z").as("b")))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup"))
    }
    var cur = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().cpGuard() // read by both wedge sides + the closure
    for (_ <- 0 until iters) {
      cur = cur.join(
          support(cur).filter(col("sup") >= k - 2).select(col("a"), col("b")),
          Seq("a", "b"), "left_semi")
        .cpGuard()
    }
    cur.join(support(cur), Seq("a", "b"))
      .orderBy(col("a"), col("b"))
  }

  /** Minimum-hop BFS distance from a seed set, capped at `maxHops` —
    * multi-source reachability over the directed edge list `(src,
    * dst)`. The link-graph trust-radius signal (the propagation step
    * of TrustRank, Gyöngyi et al. 2004): documents a few hops from a
    * curated seed set inherit trust; spam sits far away or
    * unreachable. Returns `(k, hop)` for every node reachable in at
    * most `maxHops` hops, where `hop` is the TRUE BFS distance (the
    * minimum over all paths); seeds are at hop 0. Unreachable nodes
    * are absent, not null — the caller left-joins if it wants the
    * complement.
    *
    * Shape at scale: the classic frontier/delta iteration — each hop
    * expands only the nodes DISCOVERED on the previous hop (never the
    * whole distance table), with one equi-join frontier→edges on src
    * plus one anti-join against the accumulated distances, all keyed
    * on node id, so a cluster run co-partitions the static edge list
    * once and every hop reuses that partitioning (the [[pageRank]] /
    * [[labelPropagation]] contract). localCheckpoint per hop caps
    * lineage (the Dedup.dupClusters loop convention). The driver sees
    * no data and `maxHops` bounds the loop statically, so a
    * pathological graph cannot spin the driver.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops >= 0")
    val ed = edges.select(col("src"), col("dst")).distinct()
      .cpGuard() // static across hops; read once per hop
    var dist = seeds.select(col("k").cast("long").as("k")).distinct()
      .withColumn("hop", lit(0).cast("int")).cpGuard()
    var frontier = dist.select(col("k"))
    for (h <- 1 to maxHops) {
      val next = frontier.join(ed, col("k") === col("src"))
        .select(col("dst").as("k")).distinct()
        .join(dist.select(col("k")), Seq("k"), "left_anti")
        .withColumn("hop", lit(h).cast("int"))
      // ONE materialization per hop: the union'd distance table is the
      // checkpoint, and the next frontier is a cheap filter over it
      // (hop = h selects exactly this hop's discoveries).
      dist = dist.unionAll(next).cpGuard()
      frontier = dist.filter(col("hop") === h).select(col("k"))
    }
    dist.orderBy(col("k"))
  }

  /** Bounded-radius centrality profile: for every node, over the
    * directed <= `maxHops` out-neighborhood, the reached count, hop
    * sum, eccentricity, bounded closeness (n_reached / sum_hops) and
    * bounded harmonic centrality (sum of 1/d). One multi-source BFS —
    * the [[bfsHops]] frontier/delta loop with a `seed` dimension, so
    * ALL sources run in a single sequence of node-keyed joins rather
    * than |V| separate traversals.
    *
    * Determinism: hop counts are integers; harmonic's 1/d terms are
    * single IEEE divisions folded in ascending-hop order over the
    * per-distance histogram (cnt/hop), never a row-order-dependent
    * float sum — the DotProductD discipline applied to graph distances.
    *
    * Scale: (seed, node) state is O(|V| * neighborhood); bounded hops
    * keep it near-linear on sparse graphs. At web scale the same loop
    * runs on a seed SAMPLE (centrality estimates) or switches to
    * register-merge sketches (HyperBall, Boldi & Vigna 2013 — the
    * d16/d18 HLL registers over frontiers); exact all-sources is for
    * item/taxonomy graphs like this one.
    */
  def centrality(edges: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "maxHops >= 1")
    val ed = edges.select(col("src"), col("dst")).distinct().cpGuard()
    val nodes = ed.select(col("src").as("k"))
      .unionAll(ed.select(col("dst").as("k"))).distinct().cpGuard()
    var dist = nodes.select(col("k").as("seed"), col("k"),
      lit(0).cast("int").as("hop")).cpGuard()
    var frontier = dist.select(col("seed"), col("k"))
    for (h <- 1 to maxHops) {
      val next = frontier.join(ed, col("k") === col("src"))
        .select(col("seed"), col("dst").as("k")).distinct()
        .join(dist.select(col("seed"), col("k")), Seq("seed", "k"),
          "left_anti")
        .withColumn("hop", lit(h).cast("int"))
      dist = dist.unionAll(next).cpGuard()
      frontier = dist.filter(col("hop") === h).select(col("seed"), col("k"))
    }
    val perHop = dist.filter(col("hop") > 0)
      .groupBy(col("seed"), col("hop")).agg(count(lit(1)).as("cnt"))
    val agg = perHop.groupBy(col("seed")).agg(
      sum(col("cnt")).cast("long").as("n_reached"),
      sum(col("cnt") * col("hop")).cast("long").as("sum_hops"),
      max(col("hop")).cast("int").as("ecc"),
      aggregate(
        array_sort(collect_list(struct(col("hop"), col("cnt")))),
        lit(0.0),
        (acc, x) => acc + x.getField("cnt").cast("double") /
          x.getField("hop").cast("double")).as("harmonic"))
    nodes.join(agg, nodes("k") === agg("seed"), "left")
      .select(col("k"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        coalesce(col("sum_hops"), lit(0L)).as("sum_hops"),
        coalesce(col("ecc"), lit(0)).as("ecc"),
        when(col("sum_hops") > 0,
          col("n_reached").cast("double") / col("sum_hops").cast("double"))
          .as("closeness"),
        coalesce(col("harmonic"), lit(0.0)).as("harmonic"))
      .orderBy(col("k"))
  }

  /** k-core peel over the undirected simple graph, run for exactly
    * `iters` peel rounds: repeatedly drop nodes whose surviving degree
    * is below `minDeg`, keeping only edges between survivors. The
    * link-graph embeddedness signal curation pairs with
    * [[triangleCounts]]: a page inside a dense well-linked core is
    * organically referenced; link farms and scrape chains peel away in
    * the first rounds (their shells are stars/chains whose degrees
    * collapse once neighbors vanish). Fixed `iters` keeps the result
    * deterministic and oracle-verifiable; at convergence (no node
    * dropped in a round) further rounds are no-ops, so `iters` is an
    * upper bound, not a tuning knob. Output: surviving `(k, deg)` with
    * deg = the within-core degree.
    *
    * Shape at scale: per round one partial-aggregable degree groupBy
    * and two node-keyed LEFT SEMI joins restricting the edge list to
    * survivors — everything keys on node id, co-partitionable with the
    * static edge list like every Graphs loop; localCheckpoint per
    * round caps lineage, and the driver sees no data.
    */
  def kCore(edges: DataFrame, minDeg: Int, iters: Int): DataFrame = {
    require(minDeg >= 1 && iters >= 0, "minDeg >= 1, iters >= 0")
    var cur = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().cpGuard()
    for (_ <- 0 until iters) {
      val keep = cur.select(col("a").as("k")).unionAll(cur.select(col("b").as("k")))
        .groupBy(col("k")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= minDeg).select(col("k"))
      cur = cur
        .join(keep.select(col("k").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("k").as("b")), Seq("b"), "left_semi")
        .cpGuard()
    }
    cur.select(col("a").as("k")).unionAll(cur.select(col("b").as("k")))
      .groupBy(col("k")).agg(count(lit(1)).as("deg"))
      .orderBy(col("k"))
  }

  /** Link-prediction candidate scoring over the undirected simple
    * graph: for every non-adjacent pair with at least one common
    * neighbor, the common-neighbors count and the preferential-
    * attachment product (Liben-Nowell & Kleinberg 2003) — the two
    * classic integer-exact scores. In a crawl-curation DAG this is the
    * "likely missing link" signal (a candidate page strongly wedged
    * into a trusted neighborhood inherits its trust); in a
    * dedup/recommendation DAG it is the co-visitation affinity score.
    * Adamic-Adar is deliberately absent: its 1/log(deg) terms need
    * libm, and the engine's oracle discipline is integer/rational only.
    *
    * Scale shape: candidate pairs are generated ONLY through shared
    * neighbors (one self-equi-join of the adjacency list on the
    * neighbor id) — never an all-pairs product. A wedge center of
    * degree d contributes d^2 candidate rows, so centers with degree >
    * `maxWedgeDeg` are pruned BEFORE the self-join (the [[HotBuckets]]
    * convention: a stop-hub connects everything to everything and
    * carries no discriminative signal, exactly like a stop-shingle in
    * minhash LSH). The cap is part of the operator's semantics and is
    * modeled in the SQL oracle, so the capped path itself is
    * hash-verified. Already-connected pairs leave via an anti-join on
    * the undirected edge list; degrees attach by two node-keyed
    * broadcasts-or-shuffles of the (tiny) degree table. Output is the
    * deterministic global top `topN` by (cn DESC, pa DESC, a, b) — a
    * TakeOrdered, no unpartitioned window.
    */
  def linkPrediction(edges: DataFrame, topN: Int,
                     maxWedgeDeg: Int = 10000): DataFrame = {
    require(topN > 0 && maxWedgeDeg >= 1, "topN >= 1, maxWedgeDeg >= 1")
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .cpGuard() // read by adj (twice via unionAll) AND the anti-join
    val adj = und.select(col("a").as("k"), col("b").as("n"))
      .unionAll(und.select(col("b").as("k"), col("a").as("n")))
    val deg = adj.groupBy(col("k")).agg(count(lit(1)).as("deg"))
      .cpGuard() // read by the wedge prune and both score joins
    // Prune hot wedge centers BEFORE the self-join: the center of a
    // wedge is the shared neighbor n, so the cap keys on deg(n).
    val adjc = adj
      .join(deg.select(col("k").as("n"), col("deg").as("dn")), "n")
      .filter(col("dn") <= maxWedgeDeg)
      .select(col("n"), col("k"))
      .cpGuard() // self-joined below
    val cn = adjc
      .join(adjc.select(col("n"), col("k").as("k2")), "n")
      .filter(col("k") < col("k2"))
      .groupBy(col("k").as("a"), col("k2").as("b"))
      .agg(count(lit(1)).as("cn"))
    cn.join(und, Seq("a", "b"), "left_anti")
      .join(deg.select(col("k").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("k").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("cn"),
        (col("deg_a") * col("deg_b")).as("pa"))
      .orderBy(col("cn").desc, col("pa").desc, col("a"), col("b"))
      .limit(topN)
  }

  /** Graph-health audit for [[pageRank]]'s input (the s15/IVF-audit
    * pattern applied to graphs): per-node weighted in/out degree and a
    * dangling flag, plus broadcast one-row totals so each node carries
    * the graph-level context (n_nodes, n_edges, total weight, dangling
    * count — the mass [[pageRank]] will drop). Two partial-aggregable
    * groupBys and a full outer on node id; no row ever carries more
    * than its own counters.
    */
  def degreeAudit(edges: DataFrame): DataFrame = {
    val outw = edges.groupBy(col("src").as("k"))
      .agg(sum(col("w")).as("out_w"), count(lit(1)).as("out_deg"))
    val inw = edges.groupBy(col("dst").as("k"))
      .agg(sum(col("w")).as("in_w"), count(lit(1)).as("in_deg"))
    val nodes = outw.join(inw, Seq("k"), "full_outer")
      .select(col("k"),
        coalesce(col("out_w"), lit(0L)).as("out_w"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_w"), lit(0L)).as("in_w"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .withColumn("dangling", col("out_deg") === 0L)
    val totals = edges.agg(count(lit(1)).as("n_edges"),
      sum(col("w")).as("total_w"))
    nodes.crossJoin(broadcast(totals))
      .select(col("k"), col("out_w"), col("out_deg"), col("in_w"),
        col("in_deg"), col("dangling"), col("n_edges"), col("total_w"))
      .orderBy(col("k"))
  }

  /** Deterministic pseudo-random walks — the DeepWalk/node2vec corpus
    * step (Perozzi et al. KDD'14) without RNG state: one walk starts
    * from every node with out-edges, and step t moves from v to the
    * out-neighbor u minimizing the portable hash h32("v:t:u") (min over
    * (h, u) — a total order, so the walk table is a pure function of
    * the graph; restarts, stragglers and both engines reproduce it
    * bit-for-bit). A walk ends early at a node with no out-edges.
    *
    * Shape per step: one equi-join (current frontier x adjacency, keyed
    * on the node id) + one groupBy(start).min — the pageRank round
    * shape; frontier never exceeds one row per start. localCheckpoint
    * per step keeps lineage flat.
    *
    * Output: (start, step, node), step 0..steps.
    */
  def randomWalks(edges: DataFrame, steps: Int): DataFrame = {
    require(steps >= 1, "steps >= 1")
    val adj = edges.select(col("src"), col("dst")).distinct().cpGuard()
    var cur = adj.select(col("src").as("start")).distinct()
      .withColumn("node", col("start"))
    val acc = scala.collection.mutable.Buffer(cur.withColumn("step", lit(0)))
    for (t <- 1 to steps) {
      val cand = cur.join(adj, cur("node") === adj("src"))
        .select(col("start"), col("dst"),
          graft.functions.Hashing.h32(concat(
            col("node").cast("string"), lit(s":${t - 1}:"),
            col("dst").cast("string"))).as("h"))
      cur = cand.groupBy(col("start"))
        .agg(min(struct(col("h"), col("dst"))).as("m"))
        .select(col("start"), col("m").getField("dst").as("node"))
        .cpGuard()
      acc += cur.withColumn("step", lit(t))
    }
    acc.reduce(_ unionByName _)
      .select(col("start"), col("step"), col("node"))
      .orderBy(col("start"), col("step"))
  }

  /** Exact betweenness centrality of a DIRECTED edge list — the
    * who-do-shortest-paths-route-through signal missing from the
    * closeness/harmonic profile ([[centrality]]): for every node v,
    * bc(v) = Σ_{s≠v≠t} σ(s,v)·σ(v,t)/σ(s,t) over pairs with
    * d(s,v) + d(v,t) = d(s,t) (Freeman 1977; the pair-dependency
    * identity Brandes 2001 §3 accumulates — used here DIRECTLY, which
    * is oracle-replayable, instead of Brandes' backward recursion,
    * which is not).
    *
    * Exactness: each (s, v, t) term is the integer
    * floor(σ(s,v)·σ(v,t)·`scale` / σ(s,t)) in BOTH engines (truncating
    * div), summed as BIGINTs — no IEEE accumulation anywhere; an
    * observe-checked envelope (max σ < 2^20 at scale = 2^20) makes
    * overflow impossible rather than silent.
    *
    * Shape: ONE level-synchronous multi-source BFS (the [[centrality]]
    * seed-dimension idiom) builds the all-pairs (s, v, d, σ) table —
    * per level one frontier⋈edges equi-join + groupBy(s, v) + anti-join
    * against the reached set, one observed checkpoint job; then two
    * node-keyed equi-joins assemble the triples. All-pairs state is
    * O(n²) BY DEFINITION of exact betweenness, so the contract is
    * explicitly bounded (require n <= `maxNodes`) — the registered
    * query runs it on the constant-size transition backbone; at corpus
    * scale you run the SAME loop from a source sample (Brandes & Pich
    * ETA'07) and rescale, exactly like [[centrality]]'s sampling note.
    * Non-closure within `maxRounds` fails LOUDLY (the scc contract) so
    * the fixed-unroll oracle can never silently diverge.
    *
    * Output: (k, bc_q = Σ floor-terms at 2^`scaleBits`), every node.
    */
  def betweenness(edges: DataFrame, maxRounds: Int = 12,
                  maxNodes: Long = 4096, scaleBits: Int = 20,
                  driverThreshold: Long = SmallInput.DefaultThreshold): DataFrame = {
    require(maxRounds >= 1 && scaleBits >= 0 && scaleBits <= 30,
      "maxRounds >= 1, scaleBits in [0, 30]")
    val scale = 1L << scaleBits
    // below the threshold one driver pass computes the IDENTICAL
    // floored-triple sum (not Brandes' rational accumulation, which
    // would round differently) without whole jobs per BFS level
    SmallInput.gate(simpleEdges(edges), driverThreshold)(
      betweennessDriver(_, maxRounds, maxNodes, scale)) { (ed, _) =>
      val nodes = ed.select(col("src").as("k"))
        .unionAll(ed.select(col("dst").as("k"))).distinct().cpGuard()
      val n = nodes.count()
      require(n <= maxNodes,
        s"betweenness: $n nodes exceeds the exact all-pairs bound " +
          s"$maxNodes — run from a source sample (Brandes-Pich) instead")
      val sp = sigmaBfsFrom(nodes, ed, maxRounds)
      val p1 = sp.filter(col("d") >= 1)
        .select(col("s"), col("v"), col("d").as("d1"), col("sigma").as("sig1"))
      val p2 = sp.filter(col("d") >= 1)
        .select(col("s").as("v"), col("v").as("t"),
          col("d").as("d2"), col("sigma").as("sig2"))
      val p3 = sp.select(col("s"), col("v").as("t"),
        col("d").as("dst_d"), col("sigma").as("sigst"))
      val bc = p1.join(p2, "v")
        .join(p3, Seq("s", "t"))
        .filter(col("d1") + col("d2") === col("dst_d"))
        .select(col("v"),
          expr(s"sig1 * sig2 * CAST($scale AS BIGINT) div sigst").as("term"))
        .groupBy(col("v")).agg(sum(col("term")).as("bc"))
      nodes.join(bc, col("k") === col("v"), "left")
        .select(col("k"), coalesce(col("bc"), lit(0L)).as("bc_q"))
        .orderBy(col("k"))
    }
  }

  /** Self-loop-free distinct BIGINT `(src, dst)` pairs — the edge
    * normalization [[betweenness]], [[betweennessSampled]],
    * [[betweennessSource]] and [[scc]] gate on.
    */
  private def simpleEdges(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .distinct()

  /** Level-synchronous multi-source BFS with shortest-path counts:
    * from each source in `sources` (column `k`), the (s, v, d, sigma)
    * table over `ed` — per level ONE frontier⋈edges equi-join +
    * groupBy(s, v) + anti-join against the reached set, one observed
    * checkpoint job; sigma overflow (>= 2^20) and non-closure within
    * `maxRounds` fail LOUDLY (the [[betweenness]] contracts). State is
    * O(|sources| · n) — the all-pairs cost only when sources = nodes.
    */
  private def sigmaBfsFrom(sources: DataFrame, ed: DataFrame,
                           maxRounds: Int): DataFrame = {
    var frontier = sources.select(col("k").as("s"), col("k").as("v"),
      lit(0).as("d"), lit(1L).as("sigma")).cpGuard()
    // sp accumulates as a union of CHECKPOINTED level pieces — flat
    // lineage, zero extra materialization jobs (the scc deferral)
    val pieces = scala.collection.mutable.Buffer(frontier)
    def sp = pieces.reduce(_ unionAll _)
    var round = 0
    var open = true
    while (open && round < maxRounds) {
      round += 1
      val obs = org.apache.spark.sql.Observation()
      val next = frontier.join(ed, col("v") === col("src"))
        .groupBy(col("s"), col("dst").as("nv"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(sp.select(col("s"), col("v").as("nv")), Seq("s", "nv"), "left_anti")
        .select(col("s"), col("nv").as("v"), lit(round).as("d"), col("sigma"))
        .observe(obs, count(lit(1)).as("nnew"),
          coalesce(max(col("sigma")), lit(0L)).as("smax"))
        .cpGuard()
      require(obs.get("smax").asInstanceOf[Long] < (1L << 20),
        "betweenness: shortest-path count >= 2^20 would overflow the " +
          "integer term envelope; reduce the graph or scaleBits")
      if (obs.get("nnew").asInstanceOf[Long] == 0L) open = false
      else { pieces += next; frontier = next }
    }
    require(!open,
      s"betweenness: BFS did not close in $maxRounds rounds (graph " +
        "diameter exceeds the declared unroll bound)")
    sp
  }

  /** A collected BIGINT `(src, dst)` edge list on dense node indices —
    * what the betweenness and scc driver shortcuts walk: `ids`
    * ascending, `out`/`in` adjacency by index.
    */
  private final class DenseGraph(rows: Array[Row]) {
    val ids: Array[Long] =
      rows.flatMap(r => Array(r.getLong(0), r.getLong(1))).distinct.sorted
    val n: Int = ids.length
    private val index = ids.zipWithIndex.toMap
    private def adjacency(from: Int, to: Int): Array[List[Int]] = {
      val a = Array.fill(n)(List.empty[Int])
      rows.foreach(r => a(index(r.getLong(from))) ::= index(r.getLong(to)))
      a
    }
    lazy val out: Array[List[Int]] = adjacency(0, 1)
    lazy val in: Array[List[Int]] = adjacency(1, 0)
  }

  /** Driver twin of [[sigmaBfsFrom]] from ONE source over dense
    * adjacency, shared by the three betweenness shortcuts: per node the
    * BFS depth (-1 = unreached) and the shortest-path count σ, summed
    * level-synchronously, with the same loud contracts — σ < 2^20 and
    * closure within `maxRounds` levels.
    */
  private def sigmaBfsDriver(adj: Array[List[Int]], s: Int,
                             maxRounds: Int): (Array[Int], Array[Long]) = {
    val dist = Array.fill(adj.length)(-1)
    val sig = new Array[Long](adj.length)
    dist(s) = 0
    sig(s) = 1L
    var frontier = List(s)
    var d = 0
    while (frontier.nonEmpty) {
      d += 1
      require(d <= maxRounds,
        s"betweenness: BFS did not close in $maxRounds rounds (graph " +
          "diameter exceeds the declared unroll bound)")
      var next = List.empty[Int]
      for (v <- frontier; w <- adj(v) if dist(w) == -1 || dist(w) == d) {
        if (dist(w) == -1) { dist(w) = d; next ::= w }
        sig(w) += sig(v)
        require(sig(w) < (1L << 20),
          "betweenness: shortest-path count >= 2^20 would overflow the " +
            "integer term envelope; reduce the graph or scaleBits")
      }
      frontier = next
    }
    (dist, sig)
  }

  /** The pivot rule [[betweennessSampled]] and [[betweennessSource]]
    * share on both paths: the `numSources` nodes smallest by Lehmer
    * hash (k·48271) mod (2^31 − 1), ties by k. Ids must be below
    * 2^63 / 48271 (overflow-free hash) and non-negative: Spark's pmod
    * and the oracle's sign-following % diverge on negatives, so the
    * two engines would pick DIFFERENT pivots — negatives are out of
    * contract, not silently re-hashed.
    */
  private def checkPivots(op: String, kmin: Long, kmax: Long, n: Long,
                          minNodes: Int): Unit = {
    require(kmax < Long.MaxValue / 48271L,
      s"$op: node ids too large for the overflow-free Lehmer seed hash")
    require(kmin >= 0L,
      s"$op: negative node ids break the cross-engine Lehmer seed hash " +
        "contract (pmod vs sign-following %); remap ids to non-negative " +
        "first")
    require(n >= minNodes,
      if (minNodes > 1) s"$op: need at least $minNodes nodes"
      else s"$op: empty graph")
  }

  /** Distributed [[checkPivots]]: the node table (id bounds observed on
    * its checkpoint), n, K and the checkpointed K-row pivot table.
    */
  private def pivots(ed: DataFrame, op: String, numSources: Int,
                     minNodes: Int): (DataFrame, Long, Long, DataFrame) = {
    val mObs = org.apache.spark.sql.Observation()
    val nodes = ed.select(col("src").as("k"))
      .unionAll(ed.select(col("dst").as("k"))).distinct()
      .observe(mObs, coalesce(max(col("k")), lit(0L)).as("kmax"),
        coalesce(min(col("k")), lit(0L)).as("kmin"))
      .cpGuard()
    val n = nodes.count()
    checkPivots(op, mObs.get("kmin").asInstanceOf[Long],
      mObs.get("kmax").asInstanceOf[Long], n, minNodes)
    val k2 = math.min(numSources.toLong, n)
    // bounded TakeOrdered: K rows, never the corpus
    val seeds = nodes
      .withColumn("__h", pmod(col("k") * 48271L, lit(2147483647L)))
      .orderBy(col("__h"), col("k")).limit(k2.toInt)
      .select(col("k")).cpGuard()
    (nodes, n, k2, seeds)
  }

  /** Driver [[checkPivots]]: the pivots' dense indices. */
  private def pivots(g: DenseGraph, op: String, numSources: Int,
                     minNodes: Int): Array[Int] = {
    checkPivots(op, g.ids.headOption.getOrElse(0L),
      g.ids.lastOption.getOrElse(0L), g.n, minNodes)
    g.ids.indices.sortBy(i => (g.ids(i) * 48271L % 2147483647L, g.ids(i)))
      .take(math.min(numSources, g.n)).toArray
  }

  /** Sampled betweenness centrality — [[betweenness]]'s production
    * path at corpus scale (Brandes & Pich ETA'07 pivot estimation):
    * `numSources` PIVOT nodes are chosen hash-deterministically (the
    * `numSources` smallest by Lehmer hash (k·48271) mod (2^31 − 1),
    * ties by k — seedless, reproducible, oracle-expressible; node ids
    * must be non-negative and below 2^63 / 48271, both enforced, since
    * Spark's pmod and the oracle's sign-following % diverge on
    * negatives), and the EXACT floored
    * pair-dependency identity of [[betweenness]] is restricted to
    * pivot PAIRS (s, t) ∈ S×S: one forward σ-BFS from S and one
    * backward σ-BFS from S over the reversed edges supply σ(s, v) and
    * σ(v, t), so state is O(K·n), never O(n²), and no `maxNodes`
    * bound applies. Restricting BOTH endpoints (rather than Brandes-
    * Pich's source-only n/K form) is deliberate: source-only
    * extrapolation needs Brandes' backward δ-recursion, whose
    * per-step RATIONAL accumulation is not integer-exact across
    * engines — the pivot-pair form keeps g27's floored-triple terms
    * bit-identical, and at K = n it IS g27, term for term. The
    * source-only estimator now exists too, as [[betweennessSource]]:
    * the δ-recursion in a per-edge FLOORED fixed-point form that is
    * order-independent and therefore portable — it converges faster
    * per BFS (n/K vs K(K−1) pair coverage) at the cost of a bounded,
    * documented truncation underestimate; this pivot-pair form remains
    * the one whose terms are exactly g27's.
    *
    * Output: (k, bc_raw_q = Σ floor-terms over sampled pairs at
    * 2^`scaleBits`, bc_est_q = bc_raw_q·n·(n−1) div (K·(K−1)) — the
    * pair-count extrapolation, exact integral div), every node.
    */
  def betweennessSampled(edges: DataFrame, numSources: Int,
                         maxRounds: Int = 12,
                         scaleBits: Int = 20,
                         driverThreshold: Long = SmallInput.DefaultThreshold): DataFrame = {
    require(numSources >= 2 && maxRounds >= 1 &&
      scaleBits >= 0 && scaleBits <= 30,
      "numSources >= 2, maxRounds >= 1, scaleBits in [0, 30]")
    val scale = 1L << scaleBits
    // below the threshold the ~2·diameter level jobs of the two σ-BFS
    // pyramids are pure fixed overhead; one driver pass computes the
    // IDENTICAL floored pivot-pair triple sum (order-independent floors)
    SmallInput.gate(simpleEdges(edges), driverThreshold)(
      betweennessSampledDriver(_, numSources, maxRounds, scale)) { (ed, _) =>
      val (nodes, n, k2, seeds) =
        pivots(ed, "betweennessSampled", numSources, minNodes = 2)
      // the forward and backward σ-BFS pyramids are independent (both
      // read only the CHECKPOINTED ed/seeds): run their level jobs
      // concurrently so one direction's frontier tail back-fills the
      // other's idle capacity (guide §2.6 overlap-independent-jobs)
      val (spF, spB) = graft.core.Par.eval2(
        sigmaBfsFrom(seeds, ed, maxRounds),
        sigmaBfsFrom(seeds,
          ed.select(col("dst").as("src"), col("src").as("dst")), maxRounds))
      val p1 = spF.filter(col("d") >= 1)
        .select(col("s"), col("v"), col("d").as("d1"), col("sigma").as("sig1"))
      val p2 = spB.filter(col("d") >= 1)
        .select(col("s").as("t"), col("v"),
          col("d").as("d2"), col("sigma").as("sig2"))
      val p3 = spF.select(col("s"), col("v").as("t"),
        col("d").as("dst_d"), col("sigma").as("sigst"))
      // n is a driver value: guard n(n-1) itself (wraps past n ~ 3.04e9,
      // exactly the corpus-scale regime this op exists for — Spark
      // non-ANSI arithmetic would wrap SILENTLY, violating the repo's
      // loud-overflow discipline)
      require(n - 1 <= Long.MaxValue / n,
        s"betweennessSampled: n(n-1) overflows Long for n=$n")
      val factNum = n * (n - 1)
      val factDen = k2 * (k2 - 1)
      // bc_raw_q can reach ~K(K-1)·2^scaleBits, so bc_raw_q·factNum can
      // wrap for large n; the largest safe raw value is a driver constant
      val rawLim = Long.MaxValue / factNum
      val bc = p1.join(p2, "v")
        .join(p3, Seq("s", "t"))
        .filter(col("d1") + col("d2") === col("dst_d"))
        .select(col("v"),
          expr(s"sig1 * sig2 * CAST($scale AS BIGINT) div sigst").as("term"))
        .groupBy(col("v")).agg(sum(col("term")).as("bc"))
      nodes.join(bc, col("k") === col("v"), "left")
        .select(col("k"), coalesce(col("bc"), lit(0L)).as("bc_raw_q"))
        // the guard lives INSIDE the consumed expression (a separate
        // assert_true column would be pruned away as dead); raise_error's
        // NullType coerces into the BIGINT branch
        .withColumn("bc_est_q",
          expr(s"CASE WHEN bc_raw_q > ${rawLim}L THEN raise_error(concat(" +
            "'betweennessSampled: bc_raw_q ', CAST(bc_raw_q AS STRING), " +
            s"' overflows the n(n-1)/K(K-1) extrapolation at n=$n; lower " +
            "scaleBits')) ELSE " +
            s"bc_raw_q * CAST($factNum AS BIGINT) div CAST($factDen AS BIGINT) END"))
        .orderBy(col("k"))
    }
  }

  /** Source-only sampled betweenness — the Brandes-Pich n/K estimator
    * g28's scaladoc refused pending an integer-exact design; this IS
    * that design. Brandes' backward recursion
    * δ_s(v) = Σ_{w : v ∈ pred_s(w)} (σ_sv/σ_sw)·(1 + δ_s(w))
    * (Brandes 2001 Thm 6) converges per BFS instead of needing K(K−1)
    * pair coverage, but its per-step RATIONAL accumulation is not
    * portable — clearing denominators needs lcm{σ} factors that
    * overflow any fixed width. The t40 fixed-point discipline applies
    * instead: accumulate δ at 2^`scaleBits`, flooring EACH successor
    * edge's term independently,
    * δq_s(v) = Σ_w floor(σ_sv·(2^b + δq_s(w)) / σ_sw),
    * which is ORDER-INDEPENDENT (one floor per edge, then exact BIGINT
    * sums — no sequence-sensitive rounding), so both engines compute
    * bit-identical values with no evaluation-order contract at all.
    * Each floor understates by < 1, so δq/2^b underestimates Brandes'
    * δ by < (successor count)·depth·2^−b along any recursion chain —
    * an estimator's noise floor, documented, never silent. When every
    * σ = 1 (unique shortest paths) no floor truncates and at K = n the
    * estimate equals exact [[betweenness]] term for term (spec-pinned).
    *
    * Shape: ONE forward σ-BFS from the K hash-deterministic seeds
    * (state O(K·n), the g28 seed rule and guards), then a backward
    * level-synchronous sweep — per level ONE frontier⋈edges⋈successor
    * equi-join + groupBy(s, v), checkpointed, with a loud δ envelope
    * (δq < 2^42 keeps σ·(2^b + δq) < 2^62) — and the n/K source-count
    * extrapolation under the g28 overflow guard.
    *
    * Output: (k, bc_raw_q = Σ_s δq_s(k), bc_est_q = bc_raw_q·n div K),
    * every node.
    */
  def betweennessSource(edges: DataFrame, numSources: Int,
                        maxRounds: Int = 12,
                        scaleBits: Int = 20,
                        driverThreshold: Long = SmallInput.DefaultThreshold): DataFrame = {
    require(numSources >= 1 && maxRounds >= 1 &&
      scaleBits >= 0 && scaleBits <= 30,
      "numSources >= 1, maxRounds >= 1, scaleBits in [0, 30]")
    val scale = 1L << scaleBits
    // below the threshold the level-synchronous sweep pays ~2·diameter
    // whole jobs of fixed overhead; the per-edge floors are
    // ORDER-INDEPENDENT, so one driver pass computes the BYTE-identical
    // result. Memory is O(n + m) per seed — no all-pairs state
    SmallInput.gate(simpleEdges(edges), driverThreshold)(
      betweennessSourceDriver(_, numSources, maxRounds, scale)) { (ed, _) =>
      val (nodes, n, k2, seeds) =
        pivots(ed, "betweennessSource", numSources, minNodes = 1)
      val sp = sigmaBfsFrom(seeds, ed, maxRounds)
      // closure depth: a 1-row bounded aggregate, the dup-threshold idiom
      val dMax = sp.agg(max(col("d"))).head().getInt(0)
      // backward sweep, deepest level first; level 0 (v = s itself) is
      // never computed — Brandes accumulates δ only over w ≠ s
      var delta = sp.filter(col("d") === dMax)
        .select(col("s"), col("v"), lit(0L).as("dq")).cpGuard()
      val levels = scala.collection.mutable.Buffer.empty[DataFrame]
      if (dMax >= 1) levels += delta
      for (l <- (dMax - 1) to 1 by -1) {
        val cur = sp.filter(col("d") === l)
          .select(col("s"), col("v"), col("sigma").as("sig_v"))
        val succ = sp.filter(col("d") === l + 1)
          .select(col("s"), col("v").as("w"), col("sigma").as("sig_w"))
          .join(delta.select(col("s"), col("v").as("w"), col("dq")),
            Seq("s", "w"))
        val contrib = cur
          .join(ed, col("v") === col("src"))
          .join(succ.withColumnRenamed("w", "dst"), Seq("s", "dst"))
          .select(col("s"), col("v"),
            expr(s"sig_v * (CAST($scale AS BIGINT) + dq) div sig_w")
              .as("term"))
          .groupBy(col("s"), col("v")).agg(sum(col("term")).as("dqs"))
        val obs = org.apache.spark.sql.Observation()
        delta = cur.select(col("s"), col("v"))
          .join(contrib, Seq("s", "v"), "left")
          .select(col("s"), col("v"),
            coalesce(col("dqs"), lit(0L)).as("dq"))
          .observe(obs, coalesce(max(col("dq")), lit(0L)).as("dmax"))
          .cpGuard()
        // next level multiplies σ (< 2^20) by (2^b + δq): keep the
        // product under 2^62, loudly
        require(obs.get("dmax").asInstanceOf[Long] < (1L << 42) - scale,
          s"betweennessSource: δq reaches 2^42 at level $l and the next " +
            "level's σ·(2^b + δq) product would overflow — lower scaleBits")
        levels += delta
      }
      val bc =
        if (levels.isEmpty)
          nodes.select(col("k").as("v"), lit(0L).as("bc")).limit(0)
        else levels.reduce(_ unionByName _)
          .groupBy(col("v")).agg(sum(col("dq")).as("bc"))
      val rawLim = Long.MaxValue / n
      nodes.join(bc, col("k") === col("v"), "left")
        .select(col("k"), coalesce(col("bc"), lit(0L)).as("bc_raw_q"))
        // the g28 discipline: the guard lives INSIDE the consumed
        // expression, raise_error's NullType coercing into the branch
        .withColumn("bc_est_q",
          expr(s"CASE WHEN bc_raw_q > ${rawLim}L THEN raise_error(concat(" +
            "'betweennessSource: bc_raw_q ', CAST(bc_raw_q AS STRING), " +
            s"' overflows the n/K extrapolation at n=$n; lower scaleBits'" +
            s")) ELSE bc_raw_q * CAST($n AS BIGINT) div CAST($k2 AS BIGINT) " +
            "END"))
        .orderBy(col("k"))
    }
  }

  /** Driver-side [[betweennessSampled]] for a below-threshold edge
    * list: the same pivot rule, one forward and one backward σ-BFS per
    * pivot, and the same floored pivot-pair triple terms
    * floor(σ(s,v)·σ(v,t)·scale / σ(s,t)) — BYTE-equal to the
    * distributed pyramids (spec-pinned via driverThreshold = 0),
    * including every loud envelope: σ < 2^20, closure in maxRounds,
    * id bounds, n(n-1) and extrapolation overflow guards. State is
    * O(K·n), exactly the distributed contract.
    */
  private def betweennessSampledDriver(small: SmallInput.Collected,
                                       numSources: Int, maxRounds: Int,
                                       scale: Long): DataFrame = {
    val spark = small.input.sparkSession
    import spark.implicits._
    val g = new DenseGraph(small.rows)
    val seeds = pivots(g, "betweennessSampled", numSources, minNodes = 2)
    val spF = seeds.map(sigmaBfsDriver(g.out, _, maxRounds))
    val spB = seeds.map(sigmaBfsDriver(g.in, _, maxRounds))
    val (n, k2) = (g.n.toLong, seeds.length.toLong)
    require(n - 1 <= Long.MaxValue / n,
      s"betweennessSampled: n(n-1) overflows Long for n=$n")
    val factNum = n * (n - 1)
    val factDen = k2 * (k2 - 1)
    val rawLim = Long.MaxValue / factNum
    val bc = new Array[Long](g.n)
    for (i <- seeds.indices; j <- seeds.indices) {
      val (d1, sig1) = spF(i)
      val (d2, sig2) = spB(j)
      val t = seeds(j)
      if (d1(t) >= 0)
        for (v <- 0 until g.n
             if d1(v) >= 1 && d2(v) >= 1 && d1(v) + d2(v) == d1(t))
          bc(v) += sig1(v) * sig2(v) * scale / sig1(t)
    }
    g.ids.indices.map { i =>
      require(bc(i) <= rawLim,
        s"betweennessSampled: bc_raw_q ${bc(i)} overflows the " +
          s"n(n-1)/K(K-1) extrapolation at n=$n; lower scaleBits")
      (g.ids(i), bc(i), bc(i) * factNum / factDen)
    }.toDF("k", "bc_raw_q", "bc_est_q").orderBy(col("k"))
  }

  /** Driver-side [[betweennessSource]] for a below-threshold edge
    * list: the same pivot rule, level-synchronous σ-BFS per seed, and
    * the same per-edge floored δ terms (order-independent, so this is
    * BYTE-equal to the distributed sweep and the unrolled oracle),
    * including every loud envelope — σ < 2^20, δ < 2^42, non-closure,
    * id bounds, the n/K extrapolation limit. State is O(n + m) per
    * seed — there is no all-pairs table here, so no maxNodes bound
    * applies.
    */
  private def betweennessSourceDriver(small: SmallInput.Collected,
                                      numSources: Int, maxRounds: Int,
                                      scale: Long): DataFrame = {
    val spark = small.input.sparkSession
    import spark.implicits._
    val g = new DenseGraph(small.rows)
    val seeds = pivots(g, "betweennessSource", numSources, minNodes = 1)
    val bc = new Array[Long](g.n)
    for (s <- seeds) {
      val (dist, sig) = sigmaBfsDriver(g.out, s, maxRounds)
      val levels = g.ids.indices.filter(dist(_) >= 1).groupBy(dist(_))
      // backward δ, deepest level first; level 0 (v = s) never counts
      val dq = new Array[Long](g.n)
      for (l <- levels.keys.toSeq.sorted.reverse; v <- levels(l)) {
        var acc = 0L
        for (w <- g.out(v) if dist(w) == l + 1)
          acc += sig(v) * (scale + dq(w)) / sig(w)
        require(acc < (1L << 42) - scale,
          s"betweennessSource: δq reaches 2^42 at level $l and the " +
            "next level's σ·(2^b + δq) product would overflow — lower " +
            "scaleBits")
        dq(v) = acc
        bc(v) += acc
      }
    }
    val (n, k2) = (g.n.toLong, seeds.length.toLong)
    val rawLim = Long.MaxValue / n
    g.ids.indices.map { i =>
      require(bc(i) <= rawLim,
        s"betweennessSource: bc_raw_q ${bc(i)} overflows the n/K " +
          s"extrapolation at n=$n; lower scaleBits")
      (g.ids(i), bc(i), bc(i) * n / k2)
    }.toDF("k", "bc_raw_q", "bc_est_q").orderBy(col("k"))
  }

  /** Driver-side [[betweenness]] for a below-threshold edge list: one
    * σ-BFS per source, then the same per-triple
    * floor(σ_sv·σ_vt·scale/σ_st) accumulation — BYTE-equal to the
    * distributed path and the unrolled oracle, including the
    * maxRounds closure and σ < 2^20 envelope requires.
    */
  private def betweennessDriver(small: SmallInput.Collected, maxRounds: Int,
                                maxNodes: Long, scale: Long): DataFrame = {
    val spark = small.input.sparkSession
    import spark.implicits._
    val g = new DenseGraph(small.rows)
    // the distributed path's contract, enforced HERE too: a sparse
    // graph can sit under the edge driverThreshold yet carry ~1M
    // nodes, and the O(n^2) dist/sigma arrays + O(n^3) triple loop
    // below would OOM/hang the driver instead of failing attributably
    require(g.n <= maxNodes,
      s"betweenness: ${g.n} nodes exceeds the exact all-pairs bound " +
        s"$maxNodes — run from a source sample (Brandes-Pich) instead")
    val sp = Array.tabulate(g.n)(sigmaBfsDriver(g.out, _, maxRounds))
    val bc = new Array[Long](g.n)
    for (s <- 0 until g.n; v <- 0 until g.n if sp(s)._1(v) >= 1;
         t <- 0 until g.n
         if sp(v)._1(t) >= 1 && sp(s)._1(t) >= 0 &&
           sp(s)._1(v) + sp(v)._1(t) == sp(s)._1(t))
      bc(v) += sp(s)._2(v) * sp(v)._2(t) * scale / sp(s)._2(t)
    g.ids.indices.map(i => (g.ids(i), bc(i))).toDF("k", "bc_q")
      .orderBy(col("k"))
  }

  /** Strongly connected components of a DIRECTED edge list `(src,
    * dst)` — Pregel-style forward-backward coloring (Salihoglu & Widom
    * GPS'13 / Slota FW-BW) with the standard TRIM optimization and the
    * two directions FUSED into one tagged-frontier loop:
    *
    * per phase: (1) TRIM to fixpoint — a remaining node with zero
    * in-degree or zero out-degree can sit on no cycle, so it is a
    * singleton SCC (this peels DAG regions in diameter-many rounds,
    * the case where bare FW-BW needs one phase per chain node);
    * (2) ONE min-label fixpoint loop over the direction-tagged edge
    * union: f(u) = min id that reaches u (forward rows) and b(u) =
    * min id u reaches (reversed rows) propagate in the same job per
    * round — half the actions of running the directions as separate
    * loops, and round count is max(D_f, D_b) instead of D_f + D_b
    * (the g17 cost is job latency, not data);
    * (3) assign where f(u) = b(u): then m = f(u) both reaches and is
    * reached by u, so u ∈ SCC(m), and m is that SCC's min id (any
    * smaller reacher would lower f below the component min) — the
    * assigned set is a union of COMPLETE components;
    * (4) FW-BW cell refinement: an SCC has uniform (f, b), so an edge
    * crossing (f, b) cells is never intra-SCC — the next phase keeps
    * only same-cell edges, splitting chains of mutually-reaching
    * components that single-direction coloring peels one per phase.
    * Deterministic: ids, never hashes.
    *
    * Scale shape: every step is a node-keyed equi-join + groupBy over
    * the (static) remaining edge list — co-partitionable on node id
    * like [[pageRank]]'s iterations, with per-round localCheckpoints.
    * Driver-side values are per-round counts only (convergence
    * checks). Rounds are bounded and non-convergence fails LOUDLY
    * (the [[kCore]]/dedup-clusters determinism contract) rather than
    * returning a partial labeling.
    *
    * Output: (k, scc_id = min node id in the component, scc_size).
    */
  def scc(edges: DataFrame, maxPhases: Int = 10, maxIters: Int = 40,
          driverThreshold: Long = SmallInput.DefaultThreshold): DataFrame = {
    require(maxPhases >= 1 && maxIters >= 1, "maxPhases, maxIters >= 1")
    // An edge list at or below the threshold doesn't need iterative
    // shuffle rounds: each distributed round costs whole jobs of fixed
    // overhead regardless of size. Same (k, scc_id = min member,
    // scc_size) answer from one linear-time driver Tarjan pass; the
    // phase loop below remains the shape for graphs that genuinely
    // don't fit. g17's top-150-edge backbone is CONSTANT-sized at any
    // corpus scale, so the driver pass is its scale-correct plan.
    SmallInput.gate(simpleEdges(edges), driverThreshold)(sccDriver) { (e0, _) =>
      val allNodes = e0.select(col("src").as("k"))
        .unionAll(e0.select(col("dst").as("k"))).distinct().cpGuard()
      var remaining = allNodes
      var nRemaining = remaining.count()
      // assignment pieces are filters of already-checkpointed frames, so
      // deferring the union to the end costs ZERO extra jobs (the old
      // per-call union-and-checkpoint paid one job per trim round)
      val assignedParts = scala.collection.mutable.Buffer.empty[DataFrame]
      def accumulate(a: DataFrame): Unit = { assignedParts += a; () }
      var phase = 0
      // (f, b) cells of the previous phase's unassigned nodes — the FW-BW
      // refinement: cross-cell edges are never intra-SCC
      var cells: DataFrame = null
      while (phase < maxPhases && nRemaining > 0) {
        phase += 1
        // edges among remaining nodes, restricted to same-(f,b)-cell
        // pairs once a phase has run
        var re = e0
          .join(remaining.select(col("k").as("src")), Seq("src"), "left_semi")
          .join(remaining.select(col("k").as("dst")), Seq("dst"), "left_semi")
          .cpGuard()
        if (cells != null) {
          re = re
            .join(cells.select(col("k").as("src"), col("cf").as("sf"),
              col("cb").as("sb")), Seq("src"))
            .join(cells.select(col("k").as("dst"), col("cf").as("df"),
              col("cb").as("db")), Seq("dst"))
            .filter(col("sf") === col("df") && col("sb") === col("db"))
            .select(col("src"), col("dst")).cpGuard()
        }
        // (1) TRIM: peel zero-in/zero-out nodes as singleton SCCs — ONE
        // observed checkpoint job per round (keep/peel split rides as a
        // flag column; the g17 iteration cost is JOB latency, not data)
        var trimming = true
        var it = 0
        while (trimming && it < maxIters) {
          it += 1
          val pObs = org.apache.spark.sql.Observation()
          val marked = remaining
            .join(re.select(col("dst").as("k")).distinct()
              .withColumn("__hi", lit(true)), Seq("k"), "left_outer")
            .join(re.select(col("src").as("k")).distinct()
              .withColumn("__ho", lit(true)), Seq("k"), "left_outer")
            .select(col("k"),
              (col("__hi").isNotNull && col("__ho").isNotNull).as("__keep"))
            .observe(pObs, count(when(!col("__keep"), lit(1))).as("n"))
            .cpGuard()
          val nPeeled = pObs.get("n").asInstanceOf[Long]
          if (nPeeled == 0) trimming = false
          else {
            accumulate(marked.filter(!col("__keep"))
              .select(col("k"), col("k").as("scc_id")))
            val keep = marked.filter(col("__keep")).select(col("k"))
            remaining = keep
            nRemaining -= nPeeled
            re = re
              .join(keep.select(col("k").as("src")), Seq("src"), "left_semi")
              .join(keep.select(col("k").as("dst")), Seq("dst"), "left_semi")
              .cpGuard()
          }
        }
        require(!trimming, s"scc: trim did not converge in $maxIters rounds")
        if (nRemaining > 0) {
          // (2) FUSED fixpoint: forward rows (fw=true) carry f(u) = min
          // id reaching u, reversed rows (fw=false) carry b(u) = min id
          // u reaches — one direction-tagged join + groupBy per step.
          // dirEdges and the initial labels are narrow derivations of
          // already-checkpointed frames: no extra materialization jobs
          val dirEdges = re.select(lit(true).as("fw"), col("src"), col("dst"))
            .unionAll(re.select(lit(false).as("fw"),
              col("dst").as("src"), col("src").as("dst")))
          var lab = remaining
            .withColumn("fw", explode(array(lit(true), lit(false))))
            .select(col("fw"), col("k"), col("k").as("c"))
          def stepOnce(df: DataFrame): DataFrame = {
            val prop = dirEdges
              .join(df.select(col("fw"), col("k").as("src"), col("c")),
                Seq("fw", "src"))
              .groupBy(col("fw"), col("dst").as("k")).agg(min(col("c")).as("pc"))
            df.join(prop, Seq("fw", "k"), "left_outer")
              .select(col("fw"), col("k"),
                least(col("c"), coalesce(col("pc"), col("c"))).as("c"),
                (col("pc").isNotNull && col("pc") < col("c")).as("chg"))
          }
          // one observed checkpoint job per step (unrolling several steps
          // into one job was MEASURED SLOWER at sf0.1 — the floor is
          // shuffle-stage latency, which unrolling does not reduce)
          var changed = true
          it = 0
          while (changed && it < maxIters) {
            it += 1
            val fObs = org.apache.spark.sql.Observation()
            val nl = stepOnce(lab).observe(fObs,
              count(when(col("chg"), lit(1))).as("nchg")).cpGuard()
            changed = fObs.get("nchg").asInstanceOf[Long] > 0L
            lab = nl.select(col("fw"), col("k"), col("c"))
          }
          require(!changed,
            s"scc: fused labeling did not converge in $maxIters rounds")
          // (3)+(4) assign complete components (f = b), keep the (f, b)
          // cells of the rest for the next phase's edge refinement; the
          // unassigned count rides on the cells checkpoint job
          val fb = lab.groupBy(col("k")).agg(
            min(when(col("fw"), col("c"))).as("cf"),
            min(when(!col("fw"), col("c"))).as("cb"))
          val rObs = org.apache.spark.sql.Observation()
          val fbCp = fb.observe(rObs,
            count(when(col("cf") =!= col("cb"), lit(1))).as("n")).cpGuard()
          accumulate(fbCp.filter(col("cf") === col("cb"))
            .select(col("k"), col("cf").as("scc_id")))
          nRemaining = rObs.get("n").asInstanceOf[Long]
          cells = fbCp.filter(col("cf") =!= col("cb"))
          remaining = cells.select(col("k"))
        }
      }
      require(nRemaining == 0,
        s"scc: $nRemaining nodes unassigned after $maxPhases phases")
      if (assignedParts.isEmpty) // no edges at all -> no nodes, empty result
        e0.sparkSession.emptyDataFrame
          .select(lit(0L).as("k"), lit(0L).as("scc_id"),
            lit(0L).as("scc_size")).limit(0)
      else {
        val assignedAcc = assignedParts.reduce(_ unionAll _)
        val sizes = assignedAcc.groupBy(col("scc_id"))
          .agg(count(lit(1)).as("scc_size"))
        assignedAcc.join(sizes, Seq("scc_id"))
          .select(col("k"), col("scc_id"), col("scc_size"))
          .orderBy(col("k"))
      }
    }
  }

  /** Driver-side SCC for a below-threshold edge list: one iterative
    * (explicit-stack) Tarjan pass — linear in nodes+edges, no
    * recursion, so a million-edge graph can't overflow the JVM stack.
    * Output contract identical to the distributed phase loop:
    * (k, scc_id = min node id in the component, scc_size).
    */
  private def sccDriver(small: SmallInput.Collected): DataFrame = {
    val spark = small.input.sparkSession
    import spark.implicits._
    val g = new DenseGraph(small.rows)
    val adj = g.out.map(_.toArray)
    val index = Array.fill(g.n)(-1)
    val low = new Array[Int](g.n)
    val onStk = new Array[Boolean](g.n)
    val stk = scala.collection.mutable.ArrayBuffer.empty[Int]
    val comp = new Array[Long](g.n)
    var counter = 0
    for (root <- 0 until g.n if index(root) < 0) {
      // work frames: (node, next-neighbor offset to resume at)
      val work = scala.collection.mutable.ArrayBuffer((root, 0))
      while (work.nonEmpty) {
        val (v, pi) = work.remove(work.length - 1)
        if (pi == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stk += v; onStk(v) = true
        }
        var i = pi
        var descended = false
        while (i < adj(v).length && !descended) {
          val w = adj(v)(i)
          if (index(w) < 0) {
            work += ((v, i + 1)); work += ((w, 0)); descended = true
          } else if (onStk(w)) low(v) = math.min(low(v), index(w))
          i += 1
        }
        if (!descended) {
          if (low(v) == index(v)) {
            // pop the component; label with its min node id (ids are
            // ascending, so the min index)
            val j = stk.lastIndexOf(v)
            val members = stk.slice(j, stk.length)
            stk.remove(j, stk.length - j)
            val cid = g.ids(members.min)
            members.foreach { m => onStk(m) = false; comp(m) = cid }
          }
          if (work.nonEmpty) {
            val (p, _) = work.last
            low(p) = math.min(low(p), low(v))
          }
        }
      }
    }
    val sizes = comp.groupMapReduce(identity)(_ => 1L)(_ + _)
    g.ids.indices.map(i => (g.ids(i), comp(i), sizes(comp(i))))
      .toDF("k", "scc_id", "scc_size")
  }

  /** Weighted single-source-set shortest paths — synchronous
    * Bellman-Ford over the directed `(src, dst, w)` list with positive
    * BIGINT edge costs, run for exactly `rounds` relaxation rounds:
    * the returned `dist` is the minimum total cost over paths of at
    * most `rounds` edges ([[bfsHops]]'s bounded-radius contract lifted
    * from hop counts to weighted cost; with unit weights the two
    * agree). Seeds are at distance 0; nodes unreached within the
    * bound are absent.
    *
    * Exactness: distances are exact BIGINT sums of edge costs — no
    * floats anywhere, so the oracle replays round-for-round.
    *
    * Shape at scale: DELTA relaxation — each round joins only the
    * nodes IMPROVED last round against the static edge list (equi-join
    * on src, partial-aggregable min per dst), then a full-outer merge
    * with the distance table keyed on node id; the edge list is
    * co-partitioned once and every round reuses it (the [[pageRank]]
    * contract). A round with no improvements short-circuits every
    * later round to a no-op join of an empty frontier.
    */
  /** HyperBall (Boldi & Vigna 2013, the HyperANF estimator of Boldi,
    * Rosa & Vigna WWW'11): per-node HyperLogLog registers of the
    * OUT-ball — the set of nodes reachable within `t` hops — iterated
    * to `maxT` by per-edge register max-merge. The per-node ball SIZE
    * estimates at every radius come out of 2^p longs of state per
    * node, which is the whole point: exact neighborhood functions need
    * per-node reachable SETS (quadratic state, infeasible at crawl
    * scale), while HyperBall's registers make the t-hop neighborhood
    * function / effective-diameter / harmonic-centrality family a
    * linear-state fixed-point like [[pageRank]].
    *
    * Registers use [[graft.functions.Hashing.h32]] (engine-portable)
    * with [[Dedup]]'s integer bit-smear rank and dyadic-rational
    * denominator, and the per-node estimate is floored to BIGINT after
    * ONE IEEE division — so every estimate verifies value-for-value
    * cross-engine (the d16 discipline), and downstream SUMS of the
    * floored estimates are exact integer arithmetic. Unlike
    * [[Dedup.hllDistinct]] (corpus-scale counts, raw regime) the balls
    * here are routinely far below m, where the raw estimator is
    * uselessly biased (~0.7m at n=1) — so the standard small-range
    * correction applies: when empty registers exist and the raw
    * estimate is <= 2.5m, the estimate is linear counting
    * floor(m*ln(m/E)) over E = empty-register count. E has only m-1
    * possible values, so the ln() lives in a PRECOMPUTED integer
    * literal table (StrictMath at query-construction time) shared
    * verbatim with the generated oracle SQL — the c31 Benford
    * discipline: no runtime libm in either engine. At 1..~m/3 distinct
    * balls with collision-free buckets linear counting is EXACT
    * (floor(m*ln(m/(m-n))) = n), which the spec pins on a hand chain.
    *
    * Iteration t: regs_t(v) = max-merge(regs_{t-1}(v), regs_{t-1}(u))
    * over edges v->u — per round ONE equi-join of the register table
    * to the static edge list on dst plus one groupBy(node, bucket)
    * MAX, both shuffling on node id: co-partitionable with the edge
    * list exactly like [[pageRank]], state 2^p rows per node.
    * Registers only grow, so per-node estimates are monotone in t and
    * ball deltas are non-negative by construction.
    *
    * Output: (t, k, ball) for t in 0..maxT — ball_0 = the node itself
    * (estimated, not assumed 1: the estimator's own floor at n=1).
    */
  /** Linear-counting literal table for [[hyperBall]]: index E (empty
    * registers, 1-based) -> floor(m * ln(m / E)) as BIGINT. Computed
    * once with StrictMath (reproducible by spec) at query-construction
    * time; the oracle generator embeds the SAME integers, so no
    * runtime log is ever evaluated in either engine.
    */
  def linearCountTable(m: Long): Seq[Long] =
    (1L until m).map(e =>
      math.floor(m.toDouble *
        StrictMath.log(m.toDouble / e.toDouble)).toLong)

  def hyperBall(edges: DataFrame, maxT: Int, p: Int = 6): DataFrame = {
    require(maxT >= 0, "maxT >= 0")
    require(p >= 4 && p <= 16, "p in [4,16]")
    val m = 1L << p
    val wBits = 32 - p
    def rho(hv: org.apache.spark.sql.Column) = {
      val w = hv.bitwiseAND(lit((1L << wBits) - 1))
      val s1 = w.bitwiseOR(shiftright(w, 1))
      val s2 = s1.bitwiseOR(shiftright(s1, 2))
      val s4 = s2.bitwiseOR(shiftright(s2, 4))
      val s8 = s4.bitwiseOR(shiftright(s4, 8))
      val s16 = s8.bitwiseOR(shiftright(s8, 16))
      (lit(wBits + 1) - bit_count(s16)).cast("int")
    }
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    val lcArr = typedLit(linearCountTable(m))
    def ballOf(regs: DataFrame, t: Int): DataFrame = regs
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_used"),
        sum(lit(1.0) / expr("shiftleft(CAST(1 AS BIGINT), m_rho)")
          .cast("double")).as("sum_used"))
      .select(lit(t).as("t"), col("k"), col("n_used"),
        (alpha * lit(m.toDouble) * lit(m.toDouble) /
          (col("sum_used") +
            (lit(m.toDouble) - col("n_used").cast("double")))).as("raw"))
      .select(col("t"), col("k"),
        when(col("n_used") < m && col("raw") <= lit(2.5 * m),
          element_at(lcArr, (lit(m) - col("n_used")).cast("int")))
          .otherwise(floor(col("raw"))).as("ball"))
    val ed = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct().cpGuard()
    val nodes = ed.select(col("src").as("k"))
      .union(ed.select(col("dst").as("k"))).distinct()
    val hv = graft.functions.Hashing.h32(col("k").cast("string"))
    var regs = nodes.select(col("k"), hv.as("hv"))
      .select(col("k"), shiftright(col("hv"), wBits).as("bucket"),
        rho(col("hv")).as("m_rho"))
      .groupBy(col("k"), col("bucket")).agg(max(col("m_rho")).as("m_rho"))
      .cpGuard()
    var out = ballOf(regs, 0)
    for (t <- 1 to maxT) {
      val contrib = ed.join(regs, col("dst") === col("k"))
        .select(col("src").as("k"), col("bucket"), col("m_rho"))
      regs = regs.unionAll(contrib)
        .groupBy(col("k"), col("bucket")).agg(max(col("m_rho")).as("m_rho"))
        .cpGuard()
      out = out.unionAll(ballOf(regs, t))
    }
    out.orderBy(col("t"), col("k"))
  }

  /** Forward reach set of `seeds` along `ed` (src→dst) to FIXPOINT —
    * frontier/delta expansion with the convergence count riding on
    * each round's checkpoint job (the g17 observe discipline); loud
    * failure if the graph outlasts `maxIters`.
    */
  private def reachFixpoint(ed: DataFrame, seeds: DataFrame,
                            maxIters: Int): DataFrame = {
    var seen = seeds.select(col("k")).distinct().cpGuard()
    var frontier = seen
    var it = 0
    var changed = true
    while (changed && it < maxIters) {
      it += 1
      val obs = org.apache.spark.sql.Observation()
      val nf = ed.join(frontier.select(col("k").as("src")), Seq("src"))
        .select(col("dst").as("k")).distinct()
        .join(seen, Seq("k"), "left_anti")
        .observe(obs, count(lit(1)).as("n")).cpGuard()
      if (obs.get("n").asInstanceOf[Long] == 0L) changed = false
      else {
        seen = seen.unionAll(nf).cpGuard()
        frontier = nf
      }
    }
    require(!changed, s"reach did not converge in $maxIters rounds")
    seen
  }

  /** Bow-tie decomposition (Broder et al., WWW 2000) by the pivot
    * method the original web-graph study used at scale: the CORE is
    * the strongly connected component of the highest-degree node
    * (pivot; in+out degree, smallest id on ties) = forward ∩ backward
    * reach of the pivot, IN is what reaches the core without
    * belonging, OUT is what the core reaches, OTHER is disconnected
    * from the core in both directions (tendrils/tubes/islands
    * collapsed — the 4-class reading). The crawl-frontier diagnostic:
    * a healthy link graph is core-heavy; an IN-heavy graph is a
    * scrape that never escapes its seeds.
    *
    * Cost shape: ONE bounded 1-row collect (the pivot) and TWO
    * [[reachFixpoint]] frontier loops (forward edges, swapped edges) —
    * never a full SCC decomposition, never a transitive closure; every
    * round is a node-keyed equi-join + anti-join, co-partitionable.
    *
    * Output: (k, bowtie ∈ core/in/out/other) for every node, k asc.
    */
  def bowTie(edges: DataFrame, maxIters: Int = 64): DataFrame = {
    val e = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct().cpGuard()
    val nodes = e.select(col("src").as("k"))
      .unionAll(e.select(col("dst").as("k"))).distinct().cpGuard()
    val deg = e.select(col("src").as("k"))
      .unionAll(e.select(col("dst").as("k")))
      .groupBy(col("k")).agg(count(lit(1)).as("deg"))
    val pivotRows = deg.orderBy(col("deg").desc, col("k")).limit(1)
      .select(col("k")).collect()
    require(pivotRows.nonEmpty, "bowTie over an empty graph")
    val pivot = nodes.sparkSession.range(1)
      .select(lit(pivotRows(0).getLong(0)).as("k"))
    // forward and backward reach fixpoints are independent given the
    // checkpointed edge table — overlap their frontier jobs (the
    // betweennessSampled σ-BFS discipline)
    val (fwdReach, bwdReach) = graft.core.Par.eval2(
      reachFixpoint(e, pivot, maxIters),
      reachFixpoint(
        e.select(col("dst").as("src"), col("src").as("dst")), pivot,
        maxIters))
    val fwd = fwdReach.withColumn("__f", lit(1))
    val bwd = bwdReach.withColumn("__b", lit(1))
    nodes
      .join(fwd, Seq("k"), "left")
      .join(bwd, Seq("k"), "left")
      .select(col("k"),
        when(col("__f").isNotNull && col("__b").isNotNull, lit("core"))
          .when(col("__b").isNotNull, lit("in"))
          .when(col("__f").isNotNull, lit("out"))
          .otherwise(lit("other")).as("bowtie"))
      .orderBy(col("k"))
  }

  /** Directed 3-node motif census (Milo et al., Science 2002): counts
    * of the two connected triad shapes whose RATIO fingerprints a
    * directed graph's generative process — feed-forward loops
    * (a→b, b→c, a→c: hierarchy/curation flow) vs 3-cycles
    * (a→b, b→c, c→a: feedback). Item-transition graphs skew heavily
    * FFL; a cycle surplus is the loop-farm smell.
    *
    * Exactness and shape: two chains of node-keyed equi-joins over the
    * simple directed edge list — node distinctness is AUTOMATIC (each
    * shape's closing edge would have to be a self-loop for two nodes
    * to coincide, and self-loops are excluded up front), and each
    * cycle is counted once by anchoring at its minimum node (a < b,
    * a < c), no post-hoc division. Counts meet in a two-row union,
    * never a 1-row cross attach.
    *
    * Output: (motif ∈ cycle/ffl, n), motif ascending.
    */
  def motifCensus(edges: DataFrame): DataFrame = {
    val e = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct().cpGuard()
    def side(p: String) =
      e.select(col("src").as(s"${p}s"), col("dst").as(s"${p}d"))
    val ffl = side("ab")
      .join(side("bc"), col("bcs") === col("abd"))
      .join(side("ac"),
        col("acs") === col("abs") && col("acd") === col("bcd"))
      .agg(count(lit(1)).as("n"))
      .select(lit("ffl").as("motif"), col("n"))
    val cyc = side("ab")
      .join(side("bc"), col("bcs") === col("abd"))
      .join(side("ca"),
        col("cas") === col("bcd") && col("cad") === col("abs"))
      .filter(col("abs") < col("bcs") && col("abs") < col("bcd"))
      .agg(count(lit(1)).as("n"))
      .select(lit("cycle").as("motif"), col("n"))
    cyc.unionAll(ffl).orderBy(col("motif"))
  }

  /** Directed-edge reciprocity (Newman 2002 / Garlaschelli-Loffredo
    * 2004): the fraction of directed edges whose reverse edge also
    * exists — the "is attention mutual" diagnostic that separates
    * feed-like graphs (r→0) from conversation-like graphs (r→1), and
    * a bot/scrape smell when it collapses on a subpopulation.
    *
    * Scale shape: simple-edge dedup (one partial-aggregable groupBy
    * via distinct), then ONE self left-semi equi-join on the swapped
    * key pair — co-partitionable, never pairwise; the two counts meet
    * in a 1-row cross attach. Exact ppm via integral div.
    *
    * Output: ONE row (n_edges, n_reciprocal, reciprocity_ppm).
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val ed = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .cpGuard() // read three times: count + both semi-join sides
    val recip = ed.join(ed.toDF("dst", "src"), Seq("src", "dst"),
      "left_semi")
    ed.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(recip.agg(count(lit(1)).as("n_reciprocal"))))
      .select(col("n_edges"), col("n_reciprocal"),
        expr("""CAST(CASE WHEN n_edges > 0
                 THEN CAST(n_reciprocal AS DECIMAL(38,0)) * 1000000
                      div n_edges
                 ELSE NULL END AS BIGINT)""").as("reciprocity_ppm"))
  }

  def sssp(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds >= 0")
    val ed = edges.select(col("src"), col("dst"), col("w")).cpGuard()
    var dist = seeds.select(col("k").cast("long").as("k")).distinct()
      .withColumn("dist", lit(0L)).cpGuard()
    var improved = dist
    for (_ <- 1 to rounds) {
      val cand = improved.join(ed, col("k") === col("src"))
        .groupBy(col("dst"))
        .agg(min(col("dist") + col("w")).as("nd"))
      val merged = dist.join(cand, col("k") === col("dst"), "full_outer")
        .select(coalesce(col("k"), col("dst")).as("k"),
          least(col("dist"), col("nd")).as("ndist"),
          (col("dist").isNull ||
            (col("nd").isNotNull && col("nd") < col("dist"))).as("chg"))
      dist = merged.select(col("k"), col("ndist").as("dist")).cpGuard()
      improved = dist
        .join(merged.filter(col("chg")).select(col("k")), Seq("k"))
    }
    dist.orderBy(col("k"))
  }
}
