package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

import graft.SparkEntry

/** Plan-shape audit shared by PlanGuardSpec (sf0.001, every sbt test
  * run) and the [[graft.PlanScan]] main (any sf dir — the bench scale
  * included). The split closes the sf-variance blind spot: operators
  * that branch on runtime counts (dupClusters' driver-threshold, the
  * HotBuckets short-circuits, empty-input degradations) can take a
  * DIFFERENT plan shape at sf0.1 than the sf0.001 fixture the spec
  * audits, so the allowance tables below must be provable at both —
  * PlanScan writes the per-query node counts as a JSON artifact and
  * fails loudly on any count that drifts from its declared allowance.
  *
  * Rules: no CartesianProduct anywhere; BroadcastNestedLoopJoin and
  * unpartitioned WindowExec only where a query deliberately uses a
  * bounded broadcast side or IS the declared single-task twin — with
  * exact node counts, in both the registered plan and every
  * checkpointed (cpGuard) stage.
  */
object PlanAudit {

  /** Queries allowed BroadcastNestedLoopJoin nodes, with WHY and how
    * many. Every broadcast side here is bounded by construction
    * (query set, hyperplanes, centroids, or a 1-row aggregate) — never
    * the corpus.
    */
  val allowedBnlj = Map(
    "q10_cross_join" -> 1, // IS the cross-join coverage test
    "d07_cosine_dup" -> 1, // declared all-pairs exact baseline (pre-blocked corpora)
    "d13_kmv_distinct" -> 1, // 1-row sketch x 1-row exact-count join
    "d16_hll_distinct" -> 1, // 1-row summary x 1-row exact-count join
    "d18_hll_slice_merge" -> 2, // counts x merged-est x direct-est, all 1-row
    "t15_lm_quality" -> 1, // 1-row corpus-total join
    "d20_minhash_recall" -> 2, // fixed-sample exact all-pairs baseline + 1-row count join
    "d36_lsh_band_sweep" -> 3, // 1-row exact x 1-row lsh count join, x 3 band shapes (exact baseline is checkpointed)
    "d21_containment_recall" -> 2, // fixed-sample exact all-pairs baseline + 1-row count join
    "s01_ann_brute_topk" -> 1, // broadcast query set vs target scan
    "s03_ann_topk_agg" -> 1, // broadcast query set vs target scan
    "s05_knn_classify" -> 1, // broadcast labeled query set
    "s07_ann_lsh_recall" -> 1, // composes s01's broadcast query set (hyperplanes are literals now)
    "s06_ann_ivf_topk" -> 2, // broadcast centroids (cell build + query probe)
    "s23_ivf_nprobe_sweep" -> 6, // s06's 2 centroid broadcasts x 3 sweep points
    "s25_ivf_index_append" -> 1, // probe-side centroid broadcast only (index side: none)

    "s19_filtered_ivf" -> 2, // same centroid broadcasts; the filter is an equi semi-join
    "s26_hard_negatives" -> 1, // broadcast query set, label-inequality predicate
    "s15_ivf_cell_stats" -> 1, // broadcast 1-row totals for the imbalance factor
    "s16_truncated_recall" -> 2, // broadcast query set per brute side (full + truncated)
    "s17_jl_recall" -> 2, // broadcast query set per brute side (full + JL-projected)
    "s18_filtered_ann" -> 1, // broadcast query set against the semi-join-filtered targets
    "s21_int8_recall" -> 2, // broadcast query set per brute side (full + reconstructed)
    // s20_mmr_rerank: the candidate brute pass's broadcast sits behind a
    // localCheckpoint, so the registered plan itself carries no BNLJ
    "t27_bigram_lm" -> 1, // broadcast 1-row vocabulary-size aggregate
    "s30_rocchio_expand" -> 2, // broadcast query set per round (s01 contract x2)
    "c12_temperature_mixture" -> 1, // broadcast 1-row weight-total aggregate
    "c38_url_curation" -> 1, // broadcast 1-row corpus-total aggregate (cap share)
    "c41_crawl_politeness" -> 1, // broadcast 1-row span/total aggregate (budget)
    "c15_priority_sample" -> 1, // broadcast 1-row tau (the (n+1)-th priority)
    "c14_dedup_aware_mixture" -> 1, // same 1-row weight-total broadcast, post-dedup
    "c16_dsir_select" -> 1, // broadcast 1-row feature-total aggregate
    "d27_hll_intersection" -> 3, // four 1-row summaries chained (est_a x est_b x est_union x exact)
    "g02_degree_audit" -> 1, // broadcast 1-row edge totals
    // g08_hits: at audited scales hits takes its small-graph local path,
    // so neither the registered plan nor its checkpointed stages carry a
    // BNLJ (GraphOpsSpec pins the distributed path to the same results)
    "t05_tfidf_top_terms" -> 1, // broadcast 1-row corpus-size aggregate
    "t16_bm25_topk" -> 1, // broadcast 1-row corpus-stats aggregate
    "t20_heavy_hitters" -> 1, // broadcast 1-row stream-total aggregate
    // c18: the corpus-total attach sits behind a localCheckpoint; the
    // registered plan carries only the 1-row weight-total broadcast
    "c18_domain_reweight" -> 1,
    "t22_vocab_growth" -> 2, // two 1-row conditional-sum broadcasts
    "s29_late_interaction" -> 1, // broadcast query TOKEN set vs target scan (s01 contract)
    "w19_value_drift" -> 1, // broadcast 1-row bin-total aggregate
    "w48_csv_quarantine" -> 1, // broadcast 1-row DROPMALFORMED-count attach
    "c22_corpus_datasheet" -> 4, // four 1-row summary broadcasts (datasheet card)
    "w20_event_funnel" -> 1, // broadcast 1-row first-stage count attach
    "g12_modularity" -> 1, // broadcast 1-row degree-square aggregate
    "t25_quality_calibration" -> 1, // broadcast 1-row test-count attach (bin cut)
    // s31 composes both rankers, inheriting exactly their allowances:
    // s01's broadcast query set + t16's 1-row corpus-stats broadcast
    "s31_rrf_fusion" -> 2,
    // 1-row total-weight broadcast + n-row probe table broadcast
    // against the cumulative scan (containment is a range predicate)
    "c30_systematic_resample" -> 2,
    "w31_ks_test" -> 1, // broadcast 1-row sample-totals aggregate
    "c31_benford" -> 1, // broadcast 1-row digit-total aggregate
    "c34_constraint_audit" -> 1, // broadcast 1-row fk-violation count attach
    "s34_nsw_search" -> 1, // recall audit: brute baseline's broadcast query set (s01 contract)
    // the final 1-row x 1-row hit-count attach (the shared brute
    // baseline and both entry inits sit behind cpGuard)
    "s40_nsw_refine_audit" -> 1,
    "q59_basket_rules" -> 1, // broadcast 1-row n_orders total attach
    // post-sketch stage is constant-size by construction: 1-row max
    // attach + 3-threshold x (maxT+1)-row curve theta-join
    "g21_effective_diameter" -> 2,
    "s36_mrr" -> 1, // broadcast 1-row MRR total attach
    "t31_collocations" -> 1, // broadcast 1-row token-total attach
    "g22_reciprocity" -> 1, // 1-row edge-count x 1-row reciprocal-count attach
    "c35_t_closeness" -> 1, // broadcast 1-row table-total attach
    "s37_sign_hamming_recall" -> 2, // broadcast query set per side (brute + sign words)
    "s38_sign_rerank" -> 1, // the shortlist stage's broadcast query set (s37 contract)
    // final-size assignment's k·d centroid-literal broadcast (the s06
    // contract); the per-round update assigns execute during build via
    // bounded k·d collects
    "s39_kmeans_lloyd" -> 1)

  /** Queries allowed UNPARTITIONED WindowExec nodes — the single-task
    * shape that funnels every row through one task. Only the declared
    * single-task twin may carry one; everything else must window inside
    * a partition (or use graft.operators.SeqNumber, like q30b).
    */
  val allowedGlobalWindow = Map(
    "q30_global_seq" -> 1) // declared single-task twin of q30b

  /** BroadcastNestedLoopJoin allowances for PRE-CHECKPOINT subplans —
    * the stages a query materializes behind `localCheckpoint` (via
    * graft.core.PlanCapture.cpGuard) before the registered plan is
    * built. Without this second pass, "zero cartesian across all
    * plans" would be blind to exactly the stages most likely to hide
    * an all-pairs join. Every allowance is a declared bounded or
    * exact-baseline shape, same standard as [[allowedBnlj]].
    */
  val allowedCpBnlj = Map(
    "s20_mmr_rerank" -> 1, // candidate brute pass: broadcast query set (s01 contract)
    "s23_ivf_nprobe_sweep" -> 1, // shared cell-assignment stage: centroid-literal broadcast
    "s24_ivf_pq_recall" -> 1, // exact-L2 baseline: broadcast query set (s01 contract)
    "s27_dbscan" -> 1, // declared exact all-pairs baseline (d07 contract)
    "d36_lsh_band_sweep" -> 1, // exact baseline on the fixed 1200-doc sample
    "c18_domain_reweight" -> 1, // 1-row corpus-total attach
    // s34: the beam entry initialization's bounded query-set broadcast
    // (the graph build itself is the LSH-banded equi-join — no
    // nested-loop stage anywhere since round 11)
    "s34_nsw_search" -> 1,
    // s40: the two beams' entry initializations' bounded query-set
    // broadcasts (the s34 shape, once per graph variant) + the ONE
    // shared brute-baseline broadcast query set (s01 contract)
    "s40_nsw_refine_audit" -> 3,
    "s36_mrr" -> 1, // rank-of-truth stage: brute baseline's broadcast query set (s01 contract)
    "w38_pettitt" -> 1, // U-table stage: broadcast 1-row n attach
    "w42_pettitt_segments" -> 3) // the same 1-row n attach, once per segment pass

  /** Unpartitioned-WindowExec allowances for pre-checkpoint subplans. */
  val allowedCpGlobalWindow = Map.empty[String, Int]

  /** Node counts of one plan: (cartesian, bnlj, unpartitioned-window). */
  private def countNodes(planStr: String, tree: SparkPlan): (Int, Int, Int) = (
    "CartesianProduct".r.findAllIn(planStr).size,
    "BroadcastNestedLoopJoin".r.findAllIn(planStr).size,
    tree.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }.size)

  /** Per-query audit outcome: observed counts (registered plan and
    * checkpointed stages summed) and the rule violations, if any.
    */
  final case class QueryAudit(name: String, cart: Int, bnlj: Int,
                              gwin: Int, cpCart: Int, cpBnlj: Int,
                              cpGwin: Int, failures: Seq[String])

  /** Build `name`'s plan against `sfDir` (executing its checkpointed
    * stages — plan shape at this sf is only knowable by running them)
    * and audit every stage against the allowance tables.
    */
  def auditQuery(spark: SparkSession, name: String,
                 sfDir: String): QueryAudit = {
    // drain-on-failure: if the build throws, the plans cpGuard already
    // captured for THIS query must not leak into the next query's sums
    // (PlanScan catches and continues)
    val qe =
      try PlanCapture.capturing(name) {
        SparkEntry.queries(name)(spark, sfDir).queryExecution
      } catch {
        case e: Throwable => PlanCapture.drain(); throw e
      }
    val cps = PlanCapture.drain()
    // registered (post-checkpoint) plan: regex the executed plan
    // string (pre-execution AQE prints once), collect windows on
    // the pre-AQE tree (AQE hides its subtree from collect)
    val (cart, bnlj, gwin) = countNodes(qe.executedPlan.toString, qe.sparkPlan)
    // checkpointed stages (pre-AQE plans recorded by cpGuard at
    // checkpoint time), summed per query — the same rules, so an
    // all-pairs join can't hide behind a localCheckpoint boundary
    val cpCounts = cps.map(c => countNodes(c._2.toString, c._2))
    val (cpCart, cpBnlj, cpGwin) =
      cpCounts.foldLeft((0, 0, 0)) { case ((a, b, c), (x, y, z)) =>
        (a + x, b + y, c + z)
      }
    def check(tag: String, got: Int, allowed: Int, what: String) =
      if (got != allowed)
        Seq(s"$name$tag: $got $what node(s), allowed $allowed") else Nil
    val failures =
      (if (cart > 0) Seq(s"$name: $cart CartesianProduct node(s)") else Nil) ++
      check("", bnlj, allowedBnlj.getOrElse(name, 0), "BroadcastNestedLoopJoin") ++
      check("", gwin, allowedGlobalWindow.getOrElse(name, 0), "unpartitioned WindowExec") ++
      (if (cpCart > 0)
        Seq(s"$name [checkpointed]: $cpCart CartesianProduct node(s)") else Nil) ++
      check(" [checkpointed]", cpBnlj, allowedCpBnlj.getOrElse(name, 0), "BroadcastNestedLoopJoin") ++
      check(" [checkpointed]", cpGwin, allowedCpGlobalWindow.getOrElse(name, 0), "unpartitioned WindowExec")
    QueryAudit(name, cart, bnlj, gwin, cpCart, cpBnlj, cpGwin, failures)
  }
}
