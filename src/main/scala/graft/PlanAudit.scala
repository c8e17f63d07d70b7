package graft

/** Mechanical scanner for `explain("formatted")` output — the single
  * source of truth behind PLANS.md's headline counts and
  * PlanAuditSuite's surface-wide invariants.
  *
  * Why a node-header state machine and not a grep: formatted explain
  * prints each physical node as a detail header `(N) NodeName ...`
  * followed by attribute lines, with the node's ARGUMENTS on a separate
  * `Arguments: ...` line. A single-partition exchange therefore never
  * prints as the string "Exchange SinglePartition" — it is
  * `(N) Exchange` + `Arguments: SinglePartition, ENSURE_REQUIREMENTS,
  * ...` two lines apart. Round 6's PLANS.md claimed "0 Exchange
  * SinglePartition" off exactly that grep artifact; this scanner counts
  * the argument line under its owning node, and counts each node ONCE
  * (the tree section at the top prints `NodeName (N)`, which a plain
  * grep double-counts).
  */
object PlanAudit {

  final case class Counts(
      exchanges: Int,
      singlePartitionExchanges: Int,
      sortMergeJoins: Int,
      broadcastHashJoins: Int,
      broadcastNestedLoopJoins: Int,
      cartesianProducts: Int) {
    def +(o: Counts): Counts = Counts(
      exchanges + o.exchanges,
      singlePartitionExchanges + o.singlePartitionExchanges,
      sortMergeJoins + o.sortMergeJoins,
      broadcastHashJoins + o.broadcastHashJoins,
      broadcastNestedLoopJoins + o.broadcastNestedLoopJoins,
      cartesianProducts + o.cartesianProducts)
  }
  object Counts { val zero: Counts = Counts(0, 0, 0, 0, 0, 0) }

  private val NodeHeader = """^\((\d+)\)\s+(\S+).*""".r

  /** Count plan nodes in ONE query's formatted explain text. Only the
    * detail-section headers `(N) NodeName` are counted (each physical
    * node appears exactly once there); `Arguments:` lines attach to the
    * most recent header. */
  def scan(formatted: String): Counts = {
    var cur = ""
    var ex, sp, smj, bhj, bnlj, cart = 0
    formatted.linesIterator.foreach { line =>
      val t = line.trim
      t match {
        case NodeHeader(_, name) =>
          cur = name
          name match {
            case "Exchange" => ex += 1
            // AQE reuses subtrees via ShuffleQueryStage in re-planned
            // dumps; initial plans (what Plans.scala dumps) print plain
            // Exchange nodes only.
            case "SortMergeJoin" => smj += 1
            case "BroadcastHashJoin" => bhj += 1
            case "BroadcastNestedLoopJoin" => bnlj += 1
            case "CartesianProduct" => cart += 1
            case _ =>
          }
        case _ if t.startsWith("Arguments: ") =>
          if (cur == "Exchange" &&
              t.stripPrefix("Arguments: ").startsWith("SinglePartition"))
            sp += 1
        case _ =>
      }
    }
    Counts(ex, sp, smj, bhj, bnlj, cart)
  }

  /** Per-query expected `Exchange SinglePartition` counts over the
    * batch surface — every entry audited as bounded-input
    * (scalar-aggregate final combines, or global sorts/windows over
    * already-aggregated frames whose size is fixed by construction:
    * percentile grids, per-class panels, convergence scalars — the
    * spot-checked worst owner is q184's 10, all final combines
    * directly above partial HashAggregates).
    * PlanAuditSuite asserts equality against a fresh
    * [[Plans.audit]] run, so a NEW single-partition exchange — the
    * thing that serializes a data-sized stream through one task at
    * 100 TB — fails the build and must either be fixed or consciously
    * added here with its boundedness argument.
    *
    * Regenerate with `runMain graft.Plans <sfDir> <out>` and paste
    * `<out>.sp.json` here (last regenerated round 14 at sf0.001 after
    * the trainedCellsShared memo: q51/q135/q141/q142 dropped to 0 and
    * q177 to 4 — their training-subtree scalar combines now execute once
    * at memo build; rounds ≤13 matched round 8's audit plus q245).
    */
  val singlePartitionAllowlist: Map[String, Int] = Map(
    // memo-build audit rows (r15, ADVICE r14): the k-means training
    // subtree re-entered the audit surface via Plans.memoBuildFrames.
    // Each row's single SP exchange is seedCentroids' global
    // `orderBy(md5).limit(C)` — bounded at C = CoarseCells rows by
    // construction. The genomics memo rows audit at 0.
    "memo:cells.centroids" -> 1,
    "memo:cells.assign" -> 1,
    "q06_forecast_revenue" -> 1,
    "q100_curation_pipeline" -> 6,
    "q101_kl_mixture" -> 1,
    "q103_shard_balance" -> 1,
    "q108_resample" -> 1,
    "q111_pmi" -> 2,
    "q119_bm25" -> 1,
    "q122_freq_spectrum" -> 1,
    "q124_bigram_ppl" -> 1,
    "q125_ppl_buckets" -> 3,
    "q126_skew_audit" -> 1,
    "q132_autocorr" -> 7,
    // q135/q141/q142/q51's single scalar combines (and one of q177's five)
    // moved INSIDE the r14 trainedCellsShared memo build: the consumers
    // now plan against the memo's parquet scans, so the k-means training
    // subtree — where those combines lived — appears in no registered
    // query's plan (it executes once, at memo build, off the audit
    // surface exactly like the pairs/components memos since r9).
    "q136_dsir" -> 2,
    "q138_ks_drift" -> 2,
    "q140_incremental_agg" -> 2,
    "q143_market_basket" -> 1,
    // q146 is absent since r12: the power iteration moved driver-side,
    // so the audit substitutes the query's distributed scatter-build
    // frame (Plans.auditSubstitutes) — two partial+final aggregate
    // exchange pairs and three broadcast joins, zero SinglePartition
    "q148_ab_lift" -> 1,
    "q150_benford" -> 1,
    "q152_hll_audit" -> 2,
    // r12: was 2 — the ordered window's SP exchange vanished when the
    // input was reduced to top-500 via TakeOrderedAndProject (itself
    // single-partition-producing, no exchange); the 1 left is the scalar
    // revenue-total combine
    "q154_pareto" -> 1,
    "q158_rrf_fusion" -> 1,
    "q159_jl_projection" -> 1,
    "q160_kn_bigram" -> 1,
    "q161_token_budget" -> 1,
    // r15: the final hub/auth max-normalizers became part of the
    // RETURNED frame's plan when the per-half-round normalization went
    // lazy — two 1-row scalar max combines over node-sized checkpointed
    // aggregates (previously they executed inside the loop's
    // materialization jobs, off the audit tail)
    "q163_hits" -> 2,
    "q166_sax" -> 4,
    "q169_bloom_fpr" -> 4,
    "q170_quantile_sketch" -> 3,
    "q174_cms_join_size" -> 4,
    "q176_hll_set_algebra" -> 6,
    "q177_knn_graph" -> 4,
    "q184_dq_audit" -> 10,
    "q188_event_pattern" -> 1,
    "q193_naive_bayes" -> 2,
    "q194_auc" -> 1,
    "q195_t_closeness" -> 1,
    "q205_weighted_jaccard" -> 1,
    "q217_stream_timers" -> 1,
    "q220_cohens_kappa" -> 1,
    "q221_modularity" -> 1,
    "q226_chisq_independence" -> 2,
    "q22_em_init_round" -> 1,
    "q234_budget_apportion" -> 1,
    "q240_out_of_order" -> 1,
    // two broadcast scalar combines (corpus total, temperature
    // normalizer) + the 5-row output sort
    "q242_lang_temperature" -> 3,
    // two 1-row scalar final combines (n_docs total, n_components
    // total) + the final sort over the cluster-SIZE histogram, whose
    // row count is bounded by max cluster size, not corpus size
    "q245_cluster_sizes" -> 3,
    // audited through Plans.auditSubstitutes (its fn collects on the
    // driver): the scalar Σ-token combine over the 20 fitted documents,
    // one row, broadcast to divide each document's count
    "q25_length_calibration" -> 1,
    "q28_set_ops" -> 5,
    "q40_dedup_exact" -> 1,
    "q45_embed_neardup" -> 1,
    "q47_unigram_quality" -> 1,
    "q54_tfidf" -> 1,
    "q81_gap_fill" -> 1,
    "q86_funnel" -> 4,
    "q92_decay_score" -> 1,
    "q93_correlation" -> 1,
    "q94_histogram" -> 1,
    "q95_profile" -> 1,
    "q98_triangles" -> 2)
}
