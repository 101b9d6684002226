package graft

/** Blanket plan audit: every declared query key runs at sf0.001 and its
  * final (post-AQE) physical plan must not contain a cartesian product.
  * The pair-generating ops are allowed BroadcastNestedLoopJoin — their
  * non-equi conditions are intentional with an explicitly bounded or
  * broadcast side — but an unplanned CartesianProduct anywhere is a
  * scale regression and fails here rather than on the cluster. */
class PlanSweepSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  // tightness bookkeeping for the global-window allowlist: an entry
  // whose key no longer HAS a global window is stale and could mask a
  // new one (the LintSpec site-pinning lesson) — checked in afterAll
  // over exactly the keys this run executed
  private val ranKeys = scala.collection.mutable.Set[String]()
  private val sawGlobal = scala.collection.mutable.Set[String]()

  private val bnlAllowed = Set(
    "q_join_cross",      // 5×25 dims, intentional cartesian via BNL
    "q_dedup_embedding", // declared brute-force baseline (vec_a < vec_b)
    "q_subquery_scalar", // scalar-subquery comparison joins a 1-row side
    "q_topk_global", "q_sim_cosine_topk", // 1-row broadcast query vector
    "q_sim_ann_pq",      // 1-row broadcast query vector for the exact re-rank
    "q_text_tfidf",      // 1-row broadcast corpus count
    "q_na_functions",    // crossJoin of two 1-row aggregates
    "q_sim_ann_ivf",     // k-row broadcast centroid table per Lloyd step
    "q_vocab_coverage",  // 1-row broadcast corpus-total crossJoin
    "q_mix_temperature", // 1-row broadcast normalizer crossJoin
    "q_layout_zorder",   // 1-row broadcast domain-max crossJoin
    "q_text_bm25",       // 1-row broadcast corpus stats crossJoin
    "q_sim_hybrid_rrf",  // 1-row broadcast query vector + corpus stats
    "q_basket_pairs",    // 1-row broadcast order-count crossJoin
    "q_basket_rules",    // 1-row broadcast order-count crossJoin
    "q_sample_balanced", // 1-row broadcast min-class-cap crossJoin
    "q_mix_curriculum",  // 1-row broadcast quartile-cuts crossJoin
    "q_stats_chi2",      // domain-bounded margin grid + 1-row N crossJoin
    "q_vocab_prune_oov", // 1-row broadcast token-total crossJoin
    "q_customer_rfm",    // 1-row broadcast median-thresholds crossJoin
    "q_text_pmi",        // 1-row broadcast totals crossJoin
    "q_agg_histogram",   // 1-row broadcast min/max crossJoin
    "q_agg_hll_rollup",  // 1-row broadcast exact-total crossJoin
    "q_text_perplexity", // 1-row broadcast token-total crossJoin
    "q_ts_gapfill",      // 31-row broadcast day-grid crossJoin
    "q_abc_pareto",      // 1-row broadcast grand-total crossJoin
    "q_stats_drift_psi", // 1-row broadcast min/max + totals crossJoins
    "q_sim_matryoshka",  // 1-row broadcast query-vector crossJoin
    "q_mix_epochs",      // 1-row broadcast normalizer crossJoin
    "q_sample_negatives", // 1-row broadcast corpus-count crossJoin
    "q_text_bigram_lm",  // 1-row broadcast vocab-size crossJoin
    "q_eval_ndcg",       // k-row broadcast judgment-sample crossJoin
    "q_eval_recall_ann", // exact arm shares the k-row sample crossJoin
    "q_sim_rerank_mmr",  // 1-row broadcast query vector (candidate fetch)
    "q_stats_ks",        // 1-row broadcast sample-totals crossJoin
    "q_rank_fusion_borda", // 1-row broadcast query vector + corpus stats
    "q_stats_benford",   // 1-row broadcast total-count crossJoin
    "q_stats_mutual_info", // 1-row broadcast N crossJoin
    "q_events_power_users", // 1-row broadcast user/event-totals crossJoin
    "q_subquery_global_avg_anti", // 1-row broadcast global-average gate
    "q_ts_cusum",        // 1-row broadcast reference-rate crossJoin
    "q_agg_important_stock", // 1-row broadcast decimal-threshold gate
    "q_stats_cramers_v", // domain-bounded margin grid + 1-row N crossJoin
    "q_ts_seasonal",     // 1-row broadcast global-mean crossJoin
    "q_dedup_ngram_capped", // 1-row broadcast max-df threshold crossJoin
    // round-10: the MAXDF cap (1-row broadcast threshold crossJoin) is
    // the DEFAULT candidate path of every exact miner and its
    // downstream cluster/split consumers
    "q_dedup_ngram_jaccard", "q_dedup_containment", "q_dedup_edit",
    "q_dedup_cluster", "q_dedup_cluster_keep", "q_dedup_cluster_stats",
    "q_split_leakage_safe",
    // round-11: the screened prefix-containment join gains the same
    // 1-row broadcast df-threshold crossJoin as the capped miners
    "q_dedup_containment_prefix",
    "q_embed_pca_power", // 1-row broadcast rescale-max / norm crossJoins
    // round-10 wave A: 1-row broadcast band-bounds + doubled-tie
    // crossJoins over a domain-bounded grid
    "q_stats_kendall",
    "q_quality_ccnet",   // inherits the perplexity twin's 1-row total
    "q_eval_lift"        // 1-row broadcast population-total crossJoin
  )

  /** Keys whose final plan may contain an UNPARTITIONED WindowExec —
    * each site is a documented metadata-scale window (bounded by
    * partition COUNT, a value domain, or a k-row sample — never the
    * corpus), mostly [[TwoPass.cumsum]]'s P-row offset rank. A key not
    * on this list growing a global window is the single-task collapse
    * WindowExec's "No Partition Defined" warning exists for — caught
    * here structurally (the harness mains demote that logger, see
    * HarnessLog). Populated by running this sweep; every entry was
    * read against its source before being admitted (round 11). */
  private val globalWindowAllowed: Set[String] = Set(
    // TwoPass.cumsum consumers: the unpartitioned window spans the
    // P-row (= range-partition count) per-partition totals only —
    // TwoPass.scala's offsets stage, metadata scale by construction
    "q_stats_ks", "q_stats_kruskal", "q_stats_mannwhitney",
    "q_stats_spearman", "q_stats_gini", "q_stats_auc", "q_eval_pr_auc",
    "q_eval_lift", "q_quality_ccnet", "q_intervals_concurrency",
    "q_ids_contiguous", "q_shard_manifest", "q_abc_pareto",
    "q_skyline_pareto", "q_events_power_users",
    // calendar/time-grid censuses: the window runs over a day- or
    // batch-hour-bounded relation the corpus was partial-agged onto
    // (each op's scaladoc carries the metadata-scale exemption)
    "q_intervals_open", "q_ts_cusum", "q_win_rolling_corr",
    "q_stream_late_drop",
    // k-row tops / bounded slices: rank/cumsum over top-100 (zipf),
    // top-1000 (vocab prune/coverage), or k-row fused candidate lists
    "q_text_zipf", "q_vocab_prune_oov", "q_vocab_coverage",
    "q_rank_fusion_borda", "q_sim_hybrid_rrf")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name: no cartesian product in the final plan") {
      val df = fn(spark, sfDir)
      val plan = finalPlan(df)
      assert(!plan.contains("CartesianProduct"),
        s"unplanned cartesian in $name:\n${plan.take(600)}")
      if (!bnlAllowed(name)) {
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"unexpected BNL in $name:\n${plan.take(600)}")
      }
      // unpartitioned-window sweep: walk the executed tree (through
      // AQE stage wrappers) and flag any WindowExec with an empty
      // partition spec outside the documented metadata-scale sites
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.window.WindowExec
      def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case o => o.children.flatMap(nodes)
      })
      val global = nodes(df.queryExecution.executedPlan).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      ranKeys += name
      if (global.nonEmpty) sawGlobal += name
      if (!globalWindowAllowed(name)) {
        assert(global.isEmpty,
          s"unpartitioned WindowExec in $name (single-task collapse):\n" +
            global.map(_.simpleString(200)).mkString("\n"))
      }
    }
  }

  override def afterAll(): Unit = {
    val stale = globalWindowAllowed.intersect(ranKeys).diff(sawGlobal)
    assert(stale.isEmpty,
      s"stale global-window allowlist entries (no global window found" +
        s" in their final plans — tighten the list): $stale")
    super.afterAll()
  }
}
