package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Asserts the scale invariants from SURVEY.md §5 on the physical plans:
  * filters reach the parquet scan, dims broadcast, sketches don't shuffle,
  * hot paths stay in whole-stage codegen. These are regression guards — a
  * refactor that silently adds a shuffle or loses pushdown fails here.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** The registry frame with deferred-frame leaves unwrapped, so the
    * audits see the REAL plan; here, building the inner frame (and paying
    * its jobs) is exactly the point. */
  private def auditFrame(name: String): DataFrame =
    graft.util.PlanText.unwrapDeferred(SparkEntry.queries(name)(spark, sfDir))

  private def plan(name: String): String =
    auditFrame(name).queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("q1 pushes the shipdate filter into the parquet scan and prunes columns") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(!p.contains("l_orderkey"), "q1 must not read unused columns")
  }

  test("time filters on the ns-normalized events ts reach the scan as long bounds") {
    val p = plan("time_range_filter")
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"), p)
    val p2 = plan("incremental_watermark")
    assert(p2.contains("GreaterThan(ts,"), p2)
  }

  test("q6 pushes every predicate into the scan and reads only needed columns") {
    val p = plan("q6_forecast_revenue")
    // the plan string truncates the filter list; the prefix proves all
    // three columns' null-guards (and thus their comparisons) reached the
    // scan. Pruning is checked per column (an exact ReadSchema string
    // would break on cosmetic rendering changes across Spark versions).
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity)"), p)
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_shipdate")
      .foreach(c => assert(p.contains(c), s"q6 must read $c"))
    assert(!p.contains("l_orderkey"), "q6 must not read unused columns")
  }

  test("star joins broadcast their dimension sides") {
    assert(count(plan("q3_shipping_priority"), "BroadcastHashJoin") >= 1)
    assert(count(plan("q5_local_supplier"), "BroadcastHashJoin") >= 4)
    assert(count(plan("location_hierarchy"), "BroadcastHashJoin") == 2)
  }

  test("per-row sketches run shuffle-free") {
    assert(count(plan("doc_fingerprint"), "Exchange") == 0)
    assert(count(plan("quality_score"), "Exchange") == 0)
    assert(count(plan("token_count"), "Exchange") == 0)
    assert(count(plan("langid"), "Exchange") == 0)
    assert(count(plan("langid_profiled"), "Exchange") == 0)
    assert(count(plan("multimodal_decode"), "Exchange") == 0)
  }

  test("single-shuffle operators shuffle exactly once on the entity key") {
    // AQE plans report shuffles as Exchange nodes before reuse; count initial plan
    assert(count(plan("snapshot_latest"), "Exchange") == 1)
    assert(count(plan("participants_column_view"), "Exchange") == 1)
    assert(count(plan("fold_concat_texts"), "Exchange") == 1)
    assert(count(plan("sessionize"), "Exchange") == 1)
    // window on user + final 2-row rollup re-key: the second exchange moves
    // a handful of partially-aggregated rows
    assert(count(plan("consent_withdrawn"), "Exchange") == 2)
  }

  test("codegen'd expression paths stay inside WholeStageCodegen") {
    // whole-stage codegen shows as "*(n)" stage markers in the plan string
    val p = plan("token_count")
    assert(p.contains("*(1) Project"), p)
    assert(p.contains("tokencount"), p)
  }

  test("round-2 operators keep their scale shapes") {
    // traffic range-join broadcasts the config-sized block table
    assert(count(plan("traffic_analysis"), "BroadcastNestedLoopJoin") == 1)
    // per-code sampling pushes the top-k below the final sort/window
    // (WindowGroupLimit caps per-partition state before the shuffle)
    assert(plan("sample_messages").contains("WindowGroupLimit"), plan("sample_messages"))
    // corpus-wide top-k never materializes a global sort
    val tk = plan("topk_ngrams")
    assert(tk.contains("TakeOrderedAndProject"), tk)
    assert(!tk.contains("Sort ["), tk)
    // the WS decision is row-local: only the final stats aggregation shuffles
    assert(count(plan("ws_cycle_relabel"), "Exchange") == 1)
    assert(count(plan("sync_stats"), "Exchange") == 1)
    // reverse sync folds every contact field in ONE shuffle on participant
    assert(count(plan("reverse_sync_contacts"), "Exchange") == 1)
  }

  test("round-3 curation operators keep their scale shapes") {
    // decontaminate: the (small) benchmark shingle set is broadcast — the
    // corpus side must never shuffle into a sort-merge join against it
    val dc = plan("decontaminate")
    assert(count(dc, "BroadcastHashJoin") >= 1, dc)
    // pii redaction is a pure row-local projection
    assert(count(plan("pii_redact"), "Exchange") == 0)
    // seq packing: the prefix-sum window is PARTITIONED by shard — a global
    // unpartitioned window would plan a single-partition Exchange
    val sp = plan("seq_packing")
    assert(!sp.contains("SinglePartition"), sp)
    // semdedup: centroid assignment broadcasts the centroids; the pair join
    // is cluster-bucketed, never a cartesian product. The assignment subtree
    // is referenced three times (pair sides + final keep join) — the
    // executed plan must share its shuffle via AQE exchange reuse rather
    // than recompute the corpus-wide assignment per branch.
    val sdDf = SparkEntry.queries("semdedup")(spark, sfDir)
    sdDf.collect() // count() would plan a NEW QueryExecution; collect runs this one
    val sd = sdDf.queryExecution.executedPlan.toString
    assert(sd.contains("ReusedExchange"), sd)
    assert(!sd.contains("CartesianProduct"), sd)
    // mixture audit: decision is row-local; only the source-keyed audit
    // aggregation shuffles
    assert(count(plan("data_mixture"), "Exchange") == 1)
    // chunking is a pure row-local explode
    assert(count(plan("chunk_docs"), "Exchange") == 0)
    // tfidf: per-doc top-k caps window state before the shuffle, and the
    // vocab-sized df/n sides come in as broadcasts
    val tt = plan("tfidf_topterms")
    assert(tt.contains("WindowGroupLimit"), tt)
    assert(count(tt, "BroadcastHashJoin") >= 1, tt)
    // vocab id assignment sees only vocab-sized data: the corpus-wide agg
    // is cut by TakeOrderedAndProject before the single-partition window
    assert(plan("vocab_build").contains("TakeOrderedAndProject"), plan("vocab_build"))
  }

  test("round-3 relational additions keep their scale shapes") {
    // q4: the EXISTS must plan as a LEFT SEMI join (lineitem columns never
    // materialize), with the order-window predicates pushed into the scan
    val q4 = plan("q4_priority_checking")
    assert(q4.contains("LeftSemi"), q4)
    assert(q4.contains("GreaterThanOrEqual(o_orderdate"), q4)
    // q19: Catalyst OR-distributes the 3-way disjunction — the brand/size
    // conjuncts must reach the part side and the quantity bounds the
    // lineitem side as pre-join Filters, even though the full predicate is
    // only post-join. (Assert on the Filter nodes, not PushedFilters —
    // explain truncates long pushed-filter lists with "...".)
    val q19 = plan("q19_disjunctive_revenue")
    assert(q19.contains("= Brand#1)"), q19)
    assert(q19.contains(">= 20.0)"), q19)
    // q21: EXISTS/NOT EXISTS plan as one semi + one anti join; the fact-
    // sized relations carry no broadcast hint, so at scale AQE may choose
    // shuffle joins — locally either shape is fine, but never a cartesian
    val q21 = plan("q21_waiting_suppliers")
    assert(q21.contains("LeftSemi") && q21.contains("LeftAnti"), q21)
    // q22: the global-average scalar joins as a 1-row broadcast nested
    // loop, and the no-recent-orders check is a LEFT ANTI join
    val q22 = plan("q22_dormant_accounts")
    assert(q22.contains("BroadcastNestedLoopJoin"), q22)
    assert(q22.contains("LeftAnti"), q22)
    // q11: the national total/count is likewise a 1-row broadcast cross
    // join — never a correlated re-aggregation of the fact side
    val q11 = plan("q11_important_value")
    assert(q11.contains("BroadcastNestedLoopJoin"), q11)
    // q16: flagged-supplier exclusion must plan as a broadcast LEFT ANTI
    // (the NOT IN over a tiny dim), part attributes as a broadcast join
    val q16 = plan("q16_supplier_diversity")
    assert(q16.contains("LeftAnti"), q16)
    assert(count(q16, "BroadcastHashJoin") >= 1, q16)
  }

  test("ANN top-k ranking gets the group-limit pushdown (bounded memory per task)") {
    // row_number <= k over (query_id) must plan as WindowGroupLimit — the
    // optimizer's map-side partial top-k means a giant candidate bucket
    // never materializes fully in one task's window buffer. Spark plans
    // it as a partial+final pair, so the top-k window alone contributes
    // TWO nodes; ivf has an extra pair from assignNearest's row_number<=1
    // (count >= 4 ensures the top-k pair can't be masked by it)
    Seq("ann_topk" -> 2, "ann_lsh_topk" -> 2, "ann_ivf_topk" -> 4,
        "hard_negatives_lsh" -> 2).foreach { case (q, n) =>
      assert(count(plan(q), "WindowGroupLimit") >= n, s"$q lost the group-limit pushdown")
    }
  }

  test("range join rewrites the inequality into a grid-cell equi-join") {
    // the point-in-interval join must key on the grid cell (equi-join with
    // the range as residual), never plan the range itself as a nested loop
    val p = plan("range_join_traffic")
    assert(p.contains("__cell"), p)
  }

  test("late round-3 dedup additions keep their scale shapes") {
    // signature-agreement estimate must verify from the sketch ints alone:
    // no shingle-set rematerialization (array_intersect) anywhere in the plan
    val je = plan("minhash_jaccard_est")
    assert(!je.contains("array_intersect"), je)
    // fuzzy edit runs Levenshtein strictly AFTER the band-bucket pair join —
    // as a projection/filter, never as a join condition (which would force
    // a nested-loop comparison of unpaired rows)
    val fe = plan("dedup_fuzzy_edit")
    assert(fe.contains("levenshtein"), fe)
    assert(!fe.contains("BroadcastNestedLoopJoin"), fe)
    // leakage: NO join at all — per-digest source sets aggregate once
    // (collect_set, bounded by |sources|) and the source pairs enumerate
    // row-locally from the sorted set; a join anywhere means the self-join
    // formulation (two more corpus-digest exchanges) crept back
    val xl = plan("cross_source_leakage")
    assert(!xl.contains("Join"), s"leakage must not plan any join\n$xl")
    assert(xl.contains("collect_set"), xl)
  }

  test("round-4 composed flows keep their scale shapes") {
    // the composed funnel: deny-lists broadcast (no sort-merge join
    // anywhere), and the pre-aggregation sits BELOW the stage explode so
    // the countDistinct expand runs on the reduced frame
    val p = plan("engagement_pipeline")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    val genAt = p.lastIndexOf("Generate explode")
    val preAggAt = p.lastIndexOf("HashAggregate")
    assert(genAt >= 0 && preAggAt > genAt,
      s"pre-aggregation must sit below the stage explode (explode@$genAt agg@$preAggAt)\n$p")
    // the terminal exports stay anti-join + row-local (no window, no extra agg
    // before the participants fold)
    val pe = plan("engagement_export")
    assert(!pe.contains("Window") && !pe.contains("SortMergeJoin"), pe)
    // the configured view: dataset scoping reaches the scan; exactly two
    // hash exchanges — the fact groupBy plus the tiny deny-list distinct
    // inside the broadcast build (ConfigSpec proves the fold itself is a
    // single pass on a literal deny frame)
    val pc = plan("configured_pipeline_view")
    assert(pc.contains("In(event_type"), pc)
    assert(count(pc, "Exchange hashpartitioning") == 2, pc)
    // q2: the FACT aggregation (per (part, supp) min over lineitem) appears
    // exactly once — the correlated min is a window over the derived
    // relation, not a self-join that re-executes the fact agg. (The tiny
    // supplier/nation/region dim subtree is consumed twice by design —
    // re-executing a broadcast dim build is free next to the fact.)
    val p2 = plan("q2_min_cost_supplier")
    assert(count(p2, "partial_min(cast(l_extendedprice") == 1,
      s"q2 re-executes the fact aggregation\n$p2")
    assert(p2.contains("Window"), p2)
  }

  test("late round-4 training-prep operators keep their scale shapes") {
    // split assignment is row-local: a shuffle here would mean the hash
    // coin accidentally became an aggregation
    assert(count(plan("dataset_split"), "Exchange") == 0)
    // shuffle_order: exactly one hash exchange (the shard scatter); the
    // sort is per-shard, never a global range exchange
    val so = plan("shuffle_order")
    assert(count(so, "Exchange hashpartitioning") == 1, so)
    assert(!so.contains("Exchange rangepartitioning"), so)
    // contamination: benchmark side broadcast, ONE corpus-side shingling
    // (the single-scan rewrite — a second distinct_shingles means the
    // denominator pass re-shingled the corpus)
    val cs = plan("contamination_score")
    assert(cs.contains("BroadcastHashJoin"), cs)
    assert(count(cs, "distinctshingles") == 2, // corpus once + bench once
      s"contamination_score must shingle the corpus exactly once\n$cs")
    // BPE pair counts: the corpus-scale word count is capped by
    // TakeOrdered BEFORE the pair explode
    val bp = plan("bpe_pair_counts")
    assert(bp.contains("TakeOrderedAndProject"), bp)
    // dim stats: one partial-agg exchange keyed on the dimension index
    assert(count(plan("embedding_dim_stats"), "Exchange hashpartitioning") == 1)
    // recall report: operates on two top-k frames; no corpus-sized
    // sort-merge join may appear between them
    assert(!plan("ann_recall_report").contains("SortMergeJoin"))
    // composed training pipeline: every join broadcast (firsts + hits +
    // bench shingles). The scan budget is FOUR total parquet scans —
    // three corpus (flags, first-keeper agg, contamination shingling)
    // plus one benchmark; corpus and benchmark read the same table so
    // the plan text cannot tell them apart, but any regression of the
    // hits branch into rebuilding the keepers join ADDS scans (5+) and
    // trips the total
    val tp = plan("training_pipeline")
    assert(!tp.contains("SortMergeJoin"), tp)
    assert(count(tp, "Scan parquet") == 4,
      s"training_pipeline must plan exactly 4 parquet scans (3 corpus + 1 benchmark)\n$tp")
    // the incremental variant adds exactly ONE scan (the archive digest
    // side); its digest lookup must stay a hash join, never a sort-merge
    val ti = plan("training_incremental")
    assert(!ti.contains("SortMergeJoin"), ti)
    assert(count(ti, "Scan parquet") == 5,
      s"training_incremental must plan exactly 5 parquet scans (3 batch + 1 archive + 1 benchmark)\n$ti")
  }

  test("bm25 broadcasts the query terms; token aggregations are partial") {
    val p = plan("bm25_topk")
    // tf join against the 8 query terms must be a broadcast, and the
    // corpus-scalar cross join must ride a broadcast exchange too
    assert(count(p, "BroadcastHashJoin") >= 1, p)
    assert(count(p, "BroadcastExchange") >= 2, p)
    // df/tf counts combine map-side before their exchanges
    assert(count(p, "partial_count") >= 2, p)
    // exactly TWO explodes (df's distinct terms + tf's hit filter):
    // document length must stay row-local (size of the token array) —
    // a third Generate means a corpus-sized groupBy(doc_id) crept back
    assert(count(p, "Generate explode") == 2,
      s"bm25 must tokenize only for df and tf, dl stays row-local\n$p")
    // and the df explode dedupes per-doc on the row, so its exchange is
    // vocabulary-sized, never token-pair-sized
    assert(p.contains("array_distinct"), p)
  }

  test("pq refined search fetches shortlist vectors via broadcast joins") {
    val p = plan("ann_pq_refined")
    // the refine stage joins corpus(vec) <- broadcast(cand) <- broadcast(queries)
    assert(count(p, "BroadcastHashJoin") >= 2, p)
    assert(!p.contains("SortMergeJoin"), "refine stage must not shuffle the corpus\n" + p)
  }

  test("temperature mixture's keep decision is row-local against broadcast rates") {
    val p = plan("mixture_temperature")
    assert(count(p, "BroadcastHashJoin") >= 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("the LSH band self-join is a shuffle join with no broadcast hint (AQE skew-split must stay available)") {
    // The (band, bk) self-join is where a planted boilerplate cluster
    // lands as one hot shuffle key (BandSkewProbeR11). AQE's
    // OptimizeSkewedJoin can only split a SortMergeJoin/ShuffledHashJoin —
    // a broadcast HINT on either side would both pin corpus-sized build
    // memory and permanently disable the skew valve.
    for (q <- Seq("dedup_minhash_lsh", "dedup_minhash_verified", "dedup_incremental")) {
      val lp = SparkEntry.queries(q)(spark, sfDir).queryExecution.optimizedPlan.toString
      assert(!lp.toLowerCase.contains("hint"),
        s"$q: band join must carry no join-strategy hint\n$lp")
      // with the size heuristic off, a hint is the only thing that could
      // still force a broadcast — the plan must fall back to a shuffle
      // join. The override lives in a cloned session (own SQLConf, shared
      // context) so concurrently-running suites asserting broadcast plans
      // against the shared SparkSpec session can never observe it.
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = SparkEntry.queries(q)(s2, sfDir).queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"$q: band join must plan as a shuffle join (AQE may still demote at runtime)\n$p")
      assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: no broadcast survives with the size heuristic off = no hint anywhere\n$p")
    }
  }

  test("no query plans an unbroadcast cartesian product") {
    SparkEntry.queries.keys.foreach { name =>
      assert(!plan(name).contains("CartesianProduct"), s"$name plans a CartesianProduct")
    }
  }

  test("round-8 reports stay single-scan, single-pass") {
    // one corpus scan each — the review pass replaced per-branch
    // re-execution with role-explodes / min-of-struct argmax
    Seq("classifier_eval", "coder_agreement", "key_skew_report", "l_diversity",
        "k_anonymity", "corpus_report_cube", "embedding_covariance")
      .foreach { q =>
        assert(count(plan(q), "Scan parquet") == 1, s"$q must scan once")
      }
    // the cube is ONE Expand feeding one partial agg, not four report jobs
    val cube = plan("corpus_report_cube")
    assert(count(cube, "Expand") == 1 && count(cube, "Exchange") == 1, cube)
    // covariance: bounded-buffer aggregate, no explode, no join
    val cov = plan("embedding_covariance")
    assert(!cov.contains("Join"), "covariance must not self-join")
    assert(count(cov, "Exchange") == 1, cov)
  }

  test("round-8 sampling and windows keep their bounded shapes") {
    // stratified sampling: the rank filter must reach WindowGroupLimit on
    // both shuffle sides (partial top-k per input partition)
    assert(count(plan("sample_stratified"), "WindowGroupLimit") >= 2,
      plan("sample_stratified"))
    // native session windows: one shuffle on the user key
    assert(count(plan("session_window_agg"), "Exchange") == 1,
      plan("session_window_agg"))
    // both as-of variants keep the one-exchange carry plan (nearest pays
    // an extra SORT, never an extra shuffle)
    Seq("asof_tolerance", "asof_forward", "asof_nearest").foreach { q =>
      val p = plan(q)
      assert(count(p, "Exchange") <= 2, s"$q gained a shuffle:\n$p")
    }
  }

  test("round-9 stats/linkage operators keep their scale shapes") {
    // dependence tests: ONE corpus scan; marginals are windows on the
    // class-cardinality cells frame, never a re-aggregation of the corpus
    Seq("chi2_independence", "mutual_information", "gini_concentration",
        "scd2_intervals", "markov_transitions", "ab_test_zscore")
      .foreach { q =>
        assert(count(plan(q), "Scan parquet") == 1, s"$q must scan once")
      }
    // kaplan_meier: exactly TWO scans — the 1-column map-side corpus-horizon
    // agg (broadcast back, the topMovers shape) plus the per-entity pass;
    // the old one-scan form hid an entity-cardinality single-partition window
    val km = plan("kaplan_meier")
    assert(count(km, "Scan parquet") == 2, s"kaplan_meier must scan twice\n$km")
    assert(km.contains("BroadcastNestedLoopJoin"), km)
    // scd2: all three window passes ride ONE entity-key exchange
    assert(count(plan("scd2_intervals"), "Exchange") == 1, plan("scd2_intervals"))
    // gini: rank window and fold share the single group-key exchange
    assert(count(plan("gini_concentration"), "Exchange") == 1,
      plan("gini_concentration"))
    // z-score: two passes by necessity, the moments side joins back as a
    // broadcast (group-cardinality), not a shuffle join
    val zs = plan("zscore_outliers")
    assert(count(zs, "Scan parquet") == 2 && zs.contains("BroadcastHashJoin"), zs)
    // linkage: blocking is an equi-join (hash or broadcast), no cartesian,
    // and the JW verify sits ABOVE the join as a projected expression.
    // Since r14 the two blocking passes read a shareLazily-cached (id,
    // probe) projection — after stripping cache reprints, NO bare corpus
    // scan remains (each pass hits the InMemoryRelation, one runtime
    // materialization), and the cross-pass pair dedup is a hash aggregate
    val rl = graft.util.PlanText.stripCachedReprints(plan("record_linkage_jw"))
    assert(!rl.contains("CartesianProduct") && rl.contains("jarowinkler"), rl)
    assert(rl.contains("InMemoryTableScan") && count(rl, "Scan parquet") == 0, rl)
    org.apache.spark.sql.graft.Bridge.releaseShared()
    // the cap-accounting companion: two map-side-combinable aggregation
    // branches (one per blocking pass), no join of any kind
    val lbr = plan("linkage_block_report")
    assert(count(lbr, "Scan parquet") == 2, lbr)
    assert(!lbr.contains("Join") && !lbr.contains("CartesianProduct"), lbr)
  }

  test("drift/eval batch keeps its scale shapes") {
    // one listwise pass, no Expand (the multi-distinct fingerprint-
    // instability class stays structurally out), one exchange to the fold
    val cm = plan("corr_matrix")
    assert(count(cm, "Scan parquet") == 1 && count(cm, "Expand") == 0, cm)
    assert(count(cm, "Exchange") == 1, cm)
    // typed two-state fold: one entity-key exchange, one scan
    val hl = plan("holt_linear")
    assert(count(hl, "Scan parquet") == 1 && count(hl, "Exchange") == 1, hl)
    // no cartesian anywhere in the batch; rank-eval joins broadcast
    Seq("ks_drift", "psi_drift", "ann_rank_eval").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), q)
    }
  }

  test("ks_drift runs ONE corpus scan at runtime (reused counts exchange)") {
    // the two-phase ECDF prefix reads the per-value counts three ways
    // (totals, offsets, fold); all three must reuse the first exchange
    val df = SparkEntry.queries("ks_drift")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalPlan = p.substring(0, p.indexOf("+- == Initial Plan ==") match {
      case -1 => p.length
      case i  => i
    })
    assert(count(finalPlan, "Scan parquet") == 1, finalPlan)
    assert(finalPlan.contains("ReusedExchange"), finalPlan)
  }

  test("psi_drift stays at its documented three passes at runtime") {
    val df = SparkEntry.queries("psi_drift")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalPlan = p.substring(0, p.indexOf("+- == Initial Plan ==") match {
      case -1 => p.length
      case i  => i
    })
    // midpoint, baseline cutpoints, bucketed fold — never more
    assert(count(finalPlan, "Scan parquet") <= 3, finalPlan)
  }

  test("ML-prep/eval batch keeps its scale shapes") {
    // single-scan single-agg reports: no second corpus pass hiding anywhere
    Seq("feature_screen", "bootstrap_ci", "json_props_stats",
        "tokenizer_fertility", "langid_confusion").foreach { q =>
      assert(count(plan(q), "Scan parquet") == 1, s"$q must scan once")
    }
    // one entity-key exchange feeds every window frame
    Seq("weighted_median", "interval_coverage").foreach { q =>
      val p = plan(q)
      assert(count(p, "Scan parquet") == 1 && count(p, "Exchange") == 1, q)
    }
    // broadcast joins only — no shuffled or cartesian join in the batch
    Seq("cdc_apply",
        "degree_assortativity", "t_closeness", "cv_folds").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), q)
    }
  }

  test("unbounded category frames carry no forced broadcast hint") {
    // target_encode_loo / rare_category_collapse join a per-category
    // counts frame whose cardinality is data-driven (the long tail IS
    // the input). A broadcast() hint there overrides AQE's size estimate
    // and dies on broadcast build at 100× scale — so the hint must be
    // absent and the strategy left to AQE. The ONLY allowed hint in
    // target_encode_loo is the 1-row global-mean broadcast.
    val te = SparkEntry.queries("target_encode_loo")(spark, sfDir)
    assert(count(te.queryExecution.optimizedPlan.toString,
      "strategy=broadcast") <= 1, "only the 1-row global mean may be hinted")
    val rc = SparkEntry.queries("rare_category_collapse")(spark, sfDir)
    assert(!rc.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      "the category-counts join must not be broadcast-hinted")
    // whatever AQE picks, the executed plan must never be a cartesian
    Seq(te, rc).foreach { df =>
      df.collect()
      assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    }
  }

  test("final-batch operators keep their scale shapes") {
    // one scan, one exchange: reports that fold in a single pass
    Seq("pii_scan_report", "contract_check", "hourly_percentiles",
        "pit_features", "attribution_compare").foreach { q =>
      val p = plan(q)
      assert(count(p, "Scan parquet") == 1, s"$q must scan once")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), q)
    }
    // the design table is data-free: zero scans, zero exchanges
    val lt = plan("lsh_tuning_table")
    assert(count(lt, "Scan parquet") == 0 && count(lt, "Exchange") == 0, lt)
    // no cartesian/SMJ anywhere else in the batch
    Seq("seasonal_anomalies", "event_lift", "krippendorff_alpha",
        "regression_huber").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), q)
    }
  }

  test("bigram_pmi runs ONE corpus scan at runtime (cache-mediated fan-out)") {
    // round 14: the distinct-bigram frame is shareLazily-cached and its
    // four consumers (both marginals, totals, the pair spine) read the
    // InMemoryRelation — the corpus parquet scan runs exactly once, at
    // cache materialization. Assertion: every "Scan parquet" occurrence in
    // the plan string sits inside an InMemoryRelation reprint (1:1 count),
    // i.e. NO consumer bypasses the cache with a direct corpus re-scan
    // (the previous window formulation shuffled the full bigram frame
    // twice — 12.1x at the sf1 replica; see Vocab.bigramPmi scaladoc).
    val df = SparkEntry.queries("bigram_pmi")(spark, sfDir)
    df.collect()
    val p = graft.util.PlanText.stripCachedReprints(
      df.queryExecution.executedPlan.toString)
    assert(p.contains("InMemoryTableScan"), p)
    assert(count(p, "Scan parquet") == 0, p)
    org.apache.spark.sql.graft.Bridge.releaseShared()
  }

  test("empty-partition (single-partition) windows appear ONLY on the bounded-frame whitelist") {
    // A Window with no partitionSpec funnels its whole input through ONE
    // task — acceptable only when the frame is bounded by construction.
    // Exactly these queries are allowed one, each with a bounded frame:
    //   benford_digits     — 9-row first-digit distribution
    //   bm25_topk          — k-bounded ranking after WindowGroupLimit
    //   chi2_independence  — contingency cells (|classes|²)
    //   mutual_information — contingency cells (|classes|²)
    //   kaplan_meier       — distinct lifetime days (time axis)
    //   ks_drift           — per-input-partition count offsets (two-phase ECDF)
    // rfm_segments / rfm_segments_dist were DELISTED in round 11: the
    // single-partition ntile windows were replaced by the distributed
    // two-phase rank, and the kernel's partition-count offset cumulation
    // became a broadcast triangular self-join — no unpartitioned Window
    // remains anywhere in either plan.
    // The set is checked for EQUALITY: a new global window fails loudly,
    // and a whitelisted query that stops needing one must be delisted.
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val allowed = Set("benford_digits", "bm25_topk", "chi2_independence",
      "mutual_information", "kaplan_meier", "ks_drift")
    val found = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      val sp = auditFrame(name).queryExecution.sparkPlan
      sp.collectFirst {
        case w: WindowExec if w.partitionSpec.isEmpty => w
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w
      }.nonEmpty
    }.toSet
    assert(found == allowed,
      s"global-window whitelist drift: unexpected=${(found -- allowed).toSeq.sorted} stale=${(allowed -- found).toSeq.sorted}")
  }

  test("global-window whitelist: windowed frames are class-cardinality bounded (measured at sf0.1)") {
    // The whitelist above is safe because each query's single-partition
    // window consumes a frame bounded by CONSTRUCTION (class cardinality,
    // time axis, partition count) — round 12 carried that bound as prose;
    // here it is measured. Each query EXECUTES at sf0.1 (100x the audit
    // SF), then every empty-partitionSpec window node's numOutputRows
    // (window output rows == frame rows: windows preserve cardinality) is
    // read from the final adaptive plan and asserted against a bound
    // computed from the DATA or the session config — self-scaling, not a
    // hard-coded row count.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val sf01 = "/root/testdata/sf0.1"
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // per-query bound: (documented frame, bound value)
    def docs = GraftSession.table(spark, sf01, "documents")
    def evs = GraftSession.table(spark, sf01, "events")
    lazy val cellBound = {
      val r = docs.agg(countDistinct(col("lang")), countDistinct(col("source"))).collect()(0)
      r.getLong(0) * r.getLong(1) // contingency cells: |lang| x |source|
    }
    lazy val dayBound = {
      val r = evs.agg(datediff(max(col("ts")).cast("date"),
        min(col("ts")).cast("date"))).collect()(0)
      r.getInt(0).toLong + 1 // time axis: distinct lifetime days <= horizon span
    }
    val bounds: Map[String, (String, Long)] = Map(
      "benford_digits" -> ("9-row first-digit spine", 9L),
      "chi2_independence" -> ("contingency cells |lang|x|source|", cellBound),
      "mutual_information" -> ("contingency cells |lang|x|source|", cellBound),
      "kaplan_meier" -> ("distinct lifetime days (time axis)", dayBound),
      // two-phase ECDF: the windowed offsets frame has one row per range
      // task of the value shuffle
      "ks_drift" -> ("range-task count offsets", shufflePartitions.toLong),
      // top-k after WindowGroupLimit: partial limits bound each scan/shuffle
      // partition to k=20 rows (+rank ties on rounded scores), so the
      // global rank window sees at most k rows per upstream partition
      "bm25_topk" -> ("k=20 per upstream partition after WindowGroupLimit",
        20L * (shufflePartitions + 64 + 1)))
    // AQE-aware descent (stage wrappers hide internals from `children`)
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case qs: QueryStageExec => Seq(qs.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    // Frame size of a window node's input: WindowExec itself publishes
    // only spillSize, so read the first row-bearing metric BELOW it — a
    // numOutputRows node (aggregate/join) or the single-partition
    // exchange's shuffleRecordsWritten. Every node between the window and
    // that metric (Sort/Project/Exchange/AQE read) preserves or shrinks
    // cardinality, so the measure is an upper bound on the frame.
    def rowsBelow(p: SparkPlan): Long =
      p.metrics.get("numOutputRows").map(_.value).getOrElse(
        p.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse {
          val k = kids(p)
          if (k.isEmpty) -1L else k.map(rowsBelow).max
        })
    // Only WindowExec MATERIALIZES its partition (buffered rows = the
    // scale hazard the whitelist guards). WindowGroupLimitExec streams
    // with O(k) rank state — its partial phase legitimately consumes the
    // corpus, so it is exempt from the frame bound by construction.
    def globalWindows(p: SparkPlan, acc: scala.collection.mutable.ArrayBuffer[WindowExec]): Unit = {
      p match {
        case w: WindowExec if w.partitionSpec.isEmpty && !acc.exists(_ eq w) =>
          acc += w
        case _ => ()
      }
      kids(p).foreach(globalWindows(_, acc))
    }
    bounds.toSeq.sortBy(_._1).foreach { case (q, (what, bound)) =>
      val df = SparkEntry.queries(q)(spark, sf01)
      df.collect() // materialize metrics
      val acc = scala.collection.mutable.ArrayBuffer[WindowExec]()
      globalWindows(df.queryExecution.executedPlan, acc)
      assert(acc.nonEmpty, s"$q: expected at least one global WindowExec")
      acc.foreach { w =>
        val rows = rowsBelow(w.child)
        assert(rows >= 0, s"$q: no row metric found below the global window")
        assert(rows <= bound,
          s"$q: global window frame measured $rows rows, exceeds documented bound $bound ($what)")
      }
    }
  }

  test("constructing ANY registry DataFrame runs zero Spark jobs") {
    // The 100 TB posture: a plan audit, bench plan-hash, or .explain must
    // never scan a byte. Kernels that interleave driver actions with plan
    // construction are bound behind deferred leaves (SparkEntry.
    // deferredContracts); table schemas come from the per-JVM catalog
    // (GraftSession.schemaCache) after a one-time footer inference. This
    // generalizes ExportFidelitySpec's single-query listener assertion to
    // the FULL registry so the construction-time-job class cannot recur.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val grp = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        if (grp.startsWith("audit_")) { jobs.add(grp); () }
      }
    }
    sc.addSparkListener(listener)
    try {
      // one-time schema discovery is allowed to run jobs; warm it first
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
        .foreach(t => GraftSession.table(spark, sfDir, t))
      // job groups are thread-local: tagging this thread isolates the
      // assertion from concurrently-running suites on the shared session
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        sc.setJobGroup(s"audit_construct_$name", name)
        try {
          val df = fn(spark, sfDir)
          // plan-only inspection must stay inert too (the bench
          // plan-hash / .explain access pattern)
          df.queryExecution.optimizedPlan.toString
          df.queryExecution.sparkPlan.toString
          ()
        } finally sc.clearJobGroup()
      }
      // marker job: listener events are async — anything construction-time
      // was enqueued before this
      sc.setJobGroup("audit_marker", "marker")
      try { spark.range(1).count(); () } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      import scala.jdk.CollectionConverters._
      while (!jobs.asScala.exists(_ == "audit_marker") &&
             System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.asScala.exists(_ == "audit_marker"), "marker job never observed")
      val offenders = jobs.asScala.toSeq.filter(_ != "audit_marker").distinct.sorted
      assert(offenders.isEmpty,
        s"queries running Spark jobs at DataFrame construction: $offenders")
    } finally sc.removeSparkListener(listener)
  }

  test("rfm plans: one melted rank pass, codegen throughout, ranked frame cached once") {
    // Round 12: the three quintile axes are MELTED into one (axis, key,
    // user) frame and ranked by a SINGLE range exchange (Stats.
    // rfmFromPerUser). The plan never leaves whole-stage codegen (no typed
    // hop), and the RANKED frame — the only multiply-consumed subtree — is
    // served to both its consumers (segment stats, rank join) by one lazy
    // InMemoryRelation: cache replacement happens at analysis, before
    // column pruning can make the copies canonically unequal and force the
    // corpus chain to execute twice. So the OUTER plan must contain NO
    // range repartition at all (ranking lives inside the cached plan,
    // exactly once) and both rfm rows must share the cache shape. The
    // offsets window is partitioned BY AXIS over the ≤ 3P-row segment
    // frame — never a global window.
    for (q <- Seq("rfm_segments", "rfm_segments_dist")) {
      val df = auditFrame(q)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("DeserializeToObject") && !p.contains("MapPartitions"),
        s"$q left whole-stage codegen:\n$p")
      assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
        s"$q must serve the ranked frame from the shared cache:\n$p")
      val outerRanges = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
      }
      assert(outerRanges.isEmpty,
        s"$q: all ranking must flow through the cached ranked frame, found " +
          s"${outerRanges.length} range repartitions outside it:\n$p")
      val cached = df.queryExecution.optimizedPlan.collect {
        case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
      }
      assert(cached.nonEmpty, s"$q: no InMemoryRelation in optimized plan:\n$p")
      // Count DISTINCT range-partitioning shuffle exchanges as tree nodes,
      // not rendered-string substrings: the explain string's layout shifts
      // across Spark versions and AQE states ("Final Plan"/"Initial Plan"
      // sections, ShuffleQueryStage reprints). AQE wrappers don't expose
      // stage internals as `children`, so the walk descends through
      // AdaptiveSparkPlanExec/QueryStageExec explicitly; identity-dedup
      // keeps a ReusedExchange reference from double-counting its target.
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
      import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
      val found = scala.collection.mutable.ArrayBuffer[SparkPlan]()
      def walk(n: SparkPlan): Unit = {
        n match {
          case s: ShuffleExchangeLike
              if s.outputPartitioning.isInstanceOf[RangePartitioning] =>
            if (!found.exists(_ eq s)) { found += s; () }
          case _ => ()
        }
        n match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case qs: QueryStageExec => walk(qs.plan)
          case r: ReusedExchangeExec => walk(r.child)
          case _ => ()
        }
        n.children.foreach(walk)
      }
      walk(cached.head.cachedPlan)
      assert(found.length == 1,
        s"$q: cached ranked frame must hold exactly ONE range exchange, " +
          s"found ${found.length}:\n${cached.head.cachedPlan}")
    }
  }

  test("pushdown rewrite preserves filter semantics on events") {
    // same rows with and without the rewrite (rewrite only changes the scan bound)
    val ev = GraftSession.table(spark, sfDir, "events")
    val lo = lit("2024-01-08 00:00:00").cast("timestamp")
    val viaRule = ev.filter(col("ts") >= lo).count()
    val noPush = ev.withColumn("ts2", col("ts")).filter(col("ts2") >= lo).count()
    assert(viaRule == noPush)
  }
}
