package graft

/** Physical-plan shape assertions (SURVEY §4.2): the optimizations the
  * engine relies on at scale must actually appear in the executed plan —
  * a silent regression to scan-everything or shuffle-everything passes
  * value checks but fails these.
  *
  * Uses sf0.01 (other suites cache sf0.001 tables, and Spark's cache
  * manager would substitute InMemoryTableScan for the parquet scan) and
  * inspects the plan AFTER an action so AQE has finalized it and
  * codegen stages are visible. */
class PlanSpec extends SparkSpec {

  private def finalPlan(name: String): org.apache.spark.sql.execution.SparkPlan = {
    val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
    df.collect()
    df.queryExecution.executedPlan
  }

  private def executedPlan(name: String): String = finalPlan(name).toString

  test("equality filter pushes into the parquet scan") {
    val p = executedPlan("q03_eq_filter")
    assert(p.contains("EqualTo(o_orderstatus,O)"), p.linesIterator.take(30).mkString("\n"))
  }

  test("column pruning reaches the scan (ReadSchema is the projection)") {
    val p = executedPlan("q01_scan_project")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_acctbal:double>"),
      p.linesIterator.take(30).mkString("\n"))
  }

  test("small dimension join is a broadcast hash join") {
    assert(executedPlan("q10_broadcast_join").contains("BroadcastHashJoin"))
  }

  test("mixture resample pins the weight join to broadcast via an explicit hint") {
    // The executed plan showing BroadcastHashJoin would be vacuous
    // here: AQE auto-broadcasts a table this small anyway. What must
    // not regress is the explicit broadcast() HINT — the guarantee
    // that the weight join never shuffles the corpus at a scale where
    // stats no longer auto-qualify. The hint survives analysis as
    // ResolvedHint, so its presence is assertable.
    val df = SparkEntry.queries("r52_resample")(spark, "/root/testdata/sf0.01")
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("ResolvedHint") &&
      analyzed.toLowerCase.contains("broadcast"), analyzed.take(800))
    assert(executedPlan("r52_resample").contains("BroadcastHashJoin"))
  }

  test("IN-subquery semi join plans as LeftSemi") {
    assert(executedPlan("q08_semi_join").contains("LeftSemi"))
  }

  test("top-k plans as TakeOrderedAndProject, not global sort") {
    assert(executedPlan("q16_topk").contains("TakeOrderedAndProject"))
  }

  // Codegen stages print as "*(n) Op" markers in the finalized plan.
  test("aggregation pipeline runs inside WholeStageCodegen") {
    val p = executedPlan("q13_multi_agg")
    assert(p.contains("*(1) HashAggregate") || p.contains("*(1) Filter"),
      p.linesIterator.take(30).mkString("\n"))
  }

  test("northwind join graph broadcasts every dimension (no dim-side shuffle)") {
    val p = executedPlan("q40_northwind_join_graph")
    val nBroadcast = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(nBroadcast >= 4, p.linesIterator.take(40).mkString("\n"))
  }

  test("the DotProduct expression stays in a codegen stage in ANN plans") {
    val p = executedPlan("p05_embed_neardup")
    assert(p.contains("dotproduct"))
    val codegenWithDot = p.linesIterator.exists(l => l.contains("*(") && l.contains("dotproduct"))
    assert(codegenWithDot, p.linesIterator.take(30).mkString("\n"))
  }

  test("p02's byDoc aggregation is computed once: ReusedExchange serves the other consumers") {
    // The minhash pipeline consumes the fused doc-keyed aggregate from
    // three plan branches (band explode + both Jaccard-verify sides).
    // The query is deliberately cache-free: exchange reuse must serve
    // the duplicates, or the aggregation re-runs per branch (the
    // regression this asserts against — and the r6 persist() form this
    // replaced paid ~1.8 s of cache machinery at sf0.1 for the same
    // sharing).
    val p = executedPlan("p02_minhash_lsh_pairs")
    assert(p.contains("ReusedExchange"), p.linesIterator.take(40).mkString("\n"))
  }

  test("dsir: the log-ratio model is broadcast; selection is TakeOrdered, not a global sort") {
    val df = SparkEntry.queries("p46_dsir_select")(spark, "/root/testdata/sf0.01")
    // the buckets-sized lr table must carry the explicit broadcast hint
    // (at 100 TB the corpus side dwarfs any auto-broadcast threshold)
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("ResolvedHint") &&
      analyzed.toLowerCase.contains("broadcast"), analyzed.take(800))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(40).mkString("\n"))
  }

  test("bm25: the query token set is broadcast onto the postings (token-keyed scoring join)") {
    val df = SparkEntry.queries("p47_bm25")(spark, "/root/testdata/sf0.01")
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("ResolvedHint") &&
      analyzed.toLowerCase.contains("broadcast"), analyzed.take(800))
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("rm3: both scoring legs broadcast token sets onto the postings") {
    val df = SparkEntry.queries("p52_rm3_expansion")(spark, "/root/testdata/sf0.01")
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("ResolvedHint") &&
      analyzed.toLowerCase.contains("broadcast"), analyzed.take(800))
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  /** FileSourceScans of `table` in an AQE-final plan (reused exchanges
    * and broadcasts are not scans). */
  private def scansOf(p: org.apache.spark.sql.execution.SparkPlan, table: String): Int =
    graft.tools.Plans.finalNodes(p).count {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.getName == s"$table.parquet")
      case _ => false
    }

  test("doremi and rm3 read the corpus a bounded number of times (shared LM/postings subtrees)") {
    // Each copy of a corpus subtree that ReuseExchange cannot collapse
    // is one more scan: a keys-only copy pruned under a count-only
    // consumer, or a copy that got a join-inferred null filter its
    // siblings did not.
    for ((q, bound) <- Seq("p56_doremi_mix" -> 5, "p52_rm3_expansion" -> 3)) {
      val plan = finalPlan(q)
      val n = scansOf(plan, "documents")
      assert(n >= 1 && n <= bound, s"$q: $n documents scans\n$plan")
    }
  }

  test("clusterSample: the k-row size table is broadcast (narrow keep filter)") {
    val df = SparkEntry.queries("p49_cluster_sample")(spark, "/root/testdata/sf0.01")
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("ResolvedHint") &&
      analyzed.toLowerCase.contains("broadcast"), analyzed.take(800))
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("html extraction is a narrow codegen'd map: the only exchange is the output sort") {
    val df = SparkEntry.queries("r62_html_extract")(spark, "/root/testdata/sf0.01")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen'd stages print as `*(n)` in the AQE-final plan string;
    // the extraction Project must carry the star
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      p.linesIterator.take(30).mkString("\n"))
    // the whole regexp/replace chain must fold into the scan's
    // projection — any hash/shuffle exchange beyond the final orderBy's
    // range partitioning means the stage stopped being a pure map
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("ReusedExchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      exchanges.mkString("\n"))
  }

  test("blocklist: the suffix join broadcasts the blocklist; script profile is a pure map") {
    // r67: the only corpus-keyed shuffles are the per-doc match
    // aggregation and the output sort — the blocklist side must ride
    // a BroadcastExchange, never a shuffle.
    val p = executedPlan("r67_blocklist")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      p.linesIterator.take(40).mkString("\n"))
    // r69: the whole script-count chain folds into the scan projection;
    // any non-range exchange means it stopped being a narrow map
    val sp = executedPlan("r69_script_profile")
    val exchanges = sp.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("ReusedExchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")), exchanges.mkString("\n"))
  }

  test("url dedup: owner aggregation, no window; drift model tables stay bounded") {
    // r66 must dedup via the urls-sized groupBy + join back — a
    // keep-first window would sort every crawl of a hot URL on one
    // reducer.
    val p = executedPlan("r66_url_dedup")
    assert(!p.contains("WindowExec") && !p.contains("RunningWindow"),
      p.linesIterator.filter(_.contains("Window")).mkString("\n"))
    assert(p.contains("HashAggregate"), p.linesIterator.take(30).mkString("\n"))
    // r70: the two 1-row totals join back via broadcast — the
    // buckets-sized model join must never shuffle corpus-derived rows
    val dp = executedPlan("r70_corpus_drift")
    assert(dp.contains("BroadcastNestedLoop") || dp.contains("BroadcastExchange"),
      dp.linesIterator.take(40).mkString("\n"))
  }

  test("range join runs as an equi-join on the bin key, not a nested loop") {
    val p = executedPlan("r79_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.linesIterator.take(40).mkString("\n"))
    // the bin id must be the join key (hash or sort-merge both fine;
    // AQE broadcasts the small side at this SF — still an equi-join)
    assert(p.contains("_bin"), p.linesIterator.take(40).mkString("\n"))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      p.linesIterator.take(40).mkString("\n"))
  }

  test("bloom join: the might_contain probe pre-filters the fact scan stage") {
    val p = executedPlan("r83_bloom_join")
    assert(p.contains("might_contain"),
      p.linesIterator.take(40).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.linesIterator.take(40).mkString("\n"))
  }

  test("group sample shuffles aggregated top-k state, never a per-group window") {
    val p = executedPlan("r84_group_sample")
    assert(!p.contains("Window"), p.linesIterator.take(40).mkString("\n"))
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      p.linesIterator.take(40).mkString("\n"))
  }

  test("robust outliers broadcast the group medians back onto the corpus") {
    val p = executedPlan("r86_robust_outliers")
    assert(p.contains("BroadcastHashJoin"),
      p.linesIterator.take(40).mkString("\n"))
    assert(!p.contains("SortMergeJoin"),
      p.linesIterator.take(40).mkString("\n"))
  }

  test("weighted sample is a TakeOrderedAndProject, never a global sort") {
    // r78's top-k must run as per-partition heaps + driver merge of k
    // rows; a SortExec over the corpus would materialize a full
    // shuffle just to keep 25 rows.
    val p = executedPlan("r78_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      p.linesIterator.take(30).mkString("\n"))
  }

  test("contamination report scans only doc_id and text") {
    val p = executedPlan("p57_contamination_report")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
  }

  test("ccnet bucket cuts broadcast back onto the scored corpus") {
    assert(executedPlan("p55_ccnet_buckets").contains("BroadcastHashJoin"))
  }

  test("no gate query carries an UNBOUNDED nested-loop/cartesian join") {
    // The exact all-pairs baseline (p05) is allowed only over a
    // deterministic bounded slice: any BroadcastNestedLoopJoin or
    // CartesianProduct in a gate plan must sit above a scan whose
    // pushed filter bounds the corpus (vec_id < 500). A BNLJ over an
    // unbounded scan is the one plan shape that cannot survive 100×.
    val p = executedPlan("p05_embed_neardup")
    assert(p.contains("LessThan(vec_id,500)"), p.linesIterator.take(30).mkString("\n"))
    val nBounded = p.linesIterator.count(_.contains("LessThan(vec_id,500)"))
    assert(nBounded >= 2, s"both BNLJ branches must be bounded:\n$p")
  }

  test("plan sweep: no query grows a cartesian shape outside the audited allowlist") {
    // Every allowlisted BNLJ is a broadcast crossJoin against a
    // provably tiny frame (a single query vector, <= 8 seeded
    // centroids, or a one-row total) — audited r5/r6. Any OTHER query
    // developing a CartesianProduct/BNLJ is a plan regression this
    // catches corpus-wide. Swept at sf0.001 (GoldenSpec already
    // executes every query there; shapes match the sf0.01 plans).
    val allowed = Set(
      "p05_embed_neardup",  // bounded all-pairs audit baseline (test above)
      "p06_ann_brute", "p07_ann_ivf", "p19_ann_ivf_batch",   // query-vector / centroid broadcast
      "p21_ann_quantized", "p25_kmeans_step", "p29_semdedup", // centroid / shortlist broadcast
      "r118_assignment_drift", // p25's centroid broadcast + a
                            // centroids×d delta join on top
      "p32_unigram_lm",     // one-row corpus-total broadcast
      "p37_bigram_lm",      // one-row corpus-total broadcast (same shape as p32)
      "r116_bigram_kn",     // one-row bigram-type-total broadcast (p37 shape)
      "p43_ann_pq",         // ADC scan: broadcast per-query LUT crossJoin
                            // (3 query rows; the pqTopK plan shape)
      "p44_ann_ivfpq",      // probe/LUT broadcasts over <= 8 coarse
                            // centroids + 3 queries (ivfPqTopK shape)
      "p46_dsir_select",    // one-row gram-total broadcasts (nt, nr —
                            // the p32 corpus-total shape, twice)
      "p47_bm25",           // one-row corpus stats (N, total tokens)
                            // broadcast into idf and the k1/b term
      "p49_cluster_sample", // <= 8 centroid broadcast (assignClusters,
                            // the p07/p29 shape)
      "p50_hybrid_rrf",     // dense side = p06's 3-query-vector
                            // broadcast; the fusion itself is a
                            // bounded groupBy over 2×k×queries rows
      "p52_rm3_expansion",  // one-row corpus stats broadcast (the p47
                            // shape), in BOTH scoring legs
      "p53_ann_recall",     // composes p19's probe + p06's brute legs —
                            // both sides' 5-query-vector broadcasts;
                            // the recall join itself is k×queries rows
      "r119_ccnet_kn",      // bigramScoreKN's one-row type-total
                            // broadcast (the r116 shape) under p55's
                            // lang-keyed cut join
      "p55_ccnet_buckets",  // bigramScore's one-row corpus-total
                            // broadcast (the p37 shape); the cut join
                            // itself is lang-keyed, not cartesian
      "p56_doremi_mix",     // both LM one-row totals (p32+p37 shapes);
                            // doremiWeights' k and Z are global
                            // windows, no longer crossJoins
      "p58_hard_negatives", // 5-query-vector broadcast (the p06 brute
                            // shape; the band filter is a narrow
                            // predicate before the top-k window)
      "r70_corpus_drift",   // two one-row totals (na, nb) broadcast
                            // onto the buckets-sized joined model —
                            // the p46 nt/nr shape
      "r73_histogram_quantiles", // 1-row (min,max,n) + qs-row frames
                            // broadcast-crossed with the ≤bins-row
                            // summary; the rank theta-join is qs×bins
      "r74_group_quantiles", // the r73 shape keyed by group: qs ×
                            // groups-row (min,max,n) cross, rank join
                            // over the groups×bins summary
      "r90_robust_binned",  // robustStatsApprox = histogramQuantilesBy
                            // twice — the r74 shape (qs × group
                            // min/max cross + rank join), both passes
      "r92_hll_group_distinct", // register densification: groups ×
                            // range(2^p) cross — BOTH summary-sized
                            // (the r77 dense shape, keyed)
      "r93_psi_drift",      // two one-row totals (na, nb) broadcast
                            // onto the ≤bins-row joined histograms —
                            // the r70 drift shape for numeric columns
      "r109_sem_decontaminate", // benchmark-sized eval-slice broadcast
                            // crossJoin (the p06 query-vector shape);
                            // the max partial-aggregates to one row
                            // per train vector before any exchange
      "r103_zipf_fit",      // 1-row OLS-sums frame crossed with the
                            // 1-row corpus-totals frame (the p32
                            // one-row-total shape, both sides)
      "r106_embed_covariance", // 1-row vector count broadcast onto the
                            // d(d+1)/2 cell frame (the p32 shape)
      "r111_embed_correlation", // the r106 shape + the d-row diagonal
                            // broadcast back onto the cell frame
      "r99_psi_by",         // the r93 shape keyed by group, plus the
                            // dense groups × range(bins) spine cross —
                            // all frames ≤ groups × bins rows
      "r101_drift_by",      // r11: the dense groups × range(buckets)
                            // JS spine (the r99 shape on the text-drift
                            // side) — ≤ groups × buckets summary rows
      "r97_winsorize",      // the r73 quantile CTE shapes + ONE 1-row
                            // bounds frame broadcast-crossed onto the
                            // corpus for the clip projection
      "r100_winsorize_by",  // the r97 shapes keyed by group (qs ×
                            // groups-row crosses, per-group rank
                            // joins); the clip join is groups-sized
                            // broadcast, never cartesian
      "r77_hll_distinct",   // one-row HLL estimate crossed with the
                            // one-row exact count (error-band rider)
      "q32_cosine_topk",    // single query vector broadcast
      "q42_quality_report") // one-row `now` frame
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => allowed.contains(n) }
      .flatMap { case (n, fn) =>
        val df = fn(spark, "/root/testdata/sf0.001")
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
          Some(n)
        else None
      }
    assert(offenders.isEmpty, s"new cartesian shapes in: $offenders")
  }
}
