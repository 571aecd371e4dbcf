package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, Partial}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}

import graft.SparkEntry

/** Writes PLANS.md: a plan FINGERPRINT for every registered query —
  * exchange count, whole-stage-codegen span count, join strategies —
  * so plan regressions are diffable round-over-round, plus the full
  * finalized physical plan for the headline set (standing evidence of
  * the shapes PlanSpec asserts: pushdown, pruning, broadcast,
  * codegen). Regenerate with `runMain graft.tools.Plans`. */
object Plans {

  val headline = Seq(
    "q01_scan_project", "q03_eq_filter", "q09_join3_agg", "q10_broadcast_join",
    "q13_multi_agg", "q16_topk", "p02_minhash_lsh_pairs", "p05_embed_neardup",
    "p06_ann_brute", "r37_asof_join",
    "q40_northwind_join_graph", "p15_fuzzy_dedup", "q42_quality_report",
    "r40_grouping_sets", "r43_session_window",
    "p18_dedup_survivors", "p19_ann_ivf_batch",
    "p20_dedup_corpus", "p21_ann_quantized",
    "p11_fingerprints", "p26_decontaminate", "p27_pack_sequences",
    "p29_semdedup", "p30_passage_dedup", "p31_quality_gate",
    "r49_corpus_shuffle", "r51_token_budget", "p07_ann_ivf",
    "r46_stratified_sample",
    "p33_image_neardup", "p34_audio_neardup", "p35_bpe_tokens",
    "p36_cdc_dedup", "p37_bigram_lm", "p38_boilerplate",
    "p39_dedup_against", "r48_hash_split", "r56_corpus_diff",
    "p40_gopher_repetition", "p41_quality_classifier",
    "p47_bm25", "p52_rm3_expansion", "r58_heavy_hitters",
    "r66_url_dedup", "r67_blocklist", "r69_script_profile",
    "r70_corpus_drift", "p58_hard_negatives", "p59_mmr_rerank",
    "r73_histogram_quantiles", "r74_group_quantiles",
    "r75_char_entropy", "r76_script_consistency", "p60_span_dedup",
    "p61_decontaminate_spans", "p62_fingerprint_pairs",
    "r83_bloom_join", "r85_salted_join", "r86_robust_outliers",
    "r87_entity_clusters", "r90_robust_binned", "r91_entity_incremental",
    "r61a_pagerank_assoc", "r63a_hits_assoc", "r99_psi_by",
    "r100_winsorize_by",
    "p63_image_phash", "p65_video_neardup", "r116_bigram_kn",
    "r117_drift_gate")

  /** Every node an executed plan ran, walked from its AQE-final form:
    * query stages and subquery plans are walked into, while a reused
    * exchange or subquery is a leaf, so shared work counts once. The
    * plan string would not do: it also prints the "Initial Plan". */
  def finalNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
    case q: QueryStageExec => finalNodes(q.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(finalNodes)
  }

  /** exch, wsc, bhj, smj, shj, nlj, scan, clst of one executed plan. */
  private def fingerprint(plan: SparkPlan): Seq[Int] = {
    val nodes = finalNodes(plan)
    def n(classes: Class[_]*): Int = nodes.count(p => classes.exists(_.isInstance(p)))
    Seq(n(classOf[Exchange]), n(classOf[WholeStageCodegenExec]),
      n(classOf[BroadcastHashJoinExec]), n(classOf[SortMergeJoinExec]),
      n(classOf[ShuffledHashJoinExec]),
      n(classOf[BroadcastNestedLoopJoinExec], classOf[CartesianProductExec]),
      n(classOf[FileSourceScanExec]),
      nodes.collect { case a: BaseAggregateExec => a.aggregateExpressions.count(e =>
        e.mode == Partial && e.aggregateFunction.isInstanceOf[CollectList]) }.sum)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(8, "plans")
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan fingerprints + headline plans (sf0.001, AQE final)\n\n")
    sb.append("Generated by `runMain graft.tools.Plans`. The fingerprint table covers\n")
    sb.append("EVERY registered query and counts operator nodes of the AQE-final\n")
    sb.append("plan, query stages and subqueries included and reused exchanges and\n")
    sb.append("subqueries once: `exch` = Exchange operators (shuffles +\n")
    sb.append("broadcasts), `wsc` = WholeStageCodegen spans, `bhj`/`smj`/`shj` = join\n")
    sb.append("strategies, `nlj` = nested-loop/cartesian (0 everywhere by design —\n")
    sb.append("broadcast 1-row/tiny-aggregate crossJoins excepted), `scan` = file\n")
    sb.append("scans, `clst` = partial collect_list aggregates (a group-sized array in ONE\n")
    sb.append("buffer — only per-doc bounded chunk/passage rebuilds and top-k-bounded\n")
    sb.append("fit frames may carry them; r103's 8 are the OLS sorted folds over the\n")
    sb.append("limit(200) token head, never corpus rows).\n")
    sb.append("Caveat: iterative graph queries return localCheckpoint-truncated\n")
    sb.append("plans, so their rows fingerprint only the final frame; the\n")
    sb.append("exact-vs-assoc collect_list distinction is pinned in GraphSpec on the\n")
    sb.append("aggregation expression itself (with an exact-mode positive control).\n")
    sb.append("Counts are the AQE-final executed plan at sf0.001, so a diff of\n")
    sb.append("this table between rounds is a plan regression alarm (an exchange\n")
    sb.append("appearing where none was, a codegen span splitting). Full plans for\n")
    sb.append("the headline set follow; the properties asserted in PlanSpec\n")
    sb.append("(pushdown/pruning/broadcast/codegen) are visible there.\n\n")

    val names = SparkEntry.queries.keys.toSeq.sorted
    val rows = names.map { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val executed = df.queryExecution.executedPlan
      spark.catalog.clearCache()
      (name, fingerprint(executed), executed.toString)
    }
    sb.append("| query | exch | wsc | bhj | smj | shj | nlj | scan | clst |\n")
    sb.append("|---|---|---|---|---|---|---|---|---|\n")
    rows.foreach { case (name, fp, _) =>
      sb.append(s"| $name | ${fp.mkString(" | ")} |\n")
    }
    rows.filter(r => headline.contains(r._1)).foreach { case (name, _, plan) =>
      sb.append(s"\n## $name\n\n```\n")
      sb.append(plan.take(4000))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${rows.size} fingerprints, ${headline.size} full plans)")
    spark.stop()
  }
}
