package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col

/** Adaptive fan-out for CPU-heavy narrow maps.
  *
  * A narrow transform runs at the parallelism of its INPUT stage, and
  * Spark never re-splits a narrow stage: a compressed scan that plans
  * to fewer splits than the cluster has cores serializes every
  * downstream per-row computation until the first exchange. That is
  * exactly the shape of this engine's hashing/tokenizing primitives —
  * per-character md5 chains cost ~1000x the scan that feeds them, and
  * text compresses well, so "small scan, huge map" is common at every
  * scale (locally: one 594 KB parquet split ran the p62 winnowing
  * chain on 1 of 32 cores — 2.9 s of a 4.2 s query; with fan-out the
  * same chain is 0.4 s).
  *
  * `Fanout(df, key)` hash-repartitions to the session default
  * parallelism ONLY when the incoming plan has fewer partitions —
  * checking first keeps the operator honest at scale: a 100 TB scan
  * already carries thousands of splits, so the fan-out is a no-op and
  * the corpus text is never shuffled. When it does fire, the shuffle
  * moves only the pre-explode doc rows (the cheapest point in the
  * pipeline to move them), keyed by the id column so the exchange is
  * deterministic (round-robin repartition sorts rows to stay
  * deterministic — a pure waste here). The explicit partition count
  * makes the exchange REPARTITION_BY_NUM, which AQE must not coalesce
  * — without it AQE would see 594 KB and fold the exchange back to
  * one partition, silently undoing the fan-out.
  *
  * Only EXCHANGE-FREE plans are candidates: a frame whose prepared
  * physical plan holds any Exchange (a join's or aggregate's shuffle,
  * a broadcast, an explicit repartition) or a subquery is returned
  * unchanged. The guard reads the prepared plan (for an adaptive plan,
  * its initial plan, which already holds the exchanges
  * EnsureRequirements inserts) and never executes it: asking an
  * adaptive plan for `.rdd` would run its query stages (adaptive
  * execution materializes them to re-plan), so the "check" would
  * execute half the query at operator-construction time, and on any
  * plan `.rdd` runs the subqueries. Past a shuffle the frame no longer
  * runs at the scan's parallelism anyway. On an exchange- and
  * subquery-free narrow plan `.rdd` is pure planning.
  *
  * Streaming frames pass through untouched (their parallelism is the
  * source's; `.rdd` is undefined on them), as do frames already wide
  * enough. */
object Fanout {

  def apply(df: DataFrame, key: String): DataFrame = {
    if (df.isStreaming) return df
    val prepared: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan // initial plan until executed
      case p => p
    }
    if (prepared.exists(p => p.isInstanceOf[Exchange] || p.subqueries.nonEmpty))
      return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target, col(key))
    else df
  }
}
