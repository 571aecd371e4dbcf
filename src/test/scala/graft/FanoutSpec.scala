package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import graft.operators.Fanout

/** `Fanout`'s guard: frames past an exchange come back unchanged without
  * running a Spark job; a narrow scan with fewer partitions than the
  * session's parallelism gets exactly one hash repartition. */
class FanoutSpec extends SparkSpec {

  /** A one-file parquet corpus: one split, fewer partitions than the
    * test session's local[8] default parallelism. */
  private lazy val oneFile: String = {
    val dir = tmp("fanout") + "/docs"
    spark.range(200).select(col("id").as("doc_id"), (col("id") % 5).as("g"),
        concat(lit("t"), col("id").cast("string")).as("text"))
      .coalesce(1).write.parquet(dir)
    dir
  }

  /** Jobs submitted while `f` runs, counted after the bus is drained. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    BusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      BusDrain.drain(spark.sparkContext)
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def checkUnchanged(df: DataFrame): Unit = {
    val (out, jobs) = jobsDuring(Fanout(df, "doc_id"))
    assert(jobs == 0, "the guard must not execute the plan")
    assert(out eq df)
  }

  test("a joined frame comes back unchanged and no job runs") {
    val docs = spark.read.parquet(oneFile)
    checkUnchanged(docs.join(docs.select(col("doc_id"), col("g").as("g2")), "doc_id"))
  }

  test("an aggregated frame comes back unchanged and no job runs") {
    checkUnchanged(spark.read.parquet(oneFile).groupBy("g")
      .agg(min("doc_id").as("doc_id")))
  }

  test("a narrow one-file scan gets one REPARTITION_BY_NUM exchange") {
    val docs = spark.read.parquet(oneFile).select("doc_id", "text")
    assert(docs.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
    val (out, jobs) = jobsDuring(Fanout(docs, "doc_id"))
    assert(jobs == 0)
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.map(_.shuffleOrigin) == Seq(REPARTITION_BY_NUM),
      plan.toString)
    assert(out.orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)
  }
}
