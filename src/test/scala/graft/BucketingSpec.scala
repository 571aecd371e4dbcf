package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Bucketing (SURVEY §4.2 "co-located joins"): writing both join sides
  * bucketed on the key lets the join run without ANY shuffle exchange —
  * the technique that turns the repeated orders⋈lineitem joins of a
  * 100 TB warehouse from shuffle-bound to local. */
class BucketingSpec extends SparkSpec {

  test("bucketed fact-fact join plans without a shuffle exchange") {
    val wh = tmp("bucketed-wh")
    val o = Tables.load(spark, sf, "orders")
    val l = Tables.load(spark, sf, "lineitem")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/orders_b").saveAsTable("orders_b")
    l.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/lineitem_b").saveAsTable("lineitem_b")
    try {
      val joined = spark.table("orders_b").join(spark.table("lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      val agg = joined.groupBy("o_orderkey").agg(count(lit(1)).as("n"))
      agg.collect()
      val plan = agg.queryExecution.executedPlan.toString
      // the join itself must not introduce an Exchange on the keys
      val joinSection = plan.split("HashAggregate").last
      assert(!joinSection.contains("Exchange hashpartitioning(o_orderkey"),
        plan.linesIterator.take(40).mkString("\n"))
      // and results match the unbucketed join
      val expected = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey").agg(count(lit(1)).as("n"))
      assert(agg.exceptAll(expected).isEmpty && expected.exceptAll(agg).isEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}
