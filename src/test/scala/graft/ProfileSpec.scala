package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.tools.Profile

/** `Profile.Recorder` attributes jobs, stages and task time to the body
  * that ran them: its figures equal a plain listener's count of the same
  * run, and jobs under another job group are left out. */
class ProfileSpec extends SparkSpec {

  /** Counts every job and completed stage, and the jobs of group "other". */
  private class Plain extends SparkListener {
    val jobs, otherJobs, stages = new AtomicInteger
    val taskTimeMs = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "other"))
        otherJobs.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      taskTimeMs.addAndGet(e.stageInfo.taskMetrics.executorRunTime)
    }
  }

  private def noop(query: String): Unit =
    SparkEntry.queries(query)(spark, sf).write.format("noop").mode("overwrite").save()

  /** `rec.measure(name)(body)` with a plain listener live for exactly
    * that call. */
  private def measured(rec: Profile.Recorder, name: String)(body: => Unit)
      : (Profile.Entry, Plain) = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    BusDrain.drain(sc)
    val plain = new Plain
    sc.addSparkListener(plain)
    try {
      val e = rec.measure(name)(body)
      BusDrain.drain(sc)
      (e, plain)
    } finally sc.removeSparkListener(plain)
  }

  private def withRecorder[T](f: Profile.Recorder => T): T = {
    val rec = new Profile.Recorder(spark)
    try f(rec) finally rec.close()
  }

  test("two queries in a row: each reports the jobs, stages and task time a plain listener counts") {
    withRecorder { rec =>
      for (q <- Seq("q09_join3_agg", "p56_doremi_mix")) {
        val (e, plain) = measured(rec, q)(noop(q))
        assert(e.name == q)
        assert(e.jobs > 0 && e.stages > 0, e)
        assert(e.jobs == plain.jobs.get, q)
        assert(e.stages == plain.stages.get, q)
        assert(e.taskTimeMs == plain.taskTimeMs.get, q)
      }
    }
  }

  test("jobs under a second job group are not counted") {
    withRecorder { rec =>
      // started before the measured body, so it inherits no profile tag
      val go = new CountDownLatch(1)
      val other = new Thread(() => {
        go.await()
        spark.sparkContext.setJobGroup("other", "not profiled")
        spark.range(1000).selectExpr("sum(id)").collect()
        ()
      })
      other.setDaemon(true)
      other.start()
      val (e, plain) = measured(rec, "q01_scan_project") {
        go.countDown()
        noop("q01_scan_project")
        other.join()
      }
      assert(plain.otherJobs.get >= 1)
      assert(e.jobs > 0)
      assert(e.jobs == plain.jobs.get - plain.otherJobs.get)
    }
  }
}
