package perfbench

import scala.collection.mutable
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one operation (or to a call site). */
final class Counters {
  var jobs, stages, tasks, taskMs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, input, output, peakMem = 0L
  var fileScans = 0L
  val scansByTable = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; input += o.input; output += o.output
    peakMem = math.max(peakMem, o.peakMem)
    fileScans += o.fileScans
    o.scansByTable.foreach { case (t, n) => scansByTable(t) += n }
  }
}

/** The traced run's recorder, registered from outside the engine: a
  * `SparkListener` for jobs, stages and task metrics, a
  * `QueryExecutionListener` for the file scans of each executed plan
  * (AQE-final), and spans around the benchmark's calls into the engine.
  *
  * Attribution: each job carries the label of the operation that
  * submitted it (a local property, inherited by a stream's execution
  * thread). Its call site is the `<File>` of `<action> at
  * <File>.scala:<line>`, the name Spark gives the SQL execution the job
  * belongs to or, for a plain RDD job such as a checkpoint, its stage.
  * Between operations the listener bus is drained, so no event is
  * counted under the wrong operation. */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  @volatile private var current = "setup"
  private val byOp = mutable.LinkedHashMap.empty[String, Counters]
  private val site = mutable.Map.empty[(String, String), Counters]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stageSite = mutable.Map.empty[Int, String]
  private val execSite = mutable.Map.empty[Long, String]
  private val spans = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
  private val stack = mutable.Stack.empty[Long]

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  private def of(op: String): Counters = byOp.getOrElseUpdate(op, new Counters)
  private def of(op: String, s: String): Counters = site.getOrElseUpdate((op, s), new Counters)

  def begin(label: String): Unit = {
    BusDrain.drain(sc)
    current = label
    sc.setLocalProperty(Trace.OpKey, label)
  }

  def end(): Unit = {
    BusDrain.drain(sc)
    current = "between"
    sc.setLocalProperty(Trace.OpKey, null)
  }

  def span[A](layer: String)(body: => A): A = {
    val t0 = System.nanoTime()
    stack.push(0L)
    try body
    finally {
      val d = System.nanoTime() - t0
      val children = stack.pop()
      synchronized { spans((current, layer)) += d - children }
      if (stack.nonEmpty) stack.push(stack.pop() + d)
    }
  }

  /** A SQL execution is named by the call site of the action that
    * started it; its jobs (AQE submits them from other threads) carry
    * its id. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execSite(s.executionId) = Trace.siteOf(s.description, s.details) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val op = prop(Trace.OpKey).getOrElse(current)
    val jobSite = prop("spark.sql.execution.id").flatMap(id => execSite.get(id.toLong))
      .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption
        .map(si => Trace.siteOf(si.name)).getOrElse("other"))
    e.stageInfos.foreach { si =>
      stageOp(si.stageId) = op
      stageSite(si.stageId) = jobSite
    }
    of(op).jobs += 1
    of(op, jobSite).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val op = stageOp.getOrElse(id, current)
    of(op).stages += 1
    of(op, stageSite.getOrElse(id, Trace.siteOf(e.stageInfo.name))).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val op = stageOp.getOrElse(e.stageId, current)
    val cs = Seq(of(op), of(op, stageSite.getOrElse(e.stageId, "other")))
    cs.foreach { c =>
      c.tasks += 1
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val c = of(current)
      Trace.fileScans(qe.executedPlan).foreach { t =>
        c.fileScans += 1
        c.scansByTable(t) += 1
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Counters summed over the given operation labels. */
  def total(labels: Iterable[String]): Counters = synchronized {
    val t = new Counters
    labels.foreach(l => byOp.get(l).foreach(t += _))
    t
  }

  /** Counters per call site, summed over the given operation labels. */
  def sites(labels: Iterable[String]): Map[String, Counters] = synchronized {
    val ls = labels.toSet
    site.toSeq.filter { case ((op, _), _) => ls(op) }
      .groupBy { case ((_, s), _) => s }
      .map { case (s, cs) => val t = new Counters; cs.foreach(x => t += x._2); s -> t }
  }

  /** Self time in seconds per layer, summed over the given labels. */
  def layerSeconds(labels: Iterable[String]): Map[String, Double] = synchronized {
    val ls = labels.toSet
    spans.toSeq.filter { case ((op, _), _) => ls(op) }
      .groupBy { case ((_, l), _) => l }
      .map { case (l, xs) => l -> xs.map(_._2).sum / 1e9 }
  }
}

object Trace {
  val OpKey = "perfbench.op"

  /** Files of the benchmark itself: a stage whose call site is one of
    * them is the benchmark's own output write or read-back. */
  private val benchFiles = Set("Main", "Runner", "Medallion", "CurateRun",
    "CdcUpsert", "CorpusQueries", "Fixture", "Workload")

  private val SiteRe = """at (\w+)\.scala:\d+""".r.unanchored
  private val FrameRe = """(?m)^(?:graft|perfbench)\.[\w.$]*\((\w+)\.scala:\d+\)""".r.unanchored

  private def file(f: String) = if (benchFiles(f)) "output" else f

  /** Call site of a stage or SQL execution name (`<action> at
    * <File>.scala:<line>`); when a job description replaced the name, as
    * a stream does, the first engine or benchmark frame of the long call
    * site. */
  def siteOf(name: String, longForm: String = ""): String = name match {
    case SiteRe(f) => file(f)
    case _ => longForm match {
      case FrameRe(f) => file(f)
      case _ => "other"
    }
  }

  /** Table name of every file scan in the executed (AQE-final) plan.
    * Reused exchanges are leaves, so a reused scan is not counted. */
  def fileScans(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case f: FileSourceScanExec =>
      Seq(f.relation.location.rootPaths.headOption
        .map(_.getName.stripSuffix(".parquet")).getOrElse("?"))
    case other =>
      other.children.flatMap(fileScans) ++ other.subqueries.flatMap(fileScans)
  }
}
