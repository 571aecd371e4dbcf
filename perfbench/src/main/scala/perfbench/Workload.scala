package perfbench

import org.apache.spark.sql.SparkSession

/** A check made after the timed region, against a computation made
  * apart from the engine. */
final case class Check(name: String, ok: Boolean, detail: String)

/** One part of a workload: a user-visible flow with its own inputs,
  * operations and checks. A run calls `prepare` (several times, for the
  * set-up median), `warmup` once, then `round` until the run's time is
  * spent, then `checks`. */
trait Part {
  /** Key of this part's facts for the out-of-JVM checks. */
  def key: String
  def spark: SparkSession
  def r: Runner
  /** Write the run's full-size inputs under `dir` (overwriting). */
  def prepare(dir: String): Unit
  /** Untimed work before the timer starts that a user does once per
    * process, not once per round. */
  def warmup(): Unit = ()
  /** One round of timed operations, numbered from 1. */
  def round(i: Int): Unit
  /** Checks made in the JVM; the DuckDB checks read `facts`. */
  def checks(): Seq[Check] = Nil
  /** Paths and SQL the out-of-JVM checks need. */
  def facts(): Map[String, Any]
  /** Workload-specific per-layer metrics of a traced run. */
  def layers(t: Trace): Map[String, Double]

  protected def rm(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  protected def bytesUnder(path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Labels of the timed operations, as the trace records them. */
  protected def labels(filter: Op => Boolean = _ => true): Seq[String] =
    r.ops.filter(filter).map(o => s"r${o.round}/${o.name}").toSeq

  protected def rounds: Int = r.ops.map(_.round).distinct.size max 1

  /** Wall time per round of the successful operations matching `f`. */
  protected def seconds(f: Op => Boolean): Double =
    r.ops.filter(o => o.ok && f(o)).map(_.seconds).sum / rounds
}

/** A workload: its parts, run one after the other in each round. */
final class Workload(val parts: Seq[Part]) {
  def prepare(dir: String): Unit = parts.foreach(p => p.prepare(s"$dir/${p.key}"))
  def warmup(): Unit = parts.foreach(_.warmup())
  def round(i: Int): Unit = parts.foreach(_.round(i))
  def checks(): Seq[Check] = parts.flatMap(_.checks())
  def facts(): Map[String, Any] = parts.map(p => p.key -> p.facts()).toMap
  def layers(t: Trace): Map[String, Double] = parts.map(_.layers(t)).reduce(_ ++ _)
}
