package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One timed call the user waits on, with the CPU time the whole process
  * spent meanwhile. `call` marks an interactive call (a
  * stream micro-batch, a corpus query) as opposed to a batch pipeline
  * step. `ok = false` means it threw: it is counted as failed and its
  * time enters no metric. */
final case class Op(round: Int, name: String, seconds: Double, cpuSeconds: Double,
    rows: Long, call: Boolean, ok: Boolean, error: String)

object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this process so far, every thread, in seconds. */
  def seconds: Double = os.getProcessCpuTime / 1e9
}

/** Times operations and, in a traced run, the calls into each engine
  * package (`span`) and the Spark work of each operation (`trace`).
  *
  * Operations run one at a time on the calling thread. A failed
  * operation does not stop the run: the workload goes on with the next
  * one, so every run attempts whole rounds of the same operations. */
final class Runner(spark: SparkSession, val trace: Option[Trace]) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private var label = "setup"
  private var timed = false

  /** Run `body` as operation `name` of `round` (round 0 = warm-up,
    * recorded nowhere). */
  def op(round: Int, name: String, rows: Long, call: Boolean = false)(body: => Unit): Boolean = {
    label = if (round == 0) s"warmup/$name" else s"r$round/$name"
    timed = round > 0
    trace.foreach(_.begin(label))
    val t0 = System.nanoTime()
    val c0 = Cpu.seconds
    val err =
      try { body; None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val s = (System.nanoTime() - t0) / 1e9
    val cpu = Cpu.seconds - c0
    trace.foreach(_.end())
    err.foreach(e => System.err.println(s"[perfbench] $label failed: $e"))
    if (round > 0) ops += Op(round, name, s, cpu, rows, call, err.isEmpty, err.getOrElse(""))
    label = "between"
    timed = false
    err.isEmpty
  }

  /** A call into one engine package (`gen`, `sources`, `operators`,
    * `functions`, `queries`, `pipelines`, `streaming`) or into the
    * benchmark's own output writes (`output`). Self time is recorded
    * only in a traced run and only inside timed operations. */
  def span[A](layer: String)(body: => A): A = trace match {
    case Some(t) if timed => t.span(layer)(body)
    case _ => body
  }
}
