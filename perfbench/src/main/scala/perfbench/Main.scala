package perfbench

import java.lang.management.ManagementFactory
import java.io.File
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.Sessions

/** One benchmark run in one JVM on `local[N]`, N = available cores:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> --result <file>
  *
  * Set-up (session build, inputs made three times, the parts' once-per-
  * process warm-up) is timed apart; then whole rounds of the workload's
  * operations run until `seconds` have passed; then the in-JVM checks.
  * Everything measured is written to `--result` as JSON; `run.py` turns
  * it into the benchmark's metrics and runs the DuckDB checks. */
object Main {
  val Workloads = Seq("medallion", "curation")

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "workload")
    require(Workloads.contains(name), s"unknown workload $name")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val work = arg(args, "work")
    val result = arg(args, "result")

    val spark = Sessions.local(Runtime.getRuntime.availableProcessors(), s"perfbench-$name")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val trace = if (traced) Some(new Trace(spark)) else None
    val r = new Runner(spark, trace)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val qualityDir = sys.env.getOrElse("GRAFT_QUALITY_DIR", s"$work/quality")
    val wl = new Workload(name match {
      case "medallion" => Seq(new Medallion(spark, r, seed, work, qualityDir),
        new CdcUpsert(spark, r, seed))
      case "curation" => Seq(new CurateRun(spark, r, seed, work),
        new CorpusQueries(spark, r, seed, work))
    })

    val prepareS = (1 to 3).map(_ => timed(wl.prepare(s"$work/input")))
    val warmupS = timed(wl.warmup())

    val t0 = System.nanoTime()
    var rounds = 0
    while (rounds == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      rounds += 1
      wl.round(rounds)
    }
    val timedS = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val checks = wl.checks()
    System.err.println(f"[perfbench] set-up ${sessionS + prepareS.sum + warmupS}%.1f s, " +
      f"timed $timedS%.1f s, in-JVM checks ${(System.nanoTime() - t1) / 1e9}%.1f s")
    val layers = trace.map(t => generic(t, r) ++ wl.layers(t)).getOrElse(Map.empty)
    val detail = trace.map(t => detailOf(t, r)).getOrElse(Map.empty)
    val out = Map(
      "workload" -> name, "seed" -> seed, "rounds" -> rounds, "timed_s" -> timedS,
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepareS, "warmup_s" -> warmupS),
      "ops" -> r.ops.map(o => Map("round" -> o.round, "name" -> o.name,
        "s" -> o.seconds, "cpu_s" -> o.cpuSeconds, "rows" -> o.rows, "call" -> o.call, "ok" -> o.ok,
        "error" -> o.error)),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "facts" -> wl.facts(),
      "layers" -> layers,
      "detail" -> detail)
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(result), out)
    spark.stop()
  }

  /** Per-layer metrics every workload has, per round of timed work. */
  private def generic(t: Trace, r: Runner): Map[String, Double] = {
    val ls = r.ops.map(o => s"r${o.round}/${o.name}").toSeq
    val n = r.ops.map(_.round).distinct.size.max(1).toDouble
    val c = t.total(ls)
    val spark = Map(
      "spark.jobs" -> c.jobs / n, "spark.stages" -> c.stages / n,
      "spark.tasks" -> c.tasks / n, "spark.task_s" -> c.taskMs / 1e3 / n,
      "spark.gc_s" -> c.gcMs / 1e3 / n,
      "spark.shuffle_read_bytes" -> c.shuffleRead / n,
      "spark.shuffle_write_bytes" -> c.shuffleWrite / n,
      "spark.spill_bytes" -> c.spill / n,
      "spark.input_bytes" -> c.input / n, "spark.output_bytes" -> c.output / n,
      "spark.peak_execution_memory_bytes" -> c.peakMem.toDouble,
      "process.cpu_s" -> r.ops.filter(_.ok).map(_.cpuSeconds).sum / n,
      "sql.file_scans" -> c.fileScans / n)
    val layer = t.layerSeconds(ls).map { case (l, s) => s"layer.$l.s" -> s / n }
    val sites = t.sites(ls).flatMap { case (s, sc) =>
      Seq(s"site.$s.jobs" -> sc.jobs / n, s"site.$s.task_s" -> sc.taskMs / 1e3 / n)
    }
    spark ++ layer ++ sites
  }

  /** Figures behind the per-layer metrics, per operation, for the trace file. */
  private def detailOf(t: Trace, r: Runner): Map[String, Any] = {
    val ls = r.ops.map(o => s"r${o.round}/${o.name}").toSeq
    Map(
      "layer_s" -> t.layerSeconds(ls),
      "site" -> t.sites(ls).map { case (s, c) =>
        s -> Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "task_s" -> c.taskMs / 1e3) },
      "ops" -> r.ops.map { o =>
        val c = t.total(Seq(s"r${o.round}/${o.name}"))
        Map("round" -> o.round, "name" -> o.name, "s" -> o.seconds, "jobs" -> c.jobs,
          "stages" -> c.stages, "tasks" -> c.tasks, "task_s" -> c.taskMs / 1e3,
          "file_scans" -> c.fileScans, "scans" -> c.scansByTable.toMap,
          "layer_s" -> t.layerSeconds(Seq(s"r${o.round}/${o.name}")))
      })
  }
}
