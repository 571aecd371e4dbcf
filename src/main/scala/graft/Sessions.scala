package graft

import org.apache.spark.sql.SparkSession

/** Session factory (SURVEY §7.1 core module): one place that encodes
  * the engine's required session invariants —
  *
  *  - UTC session timezone (oracle parity; FIXTURES timestamps are UTC)
  *  - AQE on (runtime re-planning: coalesce, skew-join splitting)
  *  - shuffle partitions sized to the deployment, never the 200 default
  *  - graft's native expressions registered
  *
  * Local callers pass cores; a cluster deployment passes its own master
  * and a shuffle-partition count ~2-3x total executor cores. Every
  * session in the repository is built here: Bench, Verify, the tools
  * and the test suites' shared session.
  */
object Sessions {

  /** The codegen-class-cache size (static conf, set before the session
    * exists). The Spark default of 100 entries is smaller than ONE
    * multi-stage query's generated-class count (projections,
    * predicates, comparators, aggregates — dozens per stage), so a
    * 25-stage plan evicts its own early fragments before its second
    * rep and pays janino compilation twice; across 193 heterogeneous
    * queries the cache thrashes continuously (r14 A/B, Bench top-20
    * subset: ~40 s -> ~35 s). Not core-count- or scale-dependent — any
    * long-lived driver running many distinct queries wants this;
    * env-overridable for A/B. */
  private[graft] def codegenCacheEntries: String =
    sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "5000")

  /** Static confs are silently IGNORED when `getOrCreate` reuses a
    * SparkSession already live in this JVM (test suites, tools) — the
    * process then runs with the 100-entry default and the measured win
    * quietly disappears (r14 advisor note). Surface that on stderr so a
    * profile run on a reused session is never misread as a regression. */
  private[graft] def warnIfStaticConfIgnored(s: SparkSession): Unit = {
    val want = codegenCacheEntries
    val got = s.conf.getOption("spark.sql.codegen.cache.maxEntries")
      .getOrElse("100")
    if (got != want)
      System.err.println(s"[sessions] spark.sql.codegen.cache.maxEntries=" +
        s"$got (wanted $want) — static conf ignored by a reused session")
  }

  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession =
    build(s"local[$cores]", cores, appName)

  def build(master: String, shufflePartitions: Int,
      appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // Static conf; see codegenCacheEntries for the measured A/B.
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries)
      // GC-driven cleanup of reliable checkpoints (Dedup.components
      // checkpoints per iteration; without this a long-running stream
      // of dedup batches grows the checkpoint dir without bound).
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    warnIfStaticConfIgnored(s)
    s.sparkContext.setLogLevel("WARN")
    graft.expressions.GraftFunctions.register(s)
    s
  }
}
