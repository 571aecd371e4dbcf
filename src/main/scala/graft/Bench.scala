package graft

object Bench {

  /** Locale.ROOT: the f-interpolator honors the JVM default locale, and
    * a comma decimal separator (de_DE etc.) would break the JSON line. */
  private def fmt2(v: Double) =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  /** The FINAL stdout line the round driver parses. Kept compact (2dp)
    * because the driver captures only the last ~2000 chars of output —
    * a full-precision 75-query line overflows that window and the
    * driver records parsed:null (this happened in round 3). The line
    * self-truncates: first the query map shrinks to the slowest `kq`
    * (down to EMPTY — e.g. every query failing), then the errors list
    * itself truncates — an unbounded 75-name errors array alone would
    * overflow the window exactly when visibility matters most.
    * Extracted from main so the driver contract is spec-testable
    * without a SparkSession (BenchSpec). */
  private[graft] def compactLine(ok: Seq[(String, Double)], errSeq: Seq[String],
      total: Double, runs: Int, sfLabel: String, budget: Int = 1800,
      loadStats: String = ""): String = {
    def render(qs: Seq[(String, Double)], omitted: Int,
        errNames: Seq[String], errOmitted: Int): String = {
      val m = qs.map { case (k, v) => s""""$k":${fmt2(v)}""" }.mkString("{", ",", "}")
      val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      val es = errNames.map("\"" + _ + "\"").mkString("[", ",", "]")
      val eo = if (errOmitted > 0) s""","errors_omitted":$errOmitted""" else ""
      s"""{"metric":"total","value":${fmt2(total)},"unit":"sec","n":${ok.size},"runs":$runs,"errors":$es$eo$om$loadStats,"queries":$m,"sf":"$sfLabel"}"""
    }
    val bySlow = ok.sortBy(-_._2)
    var kq = ok.size
    var ke = errSeq.size
    var line = render(ok, 0, errSeq, 0)
    while (line.length > budget && kq > 0) {
      kq -= 1
      line = render(bySlow.take(kq).sortBy(_._1), ok.size - kq, errSeq, 0)
    }
    while (line.length > budget && ke > 0) {
      ke -= 1
      line = render(bySlow.take(kq).sortBy(_._1), ok.size - kq,
        errSeq.take(ke), errSeq.size - ke)
    }
    line
  }

  /** Episode self-labelling (r11 verdict ask #6): the start gate can
    * qualify a quiet BEGINNING, but a microVM neighbor episode that
    * resumes mid-run inflates every query's reading with zero code
    * difference (r11: uniform 1.61x the committed idle floors on
    * untouched queries). The artifact judges itself: each benched
    * query's min-rep time is divided by its committed idle floor
    * (BASELINE-bench.json) and the MEDIAN ratio lands in the compact
    * line as "episode_multiplier". Reading rule (SCALE.md): a uniform
    * median >> 1 is machine weather — discount the whole run by it; a
    * single-query spike above a ~1.0 median is a real regression. The
    * median runs over ALL benched queries rather than an "untouched"
    * subset (the bench cannot see the round's diff): the handful of
    * queries any round touches cannot move a 177-query median.
    * CAVEAT (r12 advisor): the multiplier alone cannot distinguish a
    * neighbor-load episode from a genuine global regression that
    * slows every query uniformly (a session-config or shared-operator
    * change). Before discounting, cross-check the artifact's OWN load
    * readings: an episode shows high per-rep loads / "gated":false
    * rows; a uniform multiplier over QUIET load readings is a real
    * regression — bisect it, don't discount it (SCALE.md rule). */
  private[graft] def episodeMultiplier(ok: Seq[(String, Double)],
      floors: Map[String, Double]): Option[Double] = {
    val ratios = ok.flatMap { case (n, s) =>
      floors.get(n).filter(_ >= 0.01).map(f => s / f)
    }.sorted
    // < 8 overlapping queries (e.g. a SPARK_GRAFT_ONLY profiling run):
    // a median of that few says nothing about host weather — omit.
    if (ratios.size < 8) None
    else Some(if (ratios.size % 2 == 1) ratios(ratios.size / 2)
              else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2)
  }

  /** Pull the name -> floor-sec map out of BASELINE-bench.json without
    * a JSON dependency: each floor entry is a `"<name>": {...}` object
    * containing a `"sec": N` pair ANYWHERE inside it (key order and
    * extra keys don't matter — tools/bench_floor.py's shape today, but
    * a reorder must not silently drop the floors), and only flat
    * objects match — top-level scalars (n_queries, total_floor_sec)
    * don't. Missing/unreadable file -> empty map -> no
    * episode_multiplier field (the bench must not fail over a
    * dev-tree artifact); a file that EXISTS but parses to zero floors
    * is a format drift worth flagging, so that case warns on stderr
    * instead of silently dropping the self-label. */
  private[graft] def loadFloors(path: String): Map[String, Double] = {
    try {
      val src = scala.io.Source.fromFile(path)
      val txt = try src.mkString finally src.close()
      // keys anchored to the query-name shape (q/r/p + digit): a
      // future non-floor flat object carrying a "sec" pair (a
      // load-stats blob, say) must not be silently imported as a floor
      val obj = """"([qrp][0-9][A-Za-z0-9_]*)"\s*:\s*\{([^{}]*)\}""".r
      val sec = """"sec"\s*:\s*([0-9]+(?:\.[0-9]+)?)""".r
      val floors = obj.findAllMatchIn(txt).flatMap { m =>
        sec.findFirstMatchIn(m.group(2)).map(s => m.group(1) -> s.group(1).toDouble)
      }.toMap
      if (floors.isEmpty)
        System.err.println(s"[bench] $path exists but no floor entries " +
          "parsed — format drift? episode_multiplier will be omitted")
      floors
    } catch { case _: Throwable => Map.empty }
  }

  /** Per-query episode-victim self-label (r12 verdict ask #4): TRUE
    * when no rep of the query ever saw a quiet window (gated=false)
    * AND even its min rep reads >= 2x the committed idle floor — the
    * exact evidence shape that cleared r11's p46 and r12's r113 as
    * load victims, but which previously required cross-referencing a
    * separately committed quiet run. A victim row says "this number
    * is episode-inflated, re-measure before treating it as a
    * regression"; it never discounts a query that DID see a quiet rep
    * (that reading is trusted) or one without a committed floor. */
  private[graft] def episodeVictim(gated: Boolean, sec: Double,
      floor: Option[Double]): Boolean =
    !gated && floor.exists(f => f >= 0.01 && sec >= 2 * f)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus.toInt)
    // Deterministic (sorted) order + one discarded warmup so the
    // first-measured query does not absorb JVM/codegen warmup, and a
    // cache clear per query AND per run so persisted intermediates
    // never leak into later measurements. Each query is measured as the
    // MIN of two cold runs: single-run timings on these small fixtures
    // carry up to ±50% GC/JIT noise, and the min of independent cold
    // runs estimates the true cost without any cache warming
    // (clearCache between runs).
    val runs = 2
    // Dev-only: SPARK_GRAFT_ONLY=q01,p25 restricts the run for targeted
    // profiling; the driver never sets it, so round benches are full.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    // Fail fast on a typo'd SPARK_GRAFT_ONLY: a name matching no query
    // would otherwise be silently dropped (worst case the whole run
    // filters to empty and the bench emits an empty result set).
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Qualify the RUN START, not just reps (r10 verdict #1): when the
    // WHOLE run begins loaded, the per-rep retry protocol degenerates —
    // the strict gate (start + delta) is then itself episode-high, so
    // reps "qualify" against a loaded baseline and read 1.8-3.6x the
    // committed idle floors on untouched code (r10: start load 6.24
    // made strict gate == cpus/4 floor gate; p48/p55/p46/p47/p50/r97
    // all inflated). Protocol: before the warmup (which itself drags
    // the 1-min average up), poll the 1-min load until it is <= cpus/8,
    // sleeping up to SPARK_GRAFT_QUIET_WAIT seconds (default 600); if
    // never quiet, proceed but stamp the whole artifact "quiet":false
    // so the driver and judge discount it against BASELINE-bench.json.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val startGate = sys.env.get("SPARK_GRAFT_START_GATE").map(_.toDouble)
      .getOrElse(cpus.toDouble / 8)
    val maxWaitSec = sys.env.get("SPARK_GRAFT_QUIET_WAIT").map(_.toInt)
      .getOrElse(600)
    val waitT0 = System.nanoTime()
    var startLoad = osBean.getSystemLoadAverage
    while (startLoad > startGate &&
        (System.nanoTime() - waitT0) / 1e9 < maxWaitSec) {
      System.err.println(s"[bench] load ${fmt2(startLoad)} > start gate " +
        s"${fmt2(startGate)}; waiting for a quiet window")
      Thread.sleep(20000)
      startLoad = osBean.getSystemLoadAverage
    }
    val quietStart = startLoad <= startGate
    val startWaitSec = (System.nanoTime() - waitT0) / 1e9
    try { ordered.head._2(spark, sfDir).count() } catch { case _: Throwable => () }
    spark.catalog.clearCache()
    // Self-labelling + LOAD-GATED reps (the Stress discipline, r7;
    // gating r9; retry-until-quiet r10): this sandbox is a microVM
    // with invisible neighbor load, and a driver-side run in a noise
    // episode reads uniformly 2-4x the idle cost with zero code
    // difference (r6 forensic). Protocol: sample the 1-min load
    // average before EVERY rep; reps keep re-running up to `maxReps`
    // until one qualifies under the STRICT gate (startLoad +
    // gateDelta) — the r9 gate accepted its cpus/4 floor immediately,
    // so reps at load 5-7 never retried for a quieter window and read
    // +30-50% (the r9 verdict's p04/p56/r57 phantom regressions).
    // Reported time = min over ALL reps: load noise is one-directional
    // (a busy host can only INFLATE a cold run, never deflate it —
    // caches are cleared between reps), so discarding a faster rep
    // because its pre-rep load was high would keep the WORSE estimate;
    // the gates exist to force retries and to label confidence, not to
    // filter the min. "gated":false = no rep ever saw load under the
    // floor gate (max of strict and cpus/4 — the bench's OWN sustained
    // 32-thread work legitimately drags the 1-min average to ~cpus/4
    // mid-run), so even the min may be episode-inflated. Every rep's
    // raw time and load land in the detail artifact, so an outlier
    // row carries its own evidence.
    val maxReps = 4
    val gateDelta = 2.0
    // startLoad is the PRE-WARMUP qualifying sample: the warmup's own
    // 32-thread burst inflates the 1-min average, and a post-warmup
    // baseline would loosen the strict gate by our own work.
    val strictGate = startLoad + gateDelta
    val floorGate = math.max(strictGate, cpus.toDouble / 4)
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val results = ordered.map { case (name, fn) =>
      val reps = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
      var n = 0
      def strictQualified = reps.exists(_._2 <= strictGate)
      while (!failed.contains(name) &&
          (n < runs || (n < maxReps && !strictQualified))) {
        val load = osBean.getSystemLoadAverage
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case _: Throwable => failed += name }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        reps += ((dt, load))
        n += 1
      }
      val gated = reps.exists(_._2 <= floorGate)
      val sec = if (reps.isEmpty) 0.0 else reps.map(_._1).min
      (name, sec, reps.toSeq, gated)
    }
    // A throwing query contributes NOTHING to the total or the map: a
    // fast failure must not lower the headline number. Its name lands
    // in the "errors" list instead.
    val ok = results.filterNot { case (name, _, _, _) => failed.contains(name) }
    val okMin = ok.map { case (name, sec, _, _) => name -> sec }
    val total = okMin.map(_._2).sum
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sfLabel = new java.io.File(sfDir).getName
    val loads = ok.flatMap(_._3.map(_._2))
    val floors = loadFloors(sys.env.getOrElse("SPARK_GRAFT_FLOORS",
      "BASELINE-bench.json"))
    val epiStr = episodeMultiplier(okMin, floors)
      .map(e => s""","episode_multiplier":${fmt2(e)}""").getOrElse("")
    val loadStats = (if (loads.isEmpty) "" else
      s""","quiet":$quietStart,"load":{"start":${fmt2(startLoad)},"start_gate":${fmt2(startGate)},"start_wait":${fmt2(startWaitSec)},"gate":${fmt2(strictGate)},"floor":${fmt2(floorGate)},"mean":${fmt2(loads.sum / loads.size)},"max":${fmt2(loads.max)}}""") + epiStr

    // Full-precision detail goes to a file (and an early stdout line);
    // the final stdout line is the compact driver-parsed form.
    // "episode_victim":true marks rows whose number is load-inflated
    // by the artifact's own evidence (no quiet rep AND >= 2x floor) —
    // self-adjudicating, no cross-referencing a separate quiet run.
    val fullQs = ok.map { case (name, sec, reps, gated) =>
      val victim = if (episodeVictim(gated, sec, floors.get(name)))
        ""","episode_victim":true""" else ""
      s""""$name":{"sec":$sec,"reps":[${reps.map(_._1).mkString(",")}],""" +
        s""""loads":[${reps.map(r => fmt2(r._2)).mkString(",")}],"gated":$gated$victim}"""
    }.mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","per_query":"min over ALL cold reps (noise only inflates); extra reps to $maxReps until one sees pre-rep 1-min load <= start+$gateDelta (load.gate); gated:false = no rep saw load <= max(start+$gateDelta, cpus/4) (load.floor), so even the min may be episode-inflated","errors":$errs$loadStats,"queries":$fullQs,"sf":"$sfDir"}"""
    println(fullLine)
    val compact = compactLine(okMin, failed.toSeq, total, runs, sfLabel,
      loadStats = loadStats)
    // Only a FULL run may overwrite the recorded artifacts: a targeted
    // SPARK_GRAFT_ONLY profiling run would otherwise clobber the
    // round's full-bench detail with a 3-query subset. The compact
    // line ALSO lands in bench-summary.json — the driver's stdout
    // window has repeatedly mangled its own parse ("parsed": null in
    // BENCH_r06..r08); the file is the durable copy.
    if (only.isEmpty) try {
      val w = new java.io.PrintWriter("BENCH_DETAIL.json")
      try w.println(fullLine) finally w.close()
      val ws = new java.io.PrintWriter("bench-summary.json")
      try ws.println(compact) finally ws.close()
    } catch { case _: Throwable => () }

    println(compact)
    spark.stop()
  }
}
