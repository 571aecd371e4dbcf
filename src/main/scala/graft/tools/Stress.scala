package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.functions.TextAnalysis
import graft.gen.DataGen
import graft.operators.{Ann, Dedup, Mix, Multimodal}
import graft.pipelines.Curate
import graft.streaming.Ingest

/** Scale-stress harness: runs the heavy curation/dedup/ANN operators
  * over a [[graft.gen.DataGen.documents]] corpus at 10×-100×+ the
  * driver's gate scale, timing each and forcing full materialization
  * through a parquet sink (a bare count() lets Catalyst prune the very
  * columns the operator exists to compute).
  *
  * This answers the question the sf0.1 bench cannot: do the plans HOLD
  * as n grows — near-linear stage time, no driver-side collapse, no
  * OOM — not just "are they fast at toy scale". Timings here are
  * single-run scaling-curve measurements (relative shape across n),
  * not bench-grade numbers; see SCALE.md "Scale stress (r6)" for the
  * recorded curves and protocol.
  *
  * Usage: `graft.tools.Stress <nDocs> [ops-csv] [baseDir]`
  *   ops default: gate,exact,boiler,budget,shuffle,dedup,simhash,annlsh,
  *   ivf,curate,passage,cdc,sem,bpe,gopher,logreg,pq,ivfpq,pqidx,dsir,
  *   bm25,qsurv,csample,hh,rm3,domains,pagerank,hits,html,ccnet,doremi,
  *   url,drift,span,sdecon,wfp,bdecon,prassoc,prexact,entres,routlier,
  *   routlierx,binjoin,ghll,psi,winsor,funnel,retention,psiby,winsorby,
  *   transitions,transhot,transhotb,lshpairs,ivfpqidx,entinc,cov,
  *   pcaproj,leak,zipf,covby,edrift,phash,spectral,vidneardup,vidindex,
  *   compact,ivfretrain
  * The generated corpus is cached under `baseDir/n<N>` and reused. The
  * media ops generate their fixtures from an id range, so their cost is
  * the hashing and blocked join alone. The index-maintenance ops land
  * their starting index or state before each rep, outside the timed
  * region.
  * Emits one final JSON line (stress protocol, parsed by nothing —
  * recorded into SCALE.md by hand).
  */
object Stress {

  private def fmt(v: Double) =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  val DefaultOps = Seq(
    "gate", "exact", "boiler", "budget", "shuffle", "dedup", "simhash",
    "annlsh", "ivf", "curate", "passage", "cdc", "sem", "bpe", "gopher",
    "logreg", "pq", "ivfpq", "pqidx", "dsir", "bm25", "qsurv", "csample",
    "hh", "rm3", "domains", "pagerank", "hits", "html", "ccnet", "doremi",
    "url", "drift", "span", "sdecon", "wfp", "bdecon", "prassoc", "prexact",
    "entres", "routlier", "routlierx", "binjoin", "ghll", "psi", "winsor",
    "funnel", "retention", "psiby", "winsorby", "transitions",
    "transhot", "transhotb", "lshpairs", "ivfpqidx", "entinc",
    "cov", "pcaproj", "leak", "zipf", "covby", "edrift", "phash",
    "spectral", "vidneardup", "vidindex", "compact", "ivfretrain")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Stress <nDocs> [ops-csv] [baseDir]")
    val n = args(0).toLong
    val ops = if (args.length > 1) args(1).split(',').toSeq else DefaultOps
    val unknown = ops.filterNot(DefaultOps.contains)
    require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(",")}")
    val base = if (args.length > 2) args(2) else "/tmp/graft-stress"
    val dir = s"$base/n$n"
    val nEmb = math.max(n / 2, 1000L)

    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = Sessions.local(cpus, appName = s"graft-stress-n$n")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // Generate once, reuse across runs: scans must come from parquet
    // (columnar, statistics, realistic IO), not from the codegen'd
    // generator expressions.
    val docsPath = s"$dir/documents.parquet"
    val embPath = s"$dir/embeddings.parquet"
    val genTimes =
      if (new java.io.File(docsPath).exists()) Map.empty[String, Double]
      else {
        val (_, td) = timed {
          DataGen.documents(spark, n).write.mode("overwrite").parquet(docsPath)
        }
        val (_, te) = timed {
          DataGen.embeddings(spark, nEmb).write.mode("overwrite").parquet(embPath)
        }
        System.err.println(s"[stress] generated n=$n docs ${fmt(td)}s, " +
          s"nEmb=$nEmb emb ${fmt(te)}s")
        Map("gen_docs" -> td, "gen_emb" -> te)
      }
    val docs = spark.read.parquet(docsPath)
    val emb = spark.read.parquet(embPath)

    // ~49.5 words/doc by construction; budget = roughly half the corpus
    val budgetTokens = n * 25L
    val ids = spark.range(n).toDF("doc_id")
    val videoIndex = s"$dir/video_index.parquet"
    val deltaState = s"$dir/delta_state"
    val ivfIndex = s"$dir/ivf_retrain"

    /** Starting state an op consumes or rewrites, landed before each rep
      * (outside the timed region). */
    def prep(op: String): Unit = op match {
      case "vidindex" =>
        // the EVEN-id fixtures (distinct textures) of [0, 2n)
        Multimodal.writeFrameIndex(
          Multimodal.videoFixtures(ids.select((col("doc_id") * 2).as("doc_id"))),
          videoIndex)
      case "compact" =>
        // 256 batch partitions of about 4 files each: the small-file
        // shape a maxFilesPerTrigger=1 stream leaves behind
        spark.range(n).select(col("id").as("doc_id"),
            hash(col("id")).cast("long").as("fhash"),
            (col("id") % 256).as("batch_id"))
          .repartition(1024, col("batch_id"), col("doc_id") % 4)
          .write.mode("overwrite").partitionBy("batch_id").parquet(deltaState)
      case "ivfretrain" =>
        // 16-dim vectors with a fixed seed of 32 centroids
        val vecs = spark.range(n).select(col("id").as("vec_id"),
          expr("transform(sequence(0, 15), j -> " +
            "cast(pmod(hash(id, j), 997) as float) / 997.0f)").as("embedding"))
        Ann.writeIvfIndex(vecs, vecs.limit(32), ivfIndex)
      case _ =>
    }

    // a 2-out-degree modular link graph on n nodes
    def linkGraph: DataFrame = Seq(7 -> 1, 13 -> 5)
      .map { case (a, b) => docs.select(col("doc_id").as("src"),
        ((col("doc_id") * a + b) % n).as("dst")) }
      .reduce(_ unionByName _)
      .filter(col("src") =!= col("dst")).filter(col("src") % 11 =!= 0).distinct()

    // a synthetic event stream from the doc corpus: 5 event types,
    // timestamps spread over ~2 months
    def events(user: org.apache.spark.sql.Column): DataFrame = docs.select(
      user.as("user_id"),
      element_at(array(lit("view"), lit("click"), lit("purchase"),
        lit("other"), lit("view")),
        (col("doc_id") % 5 + 1).cast("int")).as("event_type"),
      timestamp_seconds(lit(1704067200L) + (col("doc_id") * 37) % 5000000)
        .as("ts"))

    def mk(op: String): DataFrame = op match {
      case "gate" => TextAnalysis.qualityGate(docs)
      case "exact" => Dedup.exactKeepFirst(docs)
      case "boiler" => Dedup.stripBoilerplate(docs, maxDocs = 100)
      case "budget" => TextAnalysis.tokenBudgetSample(docs, budgetTokens)
      case "shuffle" => Mix.corpusShuffleAuto(docs)
      case "dedup" => Dedup.dedupCorpus(docs)
      case "simhash" => Dedup.simhashPairsAuto(Dedup.simhashPacked(docs))
      case "annlsh" => Ann.lshNearDupAuto(emb)
      case "ivf" =>
        val k = math.max(4, math.sqrt(nEmb.toDouble).toInt)
        val ivfIters = sys.env.get("SPARK_GRAFT_STRESS_IVF_ITERS")
          .map(_.toInt).getOrElse(2)
        val centroids = Ann.trainCentroids(emb, k, iters = ivfIters)
          .select(col("c_id").as("vec_id"), col("cemb").as("embedding"))
        val index = Ann.assignClusters(emb, centroids).join(emb, "vec_id")
        val queries = emb.filter(col("vec_id") < 1000)
        Ann.ivfSearchBatch(index, centroids, queries, k = 10, nprobe = 2)
      case "curate" =>
        Curate.run(docs, stats = false, boilerplateMaxDocs = Some(100))._1
      case "passage" => Dedup.passageDedup(docs)
      case "cdc" => Dedup.cdcChunkDedup(docs)
      case "sem" =>
        val k = math.max(4, math.sqrt(nEmb.toDouble).toInt)
        val centroids = Ann.trainCentroids(emb, k, iters = 2)
          .select(col("c_id").as("vec_id"), col("cemb").as("embedding"))
        Ann.semDedup(emb, centroids)
      case "bpe" =>
        // Trainer (8 merges = 8 vocab-sized pair-count aggregations +
        // 8 one-row argmaxes) runs inside the timed region by design:
        // its scale shape — work ∝ VOCAB size, not corpus size, after
        // the one corpus scan — is exactly what this harness checks.
        graft.functions.Bpe.tokenCounts(docs, graft.functions.Bpe.train(docs, 8))
      case "gopher" => TextAnalysis.gopherRepetition(docs)
      case "logreg" =>
        // Feature computation + 12 IRLS iterations + exact scoring —
        // the full distillation loop runs inside the timed region; the
        // claim under test is "a fit costs ~a dozen data-sized jobs".
        val feats = TextAnalysis.qualityFeatures(docs)
        val labels = TextAnalysis.qualityGate(docs)
          .select(col("doc_id"), col("kept").cast("int").as("label"))
        val w = TextAnalysis.trainQualityLogreg(feats, labels)
        TextAnalysis.scoreQualityLogreg(feats, w)
      case "pq" =>
        // train codebooks + encode + ADC search for 1000 queries — the
        // full PQ lifecycle inside the timed region
        Ann.pqTopK(emb, emb.filter(col("vec_id") < 1000), k = 10)
      case "ivfpq" =>
        // coarse train + residual codebooks + pruned ADC search; the
        // kCoarse/nprobe ratio keeps ~1/4 of the codes scanned
        Ann.ivfPqTopK(emb, emb.filter(col("vec_id") < 1000), k = 10,
          kCoarse = 32, nprobe = 8)
      case "pqidx" =>
        // the persisted-index lifecycle: train codebooks, land the
        // packed code index, search FROM DISK — the ADC scan reads
        // ~m bytes/vector instead of the float column (the IO shape
        // the in-memory `pq` op cannot measure)
        val books = Ann.pqTrain(emb).localCheckpoint(true)
        Ann.writePqIndex(emb, books, s"$dir/pq_index.parquet")
        Ann.pqSearchIndex(spark, s"$dir/pq_index.parquet", books, emb,
          emb.filter(col("vec_id") < 1000), k = 10)
      case "dsir" =>
        // two bucket-model fits + the scored top-1000 selection; the
        // target is the corpus's own lang=en slice (~a third of it)
        Mix.dsirSelect(docs, docs.filter(col("lang") === "en"), n = 1000)
      case "bm25" =>
        // 8 queries against the full corpus: tf/df/idf fits plus the
        // token-keyed postings join — work ∝ matched postings
        TextAnalysis.bm25TopK(docs,
          docs.filter(col("doc_id") < 8)
            .select(col("doc_id").as("q_id"), col("text").as("qtext")), k = 10)
      case "qsurv" =>
        // the dedup chain with the quality survivor policy: adds one
        // corpus-keyed score aggregation + a comp-keyed argmax over
        // plain dedupCorpus — the delta vs the `dedup` row is the
        // policy's price
        Dedup.dedupCorpusByScore(docs,
          TextAnalysis.qualityScore(docs).select("doc_id", "score"))
      case "csample" =>
        // balanced draw from sqrt(nEmb) seeded clusters: assignment is
        // the dominant term, the threshold table is k rows
        val k = math.max(4, math.sqrt(nEmb.toDouble).toInt)
        Ann.clusterSample(emb, emb.filter(col("vec_id") < k), perCluster = 100)
      case "hh" =>
        // MG candidate pass (bounded state per task) + filtered exact
        // recount; the certified path lands a k-row local frame, so
        // the timed cost IS the two corpus passes
        graft.functions.Sketch.heavyHitters(docs, k = 20, budget = 4096)
      case "rm3" =>
        // the bm25 row's token-keyed join run twice (base + expansion)
        // plus the feedback-doc postings join — work ∝ matched
        // postings, both legs
        TextAnalysis.rm3TopK(docs,
          docs.filter(col("doc_id") < 8)
            .select(col("doc_id").as("q_id"), col("text").as("qtext")), k = 10)
      case "pagerank" =>
        // 3 power iterations over a 2-out-degree modular graph on n
        // nodes: per iteration one edge join + one dst-keyed agg +
        // a 1-row dangling aggregate; localCheckpoint bounds lineage
        graft.operators.Graph.pagerank(linkGraph, iters = 3, damping = 0.5)
      case "hits" =>
        // 2 HITS iterations on the pagerank row's graph: four keyed
        // joins/aggs + four 1-row normalization totals per round
        graft.operators.Graph.hits(linkGraph, iters = 2)
      case "html" =>
        // the zeroth web-curation stage: one codegen'd regexp chain
        // over a synthetic page wrapping each doc — pure narrow map
        TextAnalysis.stats(docs.select(col("doc_id"),
          TextAnalysis.htmlToText(concat(
            lit("<html><head><script>var x = 1 < 2;</script><title>t</title></head><body><p>"),
            col("text"),
            lit("</p><!-- c --></body></html>"))).as("text")))
      case "ccnet" =>
        // bigram LM fit + per-lang percentile cuts + bucket map; the
        // delta vs a plain bigramScore run is the cut table's price
        TextAnalysis.ccnetBuckets(TextAnalysis.bigramScore(docs), docs)
      case "doremi" =>
        // both LM fits + the domain-summary reweighting step; cost is
        // dominated by the two scoring passes by design
        val uni = TextAnalysis.unigramScore(docs)
          .select(col("doc_id"), (lit(1.0) - col("score")).as("loss"))
        val bi = TextAnalysis.bigramScore(docs)
          .select(col("doc_id"), (lit(1.0) - col("score")).as("ref_loss"))
        Mix.doremiWeights(uni.join(bi, "doc_id")
          .join(docs.select(col("doc_id"), col("lang")), "doc_id"))
      case "url" =>
        // URL canonicalization + owner-agg dedup: docs 2k/2k+1 share a
        // page modulo tracking/case/port decoration, so the owner
        // table is ~n/2 keys — the claim under test is one narrow
        // regexp projection + one urls-keyed groupBy+join, linear in n
        val withUrl = docs.withColumn("url", concat(
          when(col("doc_id") % 3 === 0, lit("HTTPS://")).otherwise(lit("https://")),
          lit("www"), (col("doc_id") % 97).cast("string"), lit(".Example.com"),
          when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
          lit("/p/"), floor(col("doc_id") / 2).cast("long").cast("string"),
          when(col("doc_id") % 5 === 0, lit("?utm_source=feed&b=2&a=1"))
            .otherwise(lit(""))))
        graft.operators.Quality.urlDedup(withUrl)
      case "drift" =>
        // Snapshot divergence: two corpus-linear bucket aggregations
        // onto 4096-row summaries + the tiny model join — output size
        // constant in n
        graft.operators.Quality.corpusDrift(docs,
          docs.filter(col("doc_id") % 3 =!= 0), buckets = 4096)
      case "span" =>
        // C4 sentence-span dedup over docs with planted punctuation
        // (the generator corpus carries none) and a shared leading
        // block on a third of the docs — the claim under test is
        // linear span hashing + one span-keyed owner agg
        val punct = docs.withColumn("text", concat(
          when(col("doc_id") % 3 === 0,
            lit("Shared span one. Shared span two. Shared span three. "))
            .otherwise(lit("")),
          regexp_replace(col("text"), lit(" (the|a) "), lit(". "))))
        graft.operators.Dedup.spanDedup(punct, n = 3)
      case "sdecon" =>
        // Span-level decontamination: train = 9/10 of the corpus with
        // planted punctuation and a leaked opening sentence on a third
        // of the docs, heldout = the other tenth — the claim under
        // test is one sentence+shingle explode on the train side with
        // the eval side reduced to a broadcast shingle-hash set
        val punct = docs.withColumn("text", concat(
          when(col("doc_id") % 3 === 0,
            lit("alpha beta gamma delta epsilon zeta eta theta iota kappa. "))
            .otherwise(lit("")),
          regexp_replace(col("text"), lit(" (the|a) "), lit(". "))))
        graft.operators.Dedup.decontaminateSpans(
          punct.filter(col("doc_id") % 10 =!= 0),
          punct.filter(col("doc_id") % 10 === 0), n = 8)
      case "wfp" =>
        // Winnowed-fingerprint pairs: the claim under test is one
        // corpus winnowing pass + a df-bounded (never quadratic)
        // self-join; generator text is templated, so the df filter
        // does real work dropping saturated common fingerprints
        graft.operators.Dedup.fingerprintPairs(docs)
      case "bdecon" =>
        // Bloom-bits decontamination: eval = every 10th doc; the claim
        // under test is one codegen'd shingle pass + per-row sketch
        // probe on the train side — no join exchange at all
        Dedup.contaminationBloom(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0))
      case "prassoc" | "prexact" =>
        // Hot-node graph: EVERY doc points at node 0 (in-degree n-1 —
        // the power-law authority shape), plus 0 -> 1 so the hub has
        // out-degree. prexact folds an (n-1)-element sorted array in
        // ONE aggregation buffer per iteration; prassoc is the plain
        // partial-aggregable sum — the claim under test is assoc flat
        // in n while the fold pays the hot-node array.
        val hotEdges = docs.filter(col("doc_id") =!= 0)
          .select(col("doc_id").as("src"), lit(0L).as("dst"))
          .unionByName(docs.sparkSession.range(1)
            .select(lit(0L).as("src"), lit(1L).as("dst")))
        graft.operators.Graph.pagerank(hotEdges, iters = 3, damping = 0.5,
          exact = op == "prexact")
      case "entres" =>
        // Long planted chains: within each 100-row block, consecutive
        // ids are exactly 1 edit apart ("p" + 'x'*(id%100)), so every
        // block is ONE 100-entity chain closed transitively — the
        // claim under test is blocked candidate work + path-halving
        // closure in <= log2(chain) rounds, never a corpus cross join.
        val people = docs.select(col("doc_id"),
          floor(col("doc_id") / 100).cast("long").as("blk"),
          concat(lit("p"),
            repeat(lit("x"), (col("doc_id") % 100).cast("int"))).as("nm"))
        graft.operators.Quality.resolveEntities(people, col("doc_id"),
          col("blk"), col("nm"), maxDist = 1)
      case "routlier" | "routlierx" =>
        // One hot group holding 90% of the corpus with a CONTINUOUS
        // (unroundable) metric: exact percentile buffers a distinct-
        // value map of the hot group on one reducer; the binned form's
        // state is <= bins longs per group. routlierx measures the
        // exact form at the same shape for the comparison row.
        val vals = docs.select(col("doc_id"),
          when(col("doc_id") % 10 < 9, lit("hot"))
            .otherwise((col("doc_id") % 97).cast("string")).as("g"),
          (sin(col("doc_id").cast("double") * 0.37) * 100 +
            col("doc_id") % 1000 * 0.001).as("v"))
        if (op == "routlier")
          graft.operators.Quality.robustOutliersApprox(vals, "g", "v")
        else graft.operators.Quality.robustOutliers(vals, "g", "v")
      case "binjoin" =>
        // Unkeyed point-in-interval theta join via bin bucketing:
        // n points against n/10 intervals of width <= 3 bins — the
        // claim under test is work ~ points + intervals x spanned
        // bins, never a nested-loop cross product.
        val points = docs.select(col("doc_id").as("pid"),
          (col("doc_id") % 100000).cast("double").as("p"))
        val intervals = docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("iid"),
            (col("doc_id") % 99990).cast("double").as("lo"),
            (col("doc_id") % 99990 + col("doc_id") % 25).cast("double").as("hi"))
        graft.operators.Windows.rangeJoinBinned(points, "p",
          intervals, "lo", "hi", binWidth = 10.0)
      case "ghll" =>
        // distinct tokens per lang via the grouped portable HLL: one
        // corpus token explode + one (group, idx)-keyed partial agg
        // onto <= langs x 1024 register rows, then summary-only math
        val toks = docs.select(col("lang"),
            explode(split(coalesce(col("text"), lit("")), " ")).as("tok"))
          .filter(col("tok") =!= "")
        graft.functions.Sketch.hllDistinctBy(toks, "lang", "tok")
      case "psi" =>
        // numeric drift between two corpus slices: two linear passes
        // onto 1024-cell summaries; output constant in n
        val va = docs.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") % 1000).cast("double").as("v"))
        val vb = docs.filter(col("doc_id") % 3 =!= 0)
          .select(((col("doc_id") % 1000) + col("doc_id") % 7)
            .cast("double").as("v"))
        graft.operators.Quality.psi(va, vb, "v", lo = 0.0, hi = 1100.0,
          bins = 1024)
      case "winsor" =>
        // two-pass quantile clip of a continuous metric with planted
        // extreme spikes: 4 summary passes + one broadcast-clip
        // projection over the corpus
        val vals = docs.select(col("doc_id"),
          when(col("doc_id") % 100000 === 0, lit(1e12))
            .otherwise(sin(col("doc_id").cast("double") * 0.37) * 100)
            .as("v"))
        graft.operators.Quality.winsorize(vals, "v")
      case "funnel" | "retention" =>
        // synthetic event stream from the doc corpus: ~20 events/user,
        // 5 event types, timestamps spread over ~2 months — funnel is
        // k-1 users-sized joins, retention two partial-agg passes
        val ev = events(col("doc_id") % lit(math.max(n / 20, 1)))
        if (op == "funnel")
          graft.operators.Behavior.funnelCounts(ev,
            Seq("view", "click", "purchase"), within = Some("14 DAYS"))
        else graft.operators.Behavior.cohortRetention(ev, "week")
      case "transitions" =>
        // per-user adjacency window + two summary-sized aggregations;
        // the claim under test is user-partitioned (never global)
        // sorting — a power user costs one sorted partition
        val ev = events(col("doc_id") % lit(math.max(n / 20, 1)))
        graft.operators.Behavior.transitionMatrix(ev)
      case "psiby" =>
        // grouped numeric drift, 16 segments x 1024 bins: same two
        // linear passes as psi, onto groups x bins cells; the dense
        // spine and per-group totals are all summary-sized
        val va = docs.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") % 16).cast("string").as("g"),
            (col("doc_id") % 1000).cast("double").as("v"))
        val vb = docs.filter(col("doc_id") % 3 =!= 0)
          .select((col("doc_id") % 16).cast("string").as("g"),
            ((col("doc_id") % 1000) + col("doc_id") % 7)
              .cast("double").as("v"))
        graft.operators.Quality.psiBy(va, vb, "g", "v", lo = 0.0,
          hi = 1100.0, bins = 1024)
      case "winsorby" =>
        // per-segment two-pass clip, 16 segments with 100x scale
        // spread + planted 1e12 spikes: per-group state <= bins longs,
        // clip bounds broadcast back
        val vals = docs.select(col("doc_id"),
          (col("doc_id") % 16).cast("string").as("g"),
          when(col("doc_id") % 100000 === 0, lit(1e12))
            .otherwise(sin(col("doc_id").cast("double") * 0.37) *
              (lit(1.0) + (col("doc_id") % 16) * 100))
            .as("v"))
        graft.operators.Quality.winsorizeBy(vals, "g", "v")
      case "transhot" | "transhotb" =>
        // HOT-USER skew (r10 verdict #2): user 0 is a bot holding 10%
        // of the corpus (~5000x the ~18-event median at 1M) — the
        // plain per-user window sorts the bot's whole stream in ONE
        // task; the bucketed sibling splits it across hour-grid cells
        // (~72 events/cell) and pays two summary-sized extra aggs.
        val nu = math.max(n / 20, 2L)
        val ev = events(when(col("doc_id") % 10 === 0, lit(0L))
          .otherwise(col("doc_id") % nu))
        if (op == "transhot") graft.operators.Behavior.transitionMatrix(ev)
        else graft.operators.Behavior.transitionMatrixBucketed(ev,
          date_trunc("hour", col("ts")))
      case "lshpairs" =>
        // the p02 shape at scale: one fused doc-keyed signature
        // aggregation feeding band explode + both Jaccard verify sides
        // via exchange reuse; work ∝ banded candidates, never n²
        val byDoc = Dedup.docSignatures(Dedup.shingleHashes(docs))
        Dedup.jaccardVerify(byDoc,
          Dedup.lshCandidates(Dedup.lshBands(byDoc)))
      case "ivfpqidx" =>
        // the persisted IVFPQ lifecycle: coarse train + residual
        // codebooks + partitioned code-index write + pruned ADC search
        // FROM DISK for 1000 queries — nprobe/kCoarse keeps ~1/4 of
        // the code directories listed (the p44 layout, full circle)
        val coarse = Ann.trainCentroids(emb, 32, iters = 2)
          .localCheckpoint(true)
        val books = Ann.pqTrain(
          Ann.ivfPqResiduals(emb, coarse).drop("c_id"), m = 8)
          .localCheckpoint(true)
        val ipath = s"$dir/ivfpq_index.parquet"
        Ann.writeIvfPqIndex(emb, coarse, books, ipath, m = 8)
        Ann.ivfPqSearchIndex(spark, ipath, coarse, books, emb,
          emb.filter(col("vec_id") < 1000), k = 10, nprobe = 8, m = 8)
      case "entinc" =>
        // the incremental ER step against a persisted 90% index: the
        // timed region = ONE 10%-of-corpus batch resolved via touched-
        // block semi-joins + the merge-log remap; the 90% seed is the
        // entres row's known cost and lands outside interest (it runs
        // first, same region — read the delta vs entres for the step)
        val people = docs.select(col("doc_id"),
          floor(col("doc_id") / 100).cast("long").as("blk"),
          concat(lit("p"),
            repeat(lit("x"), (col("doc_id") % 100).cast("int"))).as("nm"))
        val epath = s"$dir/er_index_${System.currentTimeMillis}"
        graft.operators.Quality.writeEntityIndex(
          people.filter(col("doc_id") % 10 =!= 0), col("doc_id"),
          col("blk"), col("nm"), epath)
        graft.operators.Quality.resolveEntitiesIncremental(
          people.filter(col("doc_id") % 10 === 0), col("doc_id"),
          col("blk"), col("nm"), epath)
      case "domains" =>
        // 20 one-vs-rest IRLS fits + argmax scoring: the claim under
        // test is cost = |classes| x the logreg row's dozen data-sized
        // jobs, with driver state still one tiny matrix at a time
        val feats = TextAnalysis.qualityFeatures(docs)
        val w = TextAnalysis.trainDomainLogreg(feats,
          docs.select(col("doc_id"), col("source").as("domain")))
        TextAnalysis.scoreDomains(feats, w)
      case "cov" =>
        // the r106 shape at scale: d(d+1)/2 = 2080 products exploded
        // per vector, crushed by map-side combine to <= 2080 cells per
        // partition before the one exchange — cost is the narrow
        // explode's CPU, linear in n
        Ann.covarianceLongForm(emb)
      case "pcaproj" =>
        // full PCA lifecycle: the covariance pass + driver-side power
        // iteration (d x d — milliseconds) + the narrow projection
        // write of every vector's top-8 scores
        val (means, _, comps) = Ann.pcaComponents(emb, k = 8)
        Ann.pcaProject(emb, means, comps)
      case "leak" =>
        // r108: the lshpairs chain + two doc-keyed (id, source) joins
        // + a sources^2-bounded aggregate — the delta vs lshpairs is
        // the price of the governance matrix
        Dedup.crossSourceLeakage(docs)
      case "zipf" =>
        // r103: token counts (partial-aggregable), TakeOrdered head,
        // 1-row OLS — nothing downstream of the count exchange scales
        // with n
        TextAnalysis.zipfFit(docs)
      case "covby" =>
        // the r112 shape at scale: the cov explode keyed by the
        // 8-class label — map-side combine crushes each partition to
        // <= 8 x 2080 cells; everything after the one exchange is
        // groups x d(d+1)/2 summary work
        Ann.covarianceFromCellsBy(Ann.covarianceCellsBy(emb, "label"))
      case "edrift" =>
        // the r114 shape at scale: diagonal-ONLY pass (64 squares per
        // vector, not 2080 products — the ~d/2x diet vs covby) + the
        // d-row pooled spine broadcast; expect ~linear in n with a
        // much smaller constant than covby
        Ann.embeddingDriftBy(emb, "label")
      case "phash" =>
        // r13 perceptual image dedup: DCT hash + blocked hamming join
        Multimodal.nearDupImagesPHash(Multimodal.pHashImageFixtures(ids), maxDist = 0)
      case "spectral" =>
        Multimodal.nearDupAudioSpectral(Multimodal.spectralAudioFixtures(ids),
          maxDist = 0)
      case "vidneardup" =>
        // 6 frames per video, frame-fingerprint pairs grouped per video
        Multimodal.nearDupVideos(Multimodal.videoFixtures(ids))
      case "vidindex" =>
        // r14: a fixed 10k-video batch (5k trimmed+graded twins of
        // indexed videos, 5k fresh) against the n-video frame index:
        // the claim under test is that per-batch cost is the batch's
        // decode+hash plus a fingerprint-keyed join, not a function of
        // the indexed corpus (old videos are ~16-byte rows)
        val batch = Multimodal.videoFixtures(
          spark.range(5000L).select((col("id") * 2 + 1).as("doc_id"))
            .unionByName(spark.range(5000L)
              .select((lit(2L) * n + col("id") * 2).as("doc_id"))))
        Multimodal.dedupVideosAgainstIndex(batch, spark.read.parquet(videoIndex))
      case "compact" =>
        // r14: fold the 256 fragmented partitions, then read the state
        // back (the read a resumed stream pays)
        Ingest.compactStreamState(spark, deltaState)
        spark.read.parquet(deltaState)
      case "ivfretrain" =>
        // r14 retrain-and-swap, the maintenance job the drift signal
        // schedules: Lloyd to tolerance + rebuild + promote
        Ann.retrainIvfIndex(spark, ivfIndex, k = 32)
    }

    // This sandbox is a microVM with invisible neighbor load (see
    // SCALE.md "Host-level bench noise"): a single timing can be
    // inflated ~2-10x by a noise episode. Min-of-reps rejects episodes
    // shorter than the rep gap, and the recorded per-op load average
    // flags the ones it can't — a row with load >> cpus/4 is suspect.
    val reps = sys.env.get("SPARK_GRAFT_STRESS_REPS").map(_.toInt).getOrElse(1)
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val results = ops.map { op =>
      val out = s"$dir/out_$op.parquet"
      val load = osBean.getSystemLoadAverage
      val dt = (1 to reps).map { _ =>
        prep(op)
        val (_, d) = timed {
          mk(op).write.mode("overwrite").parquet(out)
        }
        d
      }.min
      val rows = spark.read.parquet(out).count()
      spark.catalog.clearCache()
      System.err.println(s"[stress] $op ${fmt(dt)}s rows=$rows load=${fmt(load)}")
      (op, dt, rows, load)
    }

    val gen = genTimes.map { case (k, v) => s""""$k":${fmt(v)}""" }
      .mkString("{", ",", "}")
    val opsJson = results.map { case (op, dt, rows, load) =>
      s""""$op":{"sec":${fmt(dt)},"rows":$rows,"load":${fmt(load)}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"stress","n":$n,"n_emb":$nEmb,"cpus":$cpus,""" +
      s""""gen":$gen,"ops":$opsJson}""")
    spark.stop()
  }
}
