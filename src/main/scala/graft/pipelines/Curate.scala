package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.operators.{Dedup, Mix, Quality}

/** The whole training-data curation pipeline as ONE call — the
  * composition a user of the reference's medallion flow would run to
  * turn a raw document corpus into packed training sequences:
  *
  *   [domain blocklist] → [URL-level dedup] →
  *   [HTML→text extraction] → [normalization] →
  *   quality gate (rule-based, or the learned filter when trained
  *   weights are passed) → [boilerplate removal] → near-dup dedup (LSH +
  *   components survivors) → [sub-document CDC dedup] →
  *   [C4 sentence-span dedup] →
  *   [held-out decontamination] → [semantic dedup] →
  *   [DSIR target-likeness selection] → [CCNet LM tail drop] →
  *   per-domain score pruning → [embedding-drift release gate] →
  *   temperature-mixture resampling → chunk → pack
  *
  * (bracketed stages optional).
  *
  * Every stage is one of the library's oracle-checked/spec-proven
  * operators with its own scale design (see SCALE.md); this object
  * adds only composition and per-stage row accounting — no new
  * distributed logic, so the 100 TB story is exactly the sum of its
  * stages. */
object Curate {

  final case class Stats(input: Long, afterGate: Long, afterDedup: Long,
      afterPrune: Long, resampledCopies: Long, chunks: Long, shards: Int,
      afterSubdoc: Long = -1L, afterBoilerplate: Long = -1L,
      afterDecontam: Long = -1L, afterSemDedup: Long = -1L,
      afterDsir: Long = -1L, afterCcnet: Long = -1L,
      afterBlocklist: Long = -1L, afterUrlDedup: Long = -1L,
      afterSpan: Long = -1L, afterSpanDecontam: Long = -1L,
      afterReadability: Long = -1L, afterCommonality: Long = -1L,
      driftedDims: Long = -1L)

  /** Config for the optional embedding-drift RELEASE gate (the r115
    * operator as a curate stage): the final pruned corpus's embedding
    * distribution is scored against a FROZEN reference snapshot
    * persisted as d diagonal summary cells
    * ([[graft.operators.Ann.diagCells]]), and a dimension counts as
    * DRIFTED when the spine row is null-sided (dimensionality
    * mismatch), |mean_z| exceeds `maxAbsMeanZ`, var_ratio leaves
    * `varRatioBand`, or the reference dim is constant while the
    * current one moved. This is a corpus-level gate, not a row
    * filter — it drops no documents; it either records the drifted-
    * dim count in Stats/the data card (`failOnDrift = false`, the
    * monitoring posture) or fails the run loudly listing the drifted
    * dims (`failOnDrift = true`, the release posture). Cost: one
    * narrow diagonal pass over the alive embeddings + a d-row join —
    * the reference vectors are never re-read. */
  final case class DriftGate(
      referenceCells: DataFrame,
      embeddings: DataFrame,
      maxAbsMeanZ: Double = 4.0,
      varRatioBand: (Double, Double) = (0.25, 4.0),
      failOnDrift: Boolean = false)

  /** Returns (packed sequences, per-stage stats). `docs` must carry
    * doc_id, text, lang, source. Copies from resampling get a
    * synthetic unique stream id (doc_id * maxCopies + copy - 1) so
    * packing sees distinct documents.
    *
    * `stats = false` skips the five accounting counts (each is a real
    * job over a checkpointed table at 100 TB — an audited production
    * run wants them, an interactive iteration does not) and returns
    * `None`; the packed output is IDENTICAL either way (CurateSpec).
    * The one count that survives is the chunk count — shard derivation
    * needs it to size the output layout. The checkpoint dir is ensured
    * explicitly up front, not inherited from `components()`'s
    * initialization order. */
  def run(docs: DataFrame, jaccardThreshold: Double = 0.5,
      pruneP: Double = 0.25, tau: Double = 0.7, maxCopies: Int = 8,
      chunkTokens: Int = 32, overlap: Int = 8, ctxTokens: Int = 64,
      rowsPerShard: Long = 4000000L, minShards: Int = 4,
      stats: Boolean = true, subdocDedup: Boolean = false,
      boilerplateMaxDocs: Option[Int] = None,
      gateWeights: Option[Seq[Double]] = None,
      decontaminate: Option[DataFrame] = None,
      spanDecontaminate: Option[(DataFrame, Int)] = None,
      semDedup: Option[(DataFrame, Int)] = None,
      qualitySurvivors: Boolean = false,
      dsir: Option[(DataFrame, Int)] = None,
      extractHtml: Boolean = false,
      normalize: Boolean = false,
      ccnetTailDrop: Boolean = false,
      blocklist: Option[DataFrame] = None,
      urlDedup: Boolean = false,
      spanN: Option[Int] = None,
      readabilityBand: Option[(Double, Double)] = None,
      commonalityMax: Option[Double] = None,
      embeddingDriftGate: Option[DriftGate] = None): (DataFrame, Option[Stats]) = {
    Dedup.ensureCheckpointDir(docs.sparkSession)
    def countIf(df: DataFrame): Long = if (stats) df.count() else -1L
    val input = countIf(docs)
    // URL-metadata stages for web-crawled input (docs must carry a
    // `url` column — fails loud otherwise): the domain blocklist
    // FIRST (cheapest, and a blocked doc must never become the
    // survivor that shadows a clean duplicate), then URL-level dedup.
    // Both run before HTML extraction ever touches the payload —
    // the CCNet ordering: discard by metadata before paying for text.
    val blocked = blocklist match {
      case None => docs
      case Some(bl) => docs.join(
        Quality.blocklistFilter(docs, bl).filter(col("kept"))
          .select("doc_id"), "doc_id")
    }
    val afterBlocklist = if (blocklist.isDefined) countIf(blocked) else -1L
    val urled =
      if (!urlDedup) blocked
      else blocked.join(Quality.urlDedup(blocked).filter(col("kept"))
        .select("doc_id"), "doc_id")
    val afterUrlDedup = if (urlDedup) countIf(urled) else -1L
    // Zeroth stages, both narrow codegen'd projections folded into the
    // first scan: HTML→text extraction for web-crawled input, then
    // normalization so downstream shingles/features see canonical
    // text. No rows drop here — a doc emptied by extraction is the
    // quality gate's call, keeping stage accounting one-to-one.
    val prepared0 =
      if (!extractHtml) urled
      else urled.withColumn("text", TextAnalysis.htmlToText(col("text")))
    val docsP =
      if (!normalize) prepared0
      else prepared0.withColumn("text", TextAnalysis.normalizeText(col("text")))
    // The gate stage: the rule gate by default, or — when trained
    // weights are supplied (TextAnalysis.trainQualityLogreg, typically
    // distilled from the rule gate on a sample) — the learned filter's
    // logit > 0 verdict. Same keep-or-drop contract either way.
    val gateKept = gateWeights match {
      case None => TextAnalysis.qualityGate(docsP).filter(col("kept"))
      case Some(w) => TextAnalysis.scoreQualityLogreg(
        TextAnalysis.qualityFeatures(docsP), w).filter(col("kept"))
    }
    val gatedRaw0 = docsP.join(gateKept.select("doc_id"), "doc_id")
    val afterGate = countIf(gatedRaw0)
    // Optional readability band (`readabilityBand = Some((lo, hi))`):
    // the Flesch fluency gate — keyword stuffing and OCR shred score
    // far outside the natural-prose band, in either direction, while
    // passing the rule gate's length/stopword checks. Docs with a
    // null score (no words or no sentences) drop: a curation output
    // has no use for them and the rule gate has already had its say.
    val gatedRaw = readabilityBand match {
      case None => gatedRaw0
      case Some((lo, hi)) => gatedRaw0.join(
        TextAnalysis.readability(gatedRaw0)
          .filter(col("flesch").isNotNull &&
            col("flesch") >= lo && col("flesch") <= hi)
          .select("doc_id"), "doc_id")
    }
    val afterReadability =
      if (readabilityBand.isDefined) countIf(gatedRaw) else -1L
    // Optional boilerplate pass (the RefinedWeb line-dedup stage),
    // BEFORE doc-level dedup: a shared header/footer inflates the
    // Jaccard between otherwise-distinct docs, so stripping it first
    // keeps the near-dup stage from merging docs that only share
    // chrome. Docs reduced to nothing drop (curation output has no
    // use for zero-token rows).
    val gated = boilerplateMaxDocs match {
      case None => gatedRaw
      case Some(m) =>
        // Multi-consumer frames are CHECKPOINTED (file invariant):
        // gatedRaw feeds both sides of the strip join (the gate's two
        // text passes would otherwise run twice per action), and the
        // stripped frame feeds the accounting count plus the whole
        // dedup stage.
        val g = gatedRaw.checkpoint()
        g.drop("text")
          .join(Dedup.stripBoilerplate(g, m)
            .filter(col("clean_text") =!= "")
            .select(col("doc_id"), col("clean_text").as("text")), "doc_id")
          .select(g.columns.map(col).toIndexedSeq: _*)
          .checkpoint()
    }
    val afterBoilerplate = if (boilerplateMaxDocs.isDefined) countIf(gated) else -1L
    // Optional commonality cap (`commonalityMax = Some(f)`): docs more
    // than `f` composed of corpus-shared 8-grams drop — template/
    // license mass the pairwise near-dup stage below cannot see (a doc
    // can be 80% boilerplate without near-dupping any single doc).
    // Runs AFTER line-level boilerplate strip (which may have removed
    // the shared chrome and saved the doc) and BEFORE dedup. Sub-n
    // docs (null fraction) pass — they carry no measured gram mass.
    // The gated corpus is CHECKPOINTED (file invariant): the dedup
    // stage reads it from several branches (its shingles, the verified-
    // pair checkpoint, the survivor join), and every later checkpoint
    // would otherwise re-run the gate under it. The boilerplate branch
    // has already checkpointed `gated`.
    val gatedC = commonalityMax match {
      case None if boilerplateMaxDocs.isDefined => gated
      case None => gated.checkpoint()
      case Some(mx) => gated.join(
        Dedup.ngramCommonality(gated)
          .filter(col("common_frac").isNull || col("common_frac") <= mx)
          .select("doc_id"), "doc_id")
        .checkpoint()
    }
    val afterCommonality =
      if (commonalityMax.isDefined) countIf(gatedC) else -1L
    // Survivor policy: min-id by default; `qualitySurvivors = true`
    // keeps each near-dup cluster's HIGHEST-quality doc instead
    // (Dedup.dedupCorpusByScore over the p09 heuristic score) — same
    // cluster structure, better survivors when duplicates differ in
    // extraction quality.
    val dedupedDocs =
      if (!qualitySurvivors) Dedup.dedupCorpus(gatedC, jaccardThreshold)
      else gatedC.join(
        Dedup.dedupCorpusByScore(gatedC,
            TextAnalysis.qualityScore(gatedC).select("doc_id", "score"),
            jaccardThreshold)
          .filter(col("keep")).select("doc_id"), "doc_id")
    val afterDedup = countIf(dedupedDocs)
    // Optional sub-document pass (the Dolma paragraph-level stage):
    // content-defined-chunk dedup rewrites each surviving doc to its
    // first-occurrence chunks; docs left EMPTY (every chunk seen
    // elsewhere) drop — unlike the dedup REPORT queries, a curation
    // output has no use for zero-token rows.
    val deduped =
      if (!subdocDedup) dedupedDocs
      else dedupedDocs.drop("text")
        .join(Dedup.cdcChunkDedup(dedupedDocs)
          .filter(col("clean_text") =!= "")
          .select(col("doc_id"), col("clean_text").as("text")), "doc_id")
        .select(dedupedDocs.columns.map(col).toIndexedSeq: _*)
    val afterSubdoc = if (subdocDedup) countIf(deduped) else -1L
    // Optional C4 span stage (`spanN = Some(n)`): every n-sentence
    // span occurring more than once corpus-wide keeps only its first
    // occurrence (Dedup.spanDedup) — the sentence-granular sibling of
    // the CDC pass above (reflowed copies that break chunk boundaries
    // still collide). Docs emptied (every sentence inside a duplicated
    // span) drop, same rule as the other sub-document stages.
    val spanned = spanN match {
      case None => deduped
      case Some(n) => deduped.drop("text")
        .join(Dedup.spanDedup(deduped, n)
          .filter(col("clean_text") =!= "")
          .select(col("doc_id"), col("clean_text").as("text")), "doc_id")
        .select(deduped.columns.map(col).toIndexedSeq: _*)
    }
    val afterSpan = if (spanN.isDefined) countIf(spanned) else -1L
    // Optional cross-corpus decontamination (the leakage guard): docs
    // that near-dup-match the supplied HELD-OUT frame — LSH collision
    // + Jaccard >= jaccardThreshold, Dedup.dedupAgainst — are dropped
    // so evaluation on that frame never scores effectively-trained-on
    // text. Runs AFTER internal dedup (the survivor set is what
    // trains) and before pruning; the held-out frame itself is never
    // touched. Callers splitting with Mix.hashSplit pass the val/test
    // side here (or use Mix.decontaminateSplits for the report form).
    val decont = decontaminate match {
      case None => spanned
      case Some(heldout) =>
        spanned.join(Dedup.dedupAgainst(spanned, heldout, jaccardThreshold)
          .filter(col("kept")).select("doc_id"), "doc_id")
    }
    val afterDecontam = if (decontaminate.isDefined) countIf(decont) else -1L
    // Optional SPAN-level decontamination (`spanDecontaminate =
    // Some((heldout, n))`): the surgical sibling of the doc-level
    // stage above — sentences of surviving docs whose own word
    // n-grams hit the held-out set are removed and the doc
    // reassembled (Dedup.decontaminateSpans), so a page that quotes a
    // benchmark item keeps training minus the leaked lines instead of
    // dropping whole. Runs AFTER the doc-level screen: near-dups of
    // held-out docs are already gone, this scrubs the verbatim
    // fragments below that threshold. Docs emptied (pure leak) drop;
    // docs with no sentences drop with them, the same inner-join rule
    // as the other sub-document stages.
    val spanDecont = spanDecontaminate match {
      case None => decont
      case Some((heldout, n)) => decont.drop("text")
        .join(Dedup.decontaminateSpans(decont, heldout, n)
          .filter(col("clean_text") =!= "")
          .select(col("doc_id"), col("clean_text").as("text")), "doc_id")
        .select(decont.columns.map(col).toIndexedSeq: _*)
    }
    val afterSpanDecontam =
      if (spanDecontaminate.isDefined) countIf(spanDecont) else -1L
    // Optional SEMANTIC dedup (SemDeDup): `semDedup = Some((emb, k))`
    // supplies a (vec_id, embedding) frame keyed by doc_id and a
    // centroid count; within each of the k trained clusters, docs
    // whose embedding cosine to a lower-id cluster-mate reaches
    // Ann.semDedup's threshold drop. Embeddings are restricted to the
    // docs ALIVE at this stage (the dedup judges the corpus as it
    // stands), and docs with no embedding row are kept — absence of a
    // vector is not evidence of redundancy. NOT part of the streamed
    // chain (curateIngestStream): centroid training is an iterative
    // whole-corpus batch job, and the within-cluster pair rule needs
    // each cluster's full membership — per-cluster state a stream
    // would have to hold unbounded; the production pattern is batch
    // re-clustering on a cadence, streaming everything else.
    val semmed = semDedup match {
      case None => spanDecont
      case Some((emb, k)) =>
        val alive = emb.join(
          spanDecont.select(col("doc_id").as("vec_id")), "vec_id")
        val cents = graft.operators.Ann.trainCentroids(alive, k)
          .select(col("c_id").as("vec_id"), col("cemb").as("embedding"))
        val dropped = graft.operators.Ann.semDedup(alive, cents)
          .filter(!col("kept")).select(col("vec_id").as("doc_id"))
        spanDecont.join(dropped, Seq("doc_id"), "left_anti")
    }
    val afterSemDedup = if (semDedup.isDefined) countIf(semmed) else -1L
    // Optional DSIR selection (`dsir = Some((target, n))`): keep the n
    // most target-like survivors by the hashed-ngram log-likelihood
    // ratio with derandomized Gumbel top-k (Mix.dsirSelect) — the
    // importance-resampling alternative to "keep everything that
    // clears the bar". Runs on the DEDUPED corpus (selecting before
    // dedup would spend the budget on duplicates) and before the
    // per-domain prune, which then enforces domain balance within the
    // selected set.
    val selected = dsir match {
      case None => semmed
      case Some((target, n)) =>
        semmed.join(Mix.dsirSelect(semmed, target, n).select("doc_id"), "doc_id")
    }
    val afterDsir = if (dsir.isDefined) countIf(selected) else -1L
    // Optional CCNet LM stage: score the SURVIVING corpus with the
    // interpolated bigram LM (the model trains on exactly the docs
    // that remain — CCNet's own order: dedup first, then perplexity),
    // bucket per language at the exact 1/3-2/3 percentiles, and drop
    // each language's tail third. Docs the LM cannot score (< 2
    // tokens) are KEPT — absence of evidence, same principle as the
    // semantic-dedup stage's missing embeddings.
    val bucketed =
      if (!ccnetTailDrop) selected
      else selected.join(
        TextAnalysis.ccnetBuckets(
            TextAnalysis.bigramScore(selected), selected)
          .filter(col("bucket") === "tail").select("doc_id"),
        Seq("doc_id"), "left_anti")
    val afterCcnet = if (ccnetTailDrop) countIf(bucketed) else -1L
    // The multi-consumer frames are CHECKPOINTED: pruned feeds four
    // consumers and chunks two, and without truncation every stage
    // count would re-run the whole upstream pipeline; a durable
    // checkpoint (unlike persist) pins no executor memory and leaves
    // nothing for the caller to unpersist — at 100 TB these are the
    // natural between-stage tables anyway.
    val pruned = bucketed.join(
      TextAnalysis.qualityPrune(bucketed, pruneP).select("doc_id"), "doc_id")
      .checkpoint()
    val afterPrune = countIf(pruned)
    // Optional embedding-drift release gate ([[DriftGate]]): the FINAL
    // pruned corpus — the set that actually trains — is the right
    // point to score against the frozen snapshot; gating earlier would
    // blame the reference for docs a later stage was about to drop.
    // failOnDrift runs regardless of `stats` (the verdict is the
    // point, and the report is d rows, not corpus-sized); the
    // monitoring form (failOnDrift=false) runs only under `stats` —
    // see the skip arm below. Embeddings restricted to alive docs,
    // the semDedup rule. No rows drop here.
    val driftedDims = embeddingDriftGate match {
      case None => -1L
      // monitoring gate with stats off: nothing would record the
      // count and nothing fails on it — skip the corpus-sized join
      // action entirely instead of computing and discarding it
      case Some(g) if !stats && !g.failOnDrift => -1L
      case Some(g) =>
        val (lo, hi) = g.varRatioBand
        val alive = g.embeddings.join(
          pruned.select(col("doc_id").as("vec_id")), "vec_id")
        val drifted = graft.operators.Ann
          .embeddingDriftAgainstCells(g.referenceCells, alive)
          .filter(col("n_ref").isNull || col("n_cur").isNull ||
            abs(col("mean_z")) > g.maxAbsMeanZ ||
            col("var_ratio") < lo || col("var_ratio") > hi ||
            (col("mean_z").isNull && !(col("mean_cur") <=> col("mean_ref"))))
        if (!g.failOnDrift) drifted.count()
        else {
          // bounded collect: the report is d rows, drifted ⊆ d
          val rows = drifted.select("i", "mean_z", "var_ratio").collect()
          require(rows.isEmpty,
            "embeddingDriftGate: current corpus drifted from the frozen " +
              "reference on dims " + rows.map(r => s"i=${r.get(0)} " +
              s"(mean_z=${r.get(1)}, var_ratio=${r.get(2)})").mkString("; "))
          0L
        }
    }
    val weights = Mix.temperatureWeights(pruned, Seq("lang", "source"), tau)
      .select(col("lang"), col("source"), col("weight"))
    val resampled = Mix.resampleByWeight(pruned.select("lang", "source", "doc_id"),
        weights, Seq("lang", "source"), maxCopies = maxCopies)
      .join(pruned.select("doc_id", "text"), "doc_id")
      .select((col("doc_id") * maxCopies + col("copy") - 1).as("doc_id"),
        col("text"))
    val resampledCopies = countIf(resampled)
    val chunks = TextAnalysis.chunk(resampled, chunkTokens, overlap).checkpoint()
    val nChunks = chunks.count()
    val shards = Mix.deriveShards(nChunks, rowsPerShard, minShards)
    val packed = TextAnalysis.packSequences(chunks, ctxTokens, shards)
    val st =
      if (stats) Some(Stats(input, afterGate, afterDedup, afterPrune,
        resampledCopies, nChunks, shards, afterSubdoc, afterBoilerplate,
        afterDecontam, afterSemDedup, afterDsir, afterCcnet,
        afterBlocklist, afterUrlDedup, afterSpan, afterSpanDecontam,
        afterReadability, afterCommonality, driftedDims))
      else None
    (packed, st)
  }

  /** Data card for an audited run (the FineWeb/Dolma release-notes
    * table): one row per EXECUTED stage, in pipeline order, with the
    * row flow and drop fraction. Disabled optional stages (their Stats
    * field is the -1 sentinel) are omitted, so rows_in always chains
    * from the previous stage's rows_out. `resample` can amplify —
    * rows_dropped/drop_frac go negative there by design. Driver-side
    * arithmetic over the already-computed Stats: requires a
    * `stats = true` run, costs nothing. */
  def dataCard(spark: org.apache.spark.sql.SparkSession, st: Stats): DataFrame = {
    require(st.input >= 0 && st.afterGate >= 0,
      "dataCard needs Stats from a stats = true run")
    val stages = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    var prev = st.input
    def stage(name: String, out: Long): Unit = if (out >= 0) {
      stages += ((name, prev, out)); prev = out
    }
    stage("domain_blocklist", st.afterBlocklist)
    stage("url_dedup", st.afterUrlDedup)
    stage("quality_gate", st.afterGate)
    stage("readability_band", st.afterReadability)
    stage("boilerplate_strip", st.afterBoilerplate)
    stage("commonality_cap", st.afterCommonality)
    stage("near_dup_dedup", st.afterDedup)
    stage("subdoc_cdc_dedup", st.afterSubdoc)
    stage("span_dedup", st.afterSpan)
    stage("decontaminate", st.afterDecontam)
    stage("span_decontaminate", st.afterSpanDecontam)
    stage("semantic_dedup", st.afterSemDedup)
    stage("dsir_select", st.afterDsir)
    stage("ccnet_tail_drop", st.afterCcnet)
    stage("quality_prune", st.afterPrune)
    // the drift gate is corpus-level (pass/fail against the frozen
    // reference, driftedDims in Stats) — it drops no rows, so its card
    // row documents that it RAN: rows_in == rows_out, drop_frac 0
    if (st.driftedDims >= 0) stage("embedding_drift_gate", prev)
    stage("resample", st.resampledCopies)
    stage("chunk", st.chunks)
    import spark.implicits._
    stages.toSeq.map { case (n, in, out) =>
      (n, in, out, in - out,
        if (in > 0) math.rint((in - out).toDouble / in * 10000) / 10000 else 0.0)
    }.toDF("stage", "rows_in", "rows_out", "rows_dropped", "drop_frac")
  }
}
