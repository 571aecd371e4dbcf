package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("exactKeepFirst keeps one row per identical text, lowest id") {
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
    val kept = Dedup.exactKeepFirst(d).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("exactKeepFirst: null-text docs keep a survivor; re-ingested duplicate rows collapse") {
    // null-text docs form their own content group (they must not
    // silently vanish), and a literally duplicated row — the classic
    // re-ingested batch — yields ONE output row, not two.
    val d = docs((1L, null), (2L, null), (3L, "a b"), (3L, "a b"), (4L, "a b"))
    val kept = Dedup.exactKeepFirst(d).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
    assert(Dedup.exactKeepFirst(d).count() == 2)
  }

  test("wordShingles emits distinct 3-grams") {
    val d = docs((1L, "a b c d"))
    val sh = Dedup.wordShingles(d).select("shingle").as[String].collect().sorted
    assert(sh.toSeq == Seq("a b c", "b c d"))
  }

  test("identical docs share every minhash band; disjoint docs share none") {
    val d = docs((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "q r s t u v"))
    val cand = Dedup.lshCandidates(Dedup.lshBands(Dedup.minhashSignatures(
      Dedup.wordShingles(d))))
    val pairs = cand.as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("docSignatures h-columns are bit-equal to minhashSignatures; ss/n match shingleArrays") {
    val d = docs((1L, "a b c d e f g"), (2L, "a b c d e f"), (3L, "q r s t u v w x"),
      (4L, "lone pair of words plus more"), (5L, "a b c"))
    val sh = Dedup.shingleHashes(d)
    val hCols = (0 until 16).map(j => s"h$j")
    val viaAgg = Dedup.minhashSignatures(sh, hashed = true)
      .orderBy("doc_id").collect().toSeq
    val fused = Dedup.docSignatures(sh)
    val viaFused = fused.select(("doc_id" +: hCols).map(col): _*)
      .orderBy("doc_id").collect().toSeq
    assert(viaFused == viaAgg)
    // ss is order-nondeterministic (collect_list) — compare as sets + n
    val arrs = fused.select(col("doc_id"), col("ss"), col("n"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSet, r.getLong(2))).toSeq
    val plain = Dedup.shingleArrays(sh).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSet, r.getLong(2))).toSeq
    assert(arrs == plain)
  }

  test("jaccardVerify over shared arrays equals jaccardPairs over shingles") {
    val d = docs((1L, "a b c d e f"), (2L, "a b c d e x"), (3L, "q r s t u v"))
    val sh = Dedup.shingleHashes(d)
    val cand = Seq((1L, 2L), (1L, 3L)).toDF("d1", "d2")
    val viaShingles = Dedup.jaccardPairs(sh, Some(cand))
      .orderBy("d1", "d2").collect().toSeq
    val viaArrays = Dedup.jaccardVerify(Dedup.shingleArrays(sh), cand)
      .orderBy("d1", "d2").collect().toSeq
    assert(viaArrays == viaShingles)
  }

  test("lshCandidates drops hot band buckets (boilerplate corpus stays sub-quadratic)") {
    // 250 docs sharing identical boilerplate collide on every band key;
    // uncapped that is 250*249/2 pairs from one bucket. The default cap
    // (100) drops the hot bucket entirely while an unrelated small pair
    // still surfaces.
    val boiler = (1L to 250L).map(i => (i, "shared boilerplate header text common to every single document here"))
    val pair = Seq((1001L, "alpha beta gamma delta epsilon zeta eta"),
      (1002L, "alpha beta gamma delta epsilon zeta eta"))
    val bands = Dedup.lshBands(Dedup.minhashSignatures(
      Dedup.wordShingles(docs((boiler ++ pair): _*))))
    val capped = Dedup.lshCandidates(bands).as[(Long, Long)].collect().toSet
    assert(capped == Set((1001L, 1002L)))
    val uncapped = Dedup.lshCandidates(bands, maxBucket = 1000).count()
    assert(uncapped == 250L * 249 / 2 + 1)  // the blowup the cap prevents
  }

  test("jaccardPairs computes exact set Jaccard") {
    // shingles: doc1 {a b c, b c d}, doc2 {a b c, b c x} -> J = 1/3
    val d = docs((1L, "a b c d"), (2L, "a b c x"))
    val j = Dedup.jaccardPairs(Dedup.wordShingles(d))
      .select("jaccard").as[Double].head()
    assert(math.abs(j - 1.0 / 3.0) < 1e-12)
  }

  test("simhashPacked equals simhash row-for-row on the fixture corpus") {
    val d = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").limit(200)
    val plain = Dedup.simhash(d).orderBy("doc_id").collect().toSeq
    val packed = Dedup.simhashPacked(d).orderBy("doc_id").collect().toSeq
    assert(packed == plain)
  }

  test("simhash: identical texts collide, near texts are close, far texts far") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog today again ok"),
      (2L, "the quick brown fox jumps over the lazy dog today again ok"),
      (3L, "the quick brown fox jumps over the lazy dog today again no"),
      (4L, "zz yy xx ww vv uu tt ss rr qq pp oo"))
    val sims = Dedup.simhash(d).as[(Long, Long)].collect().toMap
    assert(sims(1L) == sims(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sims(1L), sims(3L)) < ham(sims(1L), sims(4L)))
  }

  test("components: transitive chain A~B~C collapses to one component, one survivor") {
    import spark.implicits._
    // Chain 1-2, 2-3 (A~B~C with no direct A~C pair) plus a separate
    // pair and an untouched doc: pairwise keep-first would keep 1 and 3
    // (double-keep); component dedup must keep only 1.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val comp = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val d = docs((1L, "a"), (2L, "b"), (3L, "c"), (10L, "d"), (11L, "e"), (42L, "f"))
    val kept = Dedup.survivors(d, pairs).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 10L, 42L))
  }

  test("survivorsByScore keeps the best-quality doc per component, min id on ties") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val d = docs((1L, "a"), (2L, "b"), (3L, "c"), (10L, "d"), (11L, "e"), (42L, "f"))
    // component {1,2,3}: doc 2 scores highest → it survives, not min-id 1;
    // component {10,11}: tied scores → min id 10 survives; 42 unpaired → kept
    val scores = Seq((1L, 0.2), (2L, 0.9), (3L, 0.5),
      (10L, 0.4), (11L, 0.4), (42L, 0.1)).toDF("doc_id", "score")
    val out = Dedup.survivorsByScore(d, pairs, scores)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(out.size == 6)
    assert(out.filter(_._2._2).keySet == Set(2L, 10L, 42L))
    assert(out(3L)._1 == 1L && out(42L)._1 == 42L) // comp labels: min id, self
    // with uniform scores the policy degrades to survivors() exactly
    val uniform = scores.withColumn("score", org.apache.spark.sql.functions.lit(1.0))
    val keptU = Dedup.survivorsByScore(d, pairs, uniform)
      .filter($"keep").select("doc_id").as[Long].collect().sorted
    val keptMin = Dedup.survivors(d, pairs).select("doc_id").as[Long].collect().sorted
    assert(keptU.toSeq == keptMin.toSeq)
  }

  test("components: long path needs log-bounded rounds (path halving), no persisted RDD leak") {
    import spark.implicits._
    // A 64-node path graph has diameter 63; plain min-propagation needs
    // 63 rounds — path halving must land it well inside maxIter=20.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val path = (1L until 64L).map(i => (i, i + 1)).toDF("d1", "d2")
    val comp = Dedup.components(path).as[(Long, Long)].collect()
    assert(comp.length == 64 && comp.forall(_._2 == 1L))
    // Checkpointing, not caching: nothing new pinned in the block manager.
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("components: maxIter exhaustion throws instead of returning partial labels") {
    import spark.implicits._
    // Partial labels would let duplicate survivors through downstream
    // dedup with exit code 0 — non-convergence must be loud.
    val path = (1L until 64L).map(i => (i, i + 1)).toDF("d1", "d2")
    val ex = intercept[IllegalStateException] {
      Dedup.components(path, maxIter = 1).collect()
    }
    assert(ex.getMessage.contains("maxIter"))
  }

  test("components matches a union-find oracle on random graphs") {
    import spark.implicits._
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find oracle
      val parent = Array.tabulate(n)(identity)
      def find(v: Int): Int = { if (parent(v) != v) parent(v) = find(parent(v)); parent(v) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        .map(v => v -> find(v.toInt).toLong).toMap
      val got = Dedup.components(edges.toDF("d1", "d2"))
        .as[(Long, Long)].collect().toMap
      // same partition into components (min-id labels must agree exactly:
      // the oracle unions toward the smaller root, like min propagation)
      assert(got == expected, s"seed=$seed")
    }
  }

  test("dedupCorpus: end-to-end pipeline keeps one survivor per verified cluster, no cache leak") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (4L, "completely different content all about database engines and columnar storage"))
    val kept = Dedup.dedupCorpus(d, threshold = 0.3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L), s"kept=$kept")
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("dedupCorpusByScore: quality flips the cluster winner; uniform scores reproduce dedupCorpus") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (4L, "completely different content all about database engines and columnar storage"))
    // score doc 3 highest inside the {1,2,3} cluster → it wins, not min-id 1
    val sc = Seq((1L, 0.1), (2L, 0.2), (3L, 0.9), (4L, 0.5)).toDF("doc_id", "score")
    val out = Dedup.dedupCorpusByScore(d, sc, threshold = 0.3)
    val kept = out.filter($"keep").select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(3L, 4L), s"kept=$kept")
    assert(out.count() == 4)
    // uniform scores degrade to dedupCorpus's min-id survivors
    val keptU = Dedup.dedupCorpusByScore(d, sc.withColumn("score", lit(1.0)),
        threshold = 0.3)
      .filter($"keep").select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptU == Seq(1L, 4L))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("incremental dedup vs persisted band index equals full recompute; old text never rescanned") {
    import spark.implicits._
    val root = tmp("lshidx")
    val oldPath = s"$root/old_corpus.parquet"; val idxPath = s"$root/bands"
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "one two three four five six seven eight nine"
    val t3 = "red green blue yellow purple orange pink gray"
    docs((1L, t1), (2L, t2), (3L, t3)).write.parquet(oldPath)
    val oldDocs = spark.read.parquet(oldPath)
    Dedup.writeBandIndex(oldDocs, idxPath)
    // batch ids above all indexed ids: 11 dups an OLD doc, 12/13 dup
    // each other within the batch, 14 is clean
    val newDocs = docs((11L, t1), (12L, "brand new document text here today"),
      (13L, "brand new document text here today"), (14L, "fully unique content nothing shared"))
    val inc = Dedup.dedupAgainstIndex(newDocs, idxPath)
    assert(inc.select("doc_id").as[Long].collect().sorted.toSeq == Seq(12L, 14L))
    // equality with a full recompute over old ∪ new, restricted to the batch
    val union = oldDocs.unionByName(newDocs)
    val fullPairs = Dedup.lshCandidates(Dedup.lshBands(
      Dedup.minhashSignatures(Dedup.shingleHashes(union), hashed = true)))
    val full = Dedup.survivors(union, fullPairs)
      .filter(col("doc_id") >= 11L).select("doc_id").as[Long].collect().sorted
    assert(full.toSeq == Seq(12L, 14L))
    // the incremental plan reads band rows, never the old corpus files
    val cand = Dedup.incrementalCandidates(newDocs, idxPath)
    cand.collect()
    val plan = cand.queryExecution.executedPlan.toString
    assert(!plan.contains("old_corpus"), plan.take(1500))
    assert(plan.contains("bands"), plan.take(1500))
    // accepting the batch: append survivor bands, then a later batch
    // duplicating doc 12 is caught by the index alone
    Dedup.appendBandIndex(newDocs.join(inc.select("doc_id"), "doc_id"), idxPath)
    val batch3 = docs((21L, "brand new document text here today"))
    assert(Dedup.dedupAgainstIndex(batch3, idxPath).count() == 0)
  }

  test("simhashPairs finds identical pair at distance 0 via blocking") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words everywhere in this document"))
    val pairs = Dedup.simhashPairs(Dedup.simhash(d), maxDist = 3)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("contamination counts distinct eval n-grams per training doc, zero for clean docs") {
    val train = docs(
      (1L, "alpha beta gamma delta epsilon"),   // contains eval's 3-grams
      (2L, "one two three four five"))          // clean
    val eval = docs((100L, "beta gamma delta epsilon"))
    val got = Dedup.contamination(train, eval, n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // eval doc has 2 distinct 3-grams, both inside train doc 1
    assert(got(1L) == ((2L, true)))
    assert(got(2L) == ((0L, false)))
    assert(got.size == 2)                        // every training doc reported
  }

  test("contaminationReport measures per-EVAL-doc overlap fractions") {
    val train = docs(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"))
    val eval = docs(
      (100L, "alpha beta gamma delta epsilon zeta"), // verbatim copy: frac 1
      (101L, "fresh words never seen in training"),  // clean: frac 0
      (102L, "delta epsilon zeta seven eight nine"), // 1 of 4 3-grams hit
      (103L, "too short"))                           // < n tokens: absent
    val got = Dedup.contaminationReport(train, eval, n = 3, threshold = 0.5)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got(100L) == ((4L, 4L, 1.0, true)))
    assert(got(101L) == ((4L, 0L, 0.0, false)))
    assert(got(102L) == ((4L, 1L, 0.25, false)))
    assert(!got.contains(103L))
    intercept[IllegalArgumentException] {
      Dedup.contaminationReport(train, eval, threshold = 1.5)
    }
  }

  test("cdcChunkDedup catches UNALIGNED verbatim spans that fixed windows miss") {
    // the same 64-token boilerplate block at offset 0 in doc 1 and
    // offset 5 in doc 2: fixed 16-token windows are misaligned across
    // the two docs (every window of doc 2 differs), but content-
    // defined boundaries cut the same chunks regardless of offset
    val boiler = (1 to 64).map(i => s"b$i").mkString(" ")
    val d = docs(
      (1L, boiler + " tail one"),
      (2L, "p1 p2 p3 p4 p5 " + boiler + " other end"))
    val cdc = Dedup.cdcChunkDedup(d).orderBy("doc_id").collect()
    val fixed = Dedup.passageDedup(d).orderBy("doc_id").collect()
    // doc 2 loses its interior boilerplate chunks under CDC...
    val cdcDropped = cdc(1).getAs[Long]("n_pass") - cdc(1).getAs[Long]("n_kept")
    assert(cdcDropped > 0, cdc.mkString(";"))
    // ...while the misaligned fixed windows drop nothing from doc 2
    val fixedDropped = fixed(1).getAs[Long]("n_pass") - fixed(1).getAs[Long]("n_kept")
    assert(fixedDropped == 0, fixed.mkString(";"))
    // doc 1 arrived first: keeps everything
    assert(cdc(0).getAs[Long]("n_kept") == cdc(0).getAs[Long]("n_pass"))
    // dropped chunks are really the shared content: doc 2's clean text
    // still contains its unique tokens
    val clean2 = cdc(1).getAs[String]("clean_text")
    assert(clean2.contains("p1") && clean2.contains("other end"))
  }

  test("cdcChunkDedup: boundaries are content-defined and deterministic; empty docs stay visible") {
    val d = docs((1L, "x y z"), (2L, "x y z"), (3L, ""))
    val r = Dedup.cdcChunkDedup(d).orderBy("doc_id").collect()
    // identical docs: first keeps all, second keeps none
    assert(r(0).getAs[Long]("n_kept") == r(0).getAs[Long]("n_pass"))
    assert(r(1).getAs[Long]("n_kept") == 0L)
    assert(r(1).getAs[String]("clean_text") == "")
    // empty doc keeps its row
    assert(r(2).getAs[Long]("n_pass") == 1L)
    // deterministic end to end
    val r2 = Dedup.cdcChunkDedup(d).orderBy("doc_id").collect()
    assert(r.toSeq == r2.toSeq)
  }

  test("incremental CDC dedup vs a persisted chunk index equals the full recompute") {
    val boiler = (1 to 48).map(i => s"c$i").mkString(" ")
    val batch1 = docs(
      (1L, boiler + " alpha beta"),
      (2L, "plain old content with nothing shared"))
    // batch 2 repeats batch 1's boilerplate at a different offset AND
    // has a within-batch duplicate pair of its own
    val batch2 = docs(
      (10L, "lead in " + boiler + " trailing"),
      (11L, "own dup segment " + (1 to 40).map(i => s"z$i").mkString(" ")),
      (12L, "other prefix own dup segment " + (1 to 40).map(i => s"z$i").mkString(" ")))
    val dir = tmp("cdcidx") + "/idx"
    Dedup.writeChunkIndex(batch1, dir)
    val incr = Dedup.cdcDedupAgainstIndex(batch2,
        spark.read.parquet(dir))
      .orderBy("doc_id").collect().toSeq
    // full recompute over old ∪ new, restricted to the new batch
    val full = Dedup.cdcChunkDedup(batch1.unionByName(batch2))
      .filter(col("doc_id") >= 10L).orderBy("doc_id").collect().toSeq
    assert(incr == full, s"\nincr=$incr\nfull=$full")
    // the boilerplate really was removed from doc 10 incrementally
    val d10 = incr.head
    assert(d10.getAs[Long]("n_kept") < d10.getAs[Long]("n_pass"))
    // appending the accepted batch extends the index for a batch 3
    Dedup.appendChunkIndex(batch2, dir)
    val batch3 = docs((20L, "own dup segment " + (1 to 40).map(i => s"z$i").mkString(" ")))
    val incr3 = Dedup.cdcDedupAgainstIndex(batch3, spark.read.parquet(dir))
      .collect().head
    assert(incr3.getAs[Long]("n_kept") < incr3.getAs[Long]("n_pass"))
  }

  test("passageDedup drops repeated passages but keeps the rest of the doc") {
    // win=2 passages: doc1 = ["a b","c d"], doc2 = ["a b","x y"],
    // doc3 = ["a b","c d"] (fully boilerplate), doc4 = ["q r"].
    val d = docs((1L, "a b c d"), (2L, "a b x y"), (3L, "a b c d"), (4L, "q r"))
    val got = Dedup.passageDedup(d, win = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_pass"), r.getAs[Long]("n_kept"), r.getAs[String]("clean_text"))))
      .toMap
    assert(got(1L) == ((2L, 2L, "a b c d")))     // first owner keeps everything
    assert(got(2L) == ((2L, 1L, "x y")))         // shared passage dies, rest lives
    assert(got(3L) == ((2L, 0L, "")))            // fully-duplicated doc stays visible
    assert(got(4L) == ((1L, 1L, "q r")))
  }

  test("stripBoilerplate removes over-shared passages from EVERY doc, unlike keep-first") {
    // win=2 passages: "a b" in docs 1,2,3 (df=3); "c d" in docs 1,3
    // (df=2); "x y" and "q r" unique.
    val d = docs((1L, "a b c d"), (2L, "a b x y"), (3L, "a b c d"), (4L, "q r"))
    def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_pass"), r.getAs[Long]("n_kept"), r.getAs[String]("clean_text"))))
      .toMap
    val got = shape(Dedup.stripBoilerplate(d, maxDocs = 1, win = 2))
    assert(got(1L) == ((2L, 0L, "")))           // even the FIRST copy dies
    assert(got(2L) == ((2L, 1L, "x y")))
    assert(got(3L) == ((2L, 0L, "")))
    assert(got(4L) == ((1L, 1L, "q r")))
    // keep-first passageDedup keeps doc1 whole — the two operators differ
    assert(shape(Dedup.passageDedup(d, win = 2))(1L) == ((2L, 2L, "a b c d")))
    // maxDocs=2 tolerates the df=2 passage but still kills the df=3 one
    assert(shape(Dedup.stripBoilerplate(d, maxDocs = 2, win = 2))(1L) ==
      ((2L, 1L, "c d")))
  }

  test("stripBoilerplate: intra-doc repetition is not boilerplate (df counts docs)") {
    val got = Dedup.stripBoilerplate(docs((5L, "p q p q")), win = 2).collect().head
    assert(got.getAs[Long]("n_pass") == 2L && got.getAs[Long]("n_kept") == 2L)
    assert(got.getAs[String]("clean_text") == "p q p q")
  }

  test("dedupAgainst drops verified cross-corpus near-dups only") {
    val textA = "the quick brown fox jumps over the lazy dog again and again today"
    val textC = "entirely different vocabulary with no overlap at all in any shingle here"
    val ref = docs((100L, textA), (101L, "reference only filler words one two three four five"))
    val nw = docs(
      (1L, textA),                                  // exact copy of ref 100 → dropped
      (2L, textC),                                  // disjoint → kept
      (4L, textC),                                  // dup of ANOTHER NEW doc → kept (not cross)
      (100L, "shares an id value with the reference but no content whatsoever"))
    val got = Dedup.dedupAgainst(nw, ref).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_matches"), r.getAs[Boolean]("kept")))).toMap
    assert(got(1L)._1 >= 1L && !got(1L)._2)
    assert(got(2L) == ((0L, true)))
    assert(got(4L) == ((0L, true)))                 // new-vs-new is p20's job
    assert(got(100L) == ((0L, true)))               // id collision never cross-joins
    assert(got.size == 4)                           // stay-visible: every new doc reports
  }

  test("cdcChunkDedup matches a sequential reference on random colliding corpora") {
    // Reference: chunk each doc at content-defined boundaries (a token
    // ends a chunk iff its 32-bit md5-prefix % p == 0), then keep a
    // chunk iff its text was never seen before, walking docs in id
    // order. A tiny vocabulary forces collisions AND frequent
    // boundaries (some vocab words hash to boundary tokens).
    def boundary(tok: String, p: Int): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val hex = d.take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % p == 0
    }
    val rnd = new scala.util.Random(7)
    val vocab = Seq("a", "b", "c", "d", "e", "f", "g", "h")
    val p = 3
    for (trial <- 1 to 3) {
      val corpus = (1L to 12L).map { id =>
        id -> Seq.fill(1 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val seen = scala.collection.mutable.Set[String]()
      val expected = corpus.map { case (id, text) =>
        val chunks = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
        var cur = scala.collection.mutable.ArrayBuffer.empty[String]
        text.split(" ", -1).foreach { t =>
          cur += t
          if (boundary(t, p)) { chunks += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer.empty }
        }
        if (cur.nonEmpty) chunks += cur.toSeq
        val texts = chunks.map(_.mkString(" ")).toSeq
        val kept = texts.filter(c => seen.add(c))
        id -> ((texts.size.toLong, kept.size.toLong, kept.mkString(" ")))
      }.toMap
      val got = Dedup.cdcChunkDedup(corpus.toDF("doc_id", "text"), p = p)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_pass"), r.getAs[Long]("n_kept"),
            r.getAs[String]("clean_text")))).toMap
      assert(got == expected, s"trial $trial: $got vs $expected")
    }
  }

  test("passageDedup matches a sequential reference on random colliding corpora") {
    // Reference implementation: walk docs in id order, keep a passage
    // iff its text was never seen before (corpus-wide first occurrence).
    // A tiny vocabulary forces heavy passage collisions.
    val rnd = new scala.util.Random(42)
    val vocab = Seq("a", "b", "c")
    for (trial <- 1 to 3) {
      val corpus = (1L to 12L).map { id =>
        id -> Seq.fill(1 + rnd.nextInt(7))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val win = 2
      val seen = scala.collection.mutable.Set[String]()
      val expected = corpus.map { case (id, text) =>
        val passages = text.split(" ").grouped(win).map(_.mkString(" ")).toSeq
        val kept = passages.filter(p => seen.add(p))
        id -> ((passages.size.toLong, kept.size.toLong, kept.mkString(" ")))
      }.toMap
      val got = Dedup.passageDedup(corpus.toDF("doc_id", "text"), win = win)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_pass"), r.getAs[Long]("n_kept"),
            r.getAs[String]("clean_text")))).toMap
      assert(got == expected, s"trial $trial: $got vs $expected")
    }
  }

  test("stripBoilerplate matches a sequential reference on random colliding corpora") {
    // Reference: count distinct docs per passage text; keep a passage
    // iff its df <= maxDocs. Tiny vocabulary forces heavy collisions,
    // so most passages are boilerplate by the df > 1 rule.
    val rnd = new scala.util.Random(1234)
    val vocab = Seq("a", "b", "c")
    for (trial <- 1 to 3) {
      val corpus = (1L to 12L).map { id =>
        id -> Seq.fill(1 + rnd.nextInt(7))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val win = 2
      val maxDocs = 1 + rnd.nextInt(2)
      def passages(text: String) =
        text.split(" ").grouped(win).map(_.mkString(" ")).toSeq
      val df = corpus.flatMap { case (id, t) => passages(t).distinct.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      val expected = corpus.map { case (id, text) =>
        val ps = passages(text)
        val kept = ps.filter(p => df(p) <= maxDocs)
        id -> ((ps.size.toLong, kept.size.toLong, kept.mkString(" ")))
      }.toMap
      val got = Dedup.stripBoilerplate(corpus.toDF("doc_id", "text"),
          maxDocs = maxDocs, win = win)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_pass"), r.getAs[Long]("n_kept"),
            r.getAs[String]("clean_text")))).toMap
      assert(got == expected, s"trial $trial maxDocs=$maxDocs: $got vs $expected")
    }
  }

  test("stripBoilerplateAgainstIndex equals the one-shot form over old ∪ new") {
    // Old corpus: "a b" appears in docs 1 and 2. New batch: "a b"
    // appears once more (crosses maxDocs=2 only with the index's df
    // counted in), "c d" is new-batch-only boilerplate across two new
    // docs at maxDocs=1, "x y" unique.
    val dir = tmp("passage-idx")
    val old = docs((1L, "a b q q"), (2L, "a b r r"), (3L, "s s t t"))
    val batch = docs((10L, "a b x y"), (11L, "c d u u"), (12L, "c d v v"))
    for (maxDocs <- Seq(1, 2)) {
      Dedup.writePassageIndex(old, dir, win = 2)
      val incr = Dedup.stripBoilerplateAgainstIndex(batch,
          spark.read.parquet(dir), maxDocs = maxDocs, win = 2)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val full = Dedup.stripBoilerplate(old.unionByName(batch), maxDocs = maxDocs,
          win = 2)
        .filter(col("doc_id") >= 10L)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(incr == full, s"maxDocs=$maxDocs: $incr vs $full")
    }
    // threshold-crossing sanity at maxDocs=2: "a b" has old-df 2, so
    // the batch copy is stripped ONLY because the index df counts in
    val incr2 = Dedup.stripBoilerplateAgainstIndex(batch,
        spark.read.parquet(dir), maxDocs = 2, win = 2)
      .orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    assert(incr2(10L) == "x y")
    assert(incr2(11L) == "c d u u")   // batch df 2 <= maxDocs 2 → kept
    // accepting the batch: append its dfs, then a re-ingested copy of
    // the batch sees the higher combined counts
    Dedup.appendPassageIndex(batch, dir, win = 2)
    val batch2 = docs((20L, "c d w w"))
    val after = Dedup.stripBoilerplateAgainstIndex(batch2,
        spark.read.parquet(dir), maxDocs = 2, win = 2).collect().head
    assert(after.getAs[String]("clean_text") == "w w")   // df 2+1 > 2 now
  }

  test("contaminationBloom never misses a true hit and bounds false positives") {
    // train: 3 docs sharing 5-grams with the eval doc, 197 clean docs
    // with disjoint vocabulary (no shingle overlap possible)
    val evalDocs = docs((900L, "alpha beta gamma delta epsilon zeta"))
    val dirty = Seq(
      (1L, "alpha beta gamma delta epsilon noise"),
      (2L, "pre alpha beta gamma delta epsilon"),
      (3L, "beta gamma delta epsilon zeta post"))
    val clean = (100L until 297L).map(i =>
      i -> (0 until 8).map(j => s"w${i}_$j").mkString(" "))
    val train = docs((dirty ++ clean): _*)
    val exact = Dedup.contamination(train, evalDocs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val bloom = Dedup.contaminationBloom(train, evalDocs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(bloom.keySet == exact.keySet)          // every doc reported
    // no false negatives: the bloom flags are a superset of the exact
    exact.filter(_._2).keys.foreach(id =>
      assert(bloom(id), s"bloom missed truly contaminated doc $id"))
    assert(Set(1L, 2L, 3L).forall(exact(_)))      // fixture sanity
    // false positives bounded: clean docs have ~4 shingles each at
    // fpp=0.01; allow 10x the expected rate before failing
    val cleanIds = clean.map(_._1).toSet
    val fp = cleanIds.count(bloom(_))
    assert(fp <= math.max(2, (cleanIds.size * 0.04 * 10).toInt),
      s"$fp bloom false positives across ${cleanIds.size} clean docs")
  }

  test("passageDedup segments on paragraph boundaries when newlines exist") {
    // Dolma behavior: blank-line boundaries preferred, single-newline
    // fallback, token windows only for newline-free text. Docs 1 and 2
    // share the "shared header" paragraph; doc 3 is newline-free and
    // must segment exactly as before (token windows).
    val d = docs(
      (1L, "shared header\n\nunique one"),
      (2L, "shared header\n\nunique two\n\n\n"),   // trailing blanks drop
      (3L, "plain doc no breaks"),                 // no newlines: windows
      (4L, "line a\nline b"),                      // single-\n splitting
      (5L, "\n\n"))                                // all-whitespace stays
    val got = Dedup.passageDedup(d, win = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_pass"), r.getAs[Long]("n_kept"), r.getAs[String]("clean_text"))))
      .toMap
    assert(got(1L) == ((2L, 2L, "shared header\nunique one")))
    assert(got(2L) == ((2L, 1L, "unique two")))   // shared paragraph died
    // newline-free docs keep the token-window segmentation unchanged
    assert(got(3L) == ((2L, 2L, "plain doc no breaks")))
    assert(got(4L) == ((2L, 2L, "line a\nline b")))
    assert(got(5L) == ((1L, 1L, "")))             // stay-visible rule
  }

  test("spanDedup: first corpus occurrence keeps the span, later ones lose its sentences") {
    val docs = Seq(
      (1L, "Alpha one. Beta two. Gamma three. Own tail one"),
      (2L, "Alpha one. Beta two. Gamma three. Own tail two"),
      (3L, "Too short. Only two"),                         // < n: whole
      (5L, "Alpha one. Beta two. Gamma three."))           // ALL removed
      .toDF("doc_id", "text")
    val got = Dedup.spanDedup(docs, n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((4L, 4L,
      "Alpha one. Beta two. Gamma three. Own tail one")))  // owner intact
    assert(got(2L) == ((4L, 1L, "Own tail two")))          // span stripped
    assert(got(3L) == ((2L, 2L, "Too short. Only two")))
    assert(got(5L) == ((3L, 0L, "")))                      // stay-visible rule
  }

  test("spanDedup removes a span re-occurring INSIDE one document") {
    val docs = Seq(
      (1L, "A b. C d. E f. A b. C d. E f."))
      .toDF("doc_id", "text")
    val got = Dedup.spanDedup(docs, n = 3).head()
    // 6 sentences; spans at starts 0..3; the start-3 occurrence of
    // (A b, C d, E f) is a duplicate of start 0 — its 3 sentences go.
    // Starts 1 and 2 are unique spans but their sentences 3,4,5 are
    // already marked, and sentences 0,1,2 stay with the owner.
    assert(got.getLong(1) == 6L && got.getLong(2) == 3L)
    assert(got.getString(3) == "A b. C d. E f.")
  }

  test("spanDedup: docs without sentences emit nothing; n=1 degenerates to exact sentence dedup") {
    val docs = Seq((1L, ""), (2L, "Same. Same. Different"))
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, n = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(!out.contains(1L))
    // n=1: the second "Same." is a duplicate span of the first
    assert(out(2L) == ((3L, 2L, "Same. Different")))
  }

  test("winnowedFingerprints matches TextAnalysis.fingerprints' selection; fingerprintPairs finds shared runs") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "SOMETHING ELSE the quick brown fox jumps AND MORE"), // shared 31-char run with 1
      (3L, "zqxwv kjhgf mnbpo iuytr edcba"),                     // disjoint
      (4L, "hi"),                                                // < k: no fingerprints
      (5L, null))
    // pin: the exploded form selects exactly what the summary
    // operator counts, per doc (the two expressions cannot drift)
    val n1 = Dedup.winnowedFingerprints(d).groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    val n2 = graft.functions.TextAnalysis.fingerprints(d)
      .select("doc_id", "n_fp").as[(Long, Long)].collect().toMap
    assert(!n1.contains(4L) && !n1.contains(5L))
    assert(n2(4L) == 0L && n2(5L) == 0L)
    assert(n1 == n2.filter(_._2 > 0))
    // the 31-char shared run >= w + k - 1 = 8 guarantees shared
    // fingerprints; docs 1 and 2 pair, doc 3 pairs with nothing
    val pairs = Dedup.fingerprintPairs(d, minShared = 2, maxDf = 10)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // minShared is a real floor: raising it above the overlap kills
    // the pair
    val strict = Dedup.fingerprintPairs(d, minShared = 1000, maxDf = 10)
    assert(strict.count() == 0)
    // maxDf is a real ceiling: with every fingerprint "common", no
    // pairs survive
    assert(Dedup.fingerprintPairs(d, minShared = 1, maxDf = 0).count() == 0)
  }

  test("decontaminateSpans drops only the leaking sentences; sub-n sentences are immune") {
    val planted = "alpha beta gamma delta epsilon zeta eta theta iota kappa."
    val train = docs(
      (1L, s"$planted keep me here today."), // leaked first sentence
      (2L, "seven short words only in this one."), // 7 tokens < n: immune
      (3L, "totally unrelated clean sentence stays put right here."),
      (4L, planted),                         // fully contaminated
      (5L, null))                            // no sentences: emits nothing
    val eval = docs(
      (100L, s"intro words here. $planted seven short words only in this one."))
    val out = Dedup.decontaminateSpans(train, eval, n = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, 1L, "keep me here today.")))
    // doc 2's sentence appears VERBATIM in eval, but carries no 8-gram
    // of its own — the documented sentence-local floor
    assert(out(2L) == ((1L, 1L, "seven short words only in this one.")))
    assert(out(3L)._2 == 1L)
    assert(out(4L) == ((1L, 0L, "")))        // stay-visible rule
    assert(!out.contains(5L))
    // the shuffle-join fallback is row-identical to the broadcast path
    val noB = Dedup.decontaminateSpans(train, eval, n = 8,
      broadcastEval = false)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(noB == out)
  }

  test("ngramCommonality: shared block scores high, unique doc zero, sub-n doc visible") {
    val block = "one two three four five six seven eight" // exactly 8 tokens
    val d = docs(
      (1L, block + " tail1 t1b"),     // 3 grams, 1 common (the block)
      (2L, block + " tail2 t2b"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"), // 2 grams, none shared
      (4L, "short doc"))              // < 8 tokens
    val m = graft.operators.Dedup.ngramCommonality(d, n = 8, minDf = 2)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_common"),
          Option(r.getAs[java.lang.Double]("common_frac"))))).toMap
    assert(m(1L)._1 == 3L && m(1L)._2 == 1L)
    assert(m(1L)._3.contains(0.3333))
    assert(m(3L) == ((2L, 0L, Some(0.0))))
    assert(m(4L) == ((0L, 0L, None))) // visible zero row, null frac
  }

  test("crossSourceLeakage: planted mirror lands off-diagonal; unordered keys; unique doc silent") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = Seq(
      (1L, "crawl", shared),                       // original
      (2L, "mirror", shared),                      // cross-source copy
      (3L, "crawl", shared + " lambda"),           // within-source near-dup
      (4L, "mirror", "totally different words entirely unrelated content here"))
      .toDF("doc_id", "source", "text")
    val m = graft.operators.Dedup.crossSourceLeakage(d, threshold = 0.5)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // pairs: (1,2) exact copy cross, (1,3) within crawl, (2,3) cross —
    // all above 0.5 Jaccard on 3-gram shingles
    assert(m(("crawl", "mirror")) == 2L)
    assert(m(("crawl", "crawl")) == 1L)
    assert(m.size == 2) // doc 4 pairs with nothing
  }
}
