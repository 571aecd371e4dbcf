package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Document deduplication operators for a large-scale training-data
  * pipeline: exact (hash groupBy), MinHash+LSH, SimHash, and n-gram
  * Jaccard. The reference only maintains an exact email-uniqueness set
  * (`oltp_seeder.py:106-142`); these generalize that to content-level
  * near-duplicate detection at corpus scale.
  *
  * Scale design (100 TB): every step is a narrow map or a key-partitioned
  * shuffle. Nothing collects to the driver. The LSH band join and the
  * SimHash block join are equi-joins on short hash keys, so Catalyst
  * plans them as shuffled hash/sort-merge joins that scale with
  * executors; the quadratic all-pairs verify only ever runs on LSH/block
  * candidates, never the full corpus. Hashes are md5-based so oracle
  * engines reproduce them bit-for-bit.
  */
object Dedup {

  /** Distinct (doc_id, token) pairs — per-doc array_distinct, no
    * shuffle (see wordShingles). */
  def tokens(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(split(col(textCol), " "))).as("token"))

  /** Distinct word n-gram shingles per document (default 3-shingles).
    * Distinctness is enforced per-doc with `array_distinct` BEFORE the
    * explode — a narrow map, where a post-explode `.distinct()` would
    * cost a full shuffle of every (doc, shingle) row. */
  def wordShingles(docs: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    Fanout(docs, idCol)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("t"))
      .where(size(col("t")) >= n)
      .select(col("doc_id"), explode(shingleArray(n)).as("shingle"))

  /** The distinct word n-gram array over a token column named `t` —
    * the one shingle expression, shared by [[wordShingles]] and the
    * sentence-keyed shingles in [[decontaminateSpans]] so the gram
    * convention cannot drift between doc-level and span-level
    * consumers. */
  private def shingleArray(n: Int): Column = {
    val parts = (0 until n).map(k => s"t[i+$k]").mkString(", ")
    expr(s"array_distinct(transform(sequence(0, size(t)-$n), i -> concat_ws(' ', $parts)))")
  }

  /** The 60-bit md5-prefix hash every shingle consumer uses. */
  private def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Shingles pre-hashed to 60-bit ints (same md5-derived value the
    * minhash permutations consume): the persisted intermediate carries
    * 8-byte longs instead of ~20-char strings, set-intersection joins
    * compare ints, and downstream minhash skips the md5 entirely.
    * Jaccard over hashed shingles equals Jaccard over strings up to
    * md5 collisions — negligible, and identical in any engine
    * computing the same hash. */
  def shingleHashes(docs: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    wordShingles(docs, n, idCol, textCol).select(col("doc_id"),
      hash60(col("shingle")).as("shingle"))

  /** Exact dedup: keep the first doc_id per content hash (SURVEY W1/A8).
    *
    * ONE aggregation — no window, no join: `min(struct(doc_id, rest…))`
    * per content hash picks the whole surviving row, with map-side
    * partial combine collapsing a corpus-wide duplicated doc to one row
    * per map task before the shuffle (a keep-first window sorts every
    * copy on one unsplittable reducer instead). The pure-agg form also
    * nails the edges a join-back form misses: null-text docs keep their
    * survivor (groupBy keeps null keys; an equi-join silently drops
    * them), literally re-ingested duplicate rows collapse to one output
    * row, and no internal column name can collide with the caller's
    * schema. Requires orderable column types (struct min). */
  def exactKeepFirst(docs: DataFrame): DataFrame = {
    val ordered = col("doc_id") +:
      docs.columns.filterNot(_ == "doc_id").map(col).toIndexedSeq
    docs.groupBy(md5(col("text")).as("__pk"))
      .agg(min(struct(ordered: _*)).as("__r"))
      .select(docs.columns.map(c => col(s"__r.$c")).toIndexedSeq: _*)
  }

  /** 60-bit prime modulus for the minhash permutation family. */
  val MinhashP = 1152921504606846883L

  /** Deterministic coefficient < 2^30 for permutation j (md5-derived,
    * reproducible verbatim in the oracle engine). */
  def minhashCoef(j: Int, salt: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$salt:$j".getBytes("UTF-8"))
    ((d(0) & 0x3fL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** k independent min-hashes per doc over ONE md5 per shingle:
    * x = 60-bit int from md5(shingle), split into two 30-bit halves,
    * h_j = min((a_j*hi + b_j*lo + c_j) mod P) — a universal-hash
    * permutation family. Per shingle-row cost is one md5 plus k
    * multiply-adds instead of k md5s (~16× less hashing on the 100 TB
    * path); every product stays under 2^60 so the arithmetic is
    * overflow-free in any engine with checked 64-bit ints. */
  def minhashSignatures(shingles: DataFrame, k: Int = 16,
      hashed: Boolean = false): DataFrame = {
    val x =
      if (hashed) col("shingle")
      else conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long")
    val withHalves = shingles.select(col("doc_id"),
      shiftright(x, 30).as("xhi"), x.bitwiseAND(lit((1L << 30) - 1)).as("xlo"))
    val aggs = (0 until k).map { j =>
      val (a, b, c) = (minhashCoef(j, "a"), minhashCoef(j, "b"), minhashCoef(j, "c"))
      min((lit(a) * col("xhi") + lit(b) * col("xlo") + lit(c)) % MinhashP).as(s"h$j")
    }
    withHalves.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Per-doc collected shingle-hash arrays: (doc_id, ss, n) — what the
    * candidate-verify stage joins ([[jaccardVerify]]). Arrays are
    * bounded by document length, never corpus-sized. */
  def shingleArrays(shingles: DataFrame): DataFrame =
    shingles.groupBy("doc_id")
      .agg(collect_list("shingle").as("ss"), count(lit(1)).as("n"))

  /** [[minhashSignatures]] AND [[shingleArrays]] fused into ONE
    * doc-keyed aggregation: (doc_id, h0..h{k-1}, ss, n). The whole
    * MinHash pipeline needs exactly these two shapes — the signature
    * stage reads h*, the Jaccard verify reads ss/n — and the split
    * form shuffled the exploded (doc, shingle) table twice to get
    * them. The h_j mins stay codegen'd hash-agg expressions (a
    * narrow `transform`/`array_min` over collected arrays was
    * measured SLOWER: HOF lambdas evaluate interpreted, ~16M evals at
    * sf0.1); collect_list rides the same single shuffle. Signature
    * longs are bit-equal to [[minhashSignatures]] (DedupSpec law) for
    * every non-null `doc_id`. Rows with a null `doc_id` are dropped
    * here, while [[minhashSignatures]] keeps them as one merged
    * null-id signature row, so the two differ on such inputs. */
  def docSignatures(shingles: DataFrame, k: Int = 16): DataFrame = {
    val x = col("shingle")
    // Explicit null-id filter (r15): every consumer of this frame joins
    // on doc_id, so the optimizer INFERS isnotnull(doc_id) and pushes it
    // into SOME copies of the subtree but not others (p02's band path
    // got it, its verify path did not) — canonically different copies,
    // so ReuseExchange could not collapse them and the whole
    // scan+shingle+md5+minhash aggregation ran once per consumer.
    // Stating the filter once here makes every copy identical. A
    // null-id doc never survived any consumer (all join on doc_id), so
    // results are unchanged.
    val withHalves = shingles.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), x.as("shingle"),
        shiftright(x, 30).as("xhi"), x.bitwiseAND(lit((1L << 30) - 1)).as("xlo"))
    val aggs = (0 until k).map { j =>
      val (a, b, c) = (minhashCoef(j, "a"), minhashCoef(j, "b"), minhashCoef(j, "c"))
      min((lit(a) * col("xhi") + lit(b) * col("xlo") + lit(c)) % MinhashP).as(s"h$j")
    } ++ Seq(collect_list("shingle").as("ss"), count(lit(1)).as("n"))
    // (A post-aggregation repartition(doc_id) was probed here as a
    // shared stage boundary so consumers would not re-run the agg —
    // Spark elides it: the fanout below already hash-partitions by
    // doc_id, and a keyed repartition whose distribution is satisfied
    // inserts no exchange. The agg re-runs per consumer stage; the
    // shared fanout exchange above caps the duplication at the
    // post-shuffle work, and the one-scan plan is the 100 TB win.)
    withHalves.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: band b's key is md5 of the delimiter-joined signature
    * rows in that band. Docs sharing any band key are candidate pairs. */
  def lshBands(sig: DataFrame, bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val entries = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(j => col(s"h$j"))
      struct(lit(b).as("band"), md5(concat_ws(",", cols: _*)).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(entries: _*)).as("x"))
      .select(col("doc_id"), col("x.band").as("band"), col("x.bh").as("bh"))
  }

  /** Candidate pairs = docs sharing at least one LSH band key.
    *
    * `maxBucket` drops degenerate band buckets before the self-join, the
    * same bounded-recall guard as [[simhashPairs]]: boilerplate-heavy
    * corpora (shared headers/footers) put thousands of docs behind one
    * band hash, and an uncapped bucket of n docs emits n²/2 candidate
    * pairs — the one uncontrolled quadratic on the 100 TB path. Pairs
    * lost this way collide only on content shared by >maxBucket
    * documents, which is exactly the boilerplate LSH should not match on. */
  /** Drop every row of an over-populated bucket WITHOUT a window.
    *
    * A `count().over(partitionBy(bucket))` window SORT-BUFFERS every
    * row of the hot bucket on one reducer — hot-spotting on exactly
    * the degenerate bucket the cap exists to drop, and a window
    * partition can never be AQE-split. Instead: repartition ONCE by
    * the bucket keys (a single exchange both consumers reuse — without
    * it the sizes branch re-computes the whole upstream, since a
    * partial-agg exchange is not canonically equal to a row exchange),
    * count bucket sizes with a streaming hash aggregate over that
    * partitioning (no second shuffle), and semi-join the surviving
    * keys back with a shuffled-hash hint: the per-partition keys table
    * is the build side, so the hot bucket's rows STREAM through the
    * probe and drop — no sort, no buffering, linear in the partition.
    * Column order of `df` is preserved. */
  private[operators] def capBuckets(df: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame = {
    val dfR = df.repartition(keys.map(col): _*)
    val small = dfR.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bc"))
      .filter(col("bc") <= maxBucket)
      .select(keys.map(col): _*)
    dfR.join(small.hint("shuffle_hash"), keys)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** (band, bh) folded to ONE 8-byte join key: the md5 hex's 60-bit
    * prefix with the band id in the top bits. The candidate self-join
    * and the bucket cap then hash ONE long instead of an
    * (int, 32-char string) pair — measured ~15% off p02's candidate
    * stage at sf0.1. The public band shape (and the persisted band
    * index) keeps the full md5 string; this key is join-internal. A
    * 60-bit prefix collision would only merge two buckets for capping
    * or surface a candidate pair the exact verify stage re-checks
    * anyway (P ≈ 2⁻⁶⁰ per bucket pair — no realized-output risk). */
  private def bandKey: org.apache.spark.sql.Column =
    conv(substring(col("bh"), 1, 15), 16, 10).cast("long") +
      col("band").cast("long") * (1L << 60)

  /** `dedup = false` skips the final distinct — correct ONLY when the
    * consumer dedups itself (e.g. [[components]] distincts its edge
    * union): docs sharing several band keys emit one pair per shared
    * key, and a verify stage would emit duplicate output rows. Saves
    * one full exchange+aggregate of the candidate pairs. */
  def lshCandidates(bands: DataFrame, maxBucket: Int = 100,
      dedup: Boolean = true): DataFrame = {
    val keyed = bands.select(col("doc_id"), bandKey.as("bk"))
    val capped = capBuckets(keyed, Seq("bk"), maxBucket)
    val pairs = capped.as("x").join(capped.as("y"),
        col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
    if (dedup) pairs.distinct() else pairs
  }

  /** Exact Jaccard over shingle sets for pairs sharing >= 1 shingle.
    * Output: d1, d2, jaccard (double). `candidates` restricts the verify
    * to an LSH candidate set — the scale path; pass None for the exact
    * quadratic baseline (pairs sharing no shingle have Jaccard 0 and are
    * never emitted either way). */
  def jaccardPairs(shingles: DataFrame, candidates: Option[DataFrame] = None): DataFrame =
    candidates match {
      case Some(c) =>
        // Candidate-driven verify: fold each doc's (already distinct)
        // shingles into ONE array row, then two doc_id equi-joins bring
        // both sets onto the candidate pair and a hash-set
        // `array_intersect` counts the overlap in place. Work is
        // ∝ |candidates| × shingles-per-doc and the arrays are bounded
        // by document length (never corpus-sized) — vs the previous
        // form's two shuffles of the full (doc, shingle) table plus a
        // per-pair groupBy and two count joins (measured 2× slower at
        // sf0.1 with the identical result, r5).
        jaccardVerify(shingleArrays(shingles), c)
      case None =>
        // Exact quadratic baseline: inverted-index self-join
        // (∝ Σ per-shingle df²) — the oracle-shaped reference path.
        val counts = shingles.groupBy("doc_id").agg(count(lit(1)).as("n"))
        shingles.as("s1").join(shingles.as("s2"),
            col("s1.shingle") === col("s2.shingle") && col("s1.doc_id") < col("s2.doc_id"))
          .select(col("s1.doc_id").as("d1"), col("s2.doc_id").as("d2"))
          .groupBy("d1", "d2").agg(count(lit(1)).as("ninter"))
          .join(counts.withColumnRenamed("n", "n1"), col("d1") === col("doc_id")).drop("doc_id")
          .join(counts.withColumnRenamed("n", "n2"), col("d2") === col("doc_id")).drop("doc_id")
          .select(col("d1"), col("d2"),
            (col("ninter") / (col("n1") + col("n2") - col("ninter"))).as("jaccard"))
    }

  /** Candidate verify over a PRE-BUILT [[shingleArrays]] frame — the
    * form that shares the arrays with the signature stage (cache
    * `byDoc` once; signatures, and both sides of this join, read it). */
  def jaccardVerify(byDoc: DataFrame, c: DataFrame): DataFrame =
    c.join(byDoc.as("b1"), col("d1") === col("b1.doc_id"))
      .join(byDoc.as("b2"), col("d2") === col("b2.doc_id"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("b1.ss"), col("b2.ss"))).cast("long").as("ninter"),
        col("b1.n").as("n1"), col("b2.n").as("n2"))
      // band-hash collisions can pair docs sharing no shingle;
      // those were never emitted by the join-on-shingle form either
      .filter(col("ninter") > 0)
      .select(col("d1"), col("d2"),
        (col("ninter") / (col("n1") + col("n2") - col("ninter"))).as("jaccard"))

  /** Persist the MinHash/LSH band index for a corpus: one compact row
    * per (doc_id, band, bh). This is what makes dedup INCREMENTAL — a
    * later batch is deduped by banding only ITS text and joining
    * against these ~50-byte rows; the old corpus' text is never
    * rescanned (at 100 TB the index is ~4 rows × 50 B per doc vs the
    * documents themselves). Append each accepted batch's survivor bands
    * with [[appendBandIndex]]. */
  def writeBandIndex(docs: DataFrame, path: String, k: Int = 16,
      bands: Int = 4, rowsPerBand: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    lshBands(minhashSignatures(shingleHashes(docs, idCol = idCol, textCol = textCol),
        k, hashed = true), bands, rowsPerBand)
      .write.mode("overwrite").parquet(path)

  /** Append a new batch's bands (post-dedup survivors) to the index. */
  def appendBandIndex(docs: DataFrame, path: String, k: Int = 16,
      bands: Int = 4, rowsPerBand: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    lshBands(minhashSignatures(shingleHashes(docs, idCol = idCol, textCol = textCol),
        k, hashed = true), bands, rowsPerBand)
      .write.mode("append").parquet(path)

  /** Candidate matches for a NEW batch against the persisted band index
    * plus within the batch itself. Returns (new_id, other_id,
    * other_is_new): band collisions where `new_id` is from the batch and
    * `other_id` is either an indexed (old) doc or another batch doc.
    * The bucket cap counts old+new occupancy together, so a bucket hot
    * across the corpus stays dropped for new batches too. Only the new
    * batch's text is ever read — the old side contributes band rows. */
  def incrementalCandidates(newDocs: DataFrame, indexPath: String,
      maxBucket: Int = 100, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 16, bands: Int = 4,
      rowsPerBand: Int = 4): DataFrame =
    incrementalCandidatesBands(newDocs,
      newDocs.sparkSession.read.parquet(indexPath), maxBucket, idCol, textCol,
      k, bands, rowsPerBand)

  /** [[incrementalCandidates]] over an already-loaded band frame —
    * lets callers filter the index first (e.g. to earlier batches for
    * idempotent streaming replay). The k/bands/rowsPerBand parameters
    * MUST match the ones the index was written with
    * ([[writeBandIndex]]) — mismatched banding produces band hashes
    * that can never collide with the index, i.e. silent zero recall. */
  def incrementalCandidatesBands(newDocs: DataFrame, indexBands: DataFrame,
      maxBucket: Int = 100, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 16, bands: Int = 4,
      rowsPerBand: Int = 4): DataFrame = {
    val newBands = lshBands(minhashSignatures(
      shingleHashes(newDocs, idCol = idCol, textCol = textCol), k, hashed = true),
      bands, rowsPerBand)
    val idx = indexBands
      .select(col("doc_id"), col("band"), col("bh")).withColumn("is_new", lit(false))
    val all = capBuckets(
      newBands.withColumn("is_new", lit(true)).unionByName(idx),
      Seq("band", "bh"), maxBucket)
    val newSide = all.filter(col("is_new"))
      .select(col("doc_id").as("new_id"), col("band"), col("bh"))
    all.select(col("doc_id").as("other_id"), col("band"), col("bh"), col("is_new"))
      .join(newSide, Seq("band", "bh"))
      .filter(col("other_id") =!= col("new_id") &&
        // new-new collisions appear once (ordered), new-old always
        (!col("is_new") || col("new_id") < col("other_id")))
      .select(col("new_id"), col("other_id"), col("is_new").as("other_is_new"))
      .distinct()
  }

  /** Incremental dedup: survivors of a new batch against a persisted
    * index of the already-accepted corpus. A batch doc is dropped iff
    * (a) it band-matches an indexed doc, (b) it is in a within-batch
    * component that CONTAINS such a doc (transitive contamination —
    * otherwise A_old~B_new~C_new would keep C while a full recompute
    * drops it), or (c) it is not the min id of its clean within-batch
    * component. With batch ids above all indexed ids, the result equals
    * a full recompute over old ∪ new restricted to the new batch
    * (DedupSpec proves it). Append the survivors' bands via
    * [[appendBandIndex]] to accept the batch. */
  def dedupAgainstIndex(newDocs: DataFrame, indexPath: String,
      maxBucket: Int = 100, idCol: String = "doc_id",
      textCol: String = "text", maxIter: Int = 20, k: Int = 16,
      bands: Int = 4, rowsPerBand: Int = 4): DataFrame =
    dedupAgainstIndexBands(newDocs,
      newDocs.sparkSession.read.parquet(indexPath), maxBucket, idCol, textCol,
      maxIter, k, bands, rowsPerBand)

  /** [[dedupAgainstIndex]] over an already-loaded band frame. Banding
    * parameters must match the index's ([[incrementalCandidatesBands]]). */
  def dedupAgainstIndexBands(newDocs: DataFrame, indexBands: DataFrame,
      maxBucket: Int = 100, idCol: String = "doc_id",
      textCol: String = "text", maxIter: Int = 20, k: Int = 16,
      bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    // cand feeds three consumers (newNew into components' edge union,
    // oldMatched twice in the final joins); checkpointing runs the
    // shingle/minhash/band/index-probe pipeline ONCE into a bounded
    // (capped candidate pairs) durable table instead of once per read.
    ensureCheckpointDir(newDocs.sparkSession)
    val cand = incrementalCandidatesBands(newDocs, indexBands, maxBucket, idCol,
      textCol, k, bands, rowsPerBand)
      .checkpoint()
    val newNew = cand.filter(col("other_is_new"))
      .select(least(col("new_id"), col("other_id")).as("d1"),
        greatest(col("new_id"), col("other_id")).as("d2"))
      .distinct()
    val oldMatched = cand.filter(!col("other_is_new"))
      .select(col("new_id").as("id")).distinct()
    val comp = components(newNew, maxIter)
    val contaminated = comp.join(oldMatched, "id").select("comp").distinct()
    newDocs
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .join(oldMatched.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
      .join(contaminated.withColumnRenamed("comp", "ccomp"),
        col("comp") === col("ccomp"), "left_anti")
      .filter(col("comp").isNull || col("comp") === col(idCol))
      .drop("comp")
  }

  /** Connected components over an undirected candidate-pair list — the
    * survivor-selection stage that turns near-dup PAIRS (LSH/SimHash/
    * Jaccard output) into a deduplicated corpus. Transitive near-dups
    * (A~B, B~C) form one component, so exactly one survivor is kept
    * where pairwise keep-first would double-keep.
    *
    * Algorithm: min-label propagation with path halving, expressed as
    * DataFrame joins — each iteration (a) pulls the min neighbor label
    * and (b) replaces every label by its label's label, which doubles
    * the propagation distance per round, so convergence is
    * O(log diameter) iterations (near-dup components are almost always
    * cliques or short chains — 2-4 rounds in practice). Each iteration
    * is CHECKPOINTED (reliable, not cached): lineage stays bounded, no
    * persisted RDDs are left behind, and a lost executor recomputes
    * from the checkpoint, not from the raw pair join. Convergence is
    * read from an `observe()` metric collected during the checkpoint
    * job itself (r14) — no separate per-iteration probe job — and the
    * metric is a LOOKAHEAD (r15): it tests whether the NEXT round
    * would change anything, so the classic confirming round never
    * runs; all data stays distributed — labels are (id, comp) pairs,
    * orders of magnitude smaller than the corpus at 100 TB.
    *
    * Checkpoint location: an unset checkpoint dir falls back to
    * java.io.tmpdir — fine for local mode; a CLUSTER deployment must
    * `setCheckpointDir` to shared durable storage (HDFS/S3) or the
    * lost-executor recovery property does not hold. `Sessions` enables
    * `spark.cleaner.referenceTracking.cleanCheckpoints` so finished
    * iterations' files are GC-collected on long-running streams.
    *
    * Returns (id, comp) for every id appearing in `pairs`, where comp
    * is the component's minimum id. Ids in no pair are absent (their
    * component is trivially themselves — see [[survivors]]). */
  /** Ensure a reliable checkpoint dir is set (no-op when the caller
    * already configured one). Local mode falls back to java.io.tmpdir;
    * a CLUSTER deployment must `setCheckpointDir` to shared durable
    * storage first. Shared by [[components]] and `pipelines.Curate` so
    * neither depends on the other having set it as a side effect. */
  def ensureCheckpointDir(spark: org.apache.spark.sql.SparkSession): Unit =
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(
        System.getProperty("java.io.tmpdir") + "/graft-checkpoints")

  def components(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    ensureCheckpointDir(spark)
    // Both edge directions come from ONE read of `pairs` (explode of a
    // 2-element array), not a self-union: a union's two branches sit
    // past joins/aggregations where ReuseExchange cannot collapse
    // them, so every caller's candidate pipeline would run once per
    // branch (persisting instead pins the pairs but serializes a
    // cache-materialization job that measured ~1 s slower on p18 at
    // sf0.1 — the explode form is single-pass AND stays codegen'd).
    val edges = pairs
      .select(explode(array(
        struct(col("d1").cast("long").as("src"), col("d2").cast("long").as("dst")),
        struct(col("d2").cast("long").as("src"), col("d1").cast("long").as("dst"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .checkpoint()
    // Seed labels one propagation ahead — comp0 = min(id, min neighbor):
    // pair and star components (the dominant near-dup shapes) are
    // already converged at init, so they cost one confirming round
    // instead of two.
    // No checkpoint on the seed: its lineage is ONE aggregation over
    // the already-checkpointed edges, so the two iteration-1 consumers
    // re-derive it from the checkpoint cheaply. Measured r6 at sf0.1
    // (isolated, interleaved with baseline to control host drift):
    // p18 3.1-3.6 s vs 3.9-4.2 s with the seed checkpoint; p20 within
    // the noise band either way. At cluster scale it removes one
    // durable (id, comp) table write per dedup with identical failure
    // recovery, since the seed is deterministic from the checkpointed
    // edges.
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("id"), least(col("id"), col("nmin")).as("comp"))
    // Lookahead convergence (r15): each round's checkpoint CARRIES the
    // next round's neighbor-min as an extra `ncomp` column, computed
    // inside the same checkpoint job, and the observed metric asks
    // "would another propagation change any label?" (ncomp < comp
    // anywhere). That test is EXACT, not heuristic: labels are
    // non-increasing, comp(u) <= u, and every label is an id inside
    // its own component, so "no propagation change" forces equal
    // labels across every (symmetric) edge, hence a constant label
    // per component which can only be the component min — and then
    // path halving is the identity too. Net effect vs the r14 loop
    // (which observed "did THIS round change anything"): the final
    // confirming round — a full neighbor-min + propagation + halving
    // + checkpoint that by definition changes nothing — disappears
    // for every input needing >= 1 real round; already-converged
    // seeds (pair/star graphs) still pay exactly one round, now with
    // the small lookahead aggregation riding it. Rounds 2+ read the
    // carried `ncomp` instead of re-deriving the neighbor-min join,
    // so steady-state per-round work is unchanged.
    //
    // withNbrMin consumes `lbl` exactly ONCE: the joined edge stream
    // (src, dst, comp(src)) is exploded into a neighbor-contribution
    // row for dst AND an own-label row for src, and one aggregation
    // yields (id, comp, ncomp) directly — no join-back of the
    // aggregate onto the label table. (A first cut kept the aggregate
    // + join-back shape, which planned the un-pinned halving subtree
    // twice per round: p20 taskTime 45 s -> 58 s, jobs 23 -> 27; a
    // lazy localCheckpoint pin was worse still — the pinned subtree
    // plans without AQE, the r14 persist-before-checkpoint lesson.)
    // Every id appears as a src of the symmetrized edge list, so the
    // own-label row exists for every labelled node and `comp` is never
    // null; ncomp is null-guarded anyway for safety.
    def withNbrMin(lbl: DataFrame): DataFrame =
      edges.join(lbl, col("src") === col("id"))
        .select(explode(array(
          struct(col("dst").as("node"), col("comp").as("v"), lit(true).as("nb")),
          struct(col("src").as("node"), col("comp").as("v"), lit(false).as("nb"))))
          .as("c"))
        .groupBy(col("c.node").as("id"))
        .agg(min(when(!col("c.nb"), col("c.v"))).as("comp"),
          min(when(col("c.nb"), col("c.v"))).as("ncomp"))
    var carried: DataFrame = withNbrMin(labels) // (id, comp, ncomp)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prop = carried.select(col("id"),
        least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp2"))
      // Path halving: comp := comp(comp). Every comp value is itself a
      // labelled vertex, so the self-join resolves one more hop. Both
      // halving inputs are one narrow projection above `carried` (the
      // seed aggregation in round 1, the prior checkpoint after), so
      // re-deriving prop on each side is the cheap checkpoint re-read,
      // not a recompute of the round's heavy work.
      val halved = prop
        .join(prop.select(col("comp2").as("cc2"), col("id").as("comp2")),
          Seq("comp2"), "left")
        .select(col("id"), coalesce(col("cc2"), col("comp2")).as("comp"))
      val obs = new org.apache.spark.sql.Observation(s"cc_conv_$iter")
      val next = withNbrMin(halved)
        .observe(obs, coalesce(max(col("ncomp") < col("comp")), lit(false))
          .as("wouldchg"))
        .checkpoint()
      converged = !obs.get("wouldchg").asInstanceOf[Boolean]
      carried = next
      labels = next.select(col("id"), col("comp"))
      iter += 1
    }
    // Exhausting maxIter means the labels are only partially converged:
    // one near-dup component may still carry several labels, so
    // downstream survivor selection would keep several "survivors" of
    // the same cluster. Partial labels must never flow downstream with
    // exit code 0 — a WARN line lost in executor noise is not a signal,
    // so this throws. Path halving converges in O(log diameter)
    // rounds, so the default maxIter=20 covers any graph a real corpus
    // can produce; hitting this means the input is pathological, not
    // that the limit is merely tight.
    if (!converged)
      throw new IllegalStateException(
        s"components() exhausted maxIter=$maxIter before converging; " +
          "labels are partial and survivor selection over them would keep " +
          "duplicate survivors. Raise maxIter (diameter of the pair " +
          "graph exceeds ~2^iter under path halving).")
    labels
  }

  /** Deduplicated corpus from a candidate-pair graph: every doc in no
    * pair survives; each component keeps its minimum-id doc. The last
    * stage of the dedup pipeline — LSH emits pairs, this emits the
    * corpus (the reference's insert-time email dedup is the key-level
    * analog, `oltp_seeder.py:106-142`). */
  def survivors(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
      maxIter: Int = 20): DataFrame =
    docs.join(components(pairs, maxIter).withColumnRenamed("id", idCol),
        Seq(idCol), "left")
      .filter(col("comp").isNull || col("comp") === col(idCol))
      .drop("comp")

  /** Survivor selection with a QUALITY policy: like [[survivors]], but
    * each near-dup component keeps its highest-scoring doc (tiebreak:
    * lowest id) instead of blindly keeping the lowest id — the
    * production rule when duplicates differ in extraction quality (a
    * clean article vs its boilerplate-ridden mirror: min-id keeps
    * whichever was crawled first; this keeps the better one).
    * `scores` must carry `idCol` + `scoreCol` and cover every doc —
    * docs without a score row are dropped from the output (and from
    * winner contention), so feed a total scorer
    * ([[graft.functions.TextAnalysis.qualityScore]] over non-null text,
    * or `qualityFeatures`' coalesced form).
    *
    * Scale shape: [[components]] as usual, then ONE comp-keyed
    * partial-aggregable `min(struct(-score, id))` picks each
    * component's winner — no window, no per-component sort, so a
    * pathological million-copy cluster costs its share of one groupBy.
    * Output: idCol, comp, score, keep — one row per scored doc. */
  def survivorsByScore(docs: DataFrame, pairs: DataFrame, scores: DataFrame,
      idCol: String = "doc_id", scoreCol: String = "score",
      maxIter: Int = 20): DataFrame = {
    val lab = docs.select(col(idCol))
      .join(components(pairs, maxIter).withColumnRenamed("id", idCol),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("comp"))
    val sc = scores.select(col(idCol), col(scoreCol).cast("double").as("__s"))
    val win = lab.join(sc, idCol)
      .groupBy("comp")
      .agg(min(struct((-col("__s")).as("ns"), col(idCol).as("id"))).as("w"))
      .select(col("comp"), col("w.id").as("__winner"))
    lab.join(sc, Seq(idCol))
      .join(win, Seq("comp"), "left")
      .select(col(idCol), col("comp"), col("__s").as(scoreCol),
        (col(idCol) === coalesce(col("__winner"), col(idCol))).as("keep"))
  }

  /** [[dedupCorpus]]'s pipeline with the [[survivorsByScore]] policy,
    * returning the per-doc VERDICT frame instead of the surviving
    * corpus (callers keep the accounting: comp label, score, keep).
    * Same resource discipline as [[dedupCorpus]] ([[sharedShingles]]:
    * lazy when an exchange shares the subtree, persisted otherwise);
    * the returned plan touches only `docs`, `scores`, and checkpointed
    * labels. Output: idCol, comp, score, keep. */
  def dedupCorpusByScore(docs: DataFrame, scores: DataFrame,
      threshold: Double = 0.5, maxBucket: Int = 100,
      idCol: String = "doc_id", textCol: String = "text",
      scoreCol: String = "score", maxIter: Int = 20): DataFrame = {
    val (sh, release) = sharedShingles(docs, idCol, textCol)
    try {
      ensureCheckpointDir(docs.sparkSession)
      val verified = jaccardPairs(sh,
          Some(lshCandidates(lshBands(minhashSignatures(sh, hashed = true)), maxBucket)))
        .filter(col("jaccard") >= threshold)
        .select(col("d1"), col("d2"))
        .checkpoint()
      survivorsByScore(docs, verified, scores, idCol, scoreCol, maxIter)
    } finally release()
  }

  /** Cache-vs-recompute break-even for [[sharedShingles]], in input
    * bytes (the optimizer's own `sizeInBytes` statistic). Measured at
    * both ends: 594 KB input (sf0.1) — lazy beats the persist by ~1 s
    * (the eager cache-materialization job + InMemory re-reads cost
    * more than re-running the cheap explode per consumer, 3.2-3.4 →
    * 2.2-2.4 s); 84 MB input (500k-doc stress) — the persist wins big
    * (three lazy references each re-run the full explode+hash even
    * when a [[Fanout]] exchange shares the doc shuffle, because the
    * explode sits ABOVE it: 20.8 → 46 s lazy-with-exchange, 213 s
    * lazy-without). 16 MB sits between the measured regimes. */
  private[graft] val ShingleCacheBytes = 16L << 20

  /** The shingle frame plus its sharing discipline, decided from plan
    * statistics (the r8 form): inputs under [[ShingleCacheBytes]] stay
    * LAZY — every consumer lives inside the one verified-pair
    * checkpoint action and the explode is cheap to re-run — while
    * larger inputs persist the exploded hashed shingles until the
    * checkpoint lands (the r7 discipline; at cluster scale this is
    * the durable-intermediate pattern, and the cache holds hashed
    * longs, not text). The probe is pure planning (never executes). */
  private def sharedShingles(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, () => Unit) = {
    val sh = shingleHashes(docs, idCol = idCol, textCol = textCol)
    val small = !docs.isStreaming &&
      docs.queryExecution.optimizedPlan.stats.sizeInBytes < ShingleCacheBytes
    if (small) (sh, () => ())
    else {
      val p = sh.persist()
      p.count()
      (p, () => { p.unpersist(); () })
    }
  }

  /** N-gram commonality — the per-document memorization-risk /
    * boilerplate score: what fraction of a doc's distinct word
    * `n`-grams occur in at least `minDf` documents corpus-wide. High
    * fraction = the doc is mostly text the model will see many times
    * (templates, licenses, syndicated wire copy) — the slice
    * memorization audits sample first, and a gate the pairwise dedup
    * tier cannot express (a doc can be 80% boilerplate without being
    * a near-dup of any single other doc). Work: the [[wordShingles]]
    * narrow distinct explode, one gram-keyed df count (partial-
    * aggregable), one gram-keyed join back, one doc-keyed rollup — the
    * r64/bm25 df shape. At 100 TB the df table can be replaced by a
    * CMS/Bloom of high-df grams ([[graft.functions.Sketch]]) to skip
    * the join's gram-keyed exchange; this exact form is the audit
    * baseline. Sub-n docs keep a visible zero row.
    * Output: doc_id, n_grams, n_common, common_frac (4dp). */
  def ngramCommonality(docs: DataFrame, n: Int = 8, minDf: Long = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val grams = wordShingles(docs, n, idCol, textCol)
    val df = grams.groupBy("shingle")
      .agg(count(lit(1)).cast("long").as("df"))
    val perDoc = grams.join(df, Seq("shingle"))
      .groupBy("doc_id").agg(
        count(lit(1)).cast("long").as("n_grams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_common"))
    docs.select(col(idCol).as("doc_id")).distinct()
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        when(col("n_grams") > 0,
          round(col("n_common").cast("double") /
            col("n_grams").cast("double"), 4)).as("common_frac"))
  }

  /** Cross-source duplication-leakage matrix — the governance report a
    * multi-source corpus needs before mixing: for every unordered pair
    * of sources, how many verified near-dup pairs (exact Jaccard ≥
    * `threshold` over LSH candidates — the p02 machinery, banded and
    * hot-bucket-capped, so no quadratic escapes) CROSS that boundary.
    * Off-diagonal mass means one source is republishing another
    * (syndication, mirrors, licensed-set overlap) — which breaks
    * held-out splits drawn "by source" and double-spends the mixing
    * budget; the diagonal is ordinary within-source duplication. The
    * source lookup is one doc-keyed equi-join per pair side onto the
    * (id, source) projection — ~tens of bytes per doc, never text —
    * and the output is bounded by sources², summary-sized at any
    * corpus scale. Output: source_a ≤ source_b, n_pairs. */
  def crossSourceLeakage(docs: DataFrame, groupCol: String = "source",
      threshold: Double = 0.5, maxBucket: Int = 100,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      col(groupCol).as("src"), col(textCol).as("text"))
    val byDoc = docSignatures(shingleHashes(base))
    val pairs = jaccardVerify(byDoc, lshCandidates(lshBands(byDoc),
        maxBucket))
      .filter(col("jaccard") >= threshold)
    val src = base.select(col("doc_id"), col("src"))
    pairs
      .join(src.select(col("doc_id").as("d1"), col("src").as("s1")), Seq("d1"))
      .join(src.select(col("doc_id").as("d2"), col("src").as("s2")), Seq("d2"))
      .groupBy(least(col("s1"), col("s2")).as("source_a"),
        greatest(col("s1"), col("s2")).as("source_b"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
  }

  /** The whole near-dup dedup pipeline as one call: shingle → minhash →
    * LSH candidates → exact-Jaccard verify at `threshold` → connected
    * components → one survivor per component. The shingle frame's
    * sharing discipline is plan-decided by [[sharedShingles]]: lazy
    * (ReuseExchange sharing) when the subtree ends in an exchange,
    * persisted until the verified-pair checkpoint otherwise — both
    * directions measured, see sharedShingles.
    * (The fused [[docSignatures]] intermediate was measured here and
    * kept OUT: see SCALE.md r6 notes; at 100 TB the sig shuffle after
    * map-side combine is ~one row per doc, so the extra shuffle the
    * fused form saves is negligible.) */
  def dedupCorpus(docs: DataFrame, threshold: Double = 0.5,
      maxBucket: Int = 100, idCol: String = "doc_id",
      textCol: String = "text", maxIter: Int = 20): DataFrame = {
    val (sh, release) = sharedShingles(docs, idCol, textCol)
    try {
      val bands = lshBands(minhashSignatures(sh, hashed = true))
      // The verified pair graph is CHECKPOINTED before components():
      // components reads its input twice (the undirected edge union),
      // and the two references are joins past the last exchange, so
      // ReuseExchange cannot collapse them — without this the whole
      // candidate+verify stage runs twice into the edges checkpoint
      // (measured at 500k docs: the one-plan form ran 2-4x the staged
      // sum; see SCALE.md "Scale stress (r6)"). The checkpoint is
      // ~16 bytes/pair — bounded by the verified candidate set, orders
      // below the corpus — and durable, so the consumer's lineage
      // starts here, not at the raw text.
      ensureCheckpointDir(docs.sparkSession)
      val verified = jaccardPairs(sh, Some(lshCandidates(bands, maxBucket)))
        .filter(col("jaccard") >= threshold)
        .select(col("d1"), col("d2"))
        .checkpoint()
      val comp = components(verified, maxIter)
      docs.join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
        .filter(col("comp").isNull || col("comp") === col(idCol))
        .drop("comp")
    } finally release()
  }

  /** 60-bit SimHash over distinct tokens. Token hash = first 15 hex chars
    * of md5 as an integer; simhash bit b is set iff the per-bit signed
    * vote sum is positive. 60 bits keeps the value clear of the sign bit
    * in every engine. */
  def simhash(docs: DataFrame, bits: Int = 60): DataFrame = {
    val tok = tokens(docs)
      .withColumn("h", conv(substring(md5(col("token")), 1, 15), 16, 10).cast("long"))
    val sim = (0 until bits).map { b =>
      when(sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)) > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    tok.groupBy("doc_id").agg(sim.as("simhash"))
  }

  /** [[simhash]] with PACKED vote counters: instead of 60 signed-sum
    * aggregate buffers, 20 longs each carrying three 20-bit ONES
    * counters (bit b set ⇔ 2·ones_b > n ⇔ the ±1 vote sum is
    * positive — identical output, DedupSpec law). One third the
    * aggregation state and per-row when-branches; the unpack runs on
    * one row per doc. Counters overflow only past 2^20 (~1M) distinct
    * tokens in one document — guarded with an explicit error, not
    * silent corruption. */
  def simhashPacked(docs: DataFrame, bits: Int = 60): DataFrame = {
    require(bits % 3 == 0, "packed simhash needs bits divisible by 3")
    val tok = tokens(docs)
      .withColumn("h", conv(substring(md5(col("token")), 1, 15), 16, 10).cast("long"))
    val aggs = (0 until bits by 3).map { g =>
      val t0 = shiftright(col("h"), g).bitwiseAND(lit(1L))
      val t1 = shiftright(col("h"), g + 1).bitwiseAND(lit(1L)) * lit(1L << 20)
      val t2 = shiftright(col("h"), g + 2).bitwiseAND(lit(1L)) * lit(1L << 40)
      sum(t0 + t1 + t2).as(s"p$g")
    } :+ count(lit(1)).as("n")
    val agged = tok.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val mask = lit((1L << 20) - 1)
    val sim = (0 until bits).map { b =>
      val ones = shiftright(col(s"p${(b / 3) * 3}"), 20 * (b % 3)).bitwiseAND(mask)
      when(ones * 2 > col("n"), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    agged
      .select(col("doc_id"),
        when(col("n") < (1L << 20), sim)
          .otherwise(raise_error(concat(lit("simhashPacked counter overflow: doc "),
            col("doc_id"), lit(" has "), col("n"), lit(" distinct tokens (>= 2^20)"))))
          .as("simhash"))
  }

  /** Near-dup pairs with Hamming distance <= maxDist, found via the
    * pigeonhole blocking scheme: split the fingerprint into `blocks`
    * equal bit-blocks; any pair within maxDist <= blocks-1 must agree on
    * at least one block, so an equi-join per block finds all candidates
    * without the quadratic cross join.
    *
    * `maxBucket` drops degenerate buckets (more than that many docs
    * sharing a block value): corpora with a shared vocabulary produce
    * correlated simhashes, and one hot bucket turns the block join
    * quadratic (measured: a 1815-doc bucket -> 8.3M candidate pairs).
    * Skipping hot buckets is the standard bounded-recall tradeoff —
    * pairs lost this way collide only on patterns shared by >maxBucket
    * documents. */
  def simhashPairs(sim: DataFrame, maxDist: Int = 5,
      blocks: Int = 6, bits: Int = 60, maxBucket: Int = 100): DataFrame = {
    val w = bits / blocks
    val exploded = sim.select(col("doc_id"), col("simhash"),
      explode(array((0 until blocks).map(k =>
        struct(lit(k).as("blk"),
          shiftright(col("simhash"), k * w).bitwiseAND(lit((1L << w) - 1)).as("bkey"))): _*)).as("x"))
      .select(col("doc_id"), col("simhash"), col("x.blk").as("blk"), col("x.bkey").as("bkey"))
    simhashBlockJoin(exploded, maxDist, maxBucket)
  }

  /** Shared candidate join for the simhash blocking schemes: cap hot
    * buckets, equi-join on (blk, bkey), rerank by exact bit distance. */
  private def simhashBlockJoin(exploded: DataFrame, maxDist: Int,
      maxBucket: Int): DataFrame = {
    val blocked = capBuckets(exploded, Seq("blk", "bkey"), maxBucket)
    blocked.as("x").join(blocked.as("y"),
        col("x.blk") === col("y.blk") && col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** [[simhashPairs]] for CORPUS scale. Single-block keys have only
    * `2^(bits/blocks)` bucket values per block (1024 at the 60/6
    * defaults), so beyond ~`1024 * maxBucket` docs (~100k at the
    * defaults) the AVERAGE bucket exceeds the cap, every bucket is
    * dropped, and recall silently collapses to zero — the cap and the
    * key width must scale together (the same defect tools.Stress
    * caught live in lshNearDup at 250k vectors, r6).
    *
    * This variant keys candidates on ordered PAIRS of blocks (the
    * Manku/Google multi-table construction): with `maxDist + 2`
    * blocks, a pair within `maxDist` differs in at most `maxDist`
    * blocks, so at least TWO blocks are untouched and some block-PAIR
    * key matches — recall is the same pigeonhole guarantee. Key space
    * grows from `2^w` to `2^(2w)` values per table (~65k at 60-bit /
    * 7-block = 8-bit blocks), pushing the collapse point from ~100k
    * docs to ~6.5M per 100-cap — and the doc-side cost is
    * C(maxDist+2, 2) explode rows (21 at the defaults) vs `blocks`
    * (6), a ~3.5× candidate-stage constant for unbounded corpus
    * reach. [[simhashPairsAuto]] picks the scheme from the corpus
    * size. Block pairs use only `blocks * w` of the `bits` (56 of 60
    * at the defaults); the pigeonhole argument needs no more — at
    * most maxDist of the COVERED blocks can change either way. */
  def simhashPairsScaled(sim: DataFrame, maxDist: Int = 5,
      bits: Int = 60, maxBucket: Int = 100): DataFrame = {
    val blocks = maxDist + 2
    val w = bits / blocks
    require(w >= 4, s"simhashPairsScaled needs bits/(maxDist+2) >= 4 (got $w)")
    def blockKey(k: Int) =
      shiftright(col("simhash"), k * w).bitwiseAND(lit((1L << w) - 1))
    val combos = for { i <- 0 until blocks; j <- i + 1 until blocks } yield
      struct(lit(i * blocks + j).as("blk"),
        (blockKey(i) * lit(1L << w) + blockKey(j)).as("bkey"))
    val exploded = sim.select(col("doc_id"), col("simhash"),
        explode(array(combos: _*)).as("x"))
      .select(col("doc_id"), col("simhash"), col("x.blk").as("blk"), col("x.bkey").as("bkey"))
    simhashBlockJoin(exploded, maxDist, maxBucket)
  }

  /** Scheme selection by corpus size: single-block keys while the
    * expected bucket is comfortably under the cap (cheaper candidate
    * stage), block-pair keys beyond. The switch point `2^w * maxBucket
    * / 4` keeps the expected single-block bucket ≤ maxBucket/4 — hot
    * buckets run well above the average, so switching at the average
    * would already be deep into recall loss. Costs one count(). */
  def simhashPairsAuto(sim: DataFrame, maxDist: Int = 5,
      blocks: Int = 6, bits: Int = 60, maxBucket: Int = 100): DataFrame = {
    val w = bits / blocks
    if (sim.count() <= (1L << w) * maxBucket / 4)
      simhashPairs(sim, maxDist, blocks, bits, maxBucket)
    else simhashPairsScaled(sim, maxDist, bits, maxBucket)
  }

  /** Benchmark decontamination: flag training documents that share word
    * n-grams with a held-out evaluation set (the GPT-3/Pile-style
    * n-gram overlap check — a training corpus must not contain eval
    * data). Returns every training doc with the count of DISTINCT
    * eval n-grams it contains (0 = clean).
    *
    * Scale design (100 TB): the training side is one narrow
    * shingle pass; the eval side is tiny relative to the corpus, so its
    * distinct shingle set is broadcast (`broadcastEval=false` falls
    * back to a shuffle join when the eval set is itself huge). Work is
    * proportional to training shingles — no pairwise compare, and the
    * contaminated-gram count is a partial-aggregable groupBy. */
  def contamination(docs: DataFrame, evalDocs: DataFrame, n: Int = 5,
      broadcastEval: Boolean = true, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val trainSh = shingleHashes(docs, n, idCol, textCol)
    val evalSh0 = shingleHashes(evalDocs, n, idCol, textCol)
      .select(col("shingle")).distinct()
    val evalSh = if (broadcastEval) broadcast(evalSh0) else evalSh0
    val hits = trainSh.join(evalSh, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_contaminated"))
    docs.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .withColumn("contaminated", col("n_contaminated") > 0)
  }

  /** Eval-side contamination REPORT — the appendix table every model
    * release publishes (GPT-3's "dirty eval examples" analysis): for
    * each EVAL document, the fraction of its distinct n-grams that
    * appear anywhere in the training corpus, plus the thresholded
    * verdict. The complement of [[contamination]]: that one flags
    * TRAIN docs for dropping; this one measures how compromised each
    * eval EXAMPLE is, so benchmark numbers can be reported on the
    * clean slice.
    *
    * Scale shape: the training side reduces to DISTINCT shingle
    * hashes in its scan-side aggregation (8 bytes per unique n-gram,
    * no text leaves the scan); the join is shingle-keyed against the
    * (small) eval side, and the per-eval-doc counts partial-aggregate.
    * Eval docs with fewer than `n` tokens have no n-grams and are
    * absent — report them as unmeasurable upstream, not as clean.
    * Output: doc_id, n_grams, n_hit, overlap_frac (4dp), contaminated. */
  def contaminationReport(docs: DataFrame, evalDocs: DataFrame, n: Int = 8,
      threshold: Double = 0.5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(threshold >= 0 && threshold <= 1,
      s"threshold $threshold outside [0, 1]")
    val trainSh = shingleHashes(docs, n, idCol, textCol)
      .select(col("shingle")).distinct()
    val evalSh = shingleHashes(evalDocs, n, idCol, textCol)
    val perDoc = evalSh.groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_grams"))
    val hits = evalSh.join(trainSh, "shingle")
      .groupBy("doc_id").agg(count(lit(1)).cast("long").as("n_hit"))
    perDoc.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("overlap_frac", round(col("n_hit") / col("n_grams"), 4))
      .withColumn("contaminated", col("overlap_frac") >= threshold)
  }

  /** [[contamination]] at the scale where even the eval set's DISTINCT
    * shingle table is too big to broadcast as rows: a Bloom filter over
    * the eval shingles replaces the broadcast join. The filter is built
    * with one tree-aggregation (the driver holds the BITS of the
    * sketch — sized by `fpp` and the eval-shingle count, never by the
    * corpus), ships to every executor once, and the training side stays
    * one narrow shingle pass with a per-row membership probe.
    *
    * Semantics vs the exact form: NO false negatives (every truly
    * contaminated n-gram is flagged), and a doc-level false-positive
    * only when a clean doc has some shingle colliding in the filter
    * (probability ≤ shingles-per-doc × fpp) — the standard
    * contamination-screen trade: the flagged set is a slight superset,
    * re-checkable exactly with [[contamination]] on the (tiny) flagged
    * slice. The membership probe is a closure over the BROADCAST
    * sketch — one hash per row against per-executor shared bits.
    * Porting it to the codegen'd `BloomFilterMightContain` over a
    * literal-bytes sketch (the [[graft.operators.Joins]] probe) was
    * A/B-measured and REJECTED: interleaved same-JVM reps at 200k
    * generated docs ([[graft.tools.BdeconProbe]]) put the expression
    * form 0.5–1.2 s SLOWER per run (udf min 1.28 s vs expr min
    * 1.85 s; the udf won 6 of 7 interleaved pairs across two
    * sessions) — a literal ~1.2 MB sketch rides the serialized plan
    * of every job and re-enters codegen per query, a fixed cost the
    * one-probe-per-row closure never pays, while the broadcast ships
    * once per executor. [[Joins.bloomReducedJoin]] keeps the
    * expression path deliberately: there the probe must sit INSIDE
    * the fact scan stage to cut the exchange, which a UDF cannot.
    * DedupSpec proves the superset property and bounds the
    * false-positive rate on a clean corpus.
    * Output: doc_id, n_flagged, contaminated. */
  def contaminationBloom(docs: DataFrame, evalDocs: DataFrame, n: Int = 5,
      fpp: Double = 0.01, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val evalSh = shingleHashes(evalDocs, n, idCol, textCol)
      .select(col("shingle")).distinct()
    // expectedNumItems from a cheap count of the (already distinct)
    // eval shingles: exact sizing keeps the realized fpp at the target.
    val nEval = math.max(1L, evalSh.count())
    val bf = evalSh.stat.bloomFilter("shingle", nEval, fpp)
    val bfB = spark.sparkContext.broadcast(bf)
    val might = udf((s: Long) => bfB.value.mightContainLong(s))
    val trainSh = shingleHashes(docs, n, idCol, textCol)
    val hits = trainSh
      .groupBy("doc_id")
      .agg(sum(when(might(col("shingle")), 1L).otherwise(0L)).as("n_flagged"))
    docs.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_flagged"), lit(0L)).as("n_flagged"))
      .withColumn("contaminated", col("n_flagged") > 0)
  }

  /** Distinct winnowed character-fingerprints per document — the
    * exploded row form of `TextAnalysis.fingerprints`' selection
    * (Schleimer et al., SIGMOD'03): hash every char k-gram (md5), keep
    * the lexicographic min of each sliding window of w positions,
    * distinct per doc. Same two narrow array expressions as the
    * summary operator (DedupSpec pins the per-doc count equal to its
    * n_fp, so the two cannot drift); docs shorter than k (incl. null
    * text) emit nothing — here via a plain `where` rather than
    * [[graft.functions.TextAnalysis.fingerprints fingerprints]]'
    * empty-array `when` guards, deliberately: the exploded form drops
    * short docs either way, and a `when` wrapper around the hash
    * array DEFEATS Spark's common-subexpression elimination
    * (conditional branches are excluded from it), so after project
    * collapse the k-gram array re-evaluates once PER WINDOW POSITION
    * — measured O(len²) md5s, 21 s → 7 min at sf0.1 for the guarded
    * form of this very chain. Output: doc_id, fp. */
  def winnowedFingerprints(docs: DataFrame, k: Int = 5, w: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // Window-min via a sparse table (two halving least() levels),
    // never `array_min(slice(hs, j, w))`: the slice form allocates a
    // w-element array PER POSITION (corpus chars x w copies); the
    // sparse form is ceil(log2 w) allocation-free least() transforms
    // with clamped element_at lookups (a duplicated tail element never
    // changes a min, so clamping to size(x) preserves the partial tail
    // windows exactly). Selected values are identical; measured 3.0 ->
    // 2.6 s at sf0.1 before fan-out, and it compounds after.
    var lvl = "hs"
    var span = 1
    var out = Fanout(docs, idCol)
      .select(col(idCol).as("doc_id"), col(textCol).as("t"))
      .where(length(col("t")) >= k)
      .select(col("doc_id"),
        expr(s"transform(sequence(1, length(t)-${k - 1}), i -> md5(substring(t, i, $k)))").as("hs"))
    while (span < w) {
      val step = math.min(span, w - span)
      val nxt = s"m${span + step}"
      out = out.select(col("doc_id"),
        expr(s"transform($lvl, (x, i) -> least(x, element_at($lvl, least(i + 1 + $step, size($lvl)))))")
          .as(nxt))
      lvl = nxt
      span += step
    }
    out.select(col("doc_id"),
      explode(expr(s"array_distinct($lvl)")).as("fp"))
  }

  /** Winnowed-fingerprint overlap pairs — the MOSS pipeline
    * (local fingerprinting → shared-fingerprint matching): doc pairs
    * sharing at least `minShared` winnowed fingerprints, with the
    * winnowing guarantee that any shared character run of length ≥
    * w + k − 1 contributes at least one shared fingerprint. The
    * CHARACTER-level candidate generator beside the word-shingle
    * MinHash family: word tokenization never enters, so copies that
    * mangle whitespace or word boundaries still collide.
    *
    * Fingerprints appearing in more than `maxDf` documents are
    * dropped first — MOSS's own "ignore common fingerprints" rule
    * (frequent k-grams with small hashes win many windows and would
    * pair everything with everything). The df filter is ALSO the
    * scale bound: the pair join fans out at most maxDf² per
    * fingerprint, so work is ∝ corpus fingerprints × maxDf, never
    * quadratic in the corpus. Exact and deterministic throughout
    * (a df threshold, not a capped-bucket tiebreak), so the whole
    * chain is oracle-checkable. Output: d1, d2, shared (d1 < d2). */
  def fingerprintPairs(docs: DataFrame, k: Int = 5, w: Int = 4,
      minShared: Int = 3, maxDf: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // one fp-keyed exchange serves EVERYTHING: the df comes from a
    // count over a Window.partitionBy(fp) on the repartitioned rows
    // (key-partitioned, fingerprint cardinality scales with the
    // corpus — never a corpus-over-few-groups window), so the narrow
    // winnowing chain runs ONCE. The first version derived df from a
    // separate groupBy consumer; column pruning dropped doc_id from
    // that copy, the subtree no longer matched the main exchange, and
    // ReuseExchange could not collapse it — a second full corpus
    // winnowing pass for a side computation (the r75 lesson, exchange
    // flavor).
    val fps = winnowedFingerprints(docs, k, w, idCol, textCol)
      .repartition(col("fp"))
    val f = fps
      .withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("df") <= maxDf).drop("df")
    f.select(col("fp"), col("doc_id").as("d1"))
      .join(f.select(col("fp"), col("doc_id").as("d2")), "fp")
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).cast("long").as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Span-level decontamination — the surgical form of
    * [[contamination]]: instead of DROPPING a training document that
    * shares word n-grams with the held-out eval set, remove only the
    * SENTENCES carrying the overlap and keep the rest of the document
    * (the scrub several released pipelines apply when a page quotes a
    * benchmark item verbatim but is otherwise good training data —
    * doc-level dropping throws away the whole page, span-level keeps
    * it minus the leaked lines). Sentence granularity is
    * `TextAnalysis.sentences` (r72); the match unit is the same
    * word-n-gram/60-bit-hash shingle space as [[contamination]] /
    * [[contaminationReport]], so the three operators gate on one
    * convention.
    *
    * Matching is SENTENCE-LOCAL: a sentence is contaminated when one
    * of its OWN n-grams is in the eval set, so (a) sentences shorter
    * than `n` tokens can never be flagged (no n-gram fits — the
    * inherent floor of n-gram decontamination, same reason
    * [[contaminationReport]] calls sub-n eval docs unmeasurable), and
    * (b) an eval n-gram straddling a sentence boundary in the train
    * doc does not flag either side — the doc-level [[contamination]]
    * check still sees it, which is why pipelines run BOTH: doc-level
    * to find, span-level to scrub.
    *
    * Scale design (100 TB): the eval side reduces to a distinct
    * shingle-hash set in its scan aggregation and broadcasts
    * (`broadcastEval=false` falls back to a shuffle join); the train
    * side is one sentence explode + one sentence-local shingle
    * explode — work ∝ corpus tokens, state ∝ eval set; the dirty
    * (doc, sent) set joins back doc-keyed and reassembly is the
    * [[passageReassemble]] owner shape. No window over the corpus.
    * Docs with no sentences (null/empty text) emit nothing — the
    * [[TextAnalysis.sentences]] contract, same as [[spanDedup]]; a
    * fully contaminated doc keeps its row with n_kept = 0 and empty
    * clean_text.
    * Output: doc_id, n_sent, n_kept, clean_text. */
  def decontaminateSpans(docs: DataFrame, evalDocs: DataFrame, n: Int = 8,
      broadcastEval: Boolean = true, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val evalSh0 = shingleHashes(evalDocs, n, idCol, textCol)
      .select(col("shingle")).distinct()
    val evalSh = if (broadcastEval) broadcast(evalSh0) else evalSh0
    val sents = graft.functions.TextAnalysis.sentences(docs, idCol, textCol)
      .select(col("doc_id"), col("sent_idx"), col("sentence"))
    val sentSh = sents
      .select(col("doc_id"), col("sent_idx"),
        split(col("sentence"), " ").as("t"))
      .where(size(col("t")) >= n)
      .select(col("doc_id"), col("sent_idx"),
        explode(shingleArray(n)).as("shingle"))
      .select(col("doc_id"), col("sent_idx"),
        hash60(col("shingle")).as("shingle"))
    val dirty = sentSh.join(evalSh, "shingle")
      .select(col("doc_id"), col("sent_idx")).distinct()
    val flagged = sents
      .join(dirty.withColumn("rm", lit(true)),
        Seq("doc_id", "sent_idx"), "left")
      .select(col("doc_id"), col("sent_idx").as("p_idx"),
        col("sentence").as("passage"), col("rm").isNull.as("kept"),
        lit(" ").as("sep"))
    passageReassemble(flagged)
      .select(col("doc_id"), col("n_pass").as("n_sent"),
        col("n_kept"), col("clean_text"))
  }

  /** Content-defined-chunking dedup — the DISTRIBUTED answer to
    * suffix-array ExactSubstr dedup (Lee et al.'s deduplicate-text-
    * datasets removes any ≥50-token span that appears verbatim
    * elsewhere; suffix-array construction is single-node and was the
    * one deliberately-out operator since r3). Fixed-window passage
    * dedup ([[passageDedup]]) misses UNALIGNED copies — the same
    * boilerplate starting at token 3 in one doc and token 40 in
    * another lands in different windows. CDC fixes alignment by
    * cutting chunk boundaries where `hash(token) % p == 0`: boundaries
    * depend on CONTENT alone, so a duplicated span produces identical
    * interior chunks at any offset, and keep-first chunk dedup removes
    * them. A duplicated span of ≥ ~2p tokens contains a complete
    * interior chunk with probability ≥ 1 − (1−1/p)^p ≈ 63%, rising
    * geometrically with span length (the standard CDC trade — LBFS/
    * rsync lineage; exactness for LONG spans, which is what matters:
    * a 500-token boilerplate block survives with probability < 10⁻²⁰).
    *
    * Scale design (100 TB): boundary flags are a narrow map; chunk
    * assignment is a per-document running sum (window keyed by doc_id
    * — high cardinality, never corpus-wide); keep-first is the same
    * OWNER AGGREGATION as [[passageDedup]] (map-side combine collapses
    * a corpus-wide hot chunk before the shuffle, and the fan-back join
    * is AQE-splittable).
    * Output: doc_id, n_pass, n_kept, clean_text (kept chunks in
    * order; every doc keeps its row — stay-visible rule). */
  def cdcChunkDedup(docs: DataFrame, p: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val chunks = cdcChunks(docs, p, idCol, textCol)
      // one exchange both owner-agg and fan-back reuse (capBuckets trick)
      .repartition(col("ck"))
    val owners = chunks.groupBy("ck")
      .agg(min(struct(col("doc_id"), col("c_idx"))).as("own"))
    cdcReassemble(chunks.join(owners.hint("shuffle_hash"), "ck")
      .withColumn("kept",
        col("doc_id") === col("own.doc_id") && col("c_idx") === col("own.c_idx")))
  }

  /** The CDC chunk table of a corpus: (doc_id, c_idx, chunk, ck) with
    * content-defined boundaries (see [[cdcChunkDedup]]). Shared by the
    * one-shot and incremental forms. */
  def cdcChunks(docs: DataFrame, p: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(p > 0, "p must be positive")
    val txt = coalesce(col(textCol), lit(""))
    val tok = docs.select(col(idCol).as("doc_id"), posexplode(split(txt, " ")))
      .withColumnRenamed("pos", "t_pos").withColumnRenamed("col", "tok")
      .withColumn("b",
        when(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") % p === 0, 1)
          .otherwise(0))
    val wDoc = Window.partitionBy("doc_id").orderBy("t_pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    tok
      .withColumn("c_idx", coalesce(sum("b").over(wDoc), lit(0)).cast("int"))
      .groupBy("doc_id", "c_idx")
      .agg(expr("concat_ws(' ', transform(array_sort(collect_list(" +
        "named_struct('p', t_pos, 't', tok))), s -> s.t))").as("chunk"))
      .withColumn("ck", md5(col("chunk")))
  }

  /** (doc_id, c_idx, chunk, kept) rows → the cdcChunkDedup output
    * shape (doc_id, n_pass, n_kept, clean_text). */
  private def cdcReassemble(flagged: DataFrame): DataFrame =
    flagged.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_pass"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        expr("array_join(transform(filter(array_sort(collect_list(" +
          "named_struct('i', c_idx, 'c', CASE WHEN kept THEN chunk END))), " +
          "s -> s.c IS NOT NULL), s -> s.c), ' ')").as("clean_text"))

  /** Persist a corpus' chunk-hash index: ONE ~32-byte md5 row per
    * distinct chunk — what makes CDC dedup INCREMENTAL (the exact
    * analog of [[writeBandIndex]] for sub-document dedup). A later
    * batch is deduped by chunking only ITS text and anti-joining this
    * table; the old corpus is never rescanned. */
  def writeChunkIndex(docs: DataFrame, path: String, p: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    cdcChunks(docs, p, idCol, textCol).select(col("ck")).distinct()
      .write.mode("overwrite").parquet(path)

  /** Append a new batch's (post-dedup) chunk hashes to the index. */
  def appendChunkIndex(docs: DataFrame, path: String, p: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    cdcChunks(docs, p, idCol, textCol).select(col("ck")).distinct()
      .write.mode("append").parquet(path)

  /** Incremental CDC dedup: a new batch against a persisted chunk
    * index. A chunk is kept iff its hash is NOT in the index AND it is
    * the batch-first occurrence. With batch doc ids above all indexed
    * ids this equals [[cdcChunkDedup]] over old ∪ new restricted to
    * the new batch (DedupSpec law). Accept the batch by appending its
    * KEPT chunks via [[appendChunkIndex]] on the clean output — or all
    * chunks: both keep future duplicates suppressed, the former keeps
    * the index minimal. `chunkIndex` is the loaded (ck) frame so
    * callers can filter a batch_id-partitioned layout first. */
  def cdcDedupAgainstIndex(newDocs: DataFrame, chunkIndex: DataFrame,
      p: Int = 8, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val chunks = cdcChunks(newDocs, p, idCol, textCol)
      .repartition(col("ck"))
    val owners = chunks.groupBy("ck")
      .agg(min(struct(col("doc_id"), col("c_idx"))).as("own"))
    val idx = chunkIndex.select(col("ck")).distinct()
    cdcReassemble(chunks
      .join(owners.hint("shuffle_hash"), "ck")
      .join(idx.withColumn("seen", lit(true)).hint("shuffle_hash"), Seq("ck"), "left")
      .withColumn("kept",
        col("seen").isNull &&
        col("doc_id") === col("own.doc_id") && col("c_idx") === col("own.c_idx")))
  }

  /** Passage-level exact dedup (the Dolma/RefinedWeb "paragraph dedup"
    * stage, with fixed-width token windows as the segmenter — this
    * corpus carries no newlines): split each doc into non-overlapping
    * `win`-token passages, keep only the corpus-wide FIRST occurrence
    * of each distinct passage text (ordered by (doc_id, passage
    * index)), and reassemble every doc from its surviving passages.
    * Sub-document granularity catches boilerplate shared across
    * otherwise-distinct docs — invisible to doc-level
    * [[exactKeepFirst]]. Every doc keeps its row (a fully-duplicated
    * doc comes back with n_kept = 0 and empty clean_text — same
    * stay-visible rule as the quality filters).
    *
    * Scale design (100 TB): keep-first is an OWNER AGGREGATION, not a
    * window — `groupBy(md5(passage)).agg(min(struct(doc_id, p_idx)))`
    * computes each passage's first occurrence with map-side partial
    * aggregation, so a boilerplate passage repeated across the whole
    * corpus collapses to one row per map task before it ever reaches a
    * reducer (a per-key top-1 window would sort ALL copies of the hot
    * passage on one reducer instead — and AQE can split a skewed JOIN
    * partition, but never a window partition). The join back fans the
    * owner to each copy: skew there is AQE-splittable. Three bounded
    * shuffles total: owner agg + owner join (both keyed by the
    * fixed-width md5, however long the passage), then the doc-keyed
    * reassembly.
    * Segmentation (Dolma behavior): a document WITH newlines splits on
    * its natural paragraph boundaries — blank lines (`\n\n+`) when it
    * has them, single `\n` otherwise — with empty/whitespace segments
    * dropped and `clean_text` rejoined with `\n`; a document without
    * newlines falls back to fixed `win`-token windows rejoined with a
    * space (the fixture corpora carry no newlines, so the oracle models
    * exactly the token-window path). The decision is per document, a
    * narrow map either way.
    * Output: doc_id, n_pass, n_kept, clean_text. */
  def passageDedup(docs: DataFrame, win: Int = 16, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val pass = passageSegments(docs, win, idCol, textCol)
    val owners = pass.groupBy("pk")
      .agg(min(struct(col("doc_id"), col("p_idx"))).as("own"))
    passageReassemble(pass.join(owners.hint("shuffle_hash"), "pk")
      .withColumn("kept",
        col("doc_id") === col("own.doc_id") && col("p_idx") === col("own.p_idx")))
  }

  /** The segmented passage table of a corpus: (doc_id, sep, p_idx,
    * passage, pk), repartitioned by pk — the shared front half of
    * [[passageDedup]] and [[stripBoilerplate]] (segmentation semantics
    * documented on [[passageDedup]]). */
  private def passageSegments(docs: DataFrame, win: Int, idCol: String,
      textCol: String): DataFrame = {
    val txt = coalesce(col(textCol), lit(""))
    val rawParas = when(col("txt").contains("\n\n"), split(col("txt"), "\n{2,}"))
      .otherwise(split(col("txt"), "\n"))
    // regexp trim, not trim(): trim() strips only ASCII spaces, so a
    // tab/\r-only segment would survive as a "non-empty" passage,
    // contradicting the whitespace-segments-dropped contract.
    val paraSegs = filter(
      transform(rawParas, s => regexp_replace(s, "^\\s+|\\s+$", "")), s => s =!= "")
    docs
      .select(col(idCol).as("doc_id"), txt.as("txt"),
        split(txt, " ").as("toks"))
      .withColumn("segs",
        when(col("txt").contains("\n"),
          // stay-visible rule: an all-whitespace/newline doc keeps one
          // empty passage instead of vanishing from the report
          when(size(paraSegs) > 0, paraSegs).otherwise(array(lit(""))))
          .otherwise(expr(
            s"transform(sequence(0, cast(ceil(size(toks) / ${win}.0d) as int) - 1), " +
              s"i -> array_join(slice(toks, i * $win + 1, $win), ' '))")))
      .withColumn("sep", when(col("txt").contains("\n"), lit("\n")).otherwise(lit(" ")))
      .select(col("doc_id"), col("sep"), posexplode(col("segs")))
      .withColumnRenamed("pos", "p_idx").withColumnRenamed("col", "passage")
      .withColumn("pk", md5(col("passage")))
      // One explicit exchange both consumers reuse — without it the
      // owners branch re-computes the whole tokenize/explode upstream
      // (a partial-agg exchange is not canonically equal to a row
      // exchange), measured +53% on p30. Same trick as capBuckets.
      .repartition(col("pk"))
  }

  /** (doc_id, sep, p_idx, passage, kept) rows → the passage-operator
    * output shape (doc_id, n_pass, n_kept, clean_text). */
  private def passageReassemble(flagged: DataFrame): DataFrame =
    flagged.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_pass"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        expr("array_join(transform(filter(array_sort(collect_list(" +
          "named_struct('i', p_idx, 'p', CASE WHEN kept THEN passage END))), " +
          "s -> s.p IS NOT NULL), s -> s.p), max(sep))").as("clean_text"))

  /** Boilerplate removal — the RefinedWeb/Dolma line-dedup stage that
    * [[passageDedup]] is NOT: a passage appearing in more than
    * `maxDocs` DISTINCT documents (shared headers, footers, license
    * blocks, navigation chrome) is removed from EVERY document,
    * including the first — keep-first dedup instead keeps one copy and
    * would leave the boilerplate in the corpus once per distinct
    * passage. Segmentation is [[passageDedup]]'s (natural paragraphs
    * when the text carries newlines, fixed `win`-token windows
    * otherwise). A passage repeated within ONE doc is not boilerplate
    * by this definition (df counts distinct docs); pair with
    * [[passageDedup]] for intra-corpus dedup proper.
    *
    * Scale design (100 TB): the df count is a partial-aggregable
    * groupBy over md5 keys (count_distinct(doc_id) expands per-key,
    * never corpus-wide), reusing the one segment exchange; the
    * boilerplate-key set fans back as an AQE-splittable join exactly
    * like [[passageDedup]]'s owner join — no window anywhere. Every
    * doc keeps its row (stay-visible rule; a doc that is pure
    * boilerplate returns n_kept = 0 and empty clean_text).
    * Output: doc_id, n_pass, n_kept, clean_text. */
  def stripBoilerplate(docs: DataFrame, maxDocs: Int = 1, win: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxDocs >= 1, "maxDocs must be >= 1")
    val pass = passageSegments(docs, win, idCol, textCol)
    val bp = pass.groupBy("pk")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDocs)
      .select(col("pk"))
    passageReassemble(pass
      .join(bp.withColumn("bp", lit(true)).hint("shuffle_hash"), Seq("pk"), "left")
      .withColumn("kept", col("bp").isNull))
  }

  /** Persist a corpus' passage document-frequency index: one
    * (pk, df) row per distinct passage — what makes
    * [[stripBoilerplate]] INCREMENTAL (the analog of
    * [[writeBandIndex]] / [[writeChunkIndex]] for the boilerplate
    * stage). Unlike those set-membership indexes this one carries a
    * COUNT, because boilerplate-ness is a threshold on corpus-wide
    * df: a later batch adds its own per-passage df on top. */
  def writePassageIndex(docs: DataFrame, path: String, win: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    passageSegments(docs, win, idCol, textCol)
      .groupBy("pk").agg(count_distinct(col("doc_id")).cast("long").as("df"))
      .write.mode("overwrite").parquet(path)

  /** Append a new batch's passage dfs to the index (same layout;
    * readers must SUM df per pk — [[stripBoilerplateAgainstIndex]]
    * does). */
  def appendPassageIndex(docs: DataFrame, path: String, win: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    passageSegments(docs, win, idCol, textCol)
      .groupBy("pk").agg(count_distinct(col("doc_id")).cast("long").as("df"))
      .write.mode("append").parquet(path)

  /** Incremental [[stripBoilerplate]]: screen a NEW batch with df =
    * (indexed df) + (batch df) per passage, so a passage crossing the
    * threshold only once the batch's own copies are counted IS
    * stripped. For batch docs this equals the one-shot
    * `stripBoilerplate(old ∪ new)` restricted to the batch (DedupSpec
    * law) — the old corpus' emitted text is NOT rewritten
    * retroactively (forward-only screening, the standard streaming-
    * curation trade; re-run the batch form for a retroactive pass).
    * Like [[cdcDedupAgainstIndex]], the law requires batch doc ids
    * DISTINCT from every indexed id and each batch appended at most
    * once — a replayed batch (or an id re-ingest) double-counts its
    * own docs in df and over-strips; filter a batch_id-partitioned
    * index layout before loading to replay idempotently.
    * `passageIndex` is the loaded (pk, df) frame so callers can
    * filter a partitioned layout first; old text is never rescanned.
    * Work: the batch's segments + a join against ~32-byte index rows
    * (partial-aggregated per pk on both sides). */
  def stripBoilerplateAgainstIndex(newDocs: DataFrame, passageIndex: DataFrame,
      maxDocs: Int = 1, win: Int = 16, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(maxDocs >= 1, "maxDocs must be >= 1")
    val pass = passageSegments(newDocs, win, idCol, textCol)
    val batchDf = pass.groupBy("pk")
      .agg(count_distinct(col("doc_id")).cast("long").as("bdf"))
    val idxDf = passageIndex.groupBy("pk").agg(sum("df").cast("long").as("idf"))
    val bp = batchDf.join(idxDf, Seq("pk"), "left")
      .filter(col("bdf") + coalesce(col("idf"), lit(0L)) > maxDocs)
      .select(col("pk"))
    passageReassemble(pass
      .join(bp.withColumn("bp", lit(true)).hint("shuffle_hash"), Seq("pk"), "left")
      .withColumn("kept", col("bp").isNull))
  }

  /** Cross-corpus near-dup dedup: screen a NEW corpus against a fixed
    * REFERENCE corpus (dedup a fresh crawl against the training set
    * already ingested, or against a held-out set — the batch sibling
    * of the [[writeBandIndex]]/[[incrementalCandidates]] streaming
    * path, with the verify stage included). A new doc is dropped iff
    * it LSH-collides with a reference doc AND the exact shingle
    * Jaccard reaches `threshold`. New-vs-new duplicates are NOT
    * removed (that is [[dedupCorpus]]'s job); reference docs are never
    * touched.
    *
    * Scale design (100 TB): both sides reduce to band rows
    * (~4 × 50 B/doc); the candidate join is banded and per-side
    * bucket-capped ([[capBuckets]] on each side before the equi-join,
    * so a boilerplate band hot on EITHER side is dropped, and the
    * join itself is AQE-splittable); the verify joins per-doc shingle
    * arrays (bounded by document length) onto candidates — work
    * ∝ candidates × shingles/doc, the [[jaccardVerify]] shape. The
    * match aggregation is doc-keyed. Every new doc keeps its row.
    * Output: doc_id, n_matches (distinct reference docs matched at
    * >= threshold), kept = (n_matches == 0). */
  def dedupAgainst(newDocs: DataFrame, refDocs: DataFrame,
      threshold: Double = 0.5, maxBucket: Int = 100,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // ONE fused doc-keyed aggregation per side (signatures + shingle
    // arrays together): the banding branch and the verify branch then
    // share the single explode+shuffle through exchange reuse, where
    // separate minhashSignatures/shingleArrays aggregations would
    // rescan and re-shuffle the exploded shingle table twice per
    // corpus (the measured-2x-slower split form p02 documents; no
    // scoped persist is possible here because the output is
    // corpus-sized and lazy).
    val dN = docSignatures(shingleHashes(newDocs, idCol = idCol, textCol = textCol))
    val dR = docSignatures(shingleHashes(refDocs, idCol = idCol, textCol = textCol))
    // per-side caps and the cross-corpus equi-join all on the folded
    // 8-byte band key (see [[bandKey]])
    val bN = capBuckets(lshBands(dN).select(col("doc_id"), bandKey.as("bk")),
      Seq("bk"), maxBucket)
    val bR = capBuckets(lshBands(dR).select(col("doc_id"), bandKey.as("bk")),
      Seq("bk"), maxBucket)
      .withColumnRenamed("doc_id", "r_id")
    val cand = bN.join(bR, Seq("bk"))
      .select(col("doc_id").as("d1"), col("r_id").as("d2")).distinct()
    // Two-sided jaccardVerify: each side joins its OWN array table, so
    // overlapping id VALUES between the corpora never cross-join.
    val matches = cand
      .join(dN.select(col("doc_id"), col("ss"), col("n")).as("b1"),
        col("d1") === col("b1.doc_id"))
      .join(dR.select(col("doc_id"), col("ss"), col("n")).as("b2"),
        col("d2") === col("b2.doc_id"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("b1.ss"), col("b2.ss"))).cast("long").as("ninter"),
        col("b1.n").as("n1"), col("b2.n").as("n2"))
      .filter(col("ninter") > 0)
      .filter(col("ninter") / (col("n1") + col("n2") - col("ninter")) >= threshold)
      .groupBy(col("d1").as("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_matches"))
    newDocs.select(col(idCol).as("doc_id"))
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
      .withColumn("kept", col("n_matches") === 0L)
  }

  /** C4-style duplicated-span removal ("we removed any three-sentence
    * span occurring more than once in the dataset", Raffel et al.
    * §2.2) at sentence granularity: every n-sentence sliding span is
    * hashed; the FIRST occurrence corpus-wide (lexicographic min
    * (doc_id, start)) keeps its sentences, every other occurrence's n
    * sentences are removed — including re-occurrences inside the same
    * document. Complements [[passageDedup]] (paragraph keep-first) and
    * [[cdcChunkDedup]] (byte-window keep-first): the span unit here is
    * the SENTENCE, so reflowed/re-wrapped copies that break paragraph
    * and chunk boundaries still collide.
    *
    * Scale shape: sentence segmentation is a narrow map
    * (`TextAnalysis.sentences`); spans per doc = sentences − n + 1
    * built from ONE per-doc sorted collect (doc-keyed, never
    * corpus-wide); ownership is one span-hash-keyed partial-aggregable
    * `min(struct)`; the removal marks fan back doc-keyed and
    * reassembly is the [[passageReassemble]] shape. No window over the
    * corpus anywhere. Docs with no sentences emit nothing (nothing to
    * dedup); docs shorter than n sentences pass through whole.
    * Output: doc_id, n_sent, n_kept, clean_text. */
  def spanDedup(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n >= 1, "span length must be positive")
    val sents = graft.functions.TextAnalysis.sentences(docs, idCol, textCol)
      .select(col("doc_id"), col("sent_idx"), col("sentence"))
    val perDoc = sents.groupBy("doc_id").agg(
      sort_array(collect_list(struct(col("sent_idx"), col("sentence"))))
        .as("ss"))
    val spans = perDoc.select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(ss) >= $n THEN
           | transform(sequence(0, size(ss) - $n), i -> named_struct(
           |   'start', i,
           |   'h', md5(array_join(transform(sequence(1, $n),
           |      j -> element_at(ss, i + j).sentence), '\\u0001'))))
           | ELSE array() END""".stripMargin.replace("\n", " "))).as("z"))
      .select(col("doc_id"), col("z.start").as("start"), col("z.h").as("h"))
    val owner = spans.groupBy("h")
      .agg(min(struct(col("doc_id"), col("start"))).as("o"))
    val removed = spans.join(owner, "h")
      .filter(!(col("doc_id") === col("o.doc_id") &&
        col("start") === col("o.start")))
      .select(col("doc_id"),
        explode(expr(s"sequence(start, start + ${n - 1})")).as("sent_idx"))
      .distinct()
    val flagged = sents
      .join(removed.withColumn("rm", lit(true)),
        Seq("doc_id", "sent_idx"), "left")
      .select(col("doc_id"), col("sent_idx").as("p_idx"),
        col("sentence").as("passage"), col("rm").isNull.as("kept"),
        lit(" ").as("sep"))
    passageReassemble(flagged)
      .select(col("doc_id"), col("n_pass").as("n_sent"),
        col("n_kept"), col("clean_text"))
  }
}
