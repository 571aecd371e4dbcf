package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Domain-mixture application: turn per-domain resampling weights (the
  * knob `r50_domain_mix` computes) into an actual resampled corpus.
  *
  * A weight w means "emit each doc of this domain w times in
  * expectation": every doc gets floor(w) guaranteed copies plus one
  * more iff its md5-uniform u < frac(w) — the deterministic analog of
  * Poisson resampling, so the output is reproducible, oracle-checkable,
  * and partition-invariant (u depends only on the doc id, never on
  * placement or RNG state).
  *
  * Scale design (100 TB): the weight table is domain-sized (tiny) and
  * broadcast, the copy decision is a narrow per-row map, and the
  * explode fans out at most `maxCopies` rows per doc — no shuffle
  * anywhere. `maxCopies` bounds the blowup a pathological weight could
  * cause (a 0.01%-share domain weighted to equality would otherwise
  * explode 10,000×).
  */
object Mix {

  /** One output row per kept copy: keys…, doc id, copy ∈ [1, n].
    * `weights` must carry `keys` + a double `weight` column. */
  def resampleByWeight(docs: DataFrame, weights: DataFrame, keys: Seq[String],
      idCol: String = "doc_id", maxCopies: Int = 8): DataFrame =
    docs.join(broadcast(weights), keys)
      .withColumn("u",
        conv(substring(md5(concat(lit("rs:"), col(idCol).cast("string"))), 1, 8), 16, 10)
          .cast("double") / lit(4294967296.0))
      // least() BEFORE the int cast: floor() is a long, and a pathological
      // weight beyond Int.MaxValue must hit the cap, not overflow the cast
      // (ANSI mode would throw; non-ANSI would wrap negative and silently
      // drop exactly the domain the weight was meant to upsample).
      .withColumn("n_copies", least(lit(maxCopies.toLong),
        floor(col("weight")) +
          when(col("u") < col("weight") - floor(col("weight")), 1).otherwise(0)).cast("int"))
      .filter(col("n_copies") > 0)
      .select(keys.map(col) :+ col(idCol) :+
        explode(sequence(lit(1), col("n_copies"))).as("copy"): _*)

  /** Temperature-scaled mixture weights (the multilingual-training
    * sampling knob): domain i's target share is
    * `frac_i^tau / Σ_j frac_j^tau`, and `weight` is the per-doc
    * expected copy count that realizes it (feed straight into
    * [[resampleByWeight]]). tau = 1 is natural sampling (every weight
    * exactly 1), tau = 0 equalizes domains (r50's equalize weight),
    * 0 < tau < 1 upsamples the tail without flattening the head.
    *
    * Scale: one partial-aggregable groupBy to domain counts; both
    * global windows run over the domain-sized summary (never the
    * corpus), same shape as the r50 mixture stats.
    * Output: keys…, n, share, weight. */
  def temperatureWeights(docs: DataFrame, keys: Seq[String],
      tau: Double): DataFrame = {
    require(tau >= 0, "tau must be non-negative")
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    docs.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .withColumn("total", sum("n").over(w))
      .withColumn("q", pow(col("n") / col("total"), tau))
      .withColumn("z", sum("q").over(w))
      .select(keys.map(col) :+ col("n") :+
        round(col("q") / col("z"), 6).as("share") :+
        round(col("q") / col("z") * col("total") / col("n"), 6).as("weight"): _*)
  }

  /** DoReMi-style domain reweighting (Xie et al. 2023, reduced to its
    * data-engine core): domains where the stronger reference model
    * improves most over the weak proxy — the highest per-domain mean
    * EXCESS LOSS `max(loss − ref_loss, 0)` — get upweighted, because
    * that is where more training data buys the most. One multiplicative-
    * weights step from uniform,
    *
    *   α_i = (1/k)·(1 + η·excess_i),  w_i = (1−ε)·α_i/Σα + ε/k
    *
    * with ε the uniform smoothing that keeps every domain sampled.
    * The textbook Hedge/Group-DRO update uses `exp(η·excess)`; this
    * operator uses its standard linearization `1 + η·excess` because
    * `exp` differs in the last ulp across libm implementations and
    * would break the engine's bit-exact cross-engine contract (the
    * same reason the LM scores are linear likelihoods, not log-probs).
    * DoReMi's outer loop — retrain the proxy under the new weights,
    * re-estimate losses, repeat — lives outside the engine; each pass
    * calls this once with fresh losses.
    *
    * Scale shape: ONE partial-aggregable per-domain aggregation of the
    * per-doc excess (sorted fold, 6dp), then everything else runs on
    * the domain-sized summary (k and Σα are global windows over it,
    * Σα a sorted fold). `losses` carries one row per doc with `domainCol`,
    * `lossCol`, `refCol`; docs scored by only one model should be
    * dropped upstream. Output: domain, n, excess, weight (6dp). */
  def doremiWeights(losses: DataFrame, domainCol: String = "lang",
      eta: Double = 1.0, eps: Double = 0.1,
      lossCol: String = "loss", refCol: String = "ref_loss"): DataFrame = {
    require(eta > 0, s"eta $eta must be positive")
    require(eps >= 0 && eps < 1, s"eps $eps outside [0, 1)")
    val ex = losses.select(col(domainCol).as("domain"),
      greatest(col(lossCol) - col(refCol), lit(0.0)).as("x"))
    val dom = ex.groupBy("domain").agg(
      count(lit(1)).as("n"),
      round(aggregate(sort_array(collect_list(col("x"))), lit(0d), _ + _) /
        count(lit(1)), 6).as("excess"))
    // k and Σα as global windows over the domain summary (the
    // temperatureWeights idiom): a separate `dom.agg(count)` would only
    // count rows, so column pruning would strip every value column
    // from the whole loss pipeline under it, planning a second,
    // keys-only copy of that pipeline that no exchange can reuse.
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    dom.withColumn("k", count(lit(1)).over(w))
      .withColumn("a",
        (lit(1.0) / col("k")) * (lit(1.0) + lit(eta) * col("excess")))
      .withColumn("z",
        aggregate(sort_array(collect_list(col("a")).over(w)), lit(0d), _ + _))
      .select(col("domain"), col("n"), col("excess"),
        round(lit(1 - eps) * (col("a") / col("z")) + lit(eps) / col("k"), 6)
          .as("weight"))
  }

  /** [[doremiWeights]] → the per-doc copy multipliers that realize the
    * target distribution, in [[resampleByWeight]]'s input shape: a
    * domain at natural share n_i/N targeted at share w_i needs each of
    * its docs emitted w_i·N/n_i times in expectation (the same
    * share-to-multiplier step [[temperatureWeights]] performs
    * internally). One more one-row broadcast (the corpus total) over
    * the domain summary; everything stays domain-sized.
    * Output: domainCol, weight — feed straight into resampleByWeight
    * with `keys = Seq(domainCol)`. */
  def doremiCopyWeights(losses: DataFrame, domainCol: String = "lang",
      eta: Double = 1.0, eps: Double = 0.1,
      lossCol: String = "loss", refCol: String = "ref_loss"): DataFrame = {
    val w = doremiWeights(losses, domainCol, eta, eps, lossCol, refCol)
    val t = w.agg(sum("n").cast("long").as("t"))
    w.crossJoin(broadcast(t))
      .select(col("domain").as(domainCol),
        round(col("weight") * col("t") / col("n"), 6).as("weight"))
  }

  /** Shard-count sizing for the sharded-window operators (corpusShuffle,
    * packSequences): a shard is ONE reducer's worth of rows — a window
    * partition is a single unsplittable task, so the shard count must
    * grow with the input. `ceil(nRows / rowsPerShard)` with a floor that
    * keeps small inputs on the documented default (and the oracle SQL
    * valid at gate scale). 100 TB ≈ 10^11 rows / 4M rows-per-shard ≈
    * 25k shards — each a bounded sort, all independent. */
  def deriveShards(nRows: Long, rowsPerShard: Long = 4000000L,
      minShards: Int = 16): Int = {
    require(rowsPerShard > 0 && minShards > 0,
      "rowsPerShard and minShards must be positive")
    val needed = (nRows + rowsPerShard - 1) / rowsPerShard
    math.max(minShards.toLong, needed).min(Int.MaxValue.toLong).toInt
  }

  /** Deterministic global corpus shuffle: docs ordered by md5(doc_id),
    * sharded into `shards` contiguous RANGES of the hash ((hv * shards)
    * >> 32 over the first 8 hex chars is monotone in the hash, so
    * (shard, pos) IS the global shuffled order). Each shard's
    * row_number is one reducer task, so `shards` must scale with the
    * input — use [[corpusShuffleAuto]] or pass [[deriveShards]].
    * At shards = 256 the range formula reduces to the hash's first
    * byte. Output: doc_id, shard, pos. */
  def corpusShuffle(docs: DataFrame, shards: Int = 256,
      idCol: String = "doc_id"): DataFrame = {
    require(shards > 0, "shards must be positive")
    val h = docs
      .withColumn("h", md5(col(idCol).cast("string")))
      .withColumn("shard", expr(
        s"(CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT) * $shards)" +
          " DIV 4294967296"))
    h.withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("shard").orderBy("h")))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** [[corpusShuffle]] with the shard count derived from the input size
    * (one extra count job — a metadata-cheap scan next to the shuffle
    * itself). minShards = 256 keeps gate-scale output identical to the
    * fixed-256 form. */
  def corpusShuffleAuto(docs: DataFrame, rowsPerShard: Long = 4000000L,
      minShards: Int = 256, idCol: String = "doc_id"): DataFrame =
    corpusShuffle(docs, deriveShards(docs.count(), rowsPerShard, minShards), idCol)

  /** Deterministic hash-based train/val/test assignment: a doc's split
    * is the interval of the cumulative fractions that contains its
    * md5-uniform bucket, so membership is a pure function of the id —
    * stable across reruns, cluster layouts, and corpus growth (a doc
    * never migrates when OTHER docs arrive or leave, unlike
    * row_number- or RNG-based splits). The salt keeps the bucket
    * independent of the other md5-keyed operators (resample's "rs:"
    * uniform, the shuffle/budget orders).
    *
    * Scale: a narrow per-row expression — no shuffle, no state, and
    * the added column participates in partition pruning when the
    * output is written partitioned by split. Fractions are quantized
    * to `buckets` (default 1/10000) and must land on whole buckets so
    * the realized share is exact, not a rounding surprise.
    * Output: the input columns + `split`. */
  def hashSplit(docs: DataFrame, splits: Seq[(String, Double)],
      idCol: String = "doc_id", buckets: Int = 10000): DataFrame = {
    require(splits.nonEmpty, "splits must be non-empty")
    require(splits.map(_._1).distinct.size == splits.size,
      "split names must be distinct")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1 (got ${splits.map(_._2).sum})")
    splits.foreach { case (name, f) =>
      val c = f * buckets
      require(math.abs(c - math.round(c).toDouble) < 1e-6,
        s"fraction $f of split '$name' is not a whole number of 1/$buckets buckets")
    }
    val bounds = splits.scanLeft(0L) { case (acc, (_, f)) =>
      acc + math.round(f * buckets) }.tail
    val b = conv(substring(
        md5(concat(lit("sp:"), col(idCol).cast("string"))), 1, 15), 16, 10)
      .cast("long") % buckets
    val assigned = splits.indices.tail.foldLeft(
        when(b < bounds.head, splits.head._1)) { (e, i) =>
      e.when(b < bounds(i), splits(i)._1)
    }
    docs.withColumn("split", assigned)
  }

  /** Weighted sample WITHOUT replacement (Efraimidis–Spirakis A-ES,
    * IPL 2006): each doc draws a deterministic uniform u from a salted
    * md5 of its id and scores key = ln(u)/w (order-equivalent to the
    * textbook u^(1/w) — one ln instead of a pow, and no tie-saturation
    * near 1.0 for large weights); the k LARGEST keys are the sample.
    * The inclusion probability of a doc rises with its weight exactly
    * as sequential weighted draws without replacement would give —
    * sample docs ∝ quality score, token count, or any positive
    * importance weight in ONE distributed pass.
    *
    * Determinism/portability: u is the salted-md5 uniform of the other
    * Mix operators (seed in the salt, so re-draws are independent by
    * seed), the key is 9dp-rounded (the engine-portability discipline;
    * ties broken by id), so the sample is a pure function of
    * (id, weight, seed) — stable under partitioning, row order, and
    * engine. Scale: a narrow per-row projection into a top-k
    * (TakeOrderedAndProject — per-partition heaps of k, no global
    * sort, no shuffle of the corpus). Docs with null/non-positive
    * weight are excluded (a zero-weight doc is a "never sample").
    * Output: the input columns + `sample_key`, the k winners. */
  def weightedSample(docs: DataFrame, k: Int, weightCol: String,
      seed: String = "ws", idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "k must be positive")
    val denom = math.pow(2, 60) + 1.0
    val u = (conv(substring(md5(concat(lit(seed + ":"),
        col(idCol).cast("string"))), 1, 15), 16, 10).cast("double") + 1.0) /
      denom
    docs.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("sample_key",
        round(log(u) / col(weightCol).cast("double"), 9))
      .orderBy(desc("sample_key"), col(idCol))
      .limit(k)
  }

  /** Deterministic k-per-group sample: the `k` docs of every group
    * with the largest salted-md5 uniforms — each group's draw is an
    * exact simple random sample of that group (the uniform is a pure
    * function of (seed, id), so membership is reproducible and stable
    * under corpus growth within a group's unchanged members, the same
    * contract as [[hashSplit]]).
    *
    * Scale shape: this is per-group top-k, NOT a window —
    * `row_number().over(partitionBy(group))` moves and sorts every row
    * of every group (one reducer per group: a 10^8-doc language is one
    * task), while the bounded [[graft.functions.TopKAggregator]]
    * carries at most k (uniform, id) pairs per group per upstream
    * partition through the one shuffle. Output: groupCol, idCol, rn
    * (1-based in descending-uniform order) — join back on `idCol` for
    * the rows. */
  def groupSample(docs: DataFrame, k: Int, groupCol: String,
      seed: String = "gsp", idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "k must be positive")
    val denom = math.pow(2, 60) + 1.0
    val u = (conv(substring(md5(concat(lit(seed + ":"),
        col(idCol).cast("string"))), 1, 15), 16, 10).cast("double") + 1.0) /
      denom
    Windows.topKPerGroupAgg(docs.withColumn("_u", u), k,
        key = groupCol, ord = "_u", id = idCol)
      .select(col(groupCol), col(idCol), col("rn"))
  }

  /** Leakage-safe TEMPORAL split (the time-series counterpart of
    * [[hashSplit]]): train is strictly before `trainEnd`, test at or
    * after `testStart`, and rows inside the purge window
    * `[trainEnd, testStart)` are labelled `embargo` — kept visible and
    * auditable rather than silently dropped, because the embargo IS
    * the leakage guard: with overlapping feature windows (a 5-day
    * rolling return, a label that looks 3 days ahead) a train row
    * adjacent to the boundary reads data from the test period, and a
    * backtest without the gap is quietly optimistic (the purged/
    * embargoed CV rule from the financial-ML literature).
    *
    * One narrow codegen'd CASE — no shuffle, no state; on a
    * date-partitioned 100 TB lake the boundary predicates prune
    * partitions in the scan. Membership is a pure function of the
    * row's OWN timestamp, so it is stable under corpus growth —
    * late-arriving rows join their side without moving anyone else
    * (the [[hashSplit]] stability contract, keyed by time instead of
    * hash). Null timestamps label null: unassignable, surfaced to the
    * caller instead of defaulting into train. */
  def temporalSplit(df: DataFrame, tsCol: String, trainEnd: String,
      testStart: String, out: String = "split"): DataFrame = {
    require(trainEnd <= testStart,
      s"trainEnd ($trainEnd) must not be after testStart ($testStart)")
    val ts = col(tsCol)
    df.withColumn(out,
      when(ts.isNull, lit(null).cast("string"))
        .when(ts < lit(trainEnd).cast("timestamp"), "train")
        .when(ts >= lit(testStart).cast("timestamp"), "test")
        .otherwise("embargo"))
  }

  /** Hashed n-gram features for [[dsirScores]]: word unigrams + bigrams
    * hashed into `buckets` through the same md5-derived 60-bit integer
    * as the dedup shingles, counted WITH multiplicity (the bag-of-
    * hashed-ngrams representation of Xie et al.'s DSIR). One narrow
    * explode; the feature space is `buckets`-sized regardless of
    * vocabulary, which is the whole point — the downstream model state
    * is O(buckets), never O(vocab). Output: doc_id, bucket, c. */
  private[graft] def ngramBuckets(docs: DataFrame, buckets: Int,
      idCol: String, textCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    // `carry` rides metadata columns (e.g. a segment key for the
    // grouped drift monitor) through the explode without a second
    // corpus scan + doc-keyed join to re-attach them. Carried names
    // must not shadow the internal aliases — the collision would
    // surface as an ambiguous-reference AnalysisException deep in the
    // plan instead of here.
    val reserved = Set("doc_id", "t", "g", "bucket", "c")
    require(carry.forall(c => !reserved.contains(c)),
      s"ngramBuckets: carry columns ${carry.mkString(", ")} collide with " +
        s"internal aliases (${reserved.mkString(", ")}) — rename upstream")
    val cc = carry.map(col)
    val t = Fanout(docs, idCol).select(col(idCol).as("doc_id") +: cc :+
      split(col(textCol), " ").as("t"): _*)
    // The bigram leg must be GUARDED, not clamped: Spark's
    // sequence(1, 0) is a DESCENDING [1, 0], not empty, so the old
    // greatest(size-1, 0) clamp made every 1-token document crash with
    // an out-of-bounds element_at (r11 finding, caught by the STDRIFTB
    // fixture; DuckDB's range(1, 1) really is empty, so the oracles
    // always had the IF semantics).
    t.select(col("doc_id") +: cc :+ explode(concat(col("t"),
        expr("IF(size(t) >= 2, transform(sequence(1, size(t) - 1)," +
          " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))," +
          " array())"))).as("g"): _*)
      .select(col("doc_id") +: cc :+
        ((conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long")
          % buckets).as("bucket")): _*)
      .groupBy(col("doc_id") +: cc :+ col("bucket"): _*)
      .agg(count(lit(1)).cast("long").as("c"))
  }

  /** DSIR importance scores (Data Selection via Importance Resampling,
    * Xie et al. 2023): score a RAW corpus by how target-like each doc
    * is under two bag-of-hashed-ngram unigram models. Each doc's score
    * is the log-likelihood ratio
    * `Σ_b c_b · ln( p_target(b) / p_raw(b) )` with add-one smoothing,
    * where b ranges over the doc's hashed unigram+bigram buckets —
    * positive means the target model explains the doc better than the
    * raw model.
    *
    * Cross-engine determinism: the per-bucket probability ratio is
    * built from exact integer counts with single IEEE divisions, the
    * `ln` is rounded to 6dp immediately (the one transcendental — at
    * most `buckets` distinct inputs, each validated bit-stable against
    * the oracle engine), each doc term `c_b · lr_b` is one exact-
    * operand IEEE product, and the per-doc sum runs as an ascending
    * sorted fold (the [[graft.functions.TextAnalysis.unigramScore]]
    * discipline).
    *
    * Scale design (100 TB): both bucket-count model fits are partial-
    * aggregable groupBys onto `buckets` rows (map-side combine crushes
    * hot buckets); the log-ratio table is buckets-sized and BROADCAST
    * onto the per-doc features; the only corpus-keyed shuffle is the
    * per-doc aggregation itself. The target corpus is typically small
    * (a quality reference like Wikipedia) but nothing here requires it.
    * Output: doc_id, n_grams, logw. */
  def dsirScores(raw: DataFrame, target: DataFrame, buckets: Int = 4096,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    dsirScoreWith(raw, dsirModel(raw, target, buckets, idCol, textCol),
      buckets, idCol, textCol)

  /** Fit the DSIR bucket model: the per-bucket log-likelihood ratio
    * table (bucket, lr) over the target and raw corpora. Fit ONCE
    * (typically on a raw SAMPLE — the ratio estimates need counts,
    * not the whole corpus), then [[dsirScoreWith]] applies it to any
    * frame — the production split for scoring 100 TB, or a stream,
    * against a fixed reference model. Returns a MATERIALIZED
    * buckets-row frame (localCheckpoint — the collect-and-broadcast
    * shape on a cluster): left lazy, the br/bt/nt/nr branches sit
    * past aggregations where ReuseExchange cannot always serve them,
    * and the gram pipeline re-runs once per reference — measured
    * 32.7 s → 4.0 s at 20k docs (the trainCentroids lineage lesson,
    * SCALE.md r6 §3). */
  def dsirModel(raw: DataFrame, target: DataFrame, buckets: Int = 4096,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val fr = ngramBuckets(raw, buckets, idCol, textCol)
    val ft = ngramBuckets(target, buckets, idCol, textCol)
    val bt = ft.groupBy("bucket").agg(sum("c").cast("long").as("ct"))
    val br = fr.groupBy("bucket").agg(sum("c").cast("long").as("cr"))
    val nt = bt.agg(sum("ct").cast("long").as("nt"))
    val nr = br.agg(sum("cr").cast("long").as("nr"))
    // p_t/p_r as two exact-int divisions then one more — the identical
    // IEEE operand sequence in any engine (products like (ct+1)*(nr+k)
    // would leave double-exact range on a real corpus; ratios never do).
    br.join(bt, Seq("bucket"), "left")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .select(col("bucket"),
        round(log(
          ((coalesce(col("ct"), lit(0L)) + 1).cast("double") / (col("nt") + buckets)) /
            ((col("cr") + 1).cast("double") / (col("nr") + buckets))), 6).as("lr"))
      .localCheckpoint(true)
  }

  /** Apply a fitted [[dsirModel]] to a frame: per-doc features joined
    * against the broadcast model, one doc-keyed aggregation. Buckets
    * absent from the model (grams never seen when fitting) contribute
    * nothing — the add-one smoothing already priced unseen grams into
    * the fit, and a score must not depend on which OTHER docs arrive
    * alongside. Stateless per doc, so it streams as-is. */
  def dsirScoreWith(docs: DataFrame, model: DataFrame, buckets: Int = 4096,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    ngramBuckets(docs, buckets, idCol, textCol)
      .join(broadcast(model), "bucket")
      .select(col("doc_id"), col("c"), (col("c").cast("double") * col("lr")).as("term"))
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_grams"),
        aggregate(sort_array(collect_list(col("term"))), lit(0d), _ + _).as("s"))
      .select(col("doc_id"), col("n_grams"), round(col("s"), 6).as("logw"))

  /** DSIR selection: draw the `n` most target-like docs by Gumbel
    * top-k over the [[dsirScores]] log-weights — the without-
    * replacement sampling ∝ importance weight the paper prescribes,
    * derandomized: each doc's Gumbel perturbation
    * `g = −ln(−ln(u))` uses the md5-uniform `u` of its OWN id (salt
    * "gk:"), so the selection is a pure function of the corpus —
    * reproducible, oracle-checkable, and stable under partitioning.
    * The top-n itself is a TakeOrdered (per-partition heads, never a
    * global sort). Output: doc_id, logw, key, rn — ordered by rank. */
  def dsirSelect(raw: DataFrame, target: DataFrame, n: Int,
      buckets: Int = 4096, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n > 0, "n must be positive")
    val u = (conv(substring(
        md5(concat(lit("gk:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long") % 1000000).cast("double")
    val keyed = dsirScores(raw, target, buckets, idCol, textCol)
      .withColumn("key",
        col("logw") + round(-log(-log((u + 0.5) / 1000000.0)), 6))
      .orderBy(col("key").desc, col("doc_id")).limit(n)
    keyed.select(col("doc_id"), col("logw"), col("key"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("key").desc, col("doc_id"))).as("rn"))
  }

  /** Cross-split decontamination: [[hashSplit]] composed with
    * [[Dedup.dedupAgainst]] — the leakage guard every training
    * pipeline needs. After splitting, any TRAIN doc that is a
    * near-duplicate of ANY held-out (val/test) doc — LSH band
    * collision confirmed by exact shingle Jaccard >= `threshold` — is
    * flagged `kept = false`, so evaluation on the held-out splits
    * never scores text the model effectively trained on (the near-dup
    * generalization of the exact-8-gram eval screen,
    * `Dedup.contamination` / p26). Held-out docs are never dropped
    * (the benchmark must stay intact); train-vs-train duplicates are
    * [[Dedup.dedupCorpus]]'s job, not this one's.
    *
    * Scale (100 TB): the split column is a narrow per-row expression
    * (recomputed per consumer rather than shuffled — it costs one md5
    * per row); both corpus sides then reduce to banded ~50 B/doc rows
    * with per-side bucket caps before the candidate equi-join, and
    * the verify stage touches only candidates ([[Dedup.dedupAgainst]]'s
    * shape). Membership stability is inherited from [[hashSplit]]: a
    * doc's split — and therefore its contamination verdict against a
    * FIXED held-out set — never changes when unrelated docs arrive.
    * Output: doc_id, split, n_matches, kept — one row per input doc;
    * `kept = false` only on contaminated train docs. */
  def decontaminateSplits(docs: DataFrame, splits: Seq[(String, Double)],
      trainSplit: String = "train", threshold: Double = 0.5,
      maxBucket: Int = 100, idCol: String = "doc_id",
      textCol: String = "text", buckets: Int = 10000): DataFrame = {
    require(splits.exists(_._1 == trainSplit),
      s"trainSplit '$trainSplit' is not among ${splits.map(_._1)}")
    val sp = hashSplit(docs, splits, idCol, buckets)
    val rep = Dedup.dedupAgainst(
      sp.filter(col("split") === trainSplit),
      sp.filter(col("split") =!= trainSplit),
      threshold, maxBucket, idCol, textCol)
    sp.select(col(idCol).as("doc_id"), col("split"))
      .join(rep.select(col("doc_id"), col("n_matches"), col("kept")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("kept"), lit(true)).as("kept"))
  }
}
