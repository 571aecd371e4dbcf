package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Vectors._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - `bruteTopK`: exact cosine top-k — the correctness baseline. The
  *    query side is broadcast, so the base table never shuffles; cost is
  *    one narrow pass over the corpus per query batch.
  *  - `ivfTopK`: IVF-style — assign every vector to its nearest centroid
  *    once (broadcast centroids, narrow map), then answer queries by
  *    scanning only the query's cluster. At 100 TB the assignment is the
  *    write-path (cluster id becomes a partition column) and queries
  *    touch 1/k of the data; recall is traded via `nprobe` clusters.
  *
  * Similarities are rounded before ranking so float noise cannot reorder
  * ranks across engines (SURVEY §2.11 Q32 note).
  */
object Ann {

  /** Normalize: vec_id, emb (double), nrm — norms computed once per
    * vector, an O(n) pass, so the O(n*q) pair stage only does one dot
    * each. `sqrt(dot(e,e))` here is bit-identical to the `sqrt` inside a
    * per-pair cosine, so precomputation does not change any result.
    *
    * No [[Fanout]] here, deliberately: the embedding ops are either
    * iterative (Lloyd/PQ train — a fan-out per iteration plus its plan
    * probe costs more than the one-task map it parallelizes) or
    * multi-reference plans served by ReuseExchange (measured +0.5-0.8 s
    * on p14/p43/p44/p52 with fan-out vs without, interleaved A/B at
    * sf0.1); the text primitives' md5-per-char chains are 10-100x
    * heavier per byte and are where fan-out pays. */
  private def withNorm(emb: DataFrame, id: String = "vec_id"): DataFrame =
    emb.select(col(id), asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))

  /** Exact top-k neighbors for each query vector (cross join + window).
    * Output: q_id, vec_id, sim, rn. */
  def bruteTopK(emb: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    val e = withNorm(emb)
    val q = withNorm(queries)
      .select(col("vec_id").as("q_id"), col("emb").as("qemb"), col("nrm").as("qnrm"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(dot(col("emb"), col("qemb")) / (col("nrm") * col("qnrm")), 3).as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rn") <= k)
  }

  /** Hard-negative mining for contrastive/embedding-model training:
    * per query, the top-k most similar vectors INSIDE the band
    * `[minSim, dupT)` — above `dupT` a candidate is a near-duplicate
    * (a false negative that would poison the contrastive loss; the
    * [[nearDupPairs]]/[[semDedup]] regime), below `minSim` it is an
    * easy negative the model learns nothing from. Self always
    * excluded. Same exact-scoring shape as [[bruteTopK]] (the filter
    * is one codegen'd predicate before the per-query top-k window, so
    * the window ranks only in-band rows); at corpus scale run the
    * same band filter over an over-fetched [[ivfTopK]]/[[pqTopK]]
    * shortlist — the filter commutes with any shortlist that
    * over-fetches past k in-band survivors.
    * Output: q_id, vec_id, sim, rn (best-first per query). */
  def hardNegatives(emb: DataFrame, queries: DataFrame, k: Int = 10,
      dupT: Double = 0.9, minSim: Double = -1.0): DataFrame = {
    require(minSim < dupT, "minSim must be below dupT")
    val e = withNorm(emb)
    val q = withNorm(queries)
      .select(col("vec_id").as("q_id"), col("emb").as("qemb"), col("nrm").as("qnrm"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(dot(col("emb"), col("qemb")) / (col("nrm") * col("qnrm")), 3).as("sim"))
      .filter(col("sim") < dupT && col("sim") >= minSim)
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rn") <= k)
  }

  /** [[hardNegatives]] over a caller-provided scored shortlist — the
    * corpus-scale path: over-fetch any retriever (an [[ivfTopK]] /
    * [[pqTopK]] / [[bruteTopK]] frame with q_id, vec_id, sim) past k
    * in-band survivors, then band-filter and re-rank here. Law
    * (AnnSpec): over a shortlist that over-fetches enough,
    * `hardNegativesFrom(shortlist) == hardNegatives` row for row. */
  def hardNegativesFrom(shortlist: DataFrame, k: Int = 10,
      dupT: Double = 0.9, minSim: Double = -1.0): DataFrame = {
    require(minSim < dupT, "minSim must be below dupT")
    shortlist.select(col("q_id"), col("vec_id"), col("sim"))
      .filter(col("vec_id") =!= col("q_id"))
      .filter(col("sim") < dupT && col("sim") >= minSim)
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rn") <= k)
  }

  /** Assign each vector to its highest-cosine centroid (6dp rounding +
    * centroid-id tiebreak keeps the argmax engine-independent).
    *
    * Exchange-free (r15): the centroid table collapses to ONE array row
    * (centroids are small by construction — that is what makes them
    * centroids), broadcast to every task, and the argmax runs INSIDE
    * the row as an array fold — so assignment really is the "broadcast
    * narrow map" the IVF docstrings promise. The previous form
    * materialized corpus × k rows and shuffled ALL of them through a
    * row_number window keyed by vec_id — a corpus-scale exchange + sort
    * whose only product was the per-vector argmax (guide §2.4: remove
    * shuffles outright). Semantics are bit-identical: same `dot`, same
    * 6dp `round`, null/short csim sorts LAST (the window's NULLS LAST
    * under desc), ties break to the smallest c_id via the struct
    * ordering of (-csim, c_id), and an empty centroid table yields an
    * empty result (array_min of the empty array is null → filtered).
    * One exception: a NaN cosine (a zero-norm vector or centroid, or a
    * NaN/Inf component) now sorts LAST, so any real-valued centroid
    * wins over it; the window form sorted NaN FIRST under desc and
    * picked that centroid. */
  def assignClusters(emb: DataFrame, centroids: DataFrame): DataFrame =
    withClusterId(emb.select(col("vec_id"), col("embedding")), centroids)
      .select(col("vec_id"), col("c_id"))

  /** `df` + `c_id`: the nearest-centroid id attached IN PLACE by the
    * same in-row argmax as [[assignClusters]] — the fused form of
    * `assignClusters(df, cents).join(df, "vec_id")`, which paid a
    * corpus-scale join to re-attach the very rows the assignment was
    * computed from (guide §3: a data-sized shuffle for a narrow map's
    * worth of information). Rows with no assignable centroid (empty
    * centroid table) drop, matching the old inner join. `df` must
    * carry `embedding`; all its columns pass through. */
  private def withClusterId(df: DataFrame, centroids: DataFrame): DataFrame = {
    val cArr = withNorm(centroids)
      .select(col("vec_id").as("c_id"), col("emb").as("cemb"), col("nrm").as("cnrm"))
      .agg(collect_list(struct(col("c_id"), col("cemb"), col("cnrm"))).as("cs"))
    df.withColumn("__e", asDouble(col("embedding")))
      .withColumn("__nrm", sqrt(dot(col("__e"), col("__e"))))
      .crossJoin(broadcast(cArr))
      .withColumn("c_id",
        array_min(transform(col("cs"), x =>
          struct((-coalesce(round(dot(col("__e"), x("cemb")) /
              (col("__nrm") * x("cnrm")), 6), lit(-9.0))).as("nsim"),
            x("c_id").as("c_id"))))
          .getField("c_id"))
      .drop("cs", "__e", "__nrm")
      .filter(col("c_id").isNotNull)
  }

  /** Cluster-balanced (diversity) sampling: assign every vector to its
    * nearest centroid, then keep ~`perCluster` vectors from EACH
    * cluster — uniform coverage of the embedding space instead of the
    * head-cluster dominance a plain uniform sample gives (the
    * cluster-balanced selection step of diversity-aware data curation;
    * SemDeDup's sampling-side sibling).
    *
    * The per-cluster draw is derandomized: vector v is kept iff its
    * md5-uniform bucket (salt "cs:") falls below
    * `min(buckets, perCluster·buckets DIV csz)` — integer arithmetic
    * end to end, so membership is a pure function of (corpus, v) and
    * the realized count concentrates on perCluster without any
    * per-cluster sort or exact-k pass (binomial jitter, same contract
    * as the seeded corpus samples). A doc never flips in or out when
    * OTHER clusters change; it can only flip if its own cluster's size
    * changes — the correct dependency for a balanced sample.
    *
    * Scale shape: one broadcast-centroid assignment (narrow map + a
    * per-vector argmax window keyed by vec_id), a k-row size
    * aggregation broadcast back, then a narrow filter — no
    * corpus-keyed shuffle beyond the assignment itself.
    * Output: vec_id, c_id, kept. */
  def clusterSample(emb: DataFrame, centroids: DataFrame, perCluster: Int,
      buckets: Int = 10000, salt: String = "cs:"): DataFrame = {
    require(perCluster > 0, "perCluster must be positive")
    require(buckets > 0, "buckets must be positive")
    val assign = assignClusters(emb, centroids)
    val sz = assign.groupBy("c_id").agg(count(lit(1)).cast("long").as("csz"))
      .select(col("c_id"), least(lit(buckets.toLong),
        expr(s"${perCluster.toLong * buckets} DIV csz")).as("__t"))
    val bucket = conv(substring(
        md5(concat(lit(salt), col("vec_id").cast("string"))), 1, 15), 16, 10)
      .cast("long") % buckets
    assign.join(broadcast(sz), "c_id")
      .select(col("vec_id"), col("c_id"), (bucket < col("__t")).as("kept"))
  }

  /** IVF search for one query id: scan only the query's cluster.
    * Output: vec_id, sim ordered best-first. */
  def ivfTopK(emb: DataFrame, centroids: DataFrame, queryId: Long, k: Int = 10,
      nprobe: Int = 2): DataFrame = {
    // Probing only the query's own cluster (nprobe = 1) measured
    // recall@10 ≈ 0.18 on the sf0.01 corpus — true neighbors straddle
    // cluster boundaries. nprobe is the recall knob, same machinery as
    // the batch path; AnnSpec pins the shipped default to ≥ 0.9.
    val index = withClusterId(emb, centroids)
    rerankProbed(index, probeRank(centroids, emb.filter(col("vec_id") === queryId), nprobe), k)
      .select(col("vec_id"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
  }

  /** IVF write path: materialize the corpus with the cluster id as a
    * PARTITION COLUMN, so a query's cluster scan is directory pruning
    * (`PartitionFilters` in the plan), not a filter over all files. At
    * 100 TB this is the difference between reading 1/k of the data and
    * reading all of it: the assignment cost is paid once at write time
    * (broadcast-centroid narrow map), every query after that touches
    * only `nprobe` directories. */
  def writeIvfIndex(emb: DataFrame, centroids: DataFrame, path: String): Unit =
    writeIvf(emb, centroids, path, "overwrite")

  /** The ONE definition of the IVF index layout (assign + carry the
    * batch, land partitioned by cluster id): the full build, the batch
    * append, and the streaming per-batch writer all go through here,
    * so a layout change has exactly one home. */
  private[graft] def writeIvf(batch: DataFrame, centroids: DataFrame,
      path: String, mode: String): Unit = {
    // fused assignment (no assign⋈batch join back); the explicit select
    // keeps the landed column order of the old join form, so appends
    // from either code generation stay schema-identical
    val rest = batch.columns.filter(_ != "vec_id").map(col).toSeq
    withClusterId(batch, centroids)
      .select(col("vec_id") +: col("c_id") +: rest: _*)
      .write.partitionBy("c_id").mode(mode).parquet(path)
  }

  /** Incremental IVF ingest: assign ONLY the new batch to the index's
    * (fixed) centroids and append into the partitioned index — the
    * vector sibling of the persisted band index
    * (`Dedup.appendBandIndex`). Existing vectors are never rescanned or
    * rewritten (append adds part files; old files stay byte-identical,
    * spec-asserted), so cost per batch is one broadcast-centroid narrow
    * map over the batch alone. Centroids must be the ones the index was
    * built with — re-clustering after drift is a full [[writeIvfIndex]].
    * Plain append is at-least-once under caller retry; an exactly-once
    * streaming ingest should wrap this in the per-batch-id OVERWRITE
    * layout `streaming.Ingest.dedupIngestStream` uses. */
  def appendIvfIndex(batch: DataFrame, centroids: DataFrame, path: String): Unit =
    writeIvf(batch, centroids, path, "append")

  /** Query a partitioned IVF index: rank centroids against the query
    * vector, scan only the `nprobe` nearest cluster directories, exact
    * cosine re-rank inside them. The centroid ranking collects `nprobe`
    * ids to the driver — that is the IVF routing table (size = #centroids,
    * never data-sized) and is what turns into a partition-pruning
    * predicate. Output: vec_id, sim, best-first. */
  def ivfSearchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: DataFrame, queryVec: Seq[Double], k: Int = 10,
      nprobe: Int = 2): DataFrame = {
    val q = typedLit(queryVec)
    // query norm is a driver-side constant — never recomputed per row
    val qn = lit(math.sqrt(queryVec.map(x => x * x).sum))
    val probeIds = withNorm(centroids)
      .select(col("vec_id"),
        (dot(col("emb"), q) / (col("nrm") * qn)).as("csim"))
      .orderBy(col("csim").desc, col("vec_id"))
      .limit(nprobe)
      .collect().map(_.getLong(0)).toSeq
    spark.read.parquet(path)
      .filter(col("c_id").isin(probeIds: _*))
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
      .select(col("vec_id"),
        round(dot(col("emb"), q) / (col("nrm") * qn), 3).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Batched IVF search — the form a training-data pipeline actually
    * runs: top-k for a whole DataFrame of queries against a
    * cluster-assigned index, in ONE plan (no per-query driver loop).
    *
    *  1. Rank centroids per query (queries × centroids — both tiny next
    *     to the corpus; centroids broadcast) and keep `nprobe` per query.
    *  2. Join the (query, probed-cluster) pairs against the index on the
    *     cluster id. The probe side is broadcast, so over a
    *     cluster-PARTITIONED index (`writeIvfIndex`) Spark turns the
    *     join into dynamic partition pruning — only probed cluster
    *     directories are read (plan-asserted in AnnSpec).
    *  3. Exact-cosine re-rank, window top-k per query.
    *
    * `index` must carry (vec_id, embedding, c_id) — either
    * `spark.read.parquet(ivfIndexPath)` (the pruning path) or an inline
    * `assignClusters(...).join(emb, "vec_id")` (the oracle-checkable
    * form, p19). Output: q_id, vec_id, sim, rn. */
  def ivfSearchBatch(index: DataFrame, centroids: DataFrame,
      queries: DataFrame, k: Int = 10, nprobe: Int = 2): DataFrame =
    rerankProbed(index, probeRank(centroids, queries, nprobe), k)

  /** (q_id, qemb, qnrm, c_id): the `nprobe` highest-cosine centroids
    * per query (6dp rounding + centroid-id tiebreak, engine-stable).
    *
    * Exchange-free (r15, the [[assignClusters]] shape): centroids
    * collapse to one broadcast array row and the per-query top-nprobe
    * is an in-row sort+slice instead of a row_number window — no
    * exchange of the (queries × centroids) frame. Ordering/null
    * semantics match the old window exactly: (-csim, c_id) ascending
    * is (csim desc, c_id asc), null csim (guarded to -9, below any
    * cosine) sorts last under desc. */
  private def probeRank(centroids: DataFrame, queries: DataFrame,
      nprobe: Int): DataFrame = {
    val q = withNorm(queries)
      .select(col("vec_id").as("q_id"), col("emb").as("qemb"), col("nrm").as("qnrm"))
    val cArr = withNorm(centroids)
      .select(col("vec_id").as("c_id"), col("emb").as("cemb"), col("nrm").as("cnrm"))
      .agg(collect_list(struct(col("c_id"), col("cemb"), col("cnrm"))).as("cs"))
    q.crossJoin(broadcast(cArr))
      .select(col("q_id"), col("qemb"), col("qnrm"),
        explode(slice(sort_array(transform(col("cs"), x =>
          struct((-coalesce(round(dot(col("qemb"), x("cemb")) /
              (col("qnrm") * x("cnrm")), 6), lit(-9.0))).as("nsim"),
            x("c_id").as("c_id")))), 1, nprobe)).as("pr"))
      .select(col("q_id"), col("qemb"), col("qnrm"), col("pr.c_id").as("c_id"))
  }

  /** Exact-cosine re-rank of probed clusters: index ⋈ broadcast probes
    * on the cluster id, window top-k per query. */
  private def rerankProbed(index: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val e = index
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"), col("c_id"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
    e.join(broadcast(probes), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(dot(col("emb"), col("qemb")) / (col("nrm") * col("qnrm")), 3).as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rn") <= k)
  }

  /** [[ivfSearchBatch]] over a persisted cluster-partitioned index. The
    * union of probed clusters across the batch is collected first — the
    * IVF routing table, bounded by #centroids, never data-sized — and
    * applied as a STATIC partition predicate, so only probed cluster
    * directories are listed and read regardless of optimizer
    * heuristics (`PartitionFilters` plan-asserted in AnnSpec). */
  def ivfSearchBatchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: DataFrame, queries: DataFrame, k: Int = 10,
      nprobe: Int = 2): DataFrame = {
    val probes = probeRank(centroids, queries, nprobe)
    val probed = probes.select("c_id").distinct().collect().map(_.get(0)).toIndexedSeq
    rerankProbed(spark.read.parquet(path).where(col("c_id").isin(probed: _*)),
      probes, k)
  }

  /** One Lloyd (k-means) UPDATE step — the centroid-training primitive
    * behind a real IVF index (the gate queries seed centroids from
    * fixed vectors; production trains them). Assigns every vector to
    * its nearest centroid, then emits the per-cluster per-dimension
    * mean: two shuffles (assignment is a broadcast narrow map, the
    * mean one groupBy). The per-dimension sum uses an ORDERED fold
    * over the collected values so the double is bit-identical in any
    * engine — the oracle-exactness concession; at corpus scale the
    * plain associative `sum` replaces it (same values up to last-ulp).
    * Output: c_id, dim, n, mean. */
  def kmeansStep(emb: DataFrame, centroids: DataFrame): DataFrame =
    withClusterId(emb, centroids)
      .select(col("c_id"), posexplode(asDouble(col("embedding"))))
      .withColumnRenamed("pos", "dim").withColumnRenamed("col", "v")
      .groupBy("c_id", "dim")
      .agg(count(lit(1)).as("n"),
        expr("aggregate(sort_array(collect_list(v)), cast(0.0 as double), (a, x) -> a + x)")
          .as("ssum"))
      .select(col("c_id"), col("dim").cast("int").as("dim"), col("n"),
        round(col("ssum") / col("n"), 6).as("mean"))

  /** Per-batch assignment-drift signal — the IVF retrain trigger: one
    * [[kmeansStep]] over the batch against the index's FIXED centroids
    * gives the per-cluster mean the batch would pull each centroid to;
    * the euclidean distance between that implied mean and the current
    * centroid is the drift. In-distribution batches imply means near
    * the centroids (dist ≈ within-cluster sigma/√n); a distribution
    * shift (new embedding model, new content domain) lands far-off
    * vectors whose implied means sit whole cluster-radii away — the
    * signal a production index maintenance loop watches to schedule
    * the full re-cluster ([[writeIvfIndex]] rebuild; appends keep the
    * old centroids by contract). Cost: batch-sized assignment + a
    * centroids×d aggregate — never index-sized. The d-term squared
    * sum runs as an ORDERED fold (the kmeansStep oracle-exactness
    * concession — it is centroids-sized, not data-sized; a plain sum
    * is the cluster-scale form, same values up to last-ulp).
    * Output: c_id, n, dist (6dp), clusters the batch touched only. */
  def assignmentDrift(batch: DataFrame, centroids: DataFrame): DataFrame = {
    val cent = centroids.select(col("vec_id").as("c_id"),
      posexplode(asDouble(col("embedding"))).as(Seq("dim", "cv")))
    val d2 = (col("mean") - col("cv")) * (col("mean") - col("cv"))
    kmeansStep(batch, centroids)
      .join(cent, Seq("c_id", "dim"))
      .groupBy("c_id")
      .agg(max("n").cast("long").as("n"), // n is per-cluster, same each dim
        round(sqrt(aggregate(sort_array(collect_list(d2)),
          lit(0d), _ + _)), 6).as("dist"))
  }

  /** Iterated Lloyd training: seed = the first k vectors, then `iters`
    * rounds of assign + per-dimension mean. All DataFrame ops — the
    * per-iteration state is k centroid rows, never data-sized. The
    * plain `avg` keeps this the scale path (associative, shuffle-
    * friendly); [[kmeansStep]] is its oracle-checkable single step. */
  def trainCentroids(emb: DataFrame, k: Int, iters: Int = 3): DataFrame = {
    var cents = seedCentroids(emb, k)
    for (_ <- 1 to iters) cents = lloydRound(emb, cents)
    cents
  }

  /** seed = the k smallest vec_ids actually PRESENT (a `vec_id < k`
    * filter silently under-seeds sparse or offset id spaces). */
  private def seedCentroids(emb: DataFrame, k: Int): DataFrame =
    emb.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("c_id"), asDouble(col("embedding")).as("cemb"))

  /** One Lloyd round over (c_id, cemb) centroid frames — the shared
    * body of [[trainCentroids]] and [[trainCentroidsTol]]. */
  private def lloydRound(emb: DataFrame, cents: DataFrame): DataFrame = {
    val assigned = withClusterId(emb,
      cents.select(col("c_id").as("vec_id"), col("cemb").as("embedding")))
    // The k-row means are MATERIALIZED once per round (eager local
    // checkpoint — one data-sized job, which is what Lloyd costs by
    // definition). Left lazy, the two reads below plus the next
    // round's assignment would each re-run the whole
    // assign+aggregate, and the per-round lineage compounds —
    // measured up to ~2^iters whole-pipeline recomputes at stress
    // scale (SCALE.md "Scale stress (r6)"). On a cluster the k-row
    // state would be a driver-side collect/broadcast; the local
    // checkpoint is the DataFrame-shaped equivalent.
    val means = assigned
      .select(col("c_id"), posexplode(asDouble(col("embedding"))))
      .withColumnRenamed("pos", "dim").withColumnRenamed("col", "v")
      .groupBy("c_id", "dim")
      .agg(avg(col("v")).as("m"))
      .groupBy("c_id")
      .agg(expr("transform(array_sort(collect_list(struct(dim, m))), s -> s.m)")
        .as("cemb"))
      .localCheckpoint(true)
    // a centroid that attracted no vectors this round keeps its old
    // position instead of silently vanishing (k must stay k); pinned
    // lazily so the k-row union/anti-join lineage never deepens
    // across rounds (it materializes inside the next round's means
    // job, or the caller's first action on the last round)
    means.unionByName(
      cents.join(means.select("c_id"), Seq("c_id"), "left_anti"))
      .localCheckpoint(false)
  }

  /** [[trainCentroids]] run to a MOVEMENT TOLERANCE instead of a fixed
    * round count — the retrain form: Lloyd rounds stop when no
    * centroid moved more than `tol` (euclidean) since the previous
    * round, or at `maxIters`. The movement check collects the k
    * centroid rows to the driver — the routing-table size, never
    * data-sized — which is also what makes the check free next to the
    * data-sized round it follows. Determinism caveat: the seed rule
    * and round count are deterministic, but the per-round means use
    * associative `avg` (the production plan — map-side combinable),
    * whose IEEE partial-sum order follows the input PARTITIONING: two
    * runs over the same vectors in different layouts can differ in
    * the last ulp, which at corpus scale could flip a rounded
    * assignment tie or the tol stopping round. The STIVF2
    * retrain==scratch equality holds by margin on its fixtures (gaps
    * ≫ ulp), not bit-level across arbitrary layouts — the same
    * production-vs-oracle duality as [[kmeansStep]]'s ordered-fold
    * form vs the plain sum (and Graph's two summation modes). */
  def trainCentroidsTol(emb: DataFrame, k: Int, tol: Double = 1e-4,
      maxIters: Int = 10): DataFrame = {
    def snapshot(c: DataFrame): Map[Long, Array[Double]] =
      c.collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).toArray).toMap
    var cents = seedCentroids(emb, k)
    var prev = snapshot(cents)
    var it = 0
    var moved = Double.MaxValue
    while (it < maxIters && moved > tol) {
      cents = lloydRound(emb, cents)
      val cur = snapshot(cents)
      moved = cur.map { case (id, v) =>
        prev.get(id) match {
          case Some(p) =>
            math.sqrt(v.zip(p).map { case (a, b) => (a - b) * (a - b) }.sum)
          case None => Double.MaxValue
        }
      }.foldLeft(0.0)(math.max)
      prev = cur
      it += 1
    }
    cents
  }

  /** The retrain-and-swap the [[assignmentDrift]] signal schedules —
    * what closes the loop `vectorIngestStream` opens: re-cluster the
    * LIVE index's own vectors ([[trainCentroidsTol]] to a movement
    * tolerance), rebuild the cluster-partitioned layout into a side
    * directory, and promote it with a park-then-promote swap (the
    * `promoteTouchedBuckets` discipline: the old index is renamed
    * aside, never deleted, until the new one is fully in place — a
    * crash leaves the old index either live or parked under `_bak`,
    * and both renames are CHECKED because HDFS reports most failures
    * as a false return). Returns the retrained centroids — the FIXED
    * centroids every subsequent append/search must use; the old
    * centroids are invalid the moment the swap lands.
    *
    * The corpus is materialized (eager local checkpoint) BEFORE the
    * swap touches the directory it was read from. The promoted index
    * is the one-shot [[writeIvfIndex]] layout (`c_id=` partitions):
    * [[appendIvfIndex]] appends into it unchanged, and a resumed
    * streaming ingest starts a fresh epoch (new checkpoint + the
    * returned centroids) — replaying an old checkpoint against a
    * re-clustered index would re-land batches under centroids that no
    * longer exist. At 100 TB this is one Lloyd job per round over the
    * corpus (what retraining costs by definition) plus a rename. */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, k: Int, tol: Double = 1e-4,
      maxIters: Int = 10): DataFrame = {
    // Heal a previous retrain crashed between park and promote (live
    // dir missing, old index parked at _bak): restore the old index
    // and retrain from it — the compactStreamState heal discipline.
    // The orphaned _retrain build, if any, is deleted below anyway.
    val hp0 = new org.apache.hadoop.fs.Path(indexPath)
    val fs0 = hp0.getFileSystem(spark.sessionState.newHadoopConf())
    val bak0 = new org.apache.hadoop.fs.Path(indexPath + "_bak")
    if (!fs0.exists(hp0) && fs0.exists(bak0))
      require(fs0.rename(bak0, hp0),
        s"retrainIvfIndex: failed to restore parked index $bak0")
    val corpus = spark.read.parquet(indexPath)
      .select("vec_id", "embedding").localCheckpoint(true)
    val cents = trainCentroidsTol(corpus, k, tol, maxIters)
      .select(col("c_id").as("vec_id"), col("cemb").as("embedding"))
      .localCheckpoint(true)
    val tmp = indexPath + "_retrain"
    val hp = new org.apache.hadoop.fs.Path(indexPath)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    writeIvf(corpus, cents, tmp, "overwrite")
    val bak = new org.apache.hadoop.fs.Path(indexPath + "_bak")
    fs.delete(bak, true)
    require(fs.rename(hp, bak),
      s"retrainIvfIndex: failed to park $indexPath")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), hp),
      s"retrainIvfIndex: failed to promote $tmp (old index parked at $bak)")
    fs.delete(bak, true)
    cents
  }

  /** Quantized candidate scan + exact re-rank: rank candidates by
    * cosine over int8 absmax codes (the p17 quantization — 4× smaller
    * than floats, so the corpus-wide scan reads a quarter of the
    * bytes), keep a `shortlist` per query, then re-rank the shortlist
    * with exact float cosine. Integer code dot products are exact in
    * any engine (|codes| ≤ 127, 64 dims ≪ 2^53), which keeps the whole
    * candidate stage oracle-checkable. The re-rank touches only
    * shortlist × queries rows. */
  def quantizedTopK(emb: DataFrame, queries: DataFrame, k: Int = 10,
      shortlist: Int = 40): DataFrame = {
    // An all-zero embedding has scale0 = 0: dividing by it would make
    // every code NaN, and NaN sorts ABOVE every double under desc, so
    // one degenerate vector would top every query's shortlist. Emit
    // all-zero codes instead, and rank zero-norm sims as NULL (desc
    // puts nulls last), so degenerate vectors sink instead of float.
    def quant(df: DataFrame, p: String): DataFrame =
      df.select(col("vec_id").as(s"${p}id"), asDouble(col("embedding")).as("e"))
        .withColumn("scale0", expr("array_max(transform(e, x -> abs(x)))"))
        .withColumn(s"${p}codes",
          expr("transform(e, x -> cast(cast(round(case when scale0 = 0d then 0d " +
            "else x / scale0 * 127 end) as int) as double))"))
        .withColumn(s"${p}cn", sqrt(dot(col(s"${p}codes"), col(s"${p}codes"))))
        .select(col(s"${p}id"), col("e").as(s"${p}e"),
          col(s"${p}codes"), col(s"${p}cn"))
    val e = quant(emb, "v")
    val q = quant(queries, "q")
    val short = e.crossJoin(broadcast(q))
      .filter(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid"), col("ve"), col("qe"),
        when(col("vcn") * col("qcn") > 0,
          round(dot(col("vcodes"), col("qcodes")) / (col("vcn") * col("qcn")), 6))
          .as("qsim"))
      .withColumn("qrn", row_number().over(
        Window.partitionBy("qid").orderBy(col("qsim").desc, col("vid"))))
      .filter(col("qrn") <= shortlist)
    short
      .withColumn("vn", sqrt(dot(col("ve"), col("ve"))))
      .withColumn("qn", sqrt(dot(col("qe"), col("qe"))))
      .select(col("qid").as("q_id"), col("vid").as("vec_id"),
        when(col("vn") * col("qn") > 0,
          round(dot(col("ve"), col("qe")) / (col("vn") * col("qn")), 3)).as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rn") <= k)
  }

  /** Recall@k of an approximate search against the exact baseline: the
    * fraction of each query's true top-k the approximate result
    * surfaced. This is the evaluation loop every ANN deployment runs —
    * `nprobe`, band count, and `shortlist` are recall-vs-cost knobs,
    * and this is the number that tunes them. Inputs are (q_id, vec_id)
    * result shapes ([[bruteTopK]] / [[ivfSearchBatch]] /
    * [[quantizedTopK]] all qualify). One doc-keyed join + aggregation:
    * cost ∝ result sizes, never the corpus.
    * Output: q_id, n_hit, n_true, recall — one row per exact-side query. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    // distinct() both sides: a duplicated (q_id, vec_id) pair — e.g. a
    // union of two search passes used as one candidate set — would
    // otherwise fan out through the join and silently corrupt both
    // n_hit and n_true. The metric is over result SETS by definition.
    val a = approx.select(col("q_id"), col("vec_id")).distinct()
      .withColumn("hit", lit(1))
    exact.select(col("q_id"), col("vec_id")).distinct()
      .join(a, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"),
        count(lit(1)).as("n_true"))
      .select(col("q_id"), col("n_hit"), col("n_true"),
        round(col("n_hit").cast("double") / col("n_true"), 4).as("recall"))
  }

  /** Deterministic ±1 random-hyperplane matrix (signs from md5 of
    * "p:j"), shared verbatim with the DuckDB oracle so sketches match
    * bit-for-bit. */
  def hyperplanes(nPlanes: Int = 16, dim: Int = 64): Seq[Seq[Double]] =
    (0 until nPlanes).map { p =>
      (0 until dim).map { j =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$p:$j".getBytes("UTF-8"))
        if ((d(0) & 1) == 1) 1.0 else -1.0
      }
    }

  /** SimHash-for-vectors: bit p of the sketch is the sign of the
    * projection onto hyperplane p. A narrow map — one pass, no shuffle. */
  def hyperplaneSketch(emb: DataFrame, planes: Seq[Seq[Double]] = hyperplanes()): DataFrame = {
    val e = withNorm(emb)
    val sketch = planes.zipWithIndex.map { case (plane, p) =>
      when(dot(col("emb"), typedLit(plane)) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    e.withColumn("sk", sketch)
  }

  /** Embedding near-dup via hyperplane LSH: candidates share a
    * `planes.size / bands`-bit sketch block (pigeonhole: any pair
    * within Hamming `bands - 1` of the full sketch collides on some
    * block), then exact cosine reranks. The LSH-bucketed scale path
    * beside the IVF one.
    *
    * `maxBucket` makes the "bucket-bound, never all-pairs" claim actually
    * hold: a correlated corpus (near-identical embeddings are exactly the
    * near-dup case) concentrates sketches into few buckets, and one
    * uncapped bucket of n vectors emits n²/2 pairs. Buckets larger than
    * `maxBucket` are dropped before the join — the same bounded-recall
    * guard as [[graft.operators.Dedup.simhashPairs]].
    *
    * THE CAP AND THE KEY WIDTH MUST SCALE TOGETHER. The default 16
    * planes / 2 bands gives 8-bit band keys — 256 buckets — so beyond
    * ~`256 * maxBucket` vectors (~50k at the defaults) the AVERAGE
    * bucket exceeds the cap, every bucket is dropped, and recall
    * silently collapses to zero (caught live by `tools.Stress` at
    * 250k vectors, r6). Corpus-scale callers use [[lshNearDupAuto]],
    * which widens the band keys to hold the expected bucket size at
    * ~`targetBucket` regardless of n. */
  def lshNearDup(emb: DataFrame, topN: Int = 20,
      planes: Seq[Seq[Double]] = hyperplanes(), maxBucket: Int = 200,
      bands: Int = 2): DataFrame = {
    require(planes.size % bands == 0, "planes.size must be divisible by bands")
    val w = planes.size / bands
    require(w <= 62, "band key width must fit a long")
    val sk = hyperplaneSketch(emb, planes)
    val blocked = sk.select(col("vec_id"), col("emb"), col("nrm"), col("sk"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("b"),
          shiftright(col("sk"), w * b).bitwiseAND(lit((1L << w) - 1)).as("bkey"))): _*)).as("x"))
      .select(col("vec_id"), col("emb"), col("nrm"),
        col("x.b").as("b"), col("x.bkey").as("bkey"))
    val capped = Dedup.capBuckets(blocked, Seq("b", "bkey"), maxBucket)
    val a = capped.select(col("vec_id").as("v1"), col("emb").as("e1"),
      col("nrm").as("n1"), col("b"), col("bkey"))
    val bb = capped.select(col("vec_id").as("v2"), col("emb").as("e2"),
      col("nrm").as("n2"), col("b"), col("bkey"))
    a.join(bb, Seq("b", "bkey")).filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        round(dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 3).as("sim"))
      .distinct()
      .orderBy(col("sim").desc, col("v1"), col("v2"))
      .limit(topN)
  }

  /** [[lshNearDup]] with the band-key width derived from the corpus
    * size: keys get `ceil(log2(n / targetBucket))` bits (clamped to
    * [8, 24]), so the EXPECTED bucket holds ~`targetBucket` vectors at
    * any n and the `maxBucket` cap once again only drops genuinely
    * degenerate buckets instead of every bucket. Two bands are kept
    * (Hamming-1 pigeonhole over the sketch); a near-exact duplicate
    * pair (cosine ≥ ~0.99) flips each plane with probability
    * `acos(cos)/π` ≈ 0.014, so P(some band identical) stays ≥ ~0.9
    * even at 24-bit keys. Costs one `count()` of the embedding table
    * (a metadata-cheap columnar count) to size the keys. */
  def lshNearDupAuto(emb: DataFrame, topN: Int = 20, targetBucket: Int = 32,
      maxBucket: Int = 200): DataFrame = {
    val n = emb.count()
    val bitsPerBand = math.min(24, math.max(8,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt))
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    lshNearDup(emb, topN, hyperplanes(2 * bitsPerBand, dim), maxBucket, bands = 2)
  }

  /** Embedding near-duplicate pairs: top-N all-pairs by cosine. The
    * exact QUADRATIC baseline — a verification/audit tool, never a
    * corpus-scale path (that is [[lshNearDup]] / IVF). Callers must
    * bound the input to a deterministic slice (the p05 gate query uses
    * `vec_id < 500`, fixed cost at any corpus size); an unbounded call
    * is n²/2 dot products. */
  def nearDupPairs(emb: DataFrame, topN: Int = 50): DataFrame = {
    val n = withNorm(emb)
    val a = n.select(col("vec_id").as("v1"), col("emb").as("e1"), col("nrm").as("n1"))
    val b = n.select(col("vec_id").as("v2"), col("emb").as("e2"), col("nrm").as("n2"))
    a.join(b, col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        round(dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 3).as("sim"))
      .orderBy(col("sim").desc, col("v1"), col("v2"))
      .limit(topN)
  }

  /** Semantic dedup (SemDeDup-style): assign every embedding to its
    * nearest centroid, then WITHIN each cluster drop any vector whose
    * cosine to a lower-id cluster-mate meets `simT` — one survivor per
    * semantic near-dup group, found without any corpus-wide pair join.
    * The keep-lowest-id rule makes the output deterministic (the paper
    * drops a random member; a fixed rule is the verifiable form).
    *
    * Scale design (100 TB): the pair join is per-cluster, so cost is
    * sum(|cluster|²) — k is the knob that keeps clusters small
    * (|cluster| ~ n/k), exactly how SemDeDup runs at corpus scale, and
    * `maxCluster` skips degenerate hot clusters outright (same
    * bounded-recall tradeoff as the LSH/simhash candidate caps; skipped
    * vectors are kept, never silently dropped).
    * Output: vec_id, c_id, kept. */
  def semDedup(emb: DataFrame, centroids: DataFrame, simT: Double = 0.7,
      maxCluster: Int = 1000): DataFrame = {
    // Assignment computed ONCE with emb/nrm carried through (instead of
    // assignClusters + a join back on vec_id): the lo/hi pair sides and
    // the final kept-flag select all consume the SAME subtree, so the
    // assignment shuffle is served by exchange reuse, and the join back
    // on vec_id (a whole extra shuffle) disappears.
    val c = withNorm(centroids)
      .select(col("vec_id").as("c_id"), col("emb").as("cemb"), col("nrm").as("cnrm"))
    // The when() guards are load-bearing twice over: under ANSI mode
    // (Spark 4 default) a zero-norm division THROWS [DIVIDE_BY_ZERO],
    // and with ANSI off it yields NaN, which ranks above every double
    // under desc. Guarded, a zero-norm vector's csim is null for every
    // centroid (desc puts nulls last), so the c_id tiebreak assigns it
    // to the lowest centroid id — same rule as the DuckDB oracle's
    // NULL-division + NULLS LAST ordering.
    val e = withNorm(emb).crossJoin(broadcast(c))
      .select(col("vec_id"), col("emb"), col("nrm"), col("c_id"),
        when(col("nrm") * col("cnrm") > 0,
          round(dot(col("emb"), col("cemb")) / (col("nrm") * col("cnrm")), 6)).as("csim"))
      .withColumn("crn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("csim").desc, col("c_id"))))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("emb"), col("nrm"), col("c_id"))
    // Cluster-size cap via Dedup.capBuckets (groupBy + join, never a
    // count-over-window): the hot cluster is exactly the one the cap
    // must drop, and a window would buffer all its rows on one reducer.
    val capped = Dedup.capBuckets(e, Seq("c_id"), maxCluster)
    val lo = capped.select(col("c_id"), col("vec_id").as("v1"),
      col("emb").as("e1"), col("nrm").as("n1"))
    val hi = capped.select(col("c_id"), col("vec_id").as("v2"),
      col("emb").as("e2"), col("nrm").as("n2"))
    // Same double guard on the pair cosine: a when-wrapped division is
    // never evaluated for a zero-norm side (no ANSI throw, no NaN), the
    // null comparison fails the filter, and degenerate vectors are kept
    // and never drop anyone — same keep-on-skip rule as the cap. (A
    // plain `n1*n2 > 0 && ...` conjunction is NOT safe: the optimizer
    // may reorder predicates and evaluate the division first.)
    val dropped = lo.join(hi, Seq("c_id"))
      .filter(col("v1") < col("v2"))
      .filter(when(col("n1") * col("n2") > 0,
        round(dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 6)).geq(simT))
      .select(col("v2").as("vec_id")).distinct()
    e.select(col("vec_id"), col("c_id"))
      .join(dropped.withColumn("drp", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_id"), col("drp").isNull.as("kept"))
  }

  // ─── Product quantization (Jégou et al., "Product Quantization for
  // Nearest Neighbor Search", TPAMI 2011) ───

  /** Exploded (vec_id, sub, sv) subvector frame: subspace s carries
    * dims [s·d/m, (s+1)·d/m). Dimension must divide evenly by m — a
    * non-divisible dim would silently TRUNCATE the trailing dims
    * (integer division) and degrade recall with no error, so the
    * contract is enforced fail-loud per row via `raise_error` (the
    * 64-dim fixture with m ∈ {4,8,16} all qualify). One narrow map —
    * no shuffle. */
  private def subvectors(emb: DataFrame, m: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val cs = carry.map(col)
    emb.select(col("vec_id") +: cs :+ asDouble(col("embedding")).as("e"): _*)
      .withColumn("dsub",
        when(size(col("e")) % m === 0, size(col("e")) / m)
          .otherwise(raise_error(concat(
            lit(s"PQ: embedding dimension "), size(col("e")).cast("string"),
            lit(s" is not divisible by m=$m — trailing dims would be dropped"))))
          .cast("int"))
      .select(col("vec_id") +: cs :+ explode(expr(
        s"transform(sequence(0, $m - 1), s -> " +
          "struct(s AS sub, slice(e, s * dsub + 1, dsub) AS sv))")).as("z"): _*)
      .select(col("vec_id") +: cs ++:
        Seq(col("z.sub").as("sub"), col("z.sv").as("sv")): _*)
  }

  /** Train the m per-subspace codebooks (ksub centroids each) with L2
    * k-means — cosine would normalize away subvector magnitude, which
    * is exactly what the ADC dot approximation needs to keep.
    *
    * ALL m subspaces train simultaneously in ONE (sub, c_id)-keyed
    * frame: each Lloyd iteration is one broadcast join + argmin (L2
    * argmin via the dot identity score = sv·c − |c|²/2, rounded to 6dp
    * with c_id tiebreak for engine-independent assignment) and one
    * partial-aggregable mean aggregation — never a per-subspace job.
    * Seeds are the ksub corpus vectors with globally-smallest
    * md5(vec_id) (a bounded TakeOrdered — no per-subspace corpus
    * window); empty centroids keep their position (the trainCentroids
    * pattern); per-iteration state is the m·ksub-row codebook,
    * localCheckpointed so lineage never compounds.
    *
    * `exactMeans` switches the centroid-mean aggregation from the
    * plain associative `avg` (the scale path — partition-order float
    * jitter in the last ulp, statistically immaterial for training)
    * to an ORDERED fold over the collected values rounded to 6dp —
    * bit-identical in any engine, the same oracle-exactness
    * concession [[kmeansStep]] makes vs [[trainCentroids]]. The p43/
    * p44 gate queries train with it; production trains without.
    * Output: sub, c_id, cemb — m·ksub rows. */
  /** Nearest codebook centroid per (vec_id, sub) row, exchange-free
    * (r15): the m·ksub codebook collapses to one array row per sub,
    * broadcast, and the L2 argmin (score = sv·c − |c|²/2, 6dp rounding,
    * c_id tiebreak) runs inside the row as an array fold. The previous
    * form shuffled the whole (corpus × sub) frame through a row_number
    * window keyed by (vec_id, sub) — a corpus-scale exchange + sort per
    * call (one per Lloyd iteration, one per encode; guide §2.4). Null
    * scores (guarded to NaN, which Spark orders above every double)
    * sort last, matching the window's NULLS LAST under desc; an
    * all-null row ties down to the smallest c_id, also as before.
    * Output: vec_id, sub, sv, c_id. */
  private def nearestSub(sv: DataFrame, books: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val bArr = books.withColumn("cn2", dot(col("cemb"), col("cemb")))
      .groupBy("sub")
      .agg(collect_list(struct(col("c_id"), col("cemb"), col("cn2"))).as("bs"))
    sv.join(broadcast(bArr), "sub")
      .select(col("vec_id") +: carry.map(col) ++: Seq(col("sub"), col("sv"),
        array_min(transform(col("bs"), x =>
          struct(coalesce(-round(dot(col("sv"), x("cemb")) - x("cn2") / 2, 6),
            lit(Double.NaN)).as("nscore"), x("c_id").as("c_id"))))
          .getField("c_id").as("c_id")): _*)
  }

  def pqTrain(emb: DataFrame, m: Int = 8, ksub: Int = 64,
      iters: Int = 3, exactMeans: Boolean = false): DataFrame = {
    val sv = subvectors(emb, m).localCheckpoint(false)
    val seedIds = emb.select(col("vec_id"))
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy("h").limit(ksub)
      // bounded frame: the global window runs AFTER limit(ksub), over
      // ksub (= 64) seed rows, never the embedding corpus
      .withColumn("c_id", row_number().over(Window.orderBy("h")) - 1)
    // lazy pins throughout (r14): each checkpoint materializes inside
    // its first consumer's job (the seed books inside round 1's
    // broadcast build, each round's means inside the caller's first
    // action through the final union) instead of paying a dedicated
    // eager-materialization job per frame; lineage truncation and the
    // empty-centroid union semantics are unchanged.
    var books = sv.join(broadcast(seedIds.select("vec_id", "c_id")), "vec_id")
      .select(col("sub"), col("c_id"), col("sv").as("cemb"))
      .localCheckpoint(false)
    for (_ <- 0 until iters) {
      val assigned = nearestSub(sv, books)
      val mv =
        if (exactMeans)
          round(expr(
            "aggregate(sort_array(collect_list(v)), cast(0.0 as double), (a, x) -> a + x)")
            / count(lit(1)), 6)
        else avg(col("v"))
      val means = assigned
        .select(col("sub"), col("c_id"), posexplode(col("sv")).as(Seq("dim", "v")))
        .groupBy("sub", "c_id", "dim")
        .agg(mv.as("mv"))
        .groupBy("sub", "c_id")
        .agg(expr("transform(array_sort(collect_list(struct(dim, mv))), s -> s.mv)")
          .as("cemb"))
        .localCheckpoint(false)
      books = means.unionByName(
        books.join(means.select("sub", "c_id"), Seq("sub", "c_id"), "left_anti"))
        .localCheckpoint(false)
    }
    books
  }

  /** Encode each vector as m codebook ids — the PQ compression step:
    * a 64-dim float vector becomes 8 small ints (~8 bytes vs 256, a
    * 32× cut in what the candidate scan reads). Broadcast codebook
    * join + per-(vec_id, sub) argmin, same determinism rules as
    * training. Output: vec_id, sub, c_id. */
  def pqEncode(emb: DataFrame, books: DataFrame, m: Int = 8): DataFrame =
    nearestSub(subvectors(emb, m), books)
      .select(col("vec_id"), col("sub"), col("c_id"))

  /** PQ ANN: train codebooks on the corpus, encode it, rank candidates
    * by the ADC (asymmetric-distance) approximate dot, shortlist per
    * query, then exact float cosine re-rank (zero-norm guarded like
    * [[quantizedTopK]]).
    *
    * The ADC scan is deliberately NOT the textbook
    * codes-join-LUT-groupBy: that shape fans every code row out per
    * query and pays a corpus×queries×m aggregation shuffle (measured
    * 7× slower at 100k vectors). Instead codes pack into one
    * m-entry array per vector, each query's lookup table packs into a
    * ksub×m nested array, and the approximate dot is a STATIC chain of
    * m codegen'd element_at lookups inside a narrow broadcast
    * crossJoin — the [[bruteTopK]] plan shape, but each pair costs m
    * array reads instead of d multiplies, and the corpus side reads
    * the ~8-byte codes, not the 256-byte floats (the 32× scan cut that
    * is PQ's whole point at 100 TB: codes are the resident index; only
    * the shortlist touches full vectors). Positional indexing is sound
    * because every sub keeps the full contiguous 0..ksub-1 centroid
    * range (empty centroids persist by construction in [[pqTrain]]).
    * Composes with [[recallAtK]]; AnnSpec pins the shipped defaults to
    * recall@10 ≥ 0.9 and proves a full-corpus shortlist reproduces
    * [[bruteTopK]] exactly.
    *
    * `books` supplies pre-trained codebooks (a [[pqTrain]] result —
    * the production shape, where codebooks are trained once and
    * reused per query batch); `None` trains on `emb` inline.
    * `exactMeans` is [[pqTrain]]'s oracle-exactness switch (ignored
    * when `books` is given).
    * Output: q_id, vec_id, sim, rn — the [[bruteTopK]] shape. */
  def pqTopK(emb: DataFrame, queries: DataFrame, k: Int = 10, m: Int = 8,
      ksub: Int = 64, iters: Int = 3, shortlist: Int = 80,
      exactMeans: Boolean = false,
      books0: Option[DataFrame] = None): DataFrame = {
    // no extra checkpoint: pqTrain's result is already (lazily)
    // localCheckpointed — the first consumer materializes it, the
    // second reuses the checkpoint RDD; an eager wrap here was one
    // whole redundant job (~0.3 s at sf0.1, r7)
    val books = books0.getOrElse(pqTrain(emb, m, ksub, iters, exactMeans))
    val codes = packedCodes(pqEncode(emb, books, m))
    rerankShortlist(emb, queries,
      pqShortlist(codes, books, queries, m, shortlist), k)
  }

  /** (q_id, luts) — one nested ksub×m lookup table per query: for each
    * subspace, the dot of the query's subvector with every codebook
    * centroid, packed c_id-ordered then sub-ordered so the ADC chain
    * can index positionally. Built on the tiny query side, broadcast
    * by every consumer. */
  private def pqLuts(queries: DataFrame, books: DataFrame, m: Int): DataFrame =
    subvectors(queries, m)
      .join(broadcast(books), "sub")
      .select(col("vec_id").as("q_id"), col("sub"), col("c_id"),
        dot(col("sv"), col("cemb")).as("pdot"))
      .groupBy("q_id", "sub")
      .agg(expr("transform(array_sort(collect_list(struct(c_id, pdot))), s -> s.pdot)")
        .as("lut"))
      .groupBy("q_id")
      .agg(expr("transform(array_sort(collect_list(struct(sub, lut))), s -> s.lut)")
        .as("luts"))

  /** The ADC approximate dot: a STATIC chain of m codegen'd element_at
    * lookups (see [[pqTopK]]'s anti-textbook note). Positional
    * indexing is sound because every sub keeps the full contiguous
    * 0..ksub-1 centroid range ([[pqTrain]] persists empty centroids). */
  private def adcDot(m: Int): Column =
    (0 until m).map(s =>
        element_at(element_at(col("luts"), s + 1),
          col("codes").getItem(s).cast("int") + 1))
      .reduce(_ + _)

  /** ADC candidate scan over packed codes: approximate-dot rank, top
    * `shortlist` (q_id, vec_id) per query. `codes` is a (vec_id,
    * codes[m]) frame — in-memory from [[pqEncode]] or read back from a
    * [[writePqIndex]] path; the ONE scan definition shared by both. */
  private def pqShortlist(codes: DataFrame, books: DataFrame,
      queries: DataFrame, m: Int, shortlist: Int): DataFrame =
    codes.crossJoin(broadcast(pqLuts(queries, books, m)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), round(adcDot(m), 6).as("adot"))
      .withColumn("qrn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adot").desc, col("vec_id"))))
      .filter(col("qrn") <= shortlist)
      .select("q_id", "vec_id")

  /** Exact float-cosine re-rank of a (q_id, vec_id) shortlist — the
    * ONE definition shared by the PQ paths; zero norms rank null
    * (sink), the [[quantizedTopK]] guard. */
  private def rerankShortlist(emb: DataFrame, queries: DataFrame,
      short: DataFrame, k: Int): DataFrame = {
    val e = withNorm(emb)
    val q = withNorm(queries)
      .select(col("vec_id").as("q_id"), col("emb").as("qemb"), col("nrm").as("qnrm"))
    short.join(e, "vec_id").join(broadcast(q), "q_id")
      .select(col("q_id"), col("vec_id"),
        when(col("nrm") * col("qnrm") > 0,
          round(dot(col("emb"), col("qemb")) / (col("nrm") * col("qnrm")), 3))
          .as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rn") <= k)
  }

  /** Packed (vec_id, codes[m]) frame from [[pqEncode]]'s long output —
    * codes ordered by subspace, ready for positional ADC lookups. */
  private def packedCodes(enc: DataFrame): DataFrame =
    enc.groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(sub, c_id))), s -> s.c_id)")
        .as("codes"))

  /** IVFPQ — the composition run at billion-vector scale (FAISS's
    * IVFPQ): a coarse IVF quantizer decides WHICH vectors are scanned
    * (only `nprobe` clusters per query), and PQ codes over the
    * RESIDUAL (vector − its coarse centroid, the standard trick: the
    * residual's spread is what the coarse quantizer failed to explain,
    * so the same ksub codes capture far more detail) decide how CHEAP
    * each scanned candidate is (~8-byte codes, m element_at lookups).
    * One residual-codebook lookup table per query plus a scalar
    * dot(q, centroid) bias per (query, probed cluster) — both built on
    * the tiny query side and broadcast; the corpus-side scan is a
    * broadcast equi-join on the coarse cluster id — over a
    * c_id-partitioned code index that becomes partition pruning, the
    * [[writeIvfIndex]] story with 32× less IO per probed cluster.
    * Probing ALL clusters with a full shortlist reproduces
    * [[bruteTopK]] exactly (AnnSpec law); the shipped defaults carry
    * the same recall@10 ≥ 0.9 floor as the other approximate paths.
    *
    * `coarse0` supplies FIXED coarse centroids as a (vec_id,
    * embedding) frame — the production shape (a deployed IVFPQ reuses
    * one persisted coarse quantizer across ingests; re-training it
    * per batch would reshuffle every partition) and the
    * oracle-checkable one (p44 pins 8 corpus vectors); `None` trains
    * `kCoarse` centroids inline. `books0` supplies pre-trained
    * RESIDUAL codebooks (train on [[ivfPqResiduals]] output); `None`
    * trains inline. `exactMeans` is [[pqTrain]]'s oracle-exactness
    * switch for the residual codebooks.
    * Output: q_id, vec_id, sim, rn — the [[bruteTopK]] shape. */
  def ivfPqTopK(emb: DataFrame, queries: DataFrame, k: Int = 10,
      kCoarse: Int = 16, nprobe: Int = 8, m: Int = 8, ksub: Int = 64,
      iters: Int = 3, shortlist: Int = 80, exactMeans: Boolean = false,
      coarse0: Option[DataFrame] = None,
      books0: Option[DataFrame] = None): DataFrame = {
    val coarse = coarse0 match {
      case Some(c) => c.select(col("vec_id").as("c_id"),
        asDouble(col("embedding")).as("cemb"))
      case None => trainCentroids(emb, kCoarse, iters).localCheckpoint(true)
    }
    val resid = ivfPqResiduals(emb, coarse).localCheckpoint(false)
    val books = books0.getOrElse(
      pqTrain(resid.drop("c_id"), m, ksub, iters, exactMeans))
    rerankShortlist(emb, queries,
      ivfPqShortlist(ivfPqCodes(resid, books, m), coarse, books, queries,
        m, nprobe, shortlist), k)
  }

  /** (vec_id, codes[m], c_id) — the IVFPQ code table from a residual
    * frame. The coarse cluster id RIDES the encode as a carried column
    * (duplicated m× through the subvector explode, a few bytes each)
    * instead of being re-attached by a corpus×corpus join on vec_id
    * after packing — that join shuffled both sides for a column the
    * encode's own input already had (guide §3). Shared by the
    * in-memory search path and the persisted-index writer. */
  private def ivfPqCodes(resid: DataFrame, books: DataFrame,
      m: Int): DataFrame =
    nearestSub(subvectors(resid.withColumnRenamed("c_id", "ivf_c"), m,
        carry = Seq("ivf_c")), books, carry = Seq("ivf_c"))
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(sub, c_id))), s -> s.c_id)")
        .as("codes"), max(col("ivf_c")).as("c_id"))

  /** Residual frame against FIXED coarse centroids (`coarse` is a
    * (c_id, cemb) frame — [[trainCentroids]] output shape): each
    * vector minus its cosine-nearest centroid, the input [[pqTrain]]
    * trains IVFPQ codebooks on. One broadcast-centroid narrow map.
    * Output: vec_id, c_id, embedding (the residual). */
  def ivfPqResiduals(emb: DataFrame, coarse: DataFrame): DataFrame = {
    val cents = coarse.select(col("c_id").as("vec_id"), col("cemb").as("embedding"))
    val ce = coarse.select(col("c_id"), asDouble(col("cemb")).as("ce"))
    withClusterId(emb.select(col("vec_id"), col("embedding")), cents)
      .join(broadcast(ce), "c_id")
      .select(col("vec_id"), col("c_id"),
        zip_with(asDouble(col("embedding")), col("ce"), (a, b) => a - b)
          .as("embedding"))
  }

  /** ADC candidate scan over coarse-partitioned residual codes.
    *
    * Inner-product ADC over residual codes decomposes as
    *   dot(q, v) ≈ dot(q, c_v) + dot(q, r̂_v)
    * so the QUERY stays whole: one LUT per query against the residual
    * codebooks (dot(q, r̂_v) via m lookups), plus a per-(query, probed
    * cluster) scalar bias dot(q, c_v). Residualizing the query instead
    * would drop the cross-cluster bias term — candidates from
    * different probed clusters would rank on the wrong scale
    * (measured: relative recall 0.72 → 0.98 with the bias form).
    *
    * `codes` is a (vec_id, codes[m], c_id) frame — in-memory or read
    * back from a [[writeIvfPqIndex]] path; the ONE scan definition
    * shared by both. */
  private def ivfPqShortlist(codes: DataFrame, coarse: DataFrame,
      books: DataFrame, queries: DataFrame, m: Int, nprobe: Int,
      shortlist: Int): DataFrame = {
    val cents = coarse.select(col("c_id").as("vec_id"), col("cemb").as("embedding"))
    val ce = coarse.select(col("c_id"), asDouble(col("cemb")).as("ce"))
    val probed = probeRank(cents, queries, nprobe)
      .join(broadcast(ce), "c_id")
      .select(col("q_id").as("pq_id"), col("c_id").as("pc_id"),
        dot(col("qemb"), col("ce")).as("bias"))
    val lutQ = pqLuts(queries.select(col("vec_id"), col("embedding")), books, m)
    codes
      .join(broadcast(probed), codes("c_id") === col("pc_id"))
      .join(broadcast(lutQ), col("pq_id") === lutQ("q_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(adcDot(m) + col("bias"), 6).as("adot"))
      .withColumn("qrn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adot").desc, col("vec_id"))))
      .filter(col("qrn") <= shortlist)
      .select("q_id", "vec_id")
  }

  // ─── Persisted PQ code indexes (parity with the IVF story:
  // writeIvfIndex / appendIvfIndex / ivfSearchBatchIndex) ───

  /** PQ write path: land the packed ~m-byte codes as the RESIDENT
    * index — the candidate scan then reads ~8 bytes/vector from disk
    * instead of the 256-byte float column, the 32× IO cut that is
    * PQ's whole point at 100 TB. Codebooks are the caller's to keep
    * (tiny — m·ksub rows; a plain `books.write.parquet` round-trips
    * them losslessly, doubles are exact in parquet). Layout: (vec_id,
    * codes[m]). */
  def writePqIndex(emb: DataFrame, books: DataFrame, path: String,
      m: Int = 8): Unit =
    writePq(emb, books, path, m, "overwrite")

  /** The ONE definition of the flat PQ index layout (the [[writeIvf]]
    * pattern): full build, batch append, and the streaming per-batch
    * writer ([[graft.streaming.Ingest.pqIngestStream]]) all go
    * through here. */
  private[graft] def writePq(batch: DataFrame, books: DataFrame,
      path: String, m: Int, mode: String): Unit =
    packedCodes(pqEncode(batch, books, m))
      .write.mode(mode).parquet(path)

  /** Incremental PQ ingest: encode ONLY the new batch against the
    * index's (fixed) codebooks and append — the PQ sibling of
    * [[appendIvfIndex]]. Existing codes are never rescanned or
    * rewritten; cost per batch is one broadcast-codebook narrow map
    * over the batch alone. Codebooks must be the ones the index was
    * built with — retraining after drift is a full [[writePqIndex]].
    * Plain append is at-least-once under caller retry (the
    * [[appendIvfIndex]] caveat). */
  def appendPqIndex(batch: DataFrame, books: DataFrame, path: String,
      m: Int = 8): Unit =
    writePq(batch, books, path, m, "append")

  /** [[pqTopK]] over a persisted code index: the ADC scan reads the
    * packed codes from `path`; only the `shortlist` winners touch the
    * full float vectors in `emb` (the re-rank join). Row-identical to
    * the in-memory path by construction — both run [[pqShortlist]].
    * Output: q_id, vec_id, sim, rn. */
  def pqSearchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      books: DataFrame, emb: DataFrame, queries: DataFrame, k: Int = 10,
      m: Int = 8, shortlist: Int = 80): DataFrame =
    rerankShortlist(emb, queries,
      pqShortlist(spark.read.parquet(path), books, queries, m, shortlist), k)

  /** IVFPQ write path: residual-encode against the fixed coarse
    * centroids + codebooks and land the codes PARTITIONED BY the
    * coarse cluster id — probing becomes directory pruning
    * ([[writeIvfIndex]]'s story) AND each probed directory is ~8-byte
    * codes, not floats: the two scale levers composed. Layout:
    * (vec_id, codes[m]) under c_id= directories. */
  def writeIvfPqIndex(emb: DataFrame, coarse: DataFrame, books: DataFrame,
      path: String, m: Int = 8): Unit =
    writeIvfPq(emb, coarse, books, path, m, "overwrite")

  /** The ONE definition of the IVFPQ index layout (the [[writeIvf]]
    * pattern): full build, batch append, and the streaming per-batch
    * writer all go through here. */
  private[graft] def writeIvfPq(batch: DataFrame, coarse: DataFrame,
      books: DataFrame, path: String, m: Int, mode: String): Unit =
    ivfPqCodes(ivfPqResiduals(batch, coarse), books, m)
      .write.partitionBy("c_id").mode(mode).parquet(path)

  /** Incremental IVFPQ ingest: residual-encode ONLY the new batch
    * (coarse centroids and codebooks fixed) and append into the
    * partitioned code index. */
  def appendIvfPqIndex(batch: DataFrame, coarse: DataFrame,
      books: DataFrame, path: String, m: Int = 8): Unit =
    writeIvfPq(batch, coarse, books, path, m, "append")

  /** [[ivfPqTopK]] over a persisted code index. The union of probed
    * clusters across the query batch is collected (the IVF routing
    * table — bounded by #centroids, never data-sized) and applied as
    * a STATIC partition predicate, so only probed cluster directories
    * are listed and read ([[ivfSearchBatchIndex]]'s discipline); the
    * ADC then ranks inside them and only shortlist winners touch the
    * float vectors in `emb`. Output: q_id, vec_id, sim, rn. */
  def ivfPqSearchIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, coarse: DataFrame, books: DataFrame, emb: DataFrame,
      queries: DataFrame, k: Int = 10, nprobe: Int = 8, m: Int = 8,
      shortlist: Int = 80): DataFrame = {
    val cents = coarse.select(col("c_id").as("vec_id"), col("cemb").as("embedding"))
    val probedIds = probeRank(cents, queries, nprobe)
      .select("c_id").distinct().collect().map(_.get(0)).toIndexedSeq
    rerankShortlist(emb, queries,
      ivfPqShortlist(
        spark.read.parquet(path).where(col("c_id").isin(probedIds: _*)),
        coarse, books, queries, m, nprobe, shortlist), k)
  }

  /** Recall@k of an approximate ranked list against the exact one —
    * the evaluation loop that tunes nprobe/shortlist/bands before an
    * index configuration ships (the number every AnnSpec recall floor
    * asserts, as a first-class operator). Both inputs are
    * (qCol, idCol, rn) ranked frames — the shape every retrieval
    * operator here emits; rows ranked past k are ignored, so full
    * lists pass as-is. One inner join on the (query, candidate) key
    * plus one per-query count: candidate-sized work, the corpus is
    * never touched. Queries are taken from the EXACT side (an approx
    * list that dropped a query entirely scores 0, not absent).
    * Output: q_id, hits, recall (4dp), ordered by q_id. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int,
      qCol: String = "q_id", idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, "k must be positive")
    val a = approx.filter(col("rn") <= k)
      .select(col(qCol).as("q_id"), col(idCol).as("id"))
    val x = exact.filter(col("rn") <= k)
      .select(col(qCol).as("q_id"), col(idCol).as("id"))
    val hits = a.join(x, Seq("q_id", "id"))
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    x.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / k, 4).as("recall"))
      .orderBy("q_id")
  }

  /** Semantic decontamination against a held-out evaluation set — the
    * DENSE sibling of the text-side `Dedup.dedupAgainst`/p45 split
    * decontamination: a paraphrased or re-chunked benchmark item
    * shares no 8-gram with its source but still sits next to it in
    * embedding space, so an embedding sweep is the tier that catches
    * what shingle overlap cannot. Every train vector is scored by its
    * MAX cosine to any eval vector; `contaminated` = that max ≥
    * threshold, and every train row stays visible (the audit-trail
    * rule — a downstream filter drops, this reports).
    *
    * Scale shape: the eval side is benchmark-sized by nature and
    * BROADCASTS; the train side is scanned once, narrow, and the
    * per-(train × eval) scores never shuffle — the max partial-
    * aggregates to one row per train vector before the exchange (the
    * p06 brute shape with an agg instead of a window). At corpus scale
    * over-fetch via the IVF shortlist first if |eval| is large.
    * `eval` must be non-empty — an empty eval set has nothing to
    * score against and yields an empty frame, not an all-clean one.
    * Output: vec_id, max_sim (3dp), contaminated. */
  def semDecontaminate(train: DataFrame, eval: DataFrame,
      threshold: Double = 0.9): DataFrame = {
    val t = withNorm(train)
    val e = withNorm(eval).select(col("vec_id").as("e_id"),
      col("emb").as("eemb"), col("nrm").as("enrm"))
    t.crossJoin(broadcast(e))
      .select(col("vec_id"),
        (dot(col("emb"), col("eemb")) / (col("nrm") * col("enrm")))
          .as("sim"))
      .groupBy("vec_id")
      .agg(max("sim").as("mx"))
      .select(col("vec_id"), round(col("mx"), 3).as("max_sim"),
        (col("mx") >= threshold).as("contaminated"))
  }

  /** [[semDecontaminate]]'s scale path — IVF-bucketed: train vectors
    * are assigned to their nearest centroid once (the write-path
    * assignment; on a persisted [[writeIvfIndex]] layout the c_id is
    * already a partition column), each eval vector probes its `nprobe`
    * nearest clusters, and only train vectors in PROBED clusters are
    * scored — work ∝ (probed fraction of train) × |eval| instead of
    * train × eval. Same trade as [[ivfTopK]]: nprobe is the recall
    * knob; a contaminated pair whose cluster the eval vector did not
    * probe is missed, so AnnSpec pins probed-everything == brute. A
    * train vector in no probed cluster reports max_sim null /
    * contaminated false — the audit row stays visible.
    * Output: vec_id, max_sim (3dp), contaminated. */
  def semDecontaminateIvf(train: DataFrame, eval: DataFrame,
      centroids: DataFrame, threshold: Double = 0.9,
      nprobe: Int = 4): DataFrame = {
    val t = withClusterId(train.select(col("vec_id"), col("embedding")), centroids)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"), col("c_id"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
    val probes = probeRank(centroids, eval, nprobe)
    val mx = t.join(broadcast(probes), Seq("c_id"))
      .select(col("vec_id"),
        (dot(col("emb"), col("qemb")) / (col("nrm") * col("qnrm")))
          .as("sim"))
      .groupBy("vec_id").agg(max("sim").as("mx"))
    train.select(col("vec_id")).distinct()
      .join(mx, Seq("vec_id"), "left")
      .select(col("vec_id"), round(col("mx"), 3).as("max_sim"),
        coalesce(col("mx") >= threshold, lit(false)).as("contaminated"))
  }

  /** Exact long-form covariance of the embedding column — the one-pass
    * second-moment summary PCA/whitening starts from, built for
    * cross-engine exactness and 100 TB shape at once. Each vector's
    * components are scaled by 1e6 and TRUNCATED to longs (float·1e6 is
    * exact in a double — 24+20 mantissa bits — and truncation toward
    * zero is identical in every engine, where rounding tie rules are
    * not); each row then emits its own d(d+1)/2 upper-triangle products
    * as a NARROW explode, and one partial-aggregable groupBy(i, j) sums
    * them as decimal(38,0) — exact integer sums are order-independent,
    * so the artifact is bit-stable under any partitioning. Map-side
    * combine reduces every partition to ≤ d(d+1)/2 cells before the
    * exchange; no join touches corpus rows (the d-row mean sums and the
    * 1-row count broadcast onto the cell frame).
    *
    * cov = (Sxy/n − (Sx/n)(Sy/n)) / 1e12 in a fixed operand order,
    * 6dp-rounded (the dsir determinism discipline); the exact integer
    * sums ride along so a consumer can re-derive at full precision or
    * MERGE two corpora's summaries by addition. Component magnitudes
    * up to ~1e3 are safe (per-pair product ≤ 1e18 in the long).
    * Output: i, j (i ≤ j), n, sxy, sx, sy, cov — d(d+1)/2 rows. */
  def covarianceLongForm(vecs: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    covarianceFromCells(covarianceCells(vecs, idCol, vecCol))

  /** One batch's covariance summary WITHOUT the derived cov column —
    * (i, j, n, sxy, sx, sy) per upper-triangle cell, every component an
    * exact integer sum, so summaries from disjoint batches merge by
    * plain addition ([[covarianceFromCells]]). This is the streamed
    * form's landing unit ([[graft.streaming.Ingest]] covIngestStream):
    * ≤ d(d+1)/2 rows per batch regardless of batch bytes. */
  def covarianceCells(vecs: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // Fan-out BEFORE the product stage: the d(d+1)/2-per-vector explode
    // costs ~1000x the float scan that feeds it, so it must not run at
    // the scan's split count (measured: 26 s at BOTH 100k and 500k
    // vectors — constant time = single-digit tasks doing all the work;
    // with fan-out 7.4/13.3 s, see SCALE.md cov rows). At cluster scale
    // the scan already carries enough splits and Fanout is a no-op; the
    // exchange it adds locally also becomes the ReuseExchange serving
    // point for the three consumers (cells, means, n) below.
    // null vectors are EXCLUDED before the count (a null row would
    // inflate n while contributing nothing to any sum — silently
    // biasing every cov toward zero); vectors must share one dimension
    val q = Fanout(vecs.select(col(idCol).as("vid"), col(vecCol).as("v"))
        .filter(col("v").isNotNull), "vid")
      .select(
        expr("transform(v, x -> CAST(x * 1000000.0D AS BIGINT))").as("q"))
    val cells = q.select(explode(expr(
        """flatten(transform(sequence(0, size(q) - 1), i ->
          |  transform(sequence(i, size(q) - 1), j ->
          |    struct(i AS i, j AS j, q[i] * q[j] AS p))))""".stripMargin))
        .as("z"))
      .select(col("z.i").as("i"), col("z.j").as("j"), col("z.p").as("p"))
      .groupBy("i", "j")
      .agg(sum(col("p").cast("decimal(38,0)")).as("sxy"))
    val means = q.select(posexplode(col("q")).as(Seq("i", "v")))
      .groupBy("i").agg(sum(col("v").cast("decimal(38,0)")).as("sx"))
    val n = q.agg(count(lit(1)).cast("long").as("n"))
    cells
      .join(broadcast(means), Seq("i"))
      .join(broadcast(means.select(col("i").as("j"), col("sx").as("sy"))),
        Seq("j"))
      .crossJoin(broadcast(n)) // 1-row count onto the d(d+1)/2 cells
      .select(col("i"), col("j"), col("n"), col("sxy"), col("sx"),
        col("sy"))
  }

  /** Grouped sibling of [[covarianceCells]] (the psiBy/winsorizeBy
    * relationship, on the embedding side): one exact cell summary PER
    * GROUP — per-class embedding statistics for stratified PCA,
    * per-source drift of the embedding distribution, or a per-model
    * A/B of two encoders sharing a corpus. Same mechanics — the
    * narrow per-vector product explode just carries the group key, so
    * map-side combine reduces each partition to ≤ groups × d(d+1)/2
    * cells; the group-keyed mean/count frames are summary-sized
    * (groups × d rows) and broadcast back. Null groups are kept (a
    * visible stratum, the histogramQuantilesBy rule).
    * Output: groupCol, i, j, n, sxy, sx, sy. */
  def covarianceCellsBy(vecs: DataFrame, groupCol: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = Fanout(vecs.select(col(idCol).as("vid"),
          col(groupCol).as("g"), col(vecCol).as("v"))
        .filter(col("v").isNotNull), "vid")
      .select(col("g"),
        expr("transform(v, x -> CAST(x * 1000000.0D AS BIGINT))").as("q"))
    val cells = q.select(col("g"), explode(expr(
        """flatten(transform(sequence(0, size(q) - 1), i ->
          |  transform(sequence(i, size(q) - 1), j ->
          |    struct(i AS i, j AS j, q[i] * q[j] AS p))))""".stripMargin))
        .as("z"))
      .select(col("g"), col("z.i").as("i"), col("z.j").as("j"),
        col("z.p").as("p"))
      .groupBy("g", "i", "j")
      .agg(sum(col("p").cast("decimal(38,0)")).as("sxy"))
    val means = q.select(col("g"), posexplode(col("q")).as(Seq("i", "v")))
      .groupBy("g", "i").agg(sum(col("v").cast("decimal(38,0)")).as("sx"))
    val n = q.groupBy("g").agg(count(lit(1)).cast("long").as("n"))
    // null-safe group joins (the psiBy/histogramQuantilesBy rule —
    // a plain equi-join would silently drop the null stratum)
    val mi = means.select(col("g").as("gi"), col("i").as("mi"), col("sx"))
    val mj = means.select(col("g").as("gj"), col("i").as("mj"),
      col("sx").as("sy"))
    val nn = n.select(col("g").as("gn"), col("n"))
    cells
      .join(broadcast(mi), col("g") <=> col("gi") && col("i") === col("mi"))
      .join(broadcast(mj), col("g") <=> col("gj") && col("j") === col("mj"))
      .join(broadcast(nn), col("g") <=> col("gn"))
      .select(col("g").as(groupCol), col("i"), col("j"), col("n"),
        col("sxy"), col("sx"), col("sy"))
  }

  /** [[covarianceFromCells]] keyed by the group column: merge raw
    * multi-batch grouped cells and derive cov per (group, i, j) in the
    * identical operand order — each group's rows equal the ungrouped
    * [[covarianceLongForm]] of that group's slice bit for bit (AnnSpec
    * law). `groupCol` must be the cells' first column (the
    * [[covarianceCellsBy]] layout). */
  def covarianceFromCellsBy(cells: DataFrame): DataFrame = {
    val g = cells.columns.head
    val merged = cells.groupBy(g, "i", "j").agg(
      sum("n").cast("long").as("n"),
      sum("sxy").cast("decimal(38,0)").as("sxy"),
      sum("sx").cast("decimal(38,0)").as("sx"),
      sum("sy").cast("decimal(38,0)").as("sy"))
    val nd = col("n").cast("double")
    def d(c: Column) = c.cast("double")
    merged.select(col(g), col("i"), col("j"), col("n"), col("sxy"),
      col("sx"), col("sy"),
      round((d(col("sxy")) / nd - (d(col("sx")) / nd) *
        (d(col("sy")) / nd)) / lit(1e12), 6).as("cov"))
  }

  /** Merge per-batch [[covarianceCells]] summaries (raw multi-batch
    * cells welcome — duplicates per (i, j) and any batch_id partition
    * column are summed/pruned here) and derive cov in the same fixed
    * IEEE operand order as the one-shot form: merged-then-derived ==
    * [[covarianceLongForm]] of the concatenated corpus bit for bit,
    * because every input to the derivation is an exact integer. */
  def covarianceFromCells(cells: DataFrame): DataFrame = {
    val merged = cells.groupBy("i", "j").agg(
      sum("n").cast("long").as("n"),
      sum("sxy").cast("decimal(38,0)").as("sxy"),
      sum("sx").cast("decimal(38,0)").as("sx"),
      sum("sy").cast("decimal(38,0)").as("sy"))
    val nd = col("n").cast("double")
    def d(c: Column) = c.cast("double")
    merged.select(col("i"), col("j"), col("n"), col("sxy"), col("sx"),
      col("sy"),
      round((d(col("sxy")) / nd - (d(col("sx")) / nd) *
        (d(col("sy")) / nd)) / lit(1e12), 6).as("cov"))
  }

  /** Pearson correlation long-form, derived from the SAME cells as
    * [[covarianceFromCells]] — `corr_ij = cov_ij / √(cov_ii·cov_jj)`
    * over the 6dp-rounded covariances (so the two reports can never
    * disagree about their shared inputs): the dimension-health check
    * that reads identically at any scale where raw covariances do not
    * (dead dimensions → null row, duplicated/linearly-tied dimensions
    * → |corr| ≈ 1 — both common embedding-pipeline faults). All math
    * past the cell merge is d(d+1)/2-row summary work; the diagonal
    * broadcasts back onto the cells.
    * Output: i, j, cov, corr (null when either variance is 0). */
  def correlationFromCells(cells: DataFrame): DataFrame = {
    val cov = covarianceFromCells(cells)
    val diag = cov.filter(col("i") === col("j"))
      .select(col("i").as("d"), col("cov").as("v"))
    cov
      .join(broadcast(diag.select(col("d").as("i"), col("v").as("vi"))),
        Seq("i"))
      .join(broadcast(diag.select(col("d").as("j"), col("v").as("vj"))),
        Seq("j"))
      .select(col("i"), col("j"), col("cov"),
        when(col("vi") * col("vj") > 0,
          round(col("cov") / sqrt(col("vi") * col("vj")), 6)).as("corr"))
  }

  /** [[correlationFromCells]] keyed by the group column — the
    * per-class dimension-health report completing the r111/r112
    * family: per-source dead dimensions (null corr row only in THAT
    * stratum) and per-class dimension ties are exactly the faults a
    * pooled corr hides (one healthy majority source masks a
    * degenerate minority one). Identical derivation per group —
    * `corr_ij = cov_ij / √(cov_ii·cov_jj)` over the 6dp grouped
    * covariances, so each group's rows equal the ungrouped
    * [[correlationFromCells]] of its slice bit for bit (AnnSpec law).
    * All math past the cell merge is groups × d(d+1)/2 summary work;
    * the per-group diagonal broadcasts back onto the cells with
    * null-safe joins (the covarianceCellsBy rule). `groupCol` must be
    * the cells' first column (the [[covarianceCellsBy]] layout).
    * Output: groupCol, i, j, cov, corr. */
  def correlationFromCellsBy(cells: DataFrame): DataFrame = {
    val g = cells.columns.head
    val cov = covarianceFromCellsBy(cells)
      .select(col(g), col("i"), col("j"), col("cov"))
    val diag = cov.filter(col("i") === col("j"))
      .select(col(g).as("gd"), col("i").as("d"), col("cov").as("v"))
    cov
      .join(broadcast(diag.select(col("gd").as("gi"), col("d").as("di"),
          col("v").as("vi"))),
        col(g) <=> col("gi") && col("i") === col("di"))
      .join(broadcast(diag.select(col("gd").as("gj"), col("d").as("dj"),
          col("v").as("vj"))),
        col(g) <=> col("gj") && col("j") === col("dj"))
      .select(col(g), col("i"), col("j"), col("cov"),
        when(col("vi") * col("vj") > 0,
          round(col("cov") / sqrt(col("vi") * col("vj")), 6)).as("corr"))
  }

  /** Per-group per-dimension embedding drift vs the POOLED corpus —
    * the "did source X's encoder move" report: for every (group, dim),
    * the group's mean/variance plus the standardized mean shift
    * `mean_z = (mean_g − mean_pool) / √var_pool` and the variance
    * ratio `var_g / var_pool` (both null where the pooled dim is
    * constant — a dead dim has no drift scale). This is the
    * embedding-side sibling of the scalar psiBy drift monitor: a
    * re-embedded or drifted source shows |mean_z| ≫ 0 / var_ratio far
    * from 1 on many dims at once, while a healthy stratum hovers near
    * (0, 1) everywhere.
    *
    * Scale shape: the only corpus pass is the diagonal of the grouped
    * cells ([[covarianceCellsBy]] mechanics — narrow per-vector
    * explode, map-side combine to ≤ groups × d diagonal cells); the
    * pooled spine is the SUM of the grouped cells (exact integer
    * summaries merge by addition — no second corpus pass) and
    * broadcasts back as d rows. Derived doubles follow the r111
    * discipline: each report column is computed from the 6dp-rounded
    * mean/var columns in a fixed operand order, so the report can
    * never disagree with itself and is hash-stable cross-engine.
    * Output: groupCol, i, n, mean, variance, mean_z, var_ratio. */
  def embeddingDriftBy(vecs: DataFrame, groupCol: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    driftFromDiag(diagCellsBy(vecs, groupCol, idCol, vecCol))

  /** Diagonal-only grouped second-moment pass — (group, i, n, sxy,
    * sx) with `sxy = Σ xᵢ²`: the drift reports need ONLY the d
    * diagonal cells, and deriving them from the full
    * [[covarianceCellsBy]] product triangle would burn ~d/2× the
    * needed CPU on off-diagonal products it then throws away (d = 64:
    * 2080 products per vector vs 64 squares). Same Fanout'd narrow
    * explode (posexplode, no pair generation), same scaled-truncated
    * longs and exact decimal sums — so the diagonal of
    * covarianceCellsBy equals this bit for bit, which the
    * multi-batch merge-law spec pins cross-implementation. */
  private def diagCellsBy(vecs: DataFrame, groupCol: String,
      idCol: String, vecCol: String): DataFrame = {
    val q = Fanout(vecs.select(col(idCol).as("vid"),
          col(groupCol).as("g"), col(vecCol).as("v"))
        .filter(col("v").isNotNull), "vid")
      .select(col("g"),
        expr("transform(v, x -> CAST(x * 1000000.0D AS BIGINT))").as("q"))
    q.select(col("g"), posexplode(col("q")).as(Seq("i", "x")))
      .groupBy("g", "i")
      .agg(count(lit(1)).cast("long").as("n"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxy"),
        sum(col("x").cast("decimal(38,0)")).as("sx"))
      .select(col("g").as(groupCol), col("i"), col("n"), col("sxy"),
        col("sx"))
  }

  /** [[embeddingDriftBy]] from an already-landed grouped cell frame
    * (raw multi-batch cells welcome — duplicate (group, i, j) rows are
    * merged by addition first): the monitoring path. A streamed
    * covariance landing ([[graft.streaming.Ingest]] covByIngestStream)
    * refreshes the drift report from summary-sized cells WITHOUT
    * re-reading the vector corpus, the covarianceFromCells(landed)
    * relationship. `groupCol` = the cells' first column. */
  def embeddingDriftFromCellsBy(cells: DataFrame): DataFrame = {
    val g = cells.columns.head
    driftFromDiag(cells.filter(col("i") === col("j"))
      .select(col(g), col("i"), col("n"), col("sxy"), col("sx")))
  }

  /** Shared drift derivation over a raw (group, i, n, sxy, sx)
    * diagonal frame: merge duplicate (group, i) rows by addition
    * (multi-batch landings), derive per-group mean/variance, broadcast
    * the pooled d-row spine back, report in the fixed 6dp operand
    * order ([[embeddingDriftBy]] scaladoc). */
  private def driftFromDiag(diagRaw: DataFrame): DataFrame = {
    val g = diagRaw.columns.head
    val diag = diagRaw
      .groupBy(g, "i").agg( // merge multi-batch landings by addition
        sum("n").cast("long").as("n"),
        sum("sxy").cast("decimal(38,0)").as("sxy"),
        sum("sx").cast("decimal(38,0)").as("sx"))
    def d(c: Column) = c.cast("double")
    val nd = d(col("n"))
    val grouped = diag.select(col(g), col("i"), col("n"),
      round(d(col("sx")) / nd / lit(1e6), 6).as("mean"),
      round((d(col("sxy")) / nd - (d(col("sx")) / nd) *
        (d(col("sx")) / nd)) / lit(1e12), 6).as("variance"))
    val npd = d(col("np"))
    val pooled = diag.groupBy("i").agg(
        sum("n").cast("long").as("np"),
        sum("sxy").cast("decimal(38,0)").as("sxyp"),
        sum("sx").cast("decimal(38,0)").as("sxp"))
      .select(col("i").as("pi"),
        round(d(col("sxp")) / npd / lit(1e6), 6).as("mean_p"),
        round((d(col("sxyp")) / npd - (d(col("sxp")) / npd) *
          (d(col("sxp")) / npd)) / lit(1e12), 6).as("var_p"))
    grouped
      .join(broadcast(pooled), col("i") === col("pi")) // d-row spine
      .select(col(g), col("i"), col("n"), col("mean"),
        col("variance"),
        when(col("var_p") > 0,
          round((col("mean") - col("mean_p")) / sqrt(col("var_p")), 6))
          .as("mean_z"),
        when(col("var_p") > 0, round(col("variance") / col("var_p"), 6))
          .as("var_ratio"))
  }

  /** Two-corpus embedding drift — `cur` scored against a REFERENCE
    * corpus (the corpus-diff / release-gate form of
    * [[embeddingDriftBy]], where the baseline is an explicit frozen
    * snapshot rather than the pooled mixture): per dimension,
    * `mean_z = (mean_cur − mean_ref) / √var_ref` and
    * `var_ratio = var_cur / var_ref` (null where the reference dim is
    * constant). One diagonal-only pass over each corpus (the
    * [[diagCellsBy]] shape — d squares per vector, NOT the d(d+1)/2
    * product triangle; the reference side is summary-sized and
    * typically a PERSISTED artifact re-read for pennies), d-row
    * spine join, 6dp fixed-order derivations. The spine join is FULL
    * OUTER: a dimensionality mismatch between the corpora (e.g. one
    * side re-embedded at a different d) surfaces as rows with a null
    * side instead of silently truncating the report to the common
    * dims — a drift gate must fail loudly on exactly that change.
    * Output: i, n_ref, n_cur, mean_ref, mean_cur, mean_z, var_ratio. */
  def embeddingDriftAgainst(ref: DataFrame, cur: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    driftAgainstFromDiag(diagCells(ref, idCol, vecCol),
      diagCells(cur, idCol, vecCol))

  /** [[embeddingDriftAgainst]] where the REFERENCE side is an
    * already-landed diagonal cell artifact `(i, n, sxy, sx)` — the
    * production release-gate shape: the frozen snapshot is persisted
    * once as d summary rows ([[diagCells]]) and every later corpus is
    * gated against it without ever re-reading the reference vectors.
    * Raw multi-batch cell rows welcome (duplicate `i` rows merge by
    * addition — the streamed-landing law), so a snapshot appended
    * batch-by-batch gates identically to a one-shot one (AnnSpec). */
  def embeddingDriftAgainstCells(refCells: DataFrame, cur: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    driftAgainstFromDiag(refCells, diagCells(cur, idCol, vecCol))

  /** The fully-landed drift gate — BOTH sides already summary cells:
    * the streaming release-gate shape, where the frozen reference is a
    * persisted [[diagCells]] artifact and the CURRENT corpus's cells
    * arrive from a streamed landing
    * ([[graft.streaming.Ingest]] covIngestStream — per-batch additive
    * cell partitions), so the gate verdict refreshes per micro-batch
    * without ever re-reading a vector corpus on either side. Accepts
    * diagonal cell frames or FULL covariance cell frames (a `j` column
    * marks the latter; the diagonal is filtered out here — bit-equal
    * to diagCells by the shared scaled-truncated-long construction).
    * Raw multi-batch rows merge by addition on both sides, so the
    * streamed landing gates identically to the one-shot batch form
    * (StreamingSpec STGATE law). */
  def embeddingDriftAgainstLanded(refCells: DataFrame,
      curCells: DataFrame): DataFrame =
    driftAgainstFromDiag(diagOf(refCells), diagOf(curCells))

  private def diagOf(cells: DataFrame): DataFrame =
    if (cells.columns.contains("j"))
      cells.filter(col("i") === col("j")).select("i", "n", "sxy", "sx")
    else cells.select("i", "n", "sxy", "sx")

  /** Ungrouped diagonal second-moment cells `(i, n, sxy, sx)` with
    * `sxy = Σ xᵢ²` — the persistable snapshot artifact
    * [[embeddingDriftAgainstCells]] gates against: ONE narrow pass
    * over the corpus, d summary rows out (same scaled-truncated longs
    * and exact decimal sums as [[covarianceCells]], so batches sum). */
  def diagCells(vecs: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    diagCellsBy(vecs.select(col(idCol), lit("all").as("side"),
        col(vecCol)), "side", idCol, vecCol)
      .select("i", "n", "sxy", "sx")

  /** Shared core of the two-corpus drift forms: merge each side's raw
    * diagonal cells by addition (multi-batch landings), derive 6dp
    * fixed-order mean/variance, FULL-OUTER join the d-row spines (a
    * dimensionality mismatch surfaces as null-sided rows — see
    * [[embeddingDriftAgainst]]) and report z/ratio. */
  private def driftAgainstFromDiag(refDiag: DataFrame,
      curDiag: DataFrame): DataFrame = {
    def d(c: Column) = c.cast("double")
    val nd = d(col("n"))
    def diagStats(cells: DataFrame, tag: String) =
      cells.groupBy("i").agg( // merge multi-batch landings by addition
          sum("n").cast("long").as("n"),
          sum("sxy").cast("decimal(38,0)").as("sxy"),
          sum("sx").cast("decimal(38,0)").as("sx"))
        .select(col("i").as(s"i_$tag"), col("n").as(s"n_$tag"),
          round(d(col("sx")) / nd / lit(1e6), 6).as(s"mean_$tag"),
          round((d(col("sxy")) / nd - (d(col("sx")) / nd) *
            (d(col("sx")) / nd)) / lit(1e12), 6).as(s"var_$tag"))
    diagStats(refDiag, "ref")
      .join(diagStats(curDiag, "cur"),
        col("i_ref") === col("i_cur"), "full_outer") // d-row spine
      .select(coalesce(col("i_ref"), col("i_cur")).as("i"),
        col("n_ref"), col("n_cur"),
        col("mean_ref"), col("mean_cur"),
        when(col("var_ref") > 0,
          round((col("mean_cur") - col("mean_ref")) /
            sqrt(col("var_ref")), 6)).as("mean_z"),
        when(col("var_ref") > 0,
          round(col("var_cur") / col("var_ref"), 6)).as("var_ratio"))
  }

  /** Top-k principal components from [[covarianceLongForm]]'s summary —
    * the deterministic driver-side eigensolve: the collected frame is
    * d(d+1)/2 bounded rows (never corpus data), and power iteration
    * with deflation runs on the dense d×d matrix in milliseconds. The
    * start vector for each component is the basis axis of the largest
    * remaining diagonal entry (a pure function of the matrix — no RNG),
    * a fixed `iters` sweeps, sign fixed so the largest-|.| coordinate
    * is positive. At corpus scale, fit on a SAMPLE (the dsirModel
    * fit/apply pattern — ~100k vectors is statistically plenty for
    * d = 64) and apply with [[pcaProject]] everywhere; the projection
    * is the narrow corpus-sized pass, the fit is not.
    * Returns (means, eigenvalues, components[k][d]). */
  def pcaComponents(vecs: DataFrame, k: Int, iters: Int = 100,
      vecCol: String = "embedding"): (Array[Double], Array[Double], Array[Array[Double]]) = {
    val rows = covarianceLongForm(vecs, vecCol = vecCol).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDecimal(4),
        r.getDouble(6)))
    eigensolve(rows.toSeq, k, iters)
  }

  /** The deterministic driver-side eigensolve shared by
    * [[pcaComponents]] and [[pcaComponentsBy]], over ONE (group's)
    * collected cell frame `(i, j, n, sx, cov)` — d(d+1)/2 bounded
    * rows, never corpus data (see [[pcaComponents]] scaladoc for the
    * power-iteration/deflation/sign conventions). */
  private def eigensolve(
      rows: Seq[(Int, Int, Long, java.math.BigDecimal, Double)],
      k: Int, iters: Int): (Array[Double], Array[Double], Array[Array[Double]]) = {
    require(rows.nonEmpty, "pcaComponents: empty input")
    val dDim = rows.iterator.map(_._2).max + 1
    val n = rows.head._3.toDouble
    val mean = new Array[Double](dDim)
    val c = Array.ofDim[Double](dDim, dDim)
    rows.foreach { case (i, j, _, sx, cov) =>
      c(i)(j) = cov; c(j)(i) = cov
      if (i == j) mean(i) = sx.doubleValue() / n / 1e6
    }
    val comps = Array.ofDim[Double](k, dDim)
    val eigs = new Array[Double](k)
    for (m <- 0 until k) {
      var v = new Array[Double](dDim)
      v(Array.tabulate(dDim)(i => i).maxBy(i => c(i)(i))) = 1.0
      for (_ <- 0 until iters) {
        val w = Array.tabulate(dDim)(i =>
          (0 until dDim).foldLeft(0d)((a, j) => a + c(i)(j) * v(j)))
        val nn = math.sqrt(w.foldLeft(0d)((a, x) => a + x * x))
        v = if (nn > 0) w.map(_ / nn) else w
      }
      val lam = (0 until dDim).foldLeft(0d)((a, i) =>
        a + v(i) * (0 until dDim).foldLeft(0d)((b, j) => b + c(i)(j) * v(j)))
      // sign convention: the largest-|coordinate| entry is positive
      val big = v.indices.maxBy(i => math.abs(v(i)))
      val s = if (v(big) < 0) -1.0 else 1.0
      for (i <- 0 until dDim) comps(m)(i) = v(i) * s
      eigs(m) = lam
      for (i <- 0 until dDim; j <- 0 until dDim)
        c(i)(j) -= lam * v(i) * v(j) // deflate
    }
    (mean, eigs, comps)
  }

  /** Per-group [[pcaComponents]] — stratified whitening and per-source
    * embedding-drift directions, the natural consumer the grouped
    * covariance cells ([[covarianceCellsBy]]) were built for: ONE
    * grouped cell pass over the corpus (the collected frame is groups
    * × d(d+1)/2 bounded summary rows, never corpus data), then the
    * same deterministic eigensolve runs per group on the driver. Each
    * group's fit equals the ungrouped [[pcaComponents]] of that
    * group's slice (AnnSpec law) because the grouped cells ARE the
    * slice's cells, exactly. Null group kept as a visible stratum
    * (the histogramQuantilesBy rule). At corpus scale, fit on a
    * per-group SAMPLE and apply with [[pcaProjectBy]] — the fit is
    * summary-sized either way; only the cell pass sees the corpus.
    * Returns groupValue -> (means, eigenvalues, components[k][d]). */
  def pcaComponentsBy(vecs: DataFrame, groupCol: String, k: Int,
      iters: Int = 100, idCol: String = "vec_id",
      vecCol: String = "embedding")
      : Map[Option[Any], (Array[Double], Array[Double], Array[Array[Double]])] = {
    // bounded collect: groups x d(d+1)/2 summary cells (annotated —
    // the pcaComponents discipline, one frame per group)
    val rows = covarianceFromCellsBy(
        covarianceCellsBy(vecs, groupCol, idCol, vecCol)).collect()
      .map(r => Option(r.get(0)) ->
        ((r.getInt(1), r.getInt(2), r.getLong(3), r.getDecimal(5),
          r.getDouble(7))))
    rows.groupBy(_._1).map { case (g, cells) =>
      g -> eigensolve(cells.map(_._2).toSeq, k, iters)
    }
  }

  /** Per-group [[pcaProject]]: every vector scored against ITS group's
    * components in ONE narrow codegen'd pass — each output score is a
    * CASE chain over the bounded group vocabulary (group matched
    * null-safely), so the corpus is scanned exactly once and each row
    * evaluates only its own group's broadcast-literal fold; no union,
    * no cache, nothing left to exchange reuse. Rows whose group has
    * no fit are dropped (score-against-nothing has no meaning); fit
    * on every stratum to keep them all.
    * Output: idCol, groupCol, pc0..pc{k-1}. */
  def pcaProjectBy(vecs: DataFrame, groupCol: String,
      fits: Map[Option[Any], (Array[Double], Array[Double], Array[Array[Double]])],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(fits.nonEmpty, "pcaProjectBy: no fitted groups")
    val fitSeq = fits.toSeq
    val k = fitSeq.head._2._3.length
    // every group must carry the same k: a group fitted with MORE
    // components than the head would otherwise silently lose its
    // extra pc columns (fewer already fails loudly via comps(m))
    require(fits.values.forall(_._3.length == k),
      s"pcaProjectBy: groups fitted with differing k " +
        fits.map { case (g, (_, _, c)) => s"$g->${c.length}" }.mkString(", "))
    def centered(means: Array[Double]) = zip_with(
      expr(s"transform($vecCol, v -> CAST(v AS DOUBLE))"),
      typedLit(means.toSeq), (a, b) => a - b)
    val scores = (0 until k).map { m =>
      fitSeq.foldLeft(lit(null).cast("double")) {
        case (acc, (g, (means, _, comps))) =>
          when(col(groupCol) <=> lit(g.orNull),
            round(aggregate(zip_with(centered(means),
              typedLit(comps(m).toSeq), (a, b) => a * b),
              lit(0d), _ + _), 6)).otherwise(acc)
      }.as(s"pc$m")
    }
    vecs.filter(fitSeq.map { case (g, _) => col(groupCol) <=> lit(g.orNull) }
        .reduce(_ || _))
      .select(col(idCol) +: col(groupCol) +: scores: _*)
  }

  /** PCA reconstruction-residual outlier score — the embedding-space
    * junk detector the text gates cannot see: corrupted embeddings,
    * wrong-model vectors, and OOD content all sit far OFF the corpus's
    * principal subspace, so their residual `‖x−μ‖² − Σ_j ⟨x−μ, c_j⟩²`
    * (orthonormal components) is large while in-distribution vectors—
    * however extreme along the subspace — score near zero. Fit
    * [[pcaComponents]] on a sample, score everywhere: one narrow
    * codegen'd map per vector, components broadcast as literals (the
    * [[pcaProject]] shape plus the centered self-dot). Score 6dp-
    * rounded; `outlier` = residual ≥ threshold, every row visible.
    * Output: idCol, resid, outlier. */
  def pcaResiduals(vecs: DataFrame, means: Array[Double],
      comps: Array[Array[Double]], threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centered = zip_with(
      expr(s"transform($vecCol, v -> CAST(v AS DOUBLE))"),
      typedLit(means.toSeq), (a, b) => a - b)
    val self = aggregate(zip_with(centered, centered, (a, b) => a * b),
      lit(0d), _ + _)
    val resid = comps.foldLeft(self) { (acc, cm) =>
      val p = aggregate(zip_with(centered, typedLit(cm.toSeq),
        (a, b) => a * b), lit(0d), _ + _)
      acc - p * p
    }
    vecs.select(col(idCol), round(resid, 6).as("resid"))
      .select(col(idCol), col("resid"),
        (col("resid") >= threshold).as("outlier"))
  }

  /** PCA whitening — [[pcaProject]] with each score scaled by
    * 1/√eigenvalue, so the output coordinates are unit-variance and
    * decorrelated: the standard embedding normalization before
    * distance-based downstream work (a raw PCA score space lets the
    * dominant direction swamp every cosine/euclidean comparison; the
    * whitened space weights directions by information, not energy).
    * Same execution shape as the projection — components AND the
    * 1/√λ scales fold into broadcast literals, one narrow codegen'd
    * map per vector, no shuffle. Components with λ ≤ 0 (deflation
    * residue past the true rank) produce null scores rather than an
    * infinity. Output: idCol, wc0..wc{k-1}. */
  def pcaWhiten(vecs: DataFrame, means: Array[Double],
      eigs: Array[Double], comps: Array[Array[Double]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centered = zip_with(
      expr(s"transform($vecCol, v -> CAST(v AS DOUBLE))"),
      typedLit(means.toSeq), (a, b) => a - b)
    val scores = comps.zip(eigs).zipWithIndex.map { case ((cm, lam), m) =>
      val p = aggregate(zip_with(centered, typedLit(cm.toSeq),
        (a, b) => a * b), lit(0d), _ + _)
      (if (lam > 0) round(p / lit(math.sqrt(lam)), 6)
       else lit(null).cast("double")).as(s"wc$m")
    }
    vecs.select(col(idCol) +: scores.toSeq: _*)
  }

  /** Mahalanobis outlier score in the RETAINED principal subspace —
    * `Σ_m pc_m²/λ_m`, the in-plane complement of [[pcaResiduals]]:
    * residuals catch junk OFF the corpus subspace but are blind to a
    * vector that is extreme ALONG it (a 20σ outlier on the dominant
    * direction reconstructs perfectly and scores residual ≈ 0);
    * Mahalanobis weights each retained direction by its variance, so
    * σ-units are comparable across directions and the two scores
    * together cover both failure axes. Same narrow broadcast-literal
    * map as the projection (λ ≤ 0 components are skipped — they
    * carry no variance scale). Score 6dp; `outlier` = score ≥
    * threshold, every row visible.
    * Output: idCol, maha, outlier. */
  def pcaMahalanobis(vecs: DataFrame, means: Array[Double],
      eigs: Array[Double], comps: Array[Array[Double]],
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val centered = zip_with(
      expr(s"transform($vecCol, v -> CAST(v AS DOUBLE))"),
      typedLit(means.toSeq), (a, b) => a - b)
    val score = comps.zip(eigs).filter(_._2 > 0)
      .foldLeft(lit(0d)) { case (acc, (cm, lam)) =>
        val p = aggregate(zip_with(centered, typedLit(cm.toSeq),
          (a, b) => a * b), lit(0d), _ + _)
        acc + p * p / lit(lam)
      }
    vecs.select(col(idCol), round(score, 6).as("maha"))
      .select(col(idCol), col("maha"),
        (col("maha") >= threshold).as("outlier"))
  }

  /** Stratified embedding outlier report — BOTH outlier axes
    * ([[pcaResiduals]] off-subspace + [[pcaMahalanobis]] in-subspace)
    * scored against each vector's OWN group's fit
    * ([[pcaComponentsBy]]): the per-source junk detector a pooled fit
    * structurally cannot be. A vector sitting on source B's manifold
    * but labeled source A is perfectly reconstructed by a pooled PCA
    * (whose subspace spans both sources → residual ≈ 0) yet is loud
    * junk under A's own fit — exactly the mislabeled/cross-
    * contaminated case (AnnSpec plants it). Both scores are CASE
    * chains over the bounded group vocabulary, so the corpus is
    * scanned exactly ONCE and each row evaluates only its own group's
    * broadcast-literal fold (no union, no join, no shuffle, nothing
    * left to exchange reuse). Rows whose group has no fit are dropped
    * — fit every stratum to keep them.
    * Output: idCol, groupCol, resid, resid_outlier, maha,
    * maha_outlier. */
  def pcaOutliersBy(vecs: DataFrame, groupCol: String,
      fits: Map[Option[Any], (Array[Double], Array[Double], Array[Array[Double]])],
      residThreshold: Double, mahaThreshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(fits.nonEmpty, "pcaOutliersBy: no fitted groups")
    val fitSeq = fits.toSeq
    def scoreFor(means: Array[Double], eigs: Array[Double],
        comps: Array[Array[Double]]): (Column, Column) = {
      val centered = zip_with(
        expr(s"transform($vecCol, v -> CAST(v AS DOUBLE))"),
        typedLit(means.toSeq), (a, b) => a - b)
      val self = aggregate(zip_with(centered, centered, (a, b) => a * b),
        lit(0d), _ + _)
      comps.zip(eigs).foldLeft((self, lit(0d))) { case ((r, m), (cm, lam)) =>
        val p = aggregate(zip_with(centered, typedLit(cm.toSeq),
          (a, b) => a * b), lit(0d), _ + _)
        (r - p * p, if (lam > 0) m + p * p / lit(lam) else m)
      }
    }
    val (resid, maha) = fitSeq.foldLeft(
        (lit(null).cast("double"), lit(null).cast("double"))) {
      case ((ra, ma), (g, (means, eigs, comps))) =>
        val (r, m) = scoreFor(means, eigs, comps)
        val hit = col(groupCol) <=> lit(g.orNull)
        (when(hit, round(r, 6)).otherwise(ra),
         when(hit, round(m, 6)).otherwise(ma))
    }
    vecs.filter(fitSeq.map { case (g, _) => col(groupCol) <=> lit(g.orNull) }
        .reduce(_ || _))
      .select(col(idCol), col(groupCol),
        resid.as("resid"), maha.as("maha"))
      .select(col(idCol), col(groupCol), col("resid"),
        (col("resid") >= residThreshold).as("resid_outlier"),
        col("maha"), (col("maha") >= mahaThreshold).as("maha_outlier"))
  }

  /** Project every vector onto the given components (mean-centered) —
    * the dimensionality-reduction write path: components broadcast as
    * literals, one narrow codegen'd map per vector, scores 6dp-rounded.
    * Output: idCol, pc0..pc{k-1}. */
  def pcaProject(vecs: DataFrame, means: Array[Double],
      comps: Array[Array[Double]], idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val centered = zip_with(
      expr(s"transform($vecCol, v -> CAST(v AS DOUBLE))"),
      typedLit(means.toSeq), (a, b) => a - b)
    val scores = comps.zipWithIndex.map { case (cm, m) =>
      round(aggregate(zip_with(centered, typedLit(cm.toSeq),
        (a, b) => a * b), lit(0d), _ + _), 6).as(s"pc$m")
    }
    vecs.select(col(idCol) +: scores.toSeq: _*)
  }
}
