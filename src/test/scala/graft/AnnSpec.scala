package graft

import org.apache.spark.sql.functions._
import graft.operators.Ann
import graft.functions.Vectors

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private def emb(rows: (Long, Seq[Float])*) =
    rows.map { case (id, v) => (id, v.toArray) }.toDF("vec_id", "embedding")

  test("dot expression equals HOF fold bit-for-bit") {
    // The rewrite rule would turn the HOF side into DotProduct and make
    // this vacuous — suspend it so the INTERPRETED fold is what we
    // compare against.
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = Nil
    try {
      val d = emb((0L, Seq(0.1f, 0.2f, 0.3f)), (1L, Seq(0.4f, 0.5f, 0.6f)))
        .select(Vectors.asDouble(col("embedding")).as("e"))
      val both = d.crossJoin(d.select(col("e").as("f")))
        .select(Vectors.dot(col("e"), col("f")).as("expr"),
          Vectors.dotHof(col("e"), col("f")).as("hof"))
        .collect()
      both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    } finally spark.experimental.extraOptimizations = saved
  }

  test("optimizer rule rewrites user-written HOF dot to the codegen'd DotProduct") {
    // provably-dense arrays (containsNull=false): the rule's static
    // guard — a nullable element type keeps the HOF untouched, since
    // its null propagation differs from DotProduct's
    val d = emb((0L, Seq(0.1f, 0.2f, 0.3f)), (1L, Seq(0.4f, 0.5f, 0.6f)))
      .select(col("vec_id"), col("embedding").cast(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false)).as("e"))
    val hof = d.crossJoin(d.select(col("e").as("f")))
      .select(col("vec_id"),
        expr("aggregate(zip_with(e, f, (x, y) -> x * y), 0D, (acc, v) -> acc + v)").as("dot"))
    val rows = hof.orderBy("vec_id", "dot").collect()
    val plan = hof.queryExecution.executedPlan.toString
    assert(plan.contains("dotproduct"), plan.take(1200))   // rule fired
    assert(!plan.contains("aggregate(zip_with"), plan.take(1200))
    val native = d.crossJoin(d.select(col("e").as("f")))
      .select(col("vec_id"), Vectors.dot(col("e"), col("f")).as("dot"))
      .orderBy("vec_id", "dot").collect()
    assert(rows.map(_.getDouble(1)).toSeq == native.map(_.getDouble(1)).toSeq)
    // nullable element types stay untouched by default (null semantics
    // differ) but opt in via assumeDense for trusted-dense data.
    // Parquet-backed (arrays read nullable, and a LocalRelation would
    // be constant-folded before the plan could be inspected).
    val dn = graft.sources.Tables.load(spark, sf, "embeddings").limit(2)
      .select(Vectors.asDouble(col("embedding")).as("e"))
    val hofN = dn.select(expr(
      "aggregate(zip_with(e, e, (x, y) -> x * y), 0D, (acc, v) -> acc + v)").as("dot"))
    hofN.collect()
    assert(!hofN.queryExecution.executedPlan.toString.contains("dotproduct"))
    spark.conf.set(graft.expressions.RewriteHofDot.AssumeDenseKey, "true")
    try {
      val hofD = dn.select(expr(
        "aggregate(zip_with(e, e, (x, y) -> x * y), 0D, (acc, v) -> acc + v)").as("dot"))
      hofD.collect()
      assert(hofD.queryExecution.executedPlan.toString.contains("dotproduct"))
    } finally spark.conf.unset(graft.expressions.RewriteHofDot.AssumeDenseKey)
  }

  test("bruteTopK ranks an identical vector first") {
    val d = emb(
      (0L, Seq(1f, 0f, 0f)), (1L, Seq(1f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f)), (3L, Seq(0.9f, 0.1f, 0f)))
    val top = Ann.bruteTopK(d, d.filter(col("vec_id") === 0), k = 2)
      .orderBy("rn").select("vec_id").as[Long].collect()
    assert(top.head == 1L)   // cos=1.0
    assert(top(1) == 3L)     // next closest
  }

  test("IVF search returns in-cluster neighbors best-first") {
    // two clear clusters around e1 and e2; centroids = ids 0 and 1
    val d = emb(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)),
      (2L, Seq(0.99f, 0.01f)), (3L, Seq(0.98f, 0.02f)),
      (4L, Seq(0.01f, 0.99f)))
    val res = Ann.ivfTopK(d, d.filter(col("vec_id") < 2), queryId = 0L, k = 10,
        nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(res == Set(2L, 3L))  // cluster of vec 0 only; 1 and 4 unscanned
    // the shipped default (nprobe = 2) widens to the second cluster
    val wide = Ann.ivfTopK(d, d.filter(col("vec_id") < 2), queryId = 0L, k = 10)
      .select("vec_id").as[Long].collect().toSet
    assert(wide == Set(1L, 2L, 3L, 4L))
  }

  test("IVF write path prunes cluster directories and nprobe widens recall") {
    val dir = tmp("ivf")
    val d = emb(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)),
      (2L, Seq(0.99f, 0.01f)), (3L, Seq(0.98f, 0.02f)),
      (4L, Seq(0.01f, 0.99f)), (5L, Seq(0.02f, 0.98f)))
    val cents = d.filter(col("vec_id") < 2)
    Ann.writeIvfIndex(d, cents, dir)
    val res = Ann.ivfSearchIndex(spark, dir, cents, Seq(1.0, 0.0), k = 3, nprobe = 1)
    res.collect()  // finalize AQE plan before inspecting
    val plan = res.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*c_id".r.findFirstIn(plan).isDefined, plan.take(1500))
    // nprobe=1 sees only the query's cluster {0,2,3}...
    assert(res.select("vec_id").as[Long].collect().toSet == Set(0L, 2L, 3L))
    // ...nprobe=#clusters recovers the full corpus
    val all = Ann.ivfSearchIndex(spark, dir, cents, Seq(1.0, 0.0), k = 10, nprobe = 2)
    assert(all.count() == 6)
  }

  test("appendIvfIndex: incremental batches equal a full rewrite, old files untouched") {
    val dir = tmp("ivfa")
    val full = tmp("ivff")
    val d = emb(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)),
      (2L, Seq(0.99f, 0.01f)), (3L, Seq(0.98f, 0.02f)),
      (4L, Seq(0.01f, 0.99f)), (5L, Seq(0.02f, 0.98f)))
    val cents = d.filter(col("vec_id") < 2)
    Ann.writeIvfIndex(d.filter(col("vec_id") < 4), cents, dir)
    def files(root: String) = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p))
        .toMap
    }
    val before = files(dir)
    Ann.appendIvfIndex(d.filter(col("vec_id") >= 4), cents, dir)
    // append adds part files; every pre-existing file is untouched
    val after = files(dir)
    assert(before.forall { case (p, t) => after.get(p).contains(t) })
    assert(after.size > before.size)
    // search over the appended index == search over a one-shot index
    Ann.writeIvfIndex(d, cents, full)
    def top(p: String) = Ann.ivfSearchIndex(spark, p, cents, Seq(0.0, 1.0), k = 4, nprobe = 1)
      .as[(Long, Double)].collect().toSeq
    assert(top(dir) == top(full))
  }

  test("batched IVF: one plan serves the query batch; index path still prunes partitions") {
    val dir = tmp("ivfb")
    val d = emb(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)),
      (2L, Seq(0.99f, 0.01f)), (3L, Seq(0.98f, 0.02f)),
      (4L, Seq(0.01f, 0.99f)), (5L, Seq(0.02f, 0.98f)))
    val cents = d.filter(col("vec_id") < 2)
    Ann.writeIvfIndex(d, cents, dir)
    val queries = d.filter(col("vec_id") === 2 || col("vec_id") === 4)
    val viaIndex = Ann.ivfSearchBatchIndex(spark, dir, cents, queries, k = 2, nprobe = 1)
    val rowsIdx = viaIndex.collect()
    // nprobe=1: query 2 sees only cluster 0 {0,3}, query 4 only cluster 1 {1,5}
    val byQuery = rowsIdx.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(byQuery(2L) == Set(0L, 3L) && byQuery(4L) == Set(1L, 5L))
    // the partitioned scan reads only probed cluster directories
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*c_id".r.findFirstIn(plan).isDefined, plan.take(1500))
    // inline-index form (the p19 oracle shape) computes identical results
    val inline = Ann.ivfSearchBatch(
      Ann.assignClusters(d, cents).join(d, "vec_id"), cents, queries, k = 2, nprobe = 1)
    assert(rowsIdx.map(_.toSeq).toSet == inline.collect().map(_.toSeq).toSet)
  }

  test("trainCentroids separates two obvious clusters") {
    // two tight groups near orthogonal axes; seeds = first 2 vectors
    // (one from each group), 3 Lloyd rounds must keep/refine the split
    val d = emb(
      (0L, Seq(1f, 0f, 0.05f)), (1L, Seq(0f, 1f, 0.05f)),
      (2L, Seq(0.95f, 0.05f, 0f)), (3L, Seq(0.9f, 0.1f, 0.02f)),
      (4L, Seq(0.05f, 0.95f, 0f)), (5L, Seq(0.1f, 0.9f, 0.03f)))
    val cents = Ann.trainCentroids(d, k = 2, iters = 3)
      .select(col("c_id").as("vec_id"), col("cemb").as("embedding"))
    val assign = Ann.assignClusters(d, cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign(0L) == assign(2L) && assign(0L) == assign(3L))
    assert(assign(1L) == assign(4L) && assign(1L) == assign(5L))
    assert(assign(0L) != assign(1L))
  }

  test("quantizedTopK with a full shortlist equals exact bruteTopK") {
    val d = emb(
      (0L, Seq(1f, 0.1f, 0f)), (1L, Seq(0.9f, 0.2f, 0.1f)),
      (2L, Seq(0f, 1f, 0.3f)), (3L, Seq(0.8f, 0.1f, 0.05f)),
      (4L, Seq(0.1f, 0.9f, 0.4f)))
    val q = d.filter(col("vec_id") === 0)
    // shortlist >= corpus: the int8 candidate stage passes everything
    // through and the exact re-rank must reproduce bruteTopK verbatim
    val quant = Ann.quantizedTopK(d, q, k = 3, shortlist = 100)
      .select("q_id", "vec_id", "sim", "rn").orderBy("q_id", "rn").collect()
    val brute = Ann.bruteTopK(d, q, k = 3)
      .select("q_id", "vec_id", "sim", "rn").orderBy("q_id", "rn").collect()
    assert(quant.map(_.toSeq).toSeq == brute.map(_.toSeq).toSeq)
  }

  test("quantizedTopK ranks a zero-norm vector last, not first") {
    // an all-zero embedding used to quantize to NaN codes, and NaN
    // sorts above every double under desc — topping every shortlist
    val d = emb(
      (0L, Seq(1f, 0.1f, 0f)), (1L, Seq(0.9f, 0.2f, 0.1f)),
      (2L, Seq(0f, 0f, 0f)), (3L, Seq(0.8f, 0.1f, 0.05f)))
    val q = d.filter(col("vec_id") === 0)
    val got = Ann.quantizedTopK(d, q, k = 2, shortlist = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L), s"degenerate vector must not rank: $got")
  }

  test("semDedup keeps one survivor per within-cluster near-dup group") {
    // 0,1,2 form a near-identical group near the x axis; 3 is its own
    // direction. Centroids = {0, 3} so the group shares a cluster.
    val d = emb(
      (0L, Seq(1f, 0f, 0.01f)), (1L, Seq(1f, 0f, 0.011f)),
      (2L, Seq(0.99f, 0.01f, 0.01f)), (3L, Seq(0f, 1f, 0f)))
    val cents = d.filter(col("vec_id").isin(0L, 3L))
    val rows = Ann.semDedup(d, cents, simT = 0.99)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(rows(0L))                  // lowest id of the group survives
    assert(!rows(1L) && !rows(2L))    // transitive mates dropped
    assert(rows(3L))                  // singleton cluster untouched
  }

  test("semDedup: a zero-norm vector neither drops cluster-mates nor is dropped") {
    // 0/0 cosine is NaN and NaN > any double under desc — unguarded, a
    // degenerate vector with a low id would mark every higher-id
    // cluster-mate dropped (the quantizedTopK bug's sibling). Guarded,
    // pairs with a zero-norm side never pass the simT filter.
    val d = emb(
      (0L, Seq(0f, 0f, 0f)), (1L, Seq(1f, 0f, 0.01f)),
      (2L, Seq(0f, 1f, 0f)), (3L, Seq(0.2f, 0.9f, 0f)))
    val cents = d.filter(col("vec_id").isin(1L, 2L))
    val rows = Ann.semDedup(d, cents, simT = 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(rows(0L), "zero-norm vector must be kept, not dropped")
    assert(rows(1L) && rows(2L), "dissimilar mates must not be dropped by NaN")
    assert(!rows(3L), "genuine near-dup of centroid 2 still dropped")
  }

  test("recallAtK scores approximate results against the exact baseline") {
    import spark.implicits._
    val exact = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L)).toDF("q_id", "vec_id")
    val approx = Seq((0L, 1L), (0L, 9L), (1L, 3L), (1L, 4L)).toDF("q_id", "vec_id")
    val r = Ann.recallAtK(approx, exact)
      .select("q_id", "recall").as[(Long, Double)].collect().toMap
    assert(r == Map(0L -> 0.5, 1L -> 1.0))
    // a full-shortlist quantized scan reproduces the exact baseline: recall 1.0
    val d = emb(
      (0L, Seq(1f, 0.1f, 0f)), (1L, Seq(0.9f, 0.2f, 0.1f)),
      (2L, Seq(0f, 1f, 0.3f)), (3L, Seq(0.8f, 0.1f, 0.05f)))
    val q = d.filter(col("vec_id") < 2)
    val full = Ann.recallAtK(
      Ann.quantizedTopK(d, q, k = 2, shortlist = 100),
      Ann.bruteTopK(d, q, k = 2))
      .select("recall").as[Double].collect()
    assert(full.length == 2 && full.forall(_ == 1.0))
  }

  test("hyperplane LSH: identical vectors share the sketch and surface as the top pair") {
    val d = emb(
      (0L, Seq.tabulate(64)(i => (i % 7).toFloat - 3f)),
      (1L, Seq.tabulate(64)(i => (i % 7).toFloat - 3f)),
      (2L, Seq.tabulate(64)(i => ((i * 31) % 11).toFloat - 5f)))
    val sk = Ann.hyperplaneSketch(d).select("vec_id", "sk")
      .as[(Long, Long)].collect().toMap
    assert(sk(0L) == sk(1L))
    val top = Ann.lshNearDup(d, topN = 5).select("v1", "v2", "sim").collect()
    assert(top.head.getLong(0) == 0L && top.head.getLong(1) == 1L)
    assert(top.head.getDouble(2) == 1.0)
  }

  test("lshNearDup drops hot sketch buckets (correlated corpus stays sub-quadratic)") {
    // 250 identical vectors share both sketch blocks: one 250-vector
    // bucket would emit 250*249/2 candidate pairs. The default cap (200)
    // drops the bucket; raising it past the bucket size restores the
    // pairs, proving the cap (not the LSH itself) gated them.
    val vec = Seq.tabulate(64)(i => ((i * 13) % 9).toFloat - 4f)
    val d = emb((0L until 250L).map(i => (i, vec)): _*)
    assert(Ann.lshNearDup(d, topN = 100000).count() == 0L)
    assert(Ann.lshNearDup(d, topN = 100000, maxBucket = 300).count() == 250L * 249 / 2)
  }

  test("nearDupPairs surfaces the most similar pair first") {
    val d = emb(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 1e-4f)), (2L, Seq(0f, 1f)))
    val first = Ann.nearDupPairs(d, topN = 3).select("v1", "v2")
      .as[(Long, Long)].head()
    assert(first == ((0L, 1L)))
  }

  test("shipped approximate-ANN defaults hold recall@10 >= 0.9 vs brute force") {
    // The recall floor the tuned defaults must clear on the sf0.01
    // corpus (500 vectors) — a tuning regression (nprobe, shortlist,
    // centroid seeding) fails here instead of shipping silently.
    val embSf = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val queries = embSf.filter(col("vec_id") < 5)
    val exact = Ann.bruteTopK(embSf, queries, k = 10)
      .select("q_id", "vec_id").persist()
    def meanRecall(approx: org.apache.spark.sql.DataFrame): Double =
      Ann.recallAtK(approx.select("q_id", "vec_id"), exact)
        .agg(avg("recall")).head.getDouble(0)
    // p19's shape: seeded centroids, batch IVF at the shipped nprobe
    val centroids = embSf.filter(col("vec_id") < 8)
    val index = Ann.assignClusters(embSf, centroids).join(embSf, "vec_id")
    val rIvf = meanRecall(
      Ann.ivfSearchBatch(index, centroids, queries, k = 10, nprobe = 2))
    // p21's shape: int8 absmax scan at the shipped default shortlist
    val rQuant = meanRecall(Ann.quantizedTopK(embSf, queries, k = 10))
    // p07's shape: single-query IVF — recall over query 0's truth set
    val rOne = Ann.recallAtK(
        Ann.ivfTopK(embSf, centroids, queryId = 0L, k = 10)
          .withColumn("q_id", lit(0L)).select("q_id", "vec_id"),
        exact.filter(col("q_id") === 0L))
      .agg(avg("recall")).head.getDouble(0)
    // PQ's shape: ADC scan over trained codebooks at the shipped
    // defaults (m=8, ksub=64, shortlist=80) — the random fixture is
    // PQ's hostile case (no cluster structure), so this floor is the
    // conservative one
    val rPq = meanRecall(Ann.pqTopK(embSf, queries, k = 10))
    exact.unpersist()
    assert(rQuant >= 0.9, s"quantizedTopK recall@10 = $rQuant")
    assert(rIvf >= 0.9, s"ivfSearchBatch recall@10 = $rIvf")
    assert(rOne >= 0.9, s"ivfTopK recall@10 = $rOne")
    assert(rPq >= 0.9, s"pqTopK recall@10 = $rPq")
  }

  test("pqTopK with a full-corpus shortlist reproduces bruteTopK exactly") {
    val embSf = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .filter(col("vec_id") < 120)
    val queries = embSf.filter(col("vec_id") < 3)
    val exact = Ann.bruteTopK(embSf, queries, k = 5).collect().toSet
    // shortlist >= corpus: the ADC stage can drop nothing, so the
    // exact re-rank decides everything
    val full = Ann.pqTopK(embSf, queries, k = 5, shortlist = 200).collect().toSet
    assert(full == exact)
  }

  test("ivfPqTopK: probe-all + full shortlist reproduces bruteTopK; ADC layer >= 0.9 of the exact probed scan") {
    val embSf = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    // exactness law: nothing pruned, nothing shortlisted away -> the
    // exact re-rank decides everything
    val sub = embSf.filter(col("vec_id") < 120)
    val q3 = sub.filter(col("vec_id") < 3)
    val exact3 = Ann.bruteTopK(sub, q3, k = 5).collect().toSet
    val full3 = Ann.ivfPqTopK(sub, q3, k = 5, kCoarse = 4, nprobe = 4,
      shortlist = 200).collect().toSet
    assert(full3 == exact3)
    // the layer IVFPQ adds over IVF is the residual-ADC shortlist, so
    // its floor is recall against the EXACT scan of the same probed
    // clusters (absolute recall is capped by the pruning stage itself
    // on this clusterless random fixture — the IVF pruning knob has
    // its own floor in the shipped-defaults test)
    val queries = embSf.filter(col("vec_id") < 5)
    val coarse = Ann.trainCentroids(embSf, 16, iters = 3)
    val cents = coarse.select(col("c_id").as("vec_id"), col("cemb").as("embedding"))
    val index = Ann.assignClusters(embSf, cents).join(embSf, "vec_id")
    val exactProbed = Ann.ivfSearchBatch(index, cents, queries, k = 10, nprobe = 8)
    val approx = Ann.ivfPqTopK(embSf, queries, k = 10, kCoarse = 16, nprobe = 8)
    val rel = Ann.recallAtK(approx.select("q_id", "vec_id"),
        exactProbed.select("q_id", "vec_id"))
      .agg(avg("recall")).head.getDouble(0)
    assert(rel >= 0.9, s"ivfPqTopK ADC-layer recall@10 = $rel vs exact probed scan")
  }

  test("pqTrain: m*ksub codebook rows of d/m dims; pqEncode one code per (vector, sub)") {
    val embSf = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .filter(col("vec_id") < 100)
    val books = Ann.pqTrain(embSf, m = 4, ksub = 8, iters = 1)
    val rows = books.collect()
    assert(rows.length <= 4 * 8 && rows.length >= 4) // <= m*ksub (empty seeds possible)
    assert(rows.forall(_.getAs[Seq[Double]]("cemb").size == 16)) // 64/4
    val codes = Ann.pqEncode(embSf, books, m = 4)
    assert(codes.count() == 100 * 4) // exactly one code per (vector, sub)
    // encoding is deterministic
    assert(codes.exceptAll(Ann.pqEncode(embSf, books, m = 4)).isEmpty)
  }

  /** 50 deterministic near-dup copies of the first 50 corpus vectors:
    * per-coordinate multiplicative jitter of up to 0.4% -> cosine
    * ~0.99997 to the original, far above anything in the raw corpus
    * (whose top all-pairs cosine is 0.513, measured r6 — the fixture
    * embeddings contain NO true near-duplicates, which is why the
    * recall floors run on planted pairs; see SCALE.md). */
  private def withPlantedCopies(embSf: org.apache.spark.sql.DataFrame) = {
    val base = embSf.filter(col("vec_id") < 50)
    val copies = base.select((col("vec_id") + 10000).as("vec_id"),
      expr("transform(embedding, (x, i) -> CAST(x * (1.0d + 0.002d * ((vec_id + i) % 5 - 2)) AS FLOAT))")
        .as("embedding"))
    embSf.select("vec_id", "embedding")
      .unionByName(copies)
  }

  test("lshNearDup at p14 defaults finds >= 0.9 of true near-dup pairs vs exact baseline") {
    // At the raw corpus' top pair similarity (~0.45 cosine) a single
    // hyperplane agrees with p ~ 0.65, an 8-bit block with p^8 ~ 4% —
    // no hyperplane configuration reaches 0.9 recall there short of
    // degenerating to all-pairs (measured: 0.1 at shipped defaults).
    // The operator's contract is NEAR-duplicate detection, so the
    // floor is held on a corpus that has them: planted copies at
    // cosine ~0.99997, where truth = exact nearDupPairs over the
    // union (the 50 planted pairs dominate the top-50 by a margin of
    // 1.0 vs 0.513).
    val embSf = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val union = withPlantedCopies(embSf)
    val truth = Ann.nearDupPairs(union, topN = 50)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    val found = Ann.lshNearDup(union, topN = 50)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    val recall = truth.intersect(found).size.toDouble / truth.size
    assert(recall >= 0.9, s"lshNearDup pair recall = $recall (found ${found.size})")
  }

  test("semDedup at p29 defaults: sound on the raw corpus, >= 0.9 drop-recall on near-dups") {
    val embSf = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val cents = embSf.filter(col("vec_id") < 8)
    // Soundness at the shipped p29 config: semDedup may only drop
    // vectors the exact all-pairs rule (some u < v with cos >= simT)
    // would drop — per-cluster locality must never invent drops.
    val n = embSf.count().toInt
    val exactDroppable04 = Ann.nearDupPairs(embSf, topN = n * (n - 1) / 2)
      .filter(col("sim") >= 0.4).select("v2").as[Long].collect().toSet
    val dropped04 = Ann.semDedup(embSf, cents, simT = 0.4)
      .filter(!col("kept")).select("vec_id").as[Long].collect().toSet
    assert(dropped04.subsetOf(exactDroppable04),
      s"semDedup dropped non-droppable ids: ${(dropped04 -- exactDroppable04).take(5)}")
    // Recall floor on TRUE near-dups (the SemDeDup use case): planted
    // copies at cosine ~0.99997 assign to the same centroid as their
    // original, so the within-cluster rule must recover >= 90% of the
    // exactly-droppable set. (At simT = 0.4 on the raw corpus the
    // "duplicates" are 0.4-cosine pairs that straddle clusters by
    // nature — measured drop-recall 0.35; that is the documented
    // per-cluster locality trade, not a tuning regression.)
    val union = withPlantedCopies(embSf)
    val nu = union.count().toInt
    val exactDropped = Ann.nearDupPairs(union, topN = nu * (nu - 1) / 2)
      .filter(col("sim") >= 0.7).select("v2").as[Long].collect().toSet
    val dropped = Ann.semDedup(union, cents, simT = 0.7)
      .filter(!col("kept")).select("vec_id").as[Long].collect().toSet
    val recall = dropped.intersect(exactDropped).size.toDouble /
      math.max(1, exactDropped.size)
    assert(recall >= 0.9,
      s"semDedup drop recall = $recall (${dropped.size}/${exactDropped.size})")
  }

  private def partFiles(root: String) = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p))
      .toMap
  }

  test("PQ code index: append == full rewrite, old files untouched; search == in-memory; books round-trip parquet") {
    val embSf = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .filter(col("vec_id") < 150)
    val queries = embSf.filter(col("vec_id") < 3)
    val books = Ann.pqTrain(embSf, m = 4, ksub = 8, iters = 1).localCheckpoint(true)
    val dir = tmp("pqi")
    val full = tmp("pqf")
    Ann.writePqIndex(embSf.filter(col("vec_id") < 100), books, dir, m = 4)
    val before = partFiles(dir)
    Ann.appendPqIndex(embSf.filter(col("vec_id") >= 100), books, dir, m = 4)
    val after = partFiles(dir)
    // append adds part files; every pre-existing file is untouched
    assert(before.forall { case (p, t) => after.get(p).contains(t) })
    assert(after.size > before.size)
    // appended index holds exactly the one-shot index's codes
    Ann.writePqIndex(embSf, books, full, m = 4)
    def codes(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("codes").cast("array<int>"))
      .as[(Long, Seq[Int])].collect().toSet
    assert(codes(dir) == codes(full))
    // search-from-index == in-memory pqTopK under the same codebooks
    val viaIdx = Ann.pqSearchIndex(spark, dir, books, embSf, queries,
      k = 5, m = 4, shortlist = 20).collect().map(_.toSeq).toSet
    val inMem = Ann.pqTopK(embSf, queries, k = 5, m = 4, ksub = 8,
      iters = 1, shortlist = 20, books0 = Some(books))
      .collect().map(_.toSeq).toSet
    assert(viaIdx == inMem)
    // codebooks survive a parquet round-trip bit-for-bit: searching
    // with re-read books is row-identical
    val bdir = tmp("pqb") + "/books"
    books.write.parquet(bdir)
    val viaRead = Ann.pqSearchIndex(spark, dir, spark.read.parquet(bdir),
      embSf, queries, k = 5, m = 4, shortlist = 20)
      .collect().map(_.toSeq).toSet
    assert(viaRead == inMem)
  }

  test("IVFPQ code index: partition-pruned search == in-memory ivfPqTopK; append == full rewrite") {
    val embSf = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .filter(col("vec_id") < 150)
    val queries = embSf.filter(col("vec_id") < 3)
    val coarse0 = embSf.filter(col("vec_id") < 8)
    val coarse = coarse0.select(col("vec_id").as("c_id"),
      Vectors.asDouble(col("embedding")).as("cemb")).localCheckpoint(true)
    val books = Ann.pqTrain(
      Ann.ivfPqResiduals(embSf, coarse).drop("c_id"),
      m = 4, ksub = 8, iters = 1).localCheckpoint(true)
    val dir = tmp("ivfpqi")
    val full = tmp("ivfpqf")
    Ann.writeIvfPqIndex(embSf.filter(col("vec_id") < 100), coarse, books, dir, m = 4)
    val before = partFiles(dir)
    Ann.appendIvfPqIndex(embSf.filter(col("vec_id") >= 100), coarse, books, dir, m = 4)
    val after = partFiles(dir)
    assert(before.forall { case (p, t) => after.get(p).contains(t) })
    assert(after.size > before.size)
    Ann.writeIvfPqIndex(embSf, coarse, books, full, m = 4)
    def codes(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("codes").cast("array<int>"), col("c_id"))
      .as[(Long, Seq[Int], Long)].collect().toSet
    assert(codes(dir) == codes(full))
    // search over the partitioned code index == in-memory ivfPqTopK
    // under the same coarse centroids + codebooks
    val viaIdx = Ann.ivfPqSearchIndex(spark, dir, coarse, books, embSf,
      queries, k = 5, nprobe = 2, m = 4, shortlist = 20)
    val rowsIdx = viaIdx.collect().map(_.toSeq).toSet
    val inMem = Ann.ivfPqTopK(embSf, queries, k = 5, nprobe = 2, m = 4,
      ksub = 8, iters = 1, shortlist = 20, coarse0 = Some(coarse0),
      books0 = Some(books)).collect().map(_.toSeq).toSet
    assert(rowsIdx == inMem)
    // the code scan reads only probed cluster directories (static
    // partition predicate from the collected routing table)
    val plan = viaIdx.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*c_id".r.findFirstIn(plan).isDefined, plan.take(1500))
  }

  test("clusterSample: small clusters kept whole, big-cluster membership is the exact md5 rule") {
    // two tight clusters: 40 vectors near (1,0), 5 near (0,1)
    val a = (100L until 140L).map(i => (i, Seq(1f, 0.001f * (i % 7))))
    val b = (200L until 205L).map(i => (i, Seq(0.001f * (i % 5), 1f)))
    val cents = emb((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
    val out = Ann.clusterSample(emb((a ++ b): _*), cents, perCluster = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == 45)
    // assignment routes each block to its own centroid
    assert(out.filter(_._1 < 200).forall(_._2 == 0L))
    assert(out.filter(_._1 >= 200).forall(_._2 == 1L))
    // perCluster >= cluster size → threshold caps → the whole cluster kept
    assert(out.filter(_._1 >= 200).forall(_._3))
    // 40-vector cluster: kept iff md5-bucket("cs:" + id) < 10*10000 DIV 40
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cs:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 15), 16) % 10000
    }
    out.filter(_._1 < 200).foreach { case (id, _, kept) =>
      assert(kept == (bucket(id) < 2500), s"vec $id bucket ${bucket(id)}") }
  }

  test("recallAtK: identity scores 1.0, planted misses score (k-m)/k, dropped query scores 0") {
    val exact = Seq((0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3), (0L, 13L, 4),
      (1L, 20L, 1), (1L, 21L, 2), (1L, 22L, 3), (1L, 23L, 4))
      .toDF("q_id", "vec_id", "rn")
    assert(Ann.recallAtK(exact, exact, k = 4).collect()
      .forall(_.getDouble(2) == 1.0))
    // approx for q0 misses 2 of 4; q1 is absent entirely (recall 0, not a dropped row)
    val approx = Seq((0L, 10L, 1), (0L, 99L, 2), (0L, 12L, 3), (0L, 98L, 4))
      .toDF("q_id", "vec_id", "rn")
    val r = Ann.recallAtK(approx, exact, k = 4).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    assert(r.toSeq == Seq((0L, 2L, 0.5), (1L, 0L, 0.0)))
    // rows ranked past k are ignored on both sides
    val withTail = approx.unionByName(
      Seq((0L, 11L, 5)).toDF("q_id", "vec_id", "rn"))
    assert(Ann.recallAtK(withTail, exact, k = 4)
      .filter(col("q_id") === 0L).head.getLong(1) == 2L)
  }

  test("hardNegatives keeps only the [minSim, dupT) band, ranked, self excluded") {
    // cosines vs the axis-aligned query (id 0): id 1 ≈ 0.995 (near-dup,
    // above dupT), id 2 ≈ 0.707 (hard), id 3 ≈ 0.316 (hard-ish),
    // id 4 = 0 (easy, below minSim), id 5 ≈ -0.7 (excluded).
    val vecs = emb(
      (0L, Seq(1f, 0f)), (1L, Seq(10f, 1f)), (2L, Seq(1f, 1f)),
      (3L, Seq(1f, 3f)), (4L, Seq(0f, 1f)), (5L, Seq(-1f, 1f)))
    val got = Ann.hardNegatives(vecs, vecs.filter(col("vec_id") === 0L),
        k = 10, dupT = 0.9, minSim = 0.1)
      .select("vec_id", "rn").as[(Long, Int)].collect().toSeq
    assert(got == Seq((2L, 1), (3L, 2)))
  }

  test("hardNegativesFrom over an over-fetched shortlist equals the direct form") {
    val vecs = emb((0L to 19L).map(i =>
      i -> Seq(math.cos(i * 0.33).toFloat, math.sin(i * 0.33).toFloat)): _*)
    val q = vecs.filter(col("vec_id") < 2)
    // over-fetch the whole corpus so the band can never run dry
    val shortlist = Ann.bruteTopK(vecs, q, k = 19)
    val a = Ann.hardNegativesFrom(shortlist, k = 4, dupT = 0.95, minSim = 0.0)
      .select("q_id", "vec_id", "sim", "rn").collect().map(_.toSeq).toSet
    val b = Ann.hardNegatives(vecs, q, k = 4, dupT = 0.95, minSim = 0.0)
      .select("q_id", "vec_id", "sim", "rn").collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("hardNegatives with the band wide open reproduces bruteTopK exactly") {
    val vecs = emb((0L to 9L).map(i =>
      i -> Seq(math.cos(i * 0.7).toFloat, math.sin(i * 0.7).toFloat)): _*)
    val q = vecs.filter(col("vec_id") < 2)
    val a = Ann.hardNegatives(vecs, q, k = 5, dupT = 2.0, minSim = -2.0)
      .select("q_id", "vec_id", "sim", "rn").collect().map(_.toSeq).toSet
    val b = Ann.bruteTopK(vecs, q, k = 5)
      .select("q_id", "vec_id", "sim", "rn").collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("semDecontaminate: planted twin flags, orthogonal vector passes, all rows visible") {
    val train = emb((1L, Seq(1f, 0f, 0f)), (2L, Seq(0f, 1f, 0f)),
      (3L, Seq(0.9f, 0.1f, 0f)))
    val eval = emb((100L, Seq(1f, 0f, 0f)), (101L, Seq(0f, 0f, 1f)))
    val m = Ann.semDecontaminate(train, eval, threshold = 0.95)
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(m.size == 3) // every train row visible
    assert(m(1L) == ((1.0, true)))   // exact twin of eval 100
    assert(m(2L)._2 == false)        // orthogonal to both eval vecs
    assert(m(3L)._1 > 0.9 && m(3L)._2 == true) // 0.9/|(0.9,0.1)| ≈ 0.994
    // threshold flip: nothing contaminated at 1.01 — max_sim unchanged
    val strict = Ann.semDecontaminate(train, eval, threshold = 1.01)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(strict.values.forall(_ == false))
  }

  test("covarianceLongForm matches the scaled-truncated formula and is partition-invariant") {
    val vs = emb((0L, Seq(1.0f, 2.0f, -0.5f)), (1L, Seq(3.0f, 5.0f, 0.25f)),
      (2L, Seq(-1.0f, 0.5f, 2.0f)), (3L, Seq(0.125f, -2.5f, 1.5f)))
    val got = Ann.covarianceLongForm(vs).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDecimal(3).longValueExact(),
          r.getDecimal(4).longValueExact(), r.getDecimal(5).longValueExact(),
          r.getDouble(6)))).toMap
    val raw = Seq(Seq(1.0f, 2.0f, -0.5f), Seq(3.0f, 5.0f, 0.25f),
      Seq(-1.0f, 0.5f, 2.0f), Seq(0.125f, -2.5f, 1.5f))
      .map(_.map(v => (v.toDouble * 1000000.0).toLong))
    assert(got.size == 6) // d(d+1)/2 upper-triangle cells
    for (i <- 0 until 3; j <- i until 3) {
      val sxy = raw.map(q => q(i) * q(j)).sum
      val sx = raw.map(_(i)).sum
      val sy = raw.map(_(j)).sum
      val n = raw.size.toDouble
      // Spark's round: HALF_UP on the shortest-decimal repr (toString)
      val cov = BigDecimal(((sxy / n - (sx / n) * (sy / n)) / 1e12).toString)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got((i, j)) == ((4L, sxy, sx, sy, cov)), s"cell ($i,$j)")
    }
    val re = Ann.covarianceLongForm(vs.repartition(7)).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(3).longValueExact())
      .toMap
    assert(re == got.map { case (k, v) => k -> v._2 }) // exact-int sums
  }

  test("covarianceLongForm summaries merge by addition across corpus batches") {
    val a = emb((0L, Seq(1.0f, 2.0f)), (1L, Seq(3.0f, -1.0f)))
    val b = emb((2L, Seq(0.5f, 4.0f)), (3L, Seq(-2.0f, 0.25f)))
    def sums(df: org.apache.spark.sql.DataFrame) =
      Ann.covarianceLongForm(df).collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          ((r.getLong(2), r.getDecimal(3).longValueExact(),
            r.getDecimal(4).longValueExact(),
            r.getDecimal(5).longValueExact()))).toMap
    val (sa, sb, su) = (sums(a), sums(b), sums(a.unionByName(b)))
    su.foreach { case (k, (n, sxy, sx, sy)) =>
      assert(n == sa(k)._1 + sb(k)._1)
      assert(sxy == sa(k)._2 + sb(k)._2)
      assert(sx == sa(k)._3 + sb(k)._3)
      assert(sy == sa(k)._4 + sb(k)._4)
    }
  }

  test("semDecontaminateIvf: probe-everything == brute; narrow probe misses only unprobed clusters") {
    val train = emb((1L, Seq(1f, 0f, 0f)), (2L, Seq(0f, 1f, 0f)),
      (3L, Seq(0.9f, 0.1f, 0f)), (4L, Seq(0f, 0f, 1f)))
    val eval = emb((100L, Seq(1f, 0f, 0f)), (101L, Seq(0f, 0f, 1f)))
    // centroids on the axes: clusters = {1,3}, {2}, {4}
    val cents = emb((0L, Seq(1f, 0f, 0f)), (1L, Seq(0f, 1f, 0f)),
      (2L, Seq(0f, 0f, 1f)))
    val brute = Ann.semDecontaminate(train, eval, threshold = 0.95)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getAs[java.lang.Double]("max_sim")), r.getBoolean(2))))
      .toMap
    // nprobe = #centroids: every cluster probed — identical to brute
    val full = Ann.semDecontaminateIvf(train, eval, cents,
        threshold = 0.95, nprobe = 3)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getAs[java.lang.Double]("max_sim")), r.getBoolean(2))))
      .toMap
    assert(full == brute)
    // nprobe = 1: eval 100 probes only the x-cluster {1,3}, eval 101
    // only the z-cluster {4} — train 2's cluster is never probed, so
    // it reports a visible null/clean row instead of its brute score
    val narrow = Ann.semDecontaminateIvf(train, eval, cents,
        threshold = 0.95, nprobe = 1)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getAs[java.lang.Double]("max_sim")), r.getBoolean(2))))
      .toMap
    assert(narrow(1L)._2 && narrow(3L)._2 && narrow(4L)._2)
    assert(narrow(2L) == ((None, false)))
    assert(narrow.size == 4)
  }

  test("correlationFromCells: duplicated dim reads 1, anti-tied -1, dead dim null") {
    val vs = emb(
      (0L, Seq(1.0f, 1.0f, -1.0f, 0.5f)), (1L, Seq(3.0f, 3.0f, -3.0f, 0.5f)),
      (2L, Seq(-2.0f, -2.0f, 2.0f, 0.5f)), (3L, Seq(0.5f, 0.5f, -0.5f, 0.5f)))
    val m = Ann.correlationFromCells(Ann.covarianceCells(vs)).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        Option(r.getAs[java.lang.Double]("corr"))).toMap
    assert(m((0, 1)).contains(1.0))   // dim1 duplicates dim0
    assert(m((0, 2)).contains(-1.0))  // dim2 = -dim0
    assert(m((0, 3)).isEmpty)         // dim3 constant: zero variance
    assert(m((3, 3)).isEmpty)
    assert(m((0, 0)).contains(1.0))
  }

  test("covarianceCellsBy: each group's rows == ungrouped covariance of its slice; null group kept") {
    val vs = Seq(
      (0L, "a", Seq(1.0f, 2.0f)), (1L, "a", Seq(3.0f, -1.0f)),
      (2L, "b", Seq(0.5f, 4.0f)), (3L, "b", Seq(-2.0f, 0.25f)),
      (4L, "b", Seq(1.5f, 1.5f)), (5L, null, Seq(2.0f, 2.0f)))
      .toDF("vec_id", "grp", "embedding")
    val grouped = Ann.covarianceFromCellsBy(
        Ann.covarianceCellsBy(vs, "grp"))
      .collect()
      .map(r => (Option(r.getString(0)), r.getInt(1), r.getInt(2)) ->
        ((r.getLong(3), r.getDecimal(4).longValueExact(), r.getDouble(7))))
      .toMap
    for (g <- Seq(Some("a"), Some("b"), None)) {
      val slice = g match {
        case Some(x) => vs.filter(col("grp") === x)
        case None => vs.filter(col("grp").isNull)
      }
      val ungrouped = Ann.covarianceLongForm(slice).collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          ((r.getLong(2), r.getDecimal(3).longValueExact(), r.getDouble(6))))
        .toMap
      ungrouped.foreach { case ((i, j), v) =>
        assert(grouped((g, i, j)) == v, s"group $g cell ($i,$j)")
      }
    }
    assert(grouped.size == 3 * 3) // 3 groups (incl. null) x d(d+1)/2
  }

  test("pcaComponents: planted 2-factor corpus recovers both directions, orthonormal") {
    // strong factor along (0.6, 0.8), weak factor along (−0.8, 0.6)·0.1:
    // comp0 → (0.6, 0.8) (sign fix: big coord positive), comp1 ⊥ comp0
    val pts = for (t <- -5 to 5; s <- Seq(-1, 1)) yield
      ((t + 5).toLong * 2 + (s + 1) / 2,
        Seq(0.6f * t - 0.08f * s, 0.8f * t + 0.06f * s))
    val (means, eigs, comps) = Ann.pcaComponents(emb(pts: _*), k = 2)
    assert(math.abs(comps(0)(0) - 0.6) < 1e-3, comps(0).toSeq.toString)
    assert(math.abs(comps(0)(1) - 0.8) < 1e-3)
    val n0 = comps(0).map(x => x * x).sum
    val n1 = comps(1).map(x => x * x).sum
    assert(math.abs(n0 - 1.0) < 1e-9 && math.abs(n1 - 1.0) < 1e-9)
    val dot01 = comps(0).zip(comps(1)).map { case (x, y) => x * y }.sum
    assert(math.abs(dot01) < 1e-3)
    assert(eigs(0) > eigs(1) && eigs(1) > 0)
    assert(means.forall(m => math.abs(m) < 1e-3)) // symmetric around 0
  }

  test("pcaResiduals: off-subspace junk scores high, in-plane extremes near zero") {
    // corpus lives in the (x, y) plane of 3-space; junk points off it
    val plane = (-5 to 5).flatMap(t => Seq(
      ((t + 5).toLong * 2, Seq(0.6f * t, 0.8f * t, 0f)),
      ((t + 5).toLong * 2 + 1, Seq(-0.08f * t, 0.06f * t, 0f))))
    val junk = Seq((100L, Seq(0f, 0f, 3f)), (101L, Seq(1f, 1f, -2f)))
    val d = emb((plane ++ junk): _*)
    val (means, _, comps) = Ann.pcaComponents(emb(plane: _*), k = 2)
    val r = Ann.pcaResiduals(d, means, comps, threshold = 1.0)
      .collect().map(x => x.getLong(0) -> ((x.getDouble(1), x.getBoolean(2))))
      .toMap
    assert(r.size == plane.size + 2) // every row visible
    // in-plane points (even the extreme t = ±5) reconstruct ~exactly
    plane.foreach { case (id, _) =>
      assert(math.abs(r(id)._1) < 1e-3, s"id $id resid ${r(id)._1}")
      assert(!r(id)._2)
    }
    assert(r(100L)._1 > 8.9 && r(100L)._2) // z² = 9 off-plane
    assert(r(101L)._1 > 3.9 && r(101L)._2) // z² = 4 off-plane
  }

  test("pcaProject: pc0 carries the variance; projection is partition-invariant") {
    val pts = (-5 to 5).map(t =>
      (t.toLong + 5L, Seq(0.6f * t + 0.01f * (t % 2), 0.8f * t)))
    val d = emb(pts: _*)
    val (means, _, comps) = Ann.pcaComponents(d, k = 2)
    val proj = Ann.pcaProject(d, means, comps).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    def variance(xs: Seq[Double]) = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    val v0 = variance(proj.values.map(_._1).toSeq)
    val v1 = variance(proj.values.map(_._2).toSeq)
    assert(v0 > v1 * 100, s"pc0 var $v0 vs pc1 var $v1")
    val re = Ann.pcaProject(d.repartition(5), means, comps).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(re == proj)
  }

  test("covariance cells exclude null embeddings from n and the sums (grouped and ungrouped)") {
    // the n-inflation pin (r11 advisor): a null vector contributes
    // nothing to any sum, so counting it in n would bias every cov
    // toward zero — the cells of a corpus WITH planted null vectors
    // must equal the cells of the clean corpus exactly
    val base = Seq(
      (0L, "a", Seq(1.0f, 2.0f)), (1L, "a", Seq(3.0f, -1.0f)),
      (2L, "b", Seq(0.5f, 4.0f)), (3L, "b", Seq(-2.0f, 0.25f)))
    val nulls = Seq((9L, "a", null.asInstanceOf[Seq[Float]]),
      (10L, null.asInstanceOf[String], null.asInstanceOf[Seq[Float]]))
    def df(rows: Seq[(Long, String, Seq[Float])]) =
      rows.map { case (id, g, v) =>
        (id, g, Option(v).map(_.toArray).orNull) }
        .toDF("vec_id", "grp", "embedding")
    def cells(d: org.apache.spark.sql.DataFrame) =
      Ann.covarianceLongForm(d).collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          ((r.getLong(2), r.getDecimal(3).longValueExact(),
            r.getDecimal(4).longValueExact(), r.getDouble(6)))).toMap
    assert(cells(df(base ++ nulls)) == cells(df(base)))
    // grouped: group "a" unchanged by its planted null vector; the
    // all-null group (10L) has NO surviving vectors -> no stratum at
    // all (n = 0 has no covariance), not a zero-row
    def cellsBy(d: org.apache.spark.sql.DataFrame) =
      Ann.covarianceFromCellsBy(Ann.covarianceCellsBy(d, "grp"))
        .collect()
        .map(r => (Option(r.getString(0)), r.getInt(1), r.getInt(2)) ->
          ((r.getLong(3), r.getDecimal(4).longValueExact()))).toMap
    val dirty = cellsBy(df(base ++ nulls))
    assert(dirty == cellsBy(df(base)))
    assert(dirty.keySet.map(_._1) == Set(Some("a"), Some("b")))
  }

  test("correlationFromCellsBy: each group's rows == ungrouped correlation of its slice; per-group dead dim null only in its stratum") {
    // group "a": dim1 duplicates dim0 (corr 1); group "b": dim1 is
    // CONSTANT (dead -> null corr) while dim0 varies — the per-class
    // fault a pooled correlation would hide behind group "a"'s health
    val rows = Seq(
      (0L, "a", Seq(1.0f, 1.0f)), (1L, "a", Seq(3.0f, 3.0f)),
      (2L, "a", Seq(-2.0f, -2.0f)),
      (3L, "b", Seq(0.5f, 2.0f)), (4L, "b", Seq(4.0f, 2.0f)),
      (5L, "b", Seq(-1.0f, 2.0f)))
    val d = rows.map { case (id, g, v) => (id, g, v.toArray) }
      .toDF("vec_id", "grp", "embedding")
    val got = Ann.correlationFromCellsBy(Ann.covarianceCellsBy(d, "grp"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)) ->
        ((r.getDouble(3), Option(r.getAs[java.lang.Double]("corr")))))
      .toMap
    assert(got.size == 2 * 3) // 2 groups x d(d+1)/2
    for (g <- Seq("a", "b")) {
      val exp = Ann.correlationFromCells(
          Ann.covarianceCells(d.filter(col("grp") === g)))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          ((r.getDouble(2), Option(r.getAs[java.lang.Double]("corr")))))
        .toMap
      exp.foreach { case ((i, j), v) =>
        assert(got((g, i, j)) == v, s"group $g cell ($i,$j)")
      }
    }
    assert(got(("a", 0, 1))._2.contains(1.0)) // duplicated dim in a
    assert(got(("b", 0, 1))._2.isEmpty)       // dead dim ONLY in b
    assert(got(("b", 0, 0))._2.contains(1.0))
  }

  test("pcaWhiten: unit variance along every retained direction; zero-eigenvalue component scores null") {
    val pts = for (t <- -5 to 5; s <- Seq(-1, 1)) yield
      ((t + 5).toLong * 2 + (s + 1) / 2,
        Seq(0.6f * t - 0.08f * s, 0.8f * t + 0.06f * s))
    val d = emb(pts: _*)
    val (means, eigs, comps) = Ann.pcaComponents(d, k = 2)
    val w = Ann.pcaWhiten(d, means, eigs, comps).collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    def popVar(xs: Seq[Double]) = {
      val mu = xs.sum / xs.size
      xs.map(x => (x - mu) * (x - mu)).sum / xs.size
    }
    // raw projection variances differ by ~100x (strong vs weak factor);
    // whitened, both read 1 — that is the whole point
    assert(math.abs(popVar(w.map(_._1).toSeq) - 1.0) < 1e-2)
    assert(math.abs(popVar(w.map(_._2).toSeq) - 1.0) < 1e-2)
    // deflation residue past the true rank: an explicit zero
    // eigenvalue must yield null, not a division blow-up
    val z = Ann.pcaWhiten(d, Array(0.0, 0.0), Array(4.0, 0.0),
        Array(Array(1.0, 0.0), Array(0.0, 1.0))).collect()
    assert(z.forall(r => !r.isNullAt(1) && r.isNullAt(2)))
  }

  test("pcaMahalanobis catches the in-plane extreme that pcaResiduals is blind to") {
    val base = for (t <- -5 to 5; s <- Seq(-1, 1)) yield
      ((t + 5).toLong * 2 + (s + 1) / 2,
        Seq(0.6f * t - 0.08f * s, 0.8f * t + 0.06f * s))
    // 100L: ON the principal direction but 10x the corpus extent —
    // reconstructs perfectly (residual ~ 0) yet is a 15σ outlier
    val extreme = Seq((100L, Seq(0.6f * 50, 0.8f * 50)))
    val d = emb((base ++ extreme): _*)
    val (means, eigs, comps) = Ann.pcaComponents(emb(base: _*), k = 2)
    val resid = Ann.pcaResiduals(d, means, comps, threshold = 1.0)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(!resid(100L)) // residual CANNOT see it
    val maha = Ann.pcaMahalanobis(d, means, eigs, comps, threshold = 50.0)
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(maha(100L)._2 && maha(100L)._1 > 100.0) // ~50^2/var(t)=250
    base.foreach { case (id, _) =>
      assert(!maha(id)._2, s"id $id maha ${maha(id)._1}")
    }
  }

  test("embeddingDriftBy: shifted stratum loud on its dim, healthy dim near (0,1), dead pooled dim null") {
    // dim0: group b shifted +10 vs a -> both strata drift symmetric
    //   (pooled mean 5, pooled var 35 = within 10 + between 25):
    //   mean_z = ±5/√35, var_ratio = 10/35
    // dim1: identical distribution both groups -> (0, 1) exactly
    // dim2: pooled-CONSTANT -> no drift scale -> null mean_z/var_ratio
    val a = (-5 to 5).map(t =>
      (t.toLong + 5L, "a", Seq(t.toFloat, t.toFloat, 2.0f)))
    val b = (-5 to 5).map(t =>
      (t.toLong + 50L, "b", Seq(t.toFloat + 10f, t.toFloat, 2.0f)))
    val d = (a ++ b).map { case (id, g, v) => (id, g, v.toArray) }
      .toDF("vec_id", "grp", "embedding")
    val m = Ann.embeddingDriftBy(d, "grp").collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4),
          Option(r.getAs[java.lang.Double]("mean_z")),
          Option(r.getAs[java.lang.Double]("var_ratio"))))).toMap
    assert(m.size == 2 * 3)
    assert(m(("a", 0)) == ((11L, 0.0, 10.0,
      Some(-0.845154), Some(0.285714)))) // -5/√35, 10/35 at 6dp
    assert(m(("b", 0)) == ((11L, 10.0, 10.0,
      Some(0.845154), Some(0.285714))))
    assert(m(("a", 1)) == ((11L, 0.0, 10.0, Some(0.0), Some(1.0))))
    assert(m(("b", 1)) == ((11L, 0.0, 10.0, Some(0.0), Some(1.0))))
    assert(m(("a", 2)) == ((11L, 2.0, 0.0, None, None)))
    assert(m(("b", 2)) == ((11L, 2.0, 0.0, None, None)))
  }

  test("pcaOutliersBy: per-group scores == ungrouped of the slice; catches cross-source junk the pooled fit reconstructs perfectly") {
    // group a lives on the x-axis, group b on the y-axis (k=1 fits);
    // 100L sits on B's manifold but carries A's label — the
    // mislabeled/cross-contaminated case; 101L is A's in-line extreme
    val base = (-5 to 5).flatMap(t => Seq(
      (t.toLong + 5L, "a", Seq(t.toFloat, 0f)),
      (t.toLong + 50L, "b", Seq(0f, t.toFloat))))
    val junk = Seq((100L, "a", Seq(0f, 3f)), (101L, "a", Seq(50f, 0f)))
    def df(rows: Seq[(Long, String, Seq[Float])]) =
      rows.map { case (id, g, v) => (id, g, v.toArray) }
        .toDF("vec_id", "grp", "embedding")
    val fits = Ann.pcaComponentsBy(df(base), "grp", k = 1)
    val all = df(base ++ junk)
    val got = Ann.pcaOutliersBy(all, "grp", fits,
        residThreshold = 1.0, mahaThreshold = 50.0).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getDouble(2), r.getBoolean(3),
          r.getDouble(4), r.getBoolean(5)))).toMap
    assert(got.size == base.size + 2)
    // 100L: pc0 along x = 0 -> residual = 9 (loud), maha = 0
    assert(got(100L) == (("a", 9.0, true, 0.0, false)))
    // 101L: on A's line -> residual 0, maha = 2500/var(t)=250 (loud)
    assert(got(101L)._2 == 0.0 && !got(101L)._3)
    assert(got(101L)._5 && got(101L)._4 > 100.0)
    base.foreach { case (id, _, _) =>
      assert(!got(id)._3 && !got(id)._5, s"id $id")
    }
    // the pooled fit is structurally blind to 100L: its k=2 subspace
    // spans BOTH axes, so the cross-source junk reconstructs exactly
    val (pm, _, pc) = Ann.pcaComponents(df(base), k = 2)
    val pooled = Ann.pcaResiduals(all, pm, pc, threshold = 1.0)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(!pooled(100L))
    // per-group law: each group's scores == the ungrouped operators
    // run on that group's slice with that group's fit
    for (g <- Seq("a", "b")) {
      val slice = all.filter(col("grp") === g)
      val (ms, es, cs) = fits(Some(g))
      val er = Ann.pcaResiduals(slice, ms, cs, threshold = 1.0)
        .collect().map(r => r.getLong(0) ->
          ((r.getDouble(1), r.getBoolean(2)))).toMap
      val em = Ann.pcaMahalanobis(slice, ms, es, cs, threshold = 50.0)
        .collect().map(r => r.getLong(0) ->
          ((r.getDouble(1), r.getBoolean(2)))).toMap
      er.foreach { case (id, (rv, ro)) =>
        assert(got(id) == ((g, rv, ro, em(id)._1, em(id)._2)), s"id $id")
      }
    }
  }

  test("embeddingDriftFromCellsBy: multi-batch landed cells merge to the one-shot drift report bit for bit") {
    val b1 = Seq((0L, "a", Seq(1.0f, 2.0f)), (1L, "b", Seq(3.0f, -1.0f)),
      (2L, "a", Seq(0.5f, 4.0f)))
      .map { case (id, g, v) => (id, g, v.toArray) }
      .toDF("vec_id", "grp", "embedding")
    val b2 = Seq((3L, "a", Seq(-2.0f, 0.25f)), (4L, "b", Seq(1.5f, 1.5f)),
      (5L, "b", Seq(2.0f, 2.0f)))
      .map { case (id, g, v) => (id, g, v.toArray) }
      .toDF("vec_id", "grp", "embedding")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4),
          Option(r.getAs[java.lang.Double]("mean_z")),
          Option(r.getAs[java.lang.Double]("var_ratio"))))).toMap
    // the streamed landing shape: two batches' raw cells concatenated
    val landed = Ann.covarianceCellsBy(b1, "grp")
      .unionByName(Ann.covarianceCellsBy(b2, "grp"))
    assert(key(Ann.embeddingDriftFromCellsBy(landed)) ==
      key(Ann.embeddingDriftBy(b1.unionByName(b2), "grp")))
  }

  test("embeddingDriftAgainst: shifted current corpus loud vs frozen reference; dead REF dim null even where cur varies") {
    // dim0: cur shifted +10 over an identical spread -> mean_z = 10/√10
    // dim1: ref CONSTANT, cur varies -> no reference scale -> null
    val ref = (-5 to 5).map(t => (t.toLong * 2, Seq(t.toFloat, 2.0f)))
    val cur = (-5 to 5).map(t =>
      (t.toLong * 2 + 1, Seq(t.toFloat + 10f, t.toFloat)))
    val m = Ann.embeddingDriftAgainst(emb(ref: _*), emb(cur: _*))
      .collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          Option(r.getAs[java.lang.Double]("mean_z")),
          Option(r.getAs[java.lang.Double]("var_ratio"))))).toMap
    assert(m.size == 2)
    // 10/√10 = 3.162278 at 6dp; var_ratio 10/10 = 1
    assert(m(0) == ((11L, 11L, 0.0, 10.0, Some(3.162278), Some(1.0))))
    assert(m(1) == ((11L, 11L, 2.0, 0.0, None, None)))
  }

  test("embeddingDriftAgainst: a dimensionality mismatch surfaces as null-sided rows, never silent truncation") {
    // r12 advisor: ref at d=2 vs cur re-embedded at d=3 must NOT
    // quietly report only the common dims — the extra dim appears
    // with a null reference side (the loudest possible drift signal)
    val ref = (-5 to 5).map(t => (t.toLong * 2, Seq(t.toFloat, 2.0f)))
    val cur = (-5 to 5).map(t =>
      (t.toLong * 2 + 1, Seq(t.toFloat, t.toFloat, 7.0f)))
    val rows = Ann.embeddingDriftAgainst(emb(ref: _*), emb(cur: _*))
      .collect()
      .map(r => r.getInt(0) ->
        ((Option(r.getAs[java.lang.Long]("n_ref")),
          Option(r.getAs[java.lang.Long]("n_cur"))))).toMap
    assert(rows.size == 3, s"expected all 3 dims visible, got $rows")
    assert(rows(0) == ((Some(11L), Some(11L))))
    assert(rows(1) == ((Some(11L), Some(11L))))
    assert(rows(2) == ((None, Some(11L))), "cur-only dim must surface")
  }

  test("assignmentDrift: euclidean delta between the batch-implied mean and the fixed centroid, touched clusters only") {
    val cents = emb(0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f))
    val batch = emb(10L -> Seq(0.99f, 0.01f), 11L -> Seq(1f, 0f))
    val got = Ann.assignmentDrift(batch, cents).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // both vectors assign to centroid 0; implied mean (0.995, 0.005),
    // dist = sqrt(2 * 0.005^2) = 0.007071; centroid 1 untouched
    assert(got == Map(0L -> ((2L, 0.007071))), got.toString)
  }

  test("embeddingDriftAgainstCells: a multi-batch persisted snapshot gates identically to the batch form") {
    // the release-gate production shape: the frozen reference lives as
    // d diagonal summary cells; appending it batch-by-batch (raw cell
    // rows concatenated, merged by addition inside the operator) must
    // reproduce embeddingDriftAgainst(ref, cur) EXACTLY
    val ref = (-6 to 6).map(t => (t.toLong, Seq(t.toFloat, 0.5f * t, 3f)))
    val cur = (-6 to 6).map(t =>
      (t.toLong + 100, Seq(t.toFloat + 2f, 0.5f * t, 3f)))
    val (b1, b2) = ref.splitAt(5)
    val landed = Ann.diagCells(emb(b1: _*)).unionByName(
      Ann.diagCells(emb(b2: _*)))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("i").collect().map(_.toSeq).toSeq
    assert(key(Ann.embeddingDriftAgainstCells(landed, emb(cur: _*))) ==
      key(Ann.embeddingDriftAgainst(emb(ref: _*), emb(cur: _*))))
  }

  test("pcaComponentsBy: each group's fit == ungrouped pcaComponents of its slice; projectBy scores by own group") {
    // three strata with different principal directions, incl. a null
    // group (kept: a visible stratum, the covarianceCellsBy rule)
    val pts = (-5 to 5).flatMap(t => Seq(
      (t.toLong + 5L, "a", Seq(0.6f * t + 0.01f * (t % 2), 0.8f * t)),
      (t.toLong + 50L, "b", Seq(0.9f * t, -0.1f * t + 0.02f * (t % 2))),
      (t.toLong + 100L, null.asInstanceOf[String],
        Seq(0.2f * t, 0.3f * t + 0.01f * (t % 2)))))
    val d = pts.map { case (id, g, v) => (id, g, v.toArray) }
      .toDF("vec_id", "grp", "embedding")
    val fits = Ann.pcaComponentsBy(d, "grp", k = 2)
    assert(fits.keySet == Set[Option[Any]](Some("a"), Some("b"), None))
    def slice(g: Option[Any]) = g match {
      case Some(x) => d.filter(col("grp") === x.toString)
      case None => d.filter(col("grp").isNull)
    }
    for (g <- fits.keys) {
      // identical cells in, deterministic eigensolve on top: the
      // grouped fit equals the slice's ungrouped fit BIT FOR BIT
      val (ms, es, cs) = Ann.pcaComponents(slice(g), k = 2)
      val (gm, ge, gc) = fits(g)
      assert(gm.toSeq == ms.toSeq && ge.toSeq == es.toSeq, s"group $g")
      assert(gc.map(_.toSeq).toSeq == cs.map(_.toSeq).toSeq, s"group $g")
    }
    val proj = Ann.pcaProjectBy(d, "grp", fits).collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(1)), r.getDouble(2), r.getDouble(3)))).toMap
    assert(proj.size == pts.size) // every row scored, null group incl.
    for (g <- fits.keys) {
      val (ms, _, cs) = fits(g)
      Ann.pcaProject(slice(g), ms, cs).collect().foreach { r =>
        assert(proj(r.getLong(0)) ==
          ((g, r.getDouble(1), r.getDouble(2))), s"id ${r.getLong(0)}")
      }
    }
  }
}
