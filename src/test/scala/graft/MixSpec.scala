package graft

import org.apache.spark.sql.functions._
import graft.operators.Mix

class MixSpec extends SparkSpec {
  import spark.implicits._

  // The operator's md5-uniform, replicated exactly: assertions below
  // derive the expected copy counts instead of hardcoding hash luck.
  private def u(id: Long): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rs:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(h.substring(0, 8), 16).toDouble / 4294967296.0
  }

  private def corpus = Seq(
    (1L, "en", "a"), (2L, "en", "a"), (3L, "en", "a"), (10L, "fr", "b"))
    .toDF("doc_id", "lang", "source")

  test("resampleByWeight emits floor(w) copies plus a deterministic md5 extra") {
    val wts = Seq(("en", "a", 2.0 / 3.0), ("fr", "b", 2.0))
      .toDF("lang", "source", "weight")
    val got = Mix.resampleByWeight(corpus, wts, Seq("lang", "source"))
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    // fr doc: floor(2.0) = 2 guaranteed copies, frac = 0 so never a third
    assert(got(10L) == 2L)
    // en docs: 0 guaranteed, kept iff u < 2/3 — per-doc deterministic
    for (id <- Seq(1L, 2L, 3L)) {
      val expected = if (u(id) < 2.0 / 3.0) Some(1L) else None
      assert(got.get(id) == expected, s"doc $id: u=${u(id)}")
    }
    // copy indices are contiguous from 1
    val copies = Mix.resampleByWeight(corpus, wts, Seq("lang", "source"))
      .filter($"doc_id" === 10L).select("copy").as[Int].collect().sorted
    assert(copies.toSeq == Seq(1, 2))
  }

  test("temperatureWeights: tau=1 is natural sampling, tau=0 equalizes domains") {
    val skewed = ((1L to 90L).map(i => (i, "en", "a")) ++
      (91L to 100L).map(i => (i, "fr", "b"))).toDF("doc_id", "lang", "source")
    val natural = Mix.temperatureWeights(skewed, Seq("lang", "source"), tau = 1.0)
      .select("weight").as[Double].collect()
    assert(natural.forall(_ == 1.0))
    val equal = Mix.temperatureWeights(skewed, Seq("lang", "source"), tau = 0.0)
      .collect().map(r => r.getAs[String]("lang") ->
        ((r.getAs[Double]("share"), r.getAs[Double]("weight")))).toMap
    assert(equal("en")._1 == 0.5 && equal("fr")._1 == 0.5)
    // equalized weight = total / (ng * n): en 100/(2*90), fr 100/(2*10)
    assert(math.abs(equal("en")._2 - 100.0 / 180) < 1e-6)
    assert(math.abs(equal("fr")._2 - 100.0 / 20) < 1e-6)
    // 0 < tau < 1 upsamples the tail without flattening the head
    val half = Mix.temperatureWeights(skewed, Seq("lang", "source"), tau = 0.5)
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Double]("share")).toMap
    assert(half("fr") > 0.1 && half("fr") < 0.5)
    assert(half("en") > 0.5 && half("en") < 0.9)
  }

  test("deriveShards scales with input and floors at minShards") {
    // small inputs stay on the documented floor (oracle-stable at gate SF)
    assert(Mix.deriveShards(0L) == 16)
    assert(Mix.deriveShards(60000L) == 16)
    assert(Mix.deriveShards(1000L, minShards = 256) == 256)
    // past the floor, shard count grows with rows: 1 reducer ≈ rowsPerShard
    assert(Mix.deriveShards(100000000L) == 25)
    assert(Mix.deriveShards(100000000000L) == 25000)  // ~100 TB of rows
    assert(Mix.deriveShards(1000L, rowsPerShard = 100L) == 16)
    assert(Mix.deriveShards(10000L, rowsPerShard = 100L) == 100)
    // monotone: more rows never means fewer shards
    val pts = Seq(1L, 1000000L, 10000000L, 1000000000L, 50000000000L)
    assert(pts.map(Mix.deriveShards(_)) == pts.map(Mix.deriveShards(_)).sorted)
  }

  test("corpusShuffle: (shard, pos) is the global md5 order, any shard count") {
    val docs = (1 to 500).map(_.toLong).toDF("doc_id")
    def order(shards: Int): Seq[Long] =
      Mix.corpusShuffle(docs, shards).orderBy("shard", "pos")
        .select("doc_id").as[Long].collect().toSeq
    val global = docs.select($"doc_id",
        md5($"doc_id".cast("string")).as("h"))
      .orderBy("h").select("doc_id").as[Long].collect().toSeq
    // shards are contiguous hash ranges: concatenating them in shard
    // order reproduces the one global shuffled order, for 1, 7, or 256
    assert(order(1) == global)
    assert(order(7) == global)
    assert(order(256) == global)
    // at 256 the range formula reduces to the hash's first byte (what
    // the r49 oracle SQL computes)
    val firstByte = Mix.corpusShuffle(docs, 256)
      .join(docs.select($"doc_id",
        conv(substring(md5($"doc_id".cast("string")), 1, 2), 16, 10)
          .cast("long").as("fb")), "doc_id")
      .filter($"shard" =!= $"fb").count()
    assert(firstByte == 0L)
  }

  test("resampleByWeight caps pathological weights at maxCopies") {
    val wts = Seq(("en", "a", 1000.0), ("fr", "b", 0.0))
      .toDF("lang", "source", "weight")
    val got = Mix.resampleByWeight(corpus, wts, Seq("lang", "source"), maxCopies = 4)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L).forall(got(_) == 4L)) // capped, not 1000
    assert(!got.contains(10L))                   // weight 0 drops the domain
  }

  test("hashSplit: exact partition, binomial shares, stable under corpus change") {
    val docs = (1L to 4000L).toDF("doc_id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = Mix.hashSplit(docs, splits).cache()
    // every row lands in exactly one split (withColumn preserves rows)
    val counts = got.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum == 4000L && counts.keySet == Set("train", "val", "test"))
    // realized shares within 4-sigma binomial bounds of the fractions
    for ((name, f) <- splits) {
      val sigma = math.sqrt(4000 * f * (1 - f))
      assert(math.abs(counts(name) - 4000 * f) <= 4 * sigma,
        s"$name: ${counts(name)} vs ${4000 * f} ± ${4 * sigma}")
    }
    // membership is a pure function of the id: dropping half the corpus
    // moves no surviving doc (row_number/RNG splits fail exactly this)
    val full = got.select("doc_id", "split").as[(Long, String)].collect().toMap
    val half = Mix.hashSplit(docs.filter($"doc_id" % 2 === 0), splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(half.nonEmpty && half.forall { case (id, s) => full(id) == s })
    // closed-form replication of the bucket for one doc, like u(id)
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sp:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 15), 16) % 10000
    }
    val expected5 =
      if (bucket(5L) < 8000) "train" else if (bucket(5L) < 9000) "val" else "test"
    assert(full(5L) == expected5)
    got.unpersist()
  }

  test("decontaminateSplits flags cross-split near-dups and never touches held-out docs") {
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sp:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 15), 16) % 10000
    }
    def splitOf(id: Long) =
      if (bucket(id) < 8000) "train" else if (bucket(id) < 9000) "val" else "test"
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val ids = 1L to 200L
    val trainId = ids.find(splitOf(_) == "train").get
    val valId = ids.find(splitOf(_) == "val").get
    // fully-distinct 8-word texts (no shared shingle anywhere), except
    // one train doc planted as an EXACT copy of a val doc
    def text(id: Long) = (0 until 8).map(j => s"w${id}x$j").mkString(" ")
    val docs = ids.map(i =>
      (i, if (i == trainId) text(valId) else text(i))).toDF("doc_id", "text")
    val rep = Mix.decontaminateSplits(docs, splits).cache()
    // one verdict row per input doc
    assert(rep.count() == 200)
    // the planted copy is flagged on the TRAIN side only
    val r = rep.filter($"doc_id" === trainId).head
    assert(r.getAs[String]("split") == "train")
    assert(r.getAs[Long]("n_matches") >= 1 && !r.getAs[Boolean]("kept"))
    // held-out docs — including the val original — are never flagged
    assert(rep.filter($"split" =!= "train" && !$"kept").count() == 0)
    // nothing else is flagged
    assert(rep.filter(!$"kept").count() == 1)
    // THE LAW: after dropping flagged docs, no surviving train doc
    // reaches the Jaccard threshold with any held-out doc (exact
    // brute-force check over 3-word shingle sets)
    def shingles(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val byId = docs.as[(Long, String)].collect().toMap
    val kept = rep.filter($"split" === "train" && $"kept")
      .select("doc_id").as[Long].collect()
    val heldIds = ids.filter(splitOf(_) != "train")
    for (t <- kept; h <- heldIds) {
      val (a, b) = (shingles(byId(t)), shingles(byId(h)))
      val j = a.intersect(b).size.toDouble / a.union(b).size
      assert(j < 0.5, s"kept train doc $t has Jaccard $j with held-out $h")
    }
    rep.unpersist()
  }

  test("dsirScores ranks target-like docs above off-distribution docs") {
    val target = (1L to 20L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val inDist = (100L to 109L).map(i => (i, "alpha beta gamma delta epsilon"))
    val outDist = (200L to 209L).map(i => (i, "zz qq ww ee rr tt yy uu"))
    val raw = (inDist ++ outDist).toDF("doc_id", "text")
    val sc = Mix.dsirScores(raw, target)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sc.size == 20)
    val worstIn = inDist.map(d => sc(d._1)).min
    val bestOut = outDist.map(d => sc(d._1)).max
    assert(worstIn > bestOut,
      s"in-distribution floor $worstIn must beat out-of-distribution ceiling $bestOut")
    // the LLR sign convention: target-vocab docs positive, alien negative
    assert(worstIn > 0 && bestOut < 0)

    // selection is a pure function of the corpus: same rows at any
    // partitioning, ranks 1..n, and (here) exactly the in-dist half
    val sel = Mix.dsirSelect(raw, target, n = 10)
      .collect().map(r => (r.getLong(0), r.getInt(3)))
    assert(sel.map(_._2).sorted.toSeq == (1 to 10))
    assert(sel.map(_._1).toSet == inDist.map(_._1).toSet)
    val selRep = Mix.dsirSelect(raw.repartition(13), target, n = 10)
      .collect().map(r => (r.getLong(0), r.getInt(3)))
    assert(selRep.sortBy(_._2).toSeq == sel.sortBy(_._2).toSeq)
  }

  test("dsirModel/dsirScoreWith: the fit-once-apply-anywhere split matches the fused form") {
    val target = (1L to 10L).map(i => (i, "alpha beta gamma delta")).toDF("doc_id", "text")
    val raw = ((100L to 104L).map(i => (i, "alpha beta gamma xx")) ++
      (200L to 204L).map(i => (i, "qq ww ee rr"))).toDF("doc_id", "text")
    val model = Mix.dsirModel(raw, target)
    val viaModel = Mix.dsirScoreWith(raw, model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fused = Mix.dsirScores(raw, target)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaModel == fused)
    // a NEW doc (not in the fit) scores against the fixed model;
    // grams the model never saw contribute nothing
    val fresh = Seq((999L, "alpha beta zz-unseen")).toDF("doc_id", "text")
    val s = Mix.dsirScoreWith(fresh, model).collect()
    assert(s.length == 1 && s.head.getDouble(2) > 0) // target-vocab mass dominates
  }

  test("hashSplit rejects malformed split vectors") {
    val docs = (1L to 10L).toDF("doc_id")
    intercept[IllegalArgumentException](
      Mix.hashSplit(docs, Seq("a" -> 0.5, "b" -> 0.4)))         // sum != 1
    intercept[IllegalArgumentException](
      Mix.hashSplit(docs, Seq("a" -> 0.33333, "b" -> 0.66667))) // not whole buckets
    intercept[IllegalArgumentException](
      Mix.hashSplit(docs, Seq("a" -> 0.5, "a" -> 0.5)))         // duplicate name
    intercept[IllegalArgumentException](
      Mix.hashSplit(docs, Seq.empty))                           // empty
  }

  test("doremiWeights: high-excess domains upweight, weights sum to 1, eps floors") {
    // en: excess 0.4 per doc; fr: 0.0 (ref beats proxy nowhere); de:
    // negative raw excess clips to 0
    val losses = Seq(
      (1L, "en", 0.9, 0.5), (2L, "en", 0.8, 0.4),
      (3L, "fr", 0.5, 0.5), (4L, "fr", 0.6, 0.6),
      (5L, "de", 0.3, 0.7)).toDF("doc_id", "lang", "loss", "ref_loss")
    val rows = Mix.doremiWeights(losses, eta = 1.0, eps = 0.1).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(rows("en")._2 == 0.4)
    assert(rows("fr")._2 == 0.0 && rows("de")._2 == 0.0)
    assert(rows("en")._3 > rows("fr")._3, rows.toString)
    // zero-excess domains keep the uniform-smoothed floor, not zero
    assert(rows("de")._3 > 0.1 / 3)
    assert(math.abs(rows.values.map(_._3).sum - 1.0) < 1e-5)
    // eta scales the sharpening; eps=0 removes the floor
    val sharp = Mix.doremiWeights(losses, eta = 10.0, eps = 0.0).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(sharp("en") > rows("en")._3)
    intercept[IllegalArgumentException](Mix.doremiWeights(losses, eta = 0.0))
    intercept[IllegalArgumentException](Mix.doremiWeights(losses, eps = 1.0))
  }

  test("doremiCopyWeights turns target shares into resampleByWeight multipliers") {
    val losses = Seq(
      (1L, "en", 0.9, 0.5), (2L, "en", 0.8, 0.4),
      (3L, "fr", 0.5, 0.5), (4L, "fr", 0.6, 0.6),
      (5L, "de", 0.3, 0.7)).toDF("doc_id", "lang", "loss", "ref_loss")
    val shares = Mix.doremiWeights(losses).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    val mult = Mix.doremiCopyWeights(losses).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // exact arithmetic: multiplier = share * N / n_i (6dp)
    for ((d, (n, share)) <- shares)
      assert(mult(d) == math.rint(share * 5 / n * 1e6) / 1e6, s"$d: $mult vs $shares")
    // realized copies approximate the target: upweighted en multiplies
    // above de's (same n would be needed for a strict per-domain
    // ordering; here en out-multiplies the zero-excess 2-doc domain fr)
    assert(mult("en") > mult("fr"))
    // composes with resampleByWeight: expected copies = n_i * mult_i
    val out = Mix.resampleByWeight(
      losses.select("lang", "doc_id"), Mix.doremiCopyWeights(losses),
      keys = Seq("lang"), maxCopies = 8)
    assert(out.count() > 0)
  }

  // doremiWeights' earlier form: k and Z as one-row aggregates crossed
  // back onto the domain summary. The window form must equal it bit
  // for bit.
  private def doremiCrossJoin(losses: org.apache.spark.sql.DataFrame,
      eta: Double, eps: Double): org.apache.spark.sql.DataFrame = {
    val ex = losses.select(col("lang").as("domain"),
      greatest(col("loss") - col("ref_loss"), lit(0.0)).as("x"))
    val dom = ex.groupBy("domain").agg(
      count(lit(1)).as("n"),
      round(aggregate(sort_array(collect_list(col("x"))), lit(0d), _ + _) /
        count(lit(1)), 6).as("excess"))
    val k = dom.agg(count(lit(1)).as("k"))
    val withA = dom.crossJoin(broadcast(k))
      .withColumn("a",
        (lit(1.0) / col("k")) * (lit(1.0) + lit(eta) * col("excess")))
    val z = withA.agg(
      aggregate(sort_array(collect_list(col("a"))), lit(0d), _ + _).as("z"))
    withA.crossJoin(broadcast(z))
      .select(col("domain"), col("n"), col("excess"),
        round(lit(1 - eps) * (col("a") / col("z")) + lit(eps) / col("k"), 6)
          .as("weight"))
  }

  private def bits(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long, Long)] =
    df.orderBy("domain").collect().toSeq.map(r => (r.getString(0), r.getLong(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
      java.lang.Double.doubleToRawLongBits(r.getDouble(3))))

  test("doremiWeights equals its crossJoin form bit for bit: many, one, no and null domains") {
    val many = (1 to 60).map { i =>
      (i.toLong, s"d${i % 7}", (i * 37 % 101) / 101.0, (i * 53 % 97) / 97.0)
    }
    val cases = Seq(
      "several domains" -> many,
      "one domain" -> many.map { case (i, _, l, r) => (i, "en", l, r) },
      "empty input" -> Seq.empty[(Long, String, Double, Double)],
      "null domain group" -> many.map { case (i, d, l, r) =>
        (i, if (i % 5 == 0) null else d, l, r) })
    for ((name, rows) <- cases; (eta, eps) <- Seq((1.0, 0.1), (2.0, 0.0), (0.3, 0.5))) {
      val losses = rows.toDF("doc_id", "lang", "loss", "ref_loss")
      val got = bits(Mix.doremiWeights(losses, eta = eta, eps = eps))
      assert(got == bits(doremiCrossJoin(losses, eta, eps)), s"$name eta=$eta eps=$eps")
      if (name == "empty input") assert(got.isEmpty)
      if (name == "null domain group") assert(got.exists(_._1 == null))
    }
  }

  test("weightedSample: deterministic, partition-invariant, weight-respecting") {
    val docs = spark.range(200)
      .select(col("id").as("doc_id"),
        when(col("id") === 7, 1000.0).otherwise(1.0).as("w"))
    val a = Mix.weightedSample(docs, k = 20, weightCol = "w")
      .select("doc_id").as[Long].collect().toSet
    assert(a.size == 20)
    // the 1000x-weight doc is effectively certain to be drawn
    assert(a.contains(7L))
    // pure function of (id, weight, seed): row order and partitioning
    // never change the drawn set
    val b = Mix.weightedSample(docs.repartition(13), k = 20, weightCol = "w")
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
    // an independent seed draws an (almost surely) different set
    val c = Mix.weightedSample(docs, k = 20, weightCol = "w", seed = "ws2")
      .select("doc_id").as[Long].collect().toSet
    assert(c != a && c.contains(7L))
  }

  test("weightedSample: zero/null weights excluded, k >= eligible returns all") {
    val docs = Seq(
      (1L, 2.0), (2L, 0.0), (3L, -1.0), (4L, 3.0),
      (5L, Double.NaN)).toDF("doc_id", "w")
      .select(col("doc_id"), when(col("doc_id") === 5, lit(null)
        .cast("double")).otherwise(col("w")).as("w"))
    val out = Mix.weightedSample(docs, k = 10, weightCol = "w")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 4L))
    // realized frequency tracks weight: over 40 independent seeds,
    // a weight-5 doc is drawn into a k=2-of-4 sample more often than
    // a weight-1 doc
    val four = Seq((1L, 5.0), (2L, 1.0), (3L, 1.0), (4L, 1.0))
      .toDF("doc_id", "w")
    val hits = (0 until 40).map { s =>
      Mix.weightedSample(four, k = 2, weightCol = "w", seed = s"s$s")
        .select("doc_id").as[Long].collect().toSet
    }
    val n1 = hits.count(_.contains(1L)); val n2 = hits.count(_.contains(2L))
    assert(n1 > n2, s"heavy $n1 vs light $n2")
  }

  test("groupSample: exactly min(k, |group|) per group, rn dense from 1") {
    val docs = spark.range(500).select(col("id").as("doc_id"),
      (col("id") % 7).cast("string").as("g"))
      .union(Seq(("tiny", 9000L), ("tiny", 9001L)).toDF("g", "doc_id")
        .select(col("doc_id"), col("g")))
    val s = Mix.groupSample(docs, k = 10, groupCol = "g")
    val sizes = s.groupBy("g").agg(count(lit(1)).as("n"), max("rn").as("mx"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(sizes("tiny") == (2L, 2))
    (0 until 7).foreach(g => assert(sizes(g.toString) == (10L, 10)))
  }

  test("temporalSplit: boundary rows, the embargo gap, and null timestamps") {
    val rows = Seq(
      (1L, "2024-01-09 23:59:59"), // train
      (2L, "2024-01-10 00:00:00"), // embargo (trainEnd is exclusive)
      (3L, "2024-01-14 23:59:59"), // embargo
      (4L, "2024-01-15 00:00:00"), // test (testStart is inclusive)
      (5L, null: String))
      .toDF("id", "s").withColumn("ts", col("s").cast("timestamp"))
    val out = Mix.temporalSplit(rows, "ts",
        "2024-01-10 00:00:00", "2024-01-15 00:00:00")
      .select("id", "split").as[(Long, Option[String])].collect().toMap
    assert(out == Map(1L -> Some("train"), 2L -> Some("embargo"),
      3L -> Some("embargo"), 4L -> Some("test"), 5L -> None))
    // degenerate gap = a plain two-way split; inverted bounds reject
    val noGap = Mix.temporalSplit(rows, "ts",
        "2024-01-10 00:00:00", "2024-01-10 00:00:00")
    assert(noGap.filter(col("split") === "embargo").count() == 0)
    intercept[IllegalArgumentException] {
      Mix.temporalSplit(rows, "ts", "2024-01-15 00:00:00", "2024-01-10 00:00:00")
    }
  }

  test("groupSample: a group's draw is unchanged by OTHER groups' membership") {
    val docs = spark.range(300).select(col("id").as("doc_id"),
      (col("id") % 3).cast("string").as("g"))
    val full = Mix.groupSample(docs, k = 15, groupCol = "g")
      .filter(col("g") === "1").select("doc_id").as[Long].collect().toSet
    // drop group 2 entirely and resample: group 1's draw is identical
    // (the uniform is a pure function of (seed, id) — the hashSplit
    // stability contract)
    val pruned = Mix.groupSample(docs.filter(col("g") =!= "2"), k = 15,
      groupCol = "g").filter(col("g") === "1")
      .select("doc_id").as[Long].collect().toSet
    assert(full == pruned)
    // and partitioning never changes any draw
    val repart = Mix.groupSample(docs.repartition(11), k = 15, groupCol = "g")
      .filter(col("g") === "1").select("doc_id").as[Long].collect().toSet
    assert(full == repart)
  }
}
