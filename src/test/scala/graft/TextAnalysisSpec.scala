package graft

import graft.functions.TextAnalysis
import org.apache.spark.sql.functions.{col, lit, sum}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("stats: token/char counts and mean token length") {
    val r = TextAnalysis.stats(docs((1L, "a bb ccc"))).collect().head
    assert(r.getAs[Long]("n_tokens") == 3L)
    assert(r.getAs[Long]("n_chars") == 8L)
    assert(r.getAs[Double]("avg_token_len") == 2.0) // (8-3+1)/3
  }

  test("qualityScore: stopword-free short doc scores low, stopworded long doc higher") {
    val d = docs(
      (1L, "zz yy xx"),
      (2L, Seq.fill(25)("the data is in the table and a file").mkString(" ")))
    val m = TextAnalysis.qualityScore(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(m(1L) < 0.1)
    assert(m(2L) > 0.5)
  }

  test("langId votes by stopword lists with fixed tiebreak") {
    val d = docs(
      (1L, "the cat and the dog of a house"),
      (2L, "el perro de la casa y el gato"),
      (3L, "zz qq ww"))
    val m = TextAnalysis.langId(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(m(1L) == "en")
    assert(m(2L) == "es")
    assert(m(3L) == "und")
  }

  test("fingerprints: identical docs produce identical fingerprint sets") {
    val d = docs((1L, "abcdefghij klmno"), (2L, "abcdefghij klmno"), (3L, "zzzzzzzzzzzzzzzz"))
    val rows = TextAnalysis.fingerprints(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_fp"), r.getAs[String]("min_fp"))))
      .toMap
    assert(rows(1L) == rows(2L))
    assert(rows(1L) != rows(3L))
    assert(rows(3L)._1 == 1L) // all 5-grams of a constant string are equal
  }

  test("fingerprints: docs shorter than k keep a row with n_fp=0") {
    // same stay-visible rule as repetition(): absence of a row must
    // never be how a consumer learns a doc was too short
    val rows = TextAnalysis.fingerprints(docs((1L, "ab"), (2L, "abcdefghij")))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_fp"), r.getAs[String]("min_fp")))).toMap
    assert(rows(1L)._1 == 0L && rows(1L)._2 == null)
    assert(rows(2L)._1 > 0L && rows(2L)._2 != null)
  }

  test("qualityGate: each rule flags its own defect, kept is the conjunction") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog and it is a good day today"),
      (2L, "hello world"),                                   // too short, no stopwords
      (3L, "spam spam spam spam spam spam spam spam"),       // looping
      (4L, "el perro de la casa y el gato es un amigo de la casa grande"), // wrong lang
      (5L, null))                                          // null text stays auditable
    val g = TextAnalysis.qualityGate(d, minTokens = 5, maxTopFrac = 0.5,
        minStopRatio = 0.05, langs = Seq("en")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("ok_len"), r.getAs[Boolean]("ok_rep"),
          r.getAs[Boolean]("ok_stop"), r.getAs[Boolean]("ok_lang"),
          r.getAs[Boolean]("kept")))).toMap
    assert(g(1L) == ((true, true, true, true, true)))
    assert(!g(2L)._1 && !g(2L)._5)                 // length rule
    assert(!g(3L)._2 && !g(3L)._5)                 // repetition rule
    assert(g(4L)._1 && !g(4L)._4 && !g(4L)._5)     // language rule (es wins the vote)
    assert(g.contains(5L) && !g(5L)._1 && !g(5L)._5) // null text: present, rejected
  }

  test("tokenCounts: regex classes vs whitespace") {
    val r = TextAnalysis.tokenCounts(docs((1L, "ab 12 cd9"))).collect().head
    assert(r.getAs[Long]("n_ws") == 3L)
    assert(r.getAs[Long]("n_re") == 4L) // ab, 12, cd, 9
  }

  test("scrubPii counts and redacts every email and phone match") {
    val r = TextAnalysis.scrubPii(docs(
      (1L, "mail bob.smith@corp.io or 555-1234 or ann@x.co thanks"))).collect().head
    assert(r.getAs[Long]("n_emails") == 2L)
    assert(r.getAs[Long]("n_phones") == 1L)
    val s = r.getAs[String]("scrubbed")
    assert(!s.contains("@") && !s.contains("555-1234"))
    assert(s.contains("<EMAIL>") && s.contains("<PHONE>"))
    // mixed-case addresses are PII too
    val up = TextAnalysis.scrubPii(docs((2L, "write John.Doe@Example.COM today"))).collect().head
    assert(up.getAs[Long]("n_emails") == 1L)
    assert(!up.getAs[String]("scrubbed").contains("@"))
  }

  test("chunk: overlapping windows cover every token; short docs yield one chunk") {
    // 10 tokens, chunk 4, overlap 2, stride 2 -> ceil(8/2) = 4 chunks
    val words = (1 to 10).map(i => s"w$i")
    val rows = TextAnalysis.chunk(docs((1L, words.mkString(" ")), (2L, "a b")),
        chunkTokens = 4, overlap = 2)
      .orderBy("doc_id", "chunk_idx").collect()
    val c1 = rows.filter(_.getLong(0) == 1L).map(_.getString(2))
    assert(c1.toSeq == Seq("w1 w2 w3 w4", "w3 w4 w5 w6", "w5 w6 w7 w8", "w7 w8 w9 w10"))
    // consecutive chunks share exactly `overlap` tokens
    c1.sliding(2).foreach { case Array(a, b) =>
      assert(a.split(" ").takeRight(2).toSeq == b.split(" ").take(2).toSeq)
    }
    // short doc: one chunk, the doc itself
    val c2 = rows.filter(_.getLong(0) == 2L)
    assert(c2.length == 1 && c2.head.getString(2) == "a b" && c2.head.getLong(3) == 2L)
  }

  test("repetition separates looping text from varied text") {
    val m = TextAnalysis.repetition(docs(
      (1L, "spam ham spam ham spam ham"),
      (2L, "a b c d e f"))).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("top_frac"), r.getAs[Double]("distinct_ratio")))).toMap
    assert(m(1L)._1 > m(2L)._1)      // looping doc: one bigram dominates
    assert(m(1L)._2 < m(2L)._2)      // looping doc: low distinct ratio
    assert(m(2L)._2 == 1.0)
  }

  test("gopherRepetition: hand-computed line and n-gram coverage fractions") {
    val r = TextAnalysis.gopherRepetition(docs(
        (1L, "a b\na b\nc"),   // one duplicated line; 3-gram == whole doc
        (2L, "x x x x"),       // overlapping dominant n-grams cap at 1.0
        (3L, ""),              // empty doc: one zero-length line
        (4L, "\n\n")))         // blank lines only: dup lines, zero chars
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d1 = r(1L)
    assert(d1.getAs[Long]("n_lines") == 3L)
    assert(d1.getAs[Double]("dup_line_frac") == 0.3333)      // 1/3
    assert(d1.getAs[Double]("dup_line_char_frac") == 0.4286) // 3/7
    // tokens split on spaces only: ["a","b\na","b\nc"]; dominant
    // 2-gram "b\na b\nc" covers 7 of 9 chars; the 3-gram is the doc
    assert(d1.getAs[Double]("top2gram_char_frac") == 0.7778)
    assert(d1.getAs[Double]("top3gram_char_frac") == 1.0)
    assert(d1.getAs[Double]("top4gram_char_frac") == 0.0)    // no 4-gram
    val d2 = r(2L)
    assert(d2.getAs[Double]("dup_line_frac") == 0.0)
    // "x x" occurs 3x: 9 covered chars in a 7-char doc -> capped
    assert(d2.getAs[Double]("top2gram_char_frac") == 1.0)
    assert(d2.getAs[Double]("top3gram_char_frac") == 1.0)
    assert(d2.getAs[Double]("top4gram_char_frac") == 1.0)
    val d3 = r(3L)
    assert(d3.getAs[Long]("n_lines") == 1L)
    assert(d3.getAs[Double]("dup_line_frac") == 0.0)
    assert(d3.getAs[Double]("dup_line_char_frac") == 0.0)    // 0/0 guard
    assert(d3.getAs[Double]("top2gram_char_frac") == 0.0)
    val d4 = r(4L)
    assert(d4.getAs[Long]("n_lines") == 3L)
    assert(d4.getAs[Double]("dup_line_frac") == 0.6667)      // 2/3
    assert(d4.getAs[Double]("dup_line_char_frac") == 0.0)    // zero line chars
  }

  test("quality logreg separates planted spam from prose and distills the gate") {
    val spam = (1L to 20L).map(i => (i, Seq.fill(30)("buy now").mkString(" ")))
    val prose = (21L to 40L).map(i =>
      (i, s"the report $i is in the table and a copy of the data is on file " +
        s"with the notes from meeting $i and the summary that the team wrote"))
    val d = docs(spam ++ prose: _*)
    val feats = TextAnalysis.qualityFeatures(d)
    import spark.implicits._
    val labels = ((1L to 20L).map(_ -> 0) ++ (21L to 40L).map(_ -> 1))
      .toDF("doc_id", "label")
    val w = TextAnalysis.trainQualityLogreg(feats, labels)
    assert(w.size == 5 && w.forall(v => !v.isNaN && !v.isInfinite))
    val scored = TextAnalysis.scoreQualityLogreg(feats, w)
      .select("doc_id", "kept").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("kept")).toMap
    assert((1L to 20L).forall(!scored(_)), "spam docs must score below 0")
    assert((21L to 40L).forall(scored(_)), "prose docs must score above 0")
    // Distillation: gate verdicts as labels; the 4-feature model must
    // reproduce most of the rule gate it was distilled from.
    val gateLabels = TextAnalysis.qualityGate(d)
      .select(col("doc_id"), col("kept").cast("int").as("label"))
    val w2 = TextAnalysis.trainQualityLogreg(feats, gateLabels)
    val agree = TextAnalysis.scoreQualityLogreg(feats, w2)
      .join(gateLabels, "doc_id")
      .filter(col("kept") === (col("label") === 1)).count()
    assert(agree >= 36, s"distilled classifier agrees on $agree/40 docs")
  }

  test("scoreQualityLogreg logit is the exact left-folded multiply-add chain") {
    import spark.implicits._
    val feats = Seq((1L, 0.5, 0.25, 0.1, 0.9))
      .toDF("doc_id", "len_frac", "stop_ratio", "top_frac", "distinct_ratio")
    val w = Seq(-1.0, 2.0, 4.0, -3.0, 0.5)
    val got = TextAnalysis.scoreQualityLogreg(feats, w).collect().head
    val expected = BigDecimal((((-1.0 + 2.0 * 0.5) + 4.0 * 0.25) + -3.0 * 0.1) + 0.5 * 0.9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getAs[Double]("logit") == expected)
    assert(got.getAs[Boolean]("kept"))
  }

  test("classifierMetrics: hand-computed confusion counts and ratios") {
    import spark.implicits._
    val pred = Seq((1L, true), (2L, true), (3L, false), (4L, false), (5L, true))
      .toDF("doc_id", "kept")
    val labels = Seq((1L, 1), (2L, 0), (3L, 1), (4L, 0), (5L, 1))
      .toDF("doc_id", "label")
    val m = TextAnalysis.classifierMetrics(pred, labels).collect().head
    assert(m.getAs[Long]("n") == 5L)
    assert(m.getAs[Long]("tp") == 2L && m.getAs[Long]("fp") == 1L)
    assert(m.getAs[Long]("fn") == 1L && m.getAs[Long]("tn") == 1L)
    assert(m.getAs[Double]("accuracy") == 0.6)     // 3/5
    assert(m.getAs[Double]("precision") == 0.6667) // 2/3
    assert(m.getAs[Double]("recall") == 0.6667)    // 2/3
    assert(m.getAs[Double]("f1") == 0.6667)        // 4/6
    // degenerate: no positive predictions -> null precision, not 0
    val none = TextAnalysis.classifierMetrics(
      pred.withColumn("kept", lit(false)), labels).collect().head
    assert(none.isNullAt(none.fieldIndex("precision")))
    assert(none.getAs[Double]("recall") == 0.0)
  }

  test("packSequences lays each shard's chunks into contiguous ctx-sized bins") {
    // one shard so the stream is a single deterministic sequence
    val chunks = Seq(
      (1L, 0, 6L), (1L, 1, 6L), (2L, 0, 5L))
      .toDF("doc_id", "chunk_idx", "n_tokens")
    val rows = TextAnalysis.packSequences(chunks, ctxTokens = 8, shards = 1)
      .orderBy("tok_start").collect()
    // stream: [0,6) [6,12) [12,17) — starts are contiguous (no gaps)
    assert(rows.map(_.getAs[Long]("tok_start")).toSeq == Seq(0L, 6L, 12L))
    // chunk 2 ([6,12)) straddles the 8-token boundary: bins 0 and 1
    val straddler = rows(1)
    assert(straddler.getAs[Long]("first_bin") == 0L)
    assert(straddler.getAs[Long]("last_bin") == 1L)
    // last chunk [12,17) sits fully in bin 1 ([8,16))? no — 16 crosses:
    // first_bin = 12/8 = 1, last_bin = 16/8 = 2
    assert(rows(2).getAs[Long]("first_bin") == 1L)
    assert(rows(2).getAs[Long]("last_bin") == 2L)
  }

  test("packSequencesAuto derives the shard count from the chunk count") {
    val chunks = (1L to 40L).map(i => (i, 0, 4L))
      .toDF("doc_id", "chunk_idx", "n_tokens")
    // floor wins on small inputs: every shard id < minShards
    val floored = TextAnalysis.packSequencesAuto(chunks, ctxTokens = 8,
        rowsPerShard = 1000L, minShards = 4)
      .select("shard").as[Long].collect().toSet
    assert(floored.forall(_ < 4))
    // past the floor the count is ceil(rows / rowsPerShard): 40/5 = 8
    val scaled = TextAnalysis.packSequencesAuto(chunks, ctxTokens = 8,
        rowsPerShard = 5L, minShards = 1)
      .select("shard").as[Long].collect().toSet
    assert(scaled.forall(_ < 8) && scaled.size > 4,
      s"expected shards spread over 8 buckets, got $scaled")
    // and the result is exactly packSequences at the derived count
    val explicit = TextAnalysis.packSequences(chunks, ctxTokens = 8, shards = 8)
    val auto = TextAnalysis.packSequencesAuto(chunks, ctxTokens = 8,
      rowsPerShard = 5L, minShards = 1)
    assert(auto.exceptAll(explicit).isEmpty && explicit.exceptAll(auto).isEmpty)
  }

  test("tokenBudgetSample keeps the boundary-crossing doc, drops the rest") {
    // md5("1") < md5("2") < md5("3"), so the stream order is 1, 2, 3;
    // 5-token docs against an 8-token budget: 1 fits, 2 crosses (kept),
    // 3 starts past the budget (dropped)
    val d = Seq((1L, "a b c d e", "en"), (2L, "f g h i j", "en"),
      (3L, "k l m n o", "en")).toDF("doc_id", "text", "lang")
    val kept = TextAnalysis.tokenBudgetSample(d, budgetTokens = 8L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L))
  }

  test("qualityPrune keeps each domain's upper half, null domain included") {
    // en: four docs with strictly increasing scores (longer + more
    // stopwords => higher); null domain forms its own group and must
    // not vanish through the cutoff join
    val d = Seq(
      (1L, "zz", "en"), (2L, "the data is in the table", "en"),
      (3L, Seq.fill(20)("the and a of data").mkString(" "), "en"),
      (4L, Seq.fill(30)("the and a of is in").mkString(" "), "en"),
      (5L, "null domain doc", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "lang")
    val kept = graft.functions.TextAnalysis.qualityPrune(d, p = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(4L) && kept.contains(3L)) // upper half survives
    assert(!kept.contains(1L))                     // bottom score pruned
    assert(kept.contains(5L))                      // its own (single-doc) group
  }

  test("tfidf ranks a document's rare term above corpus-wide terms") {
    val m = TextAnalysis.tfidf(docs(
      (1L, "shared shared unique"),
      (2L, "shared other words"),
      (3L, "shared more things")), k = 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("token")).toMap
    assert(m(1L) == "unique")   // df=1 beats tf=2 of the everywhere-term
  }

  test("repetition keeps sub-2-token docs with zero bigram metrics") {
    val rows = TextAnalysis.repetition(docs(
      (1L, "single"),
      (2L, "a b c"))).orderBy("doc_id").collect()
    assert(rows.length == 2)          // the short doc is NOT dropped
    val short = rows.head
    assert(short.getAs[Long]("n_bigrams") == 0L)
    assert(short.getAs[Long]("top_n") == 0L)
    assert(short.isNullAt(short.fieldIndex("top_frac")))
    assert(short.getAs[Double]("distinct_ratio") == 1.0)
  }

  test("unigramScore: common-vocabulary doc outscores a rare-vocabulary doc") {
    // Corpus: "the" appears 4x, every other token once (total 8 tokens).
    val m = TextAnalysis.unigramScore(docs(
      (1L, "the the the the"),           // all tokens at p=4/8
      (2L, "aardvark qux zyzzyva foo"))) // all tokens at p=1/8
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Double]("score"))).toMap
    assert(m(1L) == ((4L, 0.5)))     // mean p = 4/8
    assert(m(2L) == ((4L, 0.125)))   // mean p = 1/8
  }

  test("bigramScore: interpolated probabilities match the hand computation") {
    // Corpus: doc1 "a b a b", doc2 "a c", doc3 "solo". Unigrams
    // a:3 b:2 c:1 solo:1 (total 7 — the sub-2-token doc contributes no
    // bigram but its tokens DO count in the backoff distribution).
    // Bigrams (a,b):2 (b,a):1 (a,c):1; contexts a:3 b:1.
    val m = TextAnalysis.bigramScore(docs(
      (1L, "a b a b"),
      (2L, "a c"),
      (3L, "solo")))                 // <2 tokens → absent from output
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bi"), r.getAs[Double]("score")))).toMap
    val pab = 0.75 * 2 / 3 + 0.25 * 2 / 7   // p(b|a)
    val pba = 0.75 * 1 / 1 + 0.25 * 3 / 7   // p(a|b)
    val pac = 0.75 * 1 / 3 + 0.25 * 1 / 7   // p(c|a)
    assert(m.keySet == Set(1L, 2L))
    assert(m(1L)._1 == 3L && math.abs(m(1L)._2 - (2 * pab + pba) / 3) < 5e-7)
    assert(m(2L)._1 == 1L && math.abs(m(2L)._2 - pac) < 5e-7)
  }

  test("bigramScoreKN: continuation backoff inverts JM's glued-token preference; hand values exact") {
    // The San-Francisco fixture: "francisco" is FREQUENT (21
    // occurrences) but glued to one training context; "glasses" is
    // rare (5) but follows many contexts. Both test docs present the
    // token in the SAME novel context "the", so the only difference
    // is the backoff distribution: JM hands francisco its big raw
    // unigram mass, KN hands it its tiny continuation mass.
    val corpus = docs(((1L to 20L).map(i => (i, "san francisco")) ++
      Seq(21L -> "my glasses", 22L -> "your glasses", 23L -> "his glasses",
        24L -> "her glasses", 100L -> "the francisco",
        101L -> "the glasses")).toSeq: _*)
    def scores(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val jm = scores(TextAnalysis.bigramScore(corpus))
    val kn = scores(TextAnalysis.bigramScoreKN(corpus))
    // JM prefers the glued token's novel context...
    assert(jm(100L) > jm(101L), s"jm: $jm")
    // ...KN inverts it: N1+(.,francisco) = 2 contexts {san, the} vs
    // N1+(.,glasses) = 5 {my, your, his, her, the}; 7 bigram types
    assert(kn(101L) > kn(100L), s"kn: $kn")
    // hand computation: c(the,.) = 2, both test bigrams seen once ->
    // max(1 - 0.75, 0)/2 = 0.125; discount mass 0.75*n1f(the)/2 = 0.75
    // KN(A) = 0.125 + 0.75*(2/7) = 0.339286 (6dp)
    // KN(B) = 0.125 + 0.75*(5/7) = 0.660714
    assert(kn(100L) == 0.339286 && kn(101L) == 0.660714, kn.toString)
    // the rare-continuation doc carries LOWER perplexity (higher
    // linear score) under KN than under JM — the low-count-tail
    // sharpness the smoothing exists for
    assert(kn(101L) > jm(101L))
  }

  test("bigramScore matches a sequential reference bit-for-bit on random corpora") {
    // Reference replays the operator's exact double-arithmetic
    // sequence: w = tf * (0.75*bc/cc + 0.25*cnt/total), per-doc sum in
    // ascending order from 0.0, ROUND(6) = HALF_UP on the shortest
    // decimal repr (BigDecimal.valueOf) — so equality is ==, no
    // tolerance.
    val rnd = new scala.util.Random(99)
    val vocab = Seq("a", "b", "c", "d")
    for (trial <- 1 to 3) {
      val corpus = (1L to 10L).map { id =>
        id -> Seq.fill(2 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }
      val uni = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val total = toks.map(_._2.size.toLong).sum
      val docBi = toks.map { case (id, t) =>
        id -> t.zip(t.tail).groupBy(identity).view.mapValues(_.size.toLong).toMap
      }.toMap
      val bc = docBi.values.flatten
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val cc = bc.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      val expected = docBi.map { case (id, bis) =>
        val ws = bis.map { case ((w1, w2), tf) =>
          tf.toDouble * (0.75 * bc((w1, w2)) / cc(w1) + 0.25 * uni(w2) / total)
        }.toSeq.sorted
        val s = ws.foldLeft(0.0)(_ + _)
        val nBi = bis.values.sum
        id -> ((nBi, java.math.BigDecimal.valueOf(s / nBi)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue))
      }
      val got = TextAnalysis.bigramScore(corpus.toDF("doc_id", "text"))
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_bi"), r.getAs[Double]("score")))).toMap
      assert(got == expected, s"trial $trial: $got vs $expected")
    }
  }

  test("bigramScore: natural word order outscores the same tokens shuffled") {
    // Both docs draw from the same vocabulary with identical unigram
    // counts, so unigramScore cannot separate them — but the corpus
    // bigram "the cat" is frequent while the shuffled doc's bigrams
    // are rare, and the bigram LM sees exactly that.
    val base = (1 to 10).map(i => (i.toLong, "the cat sat here")) :+
      (99L, "cat the here sat")
    val m = TextAnalysis.bigramScore(base.toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(m(1L) > m(99L))
  }

  test("sweepThreshold beats the z=0 boundary on a skew-calibrated corpus") {
    // Planted skew: every positive's logit sits in (-2, -1.02) and
    // every negative's below -4.5 — the shipped z = 0 cut predicts
    // NOTHING positive (tp = 0, F1 = 0), while a clean separating cut
    // exists near -4. The sweep must find one.
    val scored = ((1 to 50).map(i => (i.toLong, -1.0 - i * 0.02)) ++
      (51 to 200).map(i => (i.toLong, -4.0 - i * 0.01)))
      .toDF("doc_id", "logit")
    val labels = (1 to 200).map(i => (i.toLong, if (i <= 50) 1 else 0))
      .toDF("doc_id", "label")
    val (t, f1) = TextAnalysis.sweepThreshold(scored, labels)
    assert(f1 == 1.0, s"expected a perfect separating cut, got f1=$f1 at t=$t")
    assert(t > -4.5 && t <= -2.0, s"threshold $t outside the separating gap")
    // z=0 on the same frame scores F1 = 0 — the sweep strictly wins
    // (2*tp / (pp + pos) with tp = pp = 0)
    // and the tuned threshold flows through the scoring path
    val feats = Seq((1L, 0.9, 0.0, 0.0, 0.0), (2L, 0.1, 0.0, 0.0, 0.0))
      .toDF("doc_id", "len_frac", "stop_ratio", "top_frac", "distinct_ratio")
    val kept = TextAnalysis.scoreQualityLogreg(
        feats, Seq(0.0, 1.0, 0.0, 0.0, 0.0), threshold = 0.5)
      .select("doc_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(kept(1L) && !kept(2L))
  }

  test("bm25TopK: rare-term match outranks common-term match, self excluded") {
    // "zebra" appears in exactly one corpus doc; "the" is everywhere.
    val corpus = docs(
      (1L, "the zebra query text"),
      (2L, "the zebra runs far"),       // rare-term match
      (3L, "the the the the the"),      // common-term-only match
      (4L, "unrelated words entirely"),
      (5L, "the quick brown fox"))
    val queries = Seq((1L, "the zebra query text")).toDF("q_id", "qtext")
    val hits = TextAnalysis.bm25TopK(corpus, queries, k = 10)
      .orderBy("rn").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rn"), r.getAs[Double]("score")))
    // the query doc itself never appears
    assert(!hits.exists(_._1 == 1L))
    // the zebra doc wins; scores strictly ordered with rn
    assert(hits.head._1 == 2L)
    assert(hits.map(_._3).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    // only docs sharing at least one query token are candidates
    assert(!hits.exists(_._1 == 4L))

    // ranking is a pure function of the corpus: stable under repartition
    val again = TextAnalysis.bm25TopK(corpus.repartition(7), queries, k = 10)
      .orderBy("rn").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rn"), r.getAs[Double]("score")))
    assert(again.toSeq == hits.toSeq)
  }

  test("bm25 index: search-from-disk == index-free; append == rewrite, old files untouched") {
    import java.nio.file.{Files, Paths}
    val words = Seq("the", "zebra", "runs", "fast", "and", "slow", "fox", "dog",
      "cat", "bird", "tree", "rock")
    val corpus = (1L to 40L).map { i =>
      (i, (0 until 8).map(j => words(((i * 7 + j * 3) % words.size).toInt)).mkString(" "))
    }.toDF("doc_id", "text")
    val queries = Seq((0L, "zebra fox the tree")).toDF("q_id", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "doc_id", "score", "rn").collect().map(_.toSeq).toSet

    val root = tmp("bm25idx")
    TextAnalysis.writeBm25Index(corpus, root)
    val free = rows(TextAnalysis.bm25TopK(corpus, queries, k = 5))
    val idx = TextAnalysis.bm25SearchIndex(spark, root, queries, k = 5)
    assert(rows(idx) == free)
    // the driver-collected query token set becomes a pushed In-filter
    // on the postings scan (row-group pruning via the token sort)
    idx.collect()
    val plan = idx.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[In\\(token".r.findFirstIn(plan).isDefined,
      plan.linesIterator.take(40).mkString("\n"))

    // incremental: batch1 + append(batch2) == one-shot full index
    val root2 = tmp("bm25idx2")
    TextAnalysis.writeBm25Index(corpus.filter($"doc_id" <= 20), root2)
    def snapshot(): Map[String, Long] = {
      val d = Paths.get(root2, "postings")
      Files.list(d).toArray.map(_.toString)
        .filter(_.endsWith(".parquet"))
        .map(f => f -> Files.size(Paths.get(f))).toMap
    }
    val before = snapshot()
    TextAnalysis.appendBm25Index(corpus.filter($"doc_id" > 20), root2)
    val after = snapshot()
    assert(before.forall { case (f, sz) => after.get(f).contains(sz) },
      "append must not rewrite existing postings files")
    assert(after.size > before.size)
    assert(rows(TextAnalysis.bm25SearchIndex(spark, root2, queries, k = 5)) == free)
  }

  test("calibrationBins: fixed-cut bins count and rate correctly, with the overflow bin") {
    val scored = Seq((1L, -5.0), (2L, -3.0), (3L, 0.5), (4L, 0.7), (5L, 9.0))
      .toDF("doc_id", "logit")
    val labels = Seq((1L, 0), (2L, 1), (3L, 1), (4L, 0), (5L, 1))
      .toDF("doc_id", "label")
    val rows = TextAnalysis.calibrationBins(scored, labels).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // cuts -4,-2,-1,0,1,2,4: -5 -> bin0; -3 -> bin1; 0.5, 0.7 -> bin4; 9 -> overflow bin7
    assert(rows.toSeq == Seq((0, 1L, 0.0), (1, 1L, 1.0), (4, 2L, 0.5), (7, 1L, 1.0)))
    intercept[IllegalArgumentException] {
      TextAnalysis.calibrationBins(scored, labels, cuts = Seq(1.0, -1.0))
    }
  }

  test("normalizeText: lowercase, control chars out, whitespace collapsed, trimmed") {
    val rows = Seq((1L, "  Fast\tCAR\n engine  "), (2L, "already clean"),
      (3L, "\u0001\u0002"), (4L, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.normalizeText(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) == "fast car engine")
    assert(rows(2L) == "already clean")
    assert(rows(3L) == "")
    assert(rows(4L) == "")
  }

  test("distinctNgrams: repetitive text collapses, diverse text stays high") {
    val docs = Seq(
      (1L, "a a a a"),            // 4 unigrams 1 uniq; 3 bigrams 1 uniq
      (2L, "b c d"))              // 3 unigrams 3 uniq; 2 bigrams 2 uniq
      .toDF("doc_id", "text")
    val m = TextAnalysis.distinctNgrams(docs, ns = Seq(1, 2)).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(m(1) == ((7L, 4L, 0.571429)))
    assert(m(2) == ((5L, 3L, 0.6)))
    // a doc shorter than n contributes nothing at that size (the row
    // reports 0 totals and a null ratio rather than disappearing)
    val short = TextAnalysis.distinctNgrams(
      Seq((1L, "solo")).toDF("doc_id", "text"), ns = Seq(3)).collect()
    assert(short.length == 1 && short.head.getLong(1) == 0L &&
      short.head.isNullAt(3))
    intercept[IllegalArgumentException] {
      TextAnalysis.distinctNgrams(docs, ns = Seq(1, 1))
    }
  }

  test("ccnetBuckets: per-language thirds, ties to the better bucket, null lang visible") {
    val scored = Seq((1L, 0.9), (2L, 0.6), (3L, 0.3), (4L, 0.8), (5L, 0.5),
      (6L, 0.2), (7L, 0.7)).toDF("doc_id", "score")
    val langs = Seq((1L, "en"), (2L, "en"), (3L, "en"), (4L, "de"),
      (5L, "de"), (6L, "de"), (7L, null: String)).toDF("doc_id", "lang")
    val m = TextAnalysis.ccnetBuckets(scored, langs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    // en cuts: p(1/3)=0.5, p(2/3)=0.7 over (0.3, 0.6, 0.9)
    assert(m(1L) == "head" && m(2L) == "middle" && m(3L) == "tail")
    assert(m(4L) == "head" && m(5L) == "middle" && m(6L) == "tail")
    // a sole null-lang doc is its own percentile: boundary lands head
    assert(m(7L) == "head")
    // all-tied scores: every doc sits at both cuts -> all head
    val tied = TextAnalysis.ccnetBuckets(
      Seq((1L, 0.5), (2L, 0.5), (3L, 0.5)).toDF("doc_id", "score"),
      Seq((1L, "en"), (2L, "en"), (3L, "en")).toDF("doc_id", "lang"))
      .collect().map(_.getString(3))
    assert(tied.forall(_ == "head"))
    intercept[IllegalArgumentException] {
      TextAnalysis.ccnetBuckets(scored, langs, lo = 0.5, hi = 0.5)
    }
  }

  test("htmlToText: tags stripped, blocks dropped, entities decoded once") {
    val rows = Seq(
      (1L, "<html><body><h1>Title</h1><p>one</p><p>two</p></body></html>"),
      (2L, "<script>if (a < b) { x(); }</script>visible<style>p{color:red}</style>"),
      (3L, "a<!-- secret -->b"),
      (4L, "x &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp; &amp;amp; done"),
      (5L, "  spaced\n\tout  "),
      (6L, "<SCRIPT TYPE=\"module\">hidden</SCRIPT>kept"),
      (7L, ""))
      .toDF("doc_id", "html")
      .select(col("doc_id"), TextAnalysis.htmlToText(col("html")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // adjacent block tags word-separate (</h1><p> becomes a space)
    assert(rows(1L) == "Title one two")
    // script/style contents are code, not text -- dropped wholesale,
    // even with a bare '<' inside the script body
    assert(rows(2L) == "visible")
    assert(rows(3L) == "a b")
    // one level of entity decoding: &amp;amp; -> &amp; stays literal
    assert(rows(4L) == "x <tag> \"q\" 's' &amp; done")
    assert(rows(5L) == "spaced out")
    // (?i) covers shouting markup
    assert(rows(6L) == "kept")
    assert(rows(7L) == "")
  }

  test("htmlToText: null html stays null; composes with normalizeText") {
    val df = Seq((1L, null: String), (2L, "<p>Mixed CASE</p>"))
      .toDF("doc_id", "html")
      .select(col("doc_id"),
        TextAnalysis.htmlToText(col("html")).as("t"))
    val m = df.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(m(1L).isEmpty)
    assert(m(2L).contains("Mixed CASE"))
    val norm = df.select(TextAnalysis.normalizeText(col("t")).as("n"))
      .collect().flatMap(r => Option(r.getString(0)))
    assert(norm.toSeq == Seq("mixed case"))
  }

  test("scriptConsistency flags code-switched docs; und sentences are neutral evidence") {
    val docs = Seq(
      (1L, "Pure english one. Pure english two."),
      (2L, "English opening here. привет мир сегодня. English closing now."),
      (3L, "Words first. 123 456. Words last."),   // und middle sentence
      (4L, "привет мир. 你好世界. مرحبا بالعالم."))  // three-way mix
      .toDF("doc_id", "text")
    val got = TextAnalysis.scriptConsistency(docs)
      .select("doc_id", "doc_script", "n_sent", "n_scripts", "n_match", "mixed")
      .as[(Long, String, Long, Long, Long, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, "latin", 2L, 1L, 2L, false)))
    assert(got(2L) == ((2L, "latin", 3L, 2L, 2L, true)))
    // the und sentence counts to n_sent, matches by neutrality, and
    // never inflates n_scripts
    assert(got(3L) == ((3L, "latin", 3L, 1L, 3L, false)))
    assert(got(4L)._4 == 3L && got(4L)._6)
  }

  test("charEntropy: uniform maxes at ln(k), constants hit zero, gibberish above prose") {
    val docs = Seq(
      (1L, "abcd"),        // uniform over 4 chars: H = ln 4
      (2L, "aaaa"),        // one char: H = 0
      (3L, "the cat sat on the mat and the cat sat"), // prose-ish
      (4L, "qz9@Qx#7Lw!2Vb$5"),                       // key-mash
      (5L, ""), (6L, null: String))
      .toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(docs)
      .select("doc_id", "n_chars", "n_distinct", "entropy")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(got(1L)._1 == 4L && got(1L)._2 == 4L)
    assert(math.abs(got(1L)._3.get - math.log(4)) < 1e-4)
    assert(got(2L)._3.contains(0.0))
    // the key-mash (all-distinct chars) carries more entropy than the
    // repetitive prose
    assert(got(4L)._3.get > got(3L)._3.get)
    // empty/null keep a visible row with null entropy
    assert(got(5L) == ((0L, 0L, None)) && got(6L) == ((0L, 0L, None)))
  }

  test("sentences: terminator runs kept, empties dropped, indexes dense; edge docs yield nothing") {
    val docs = Seq(
      (1L, "One two. Three!! Four five? tail bit"),
      (2L, "!!!"),          // terminators without content: nothing
      (3L, ""),             // empty: nothing
      (4L, null: String),   // null: nothing
      (5L, "Dr. Smith went")) // documented rule-based limitation
      .toDF("doc_id", "text")
    val got = TextAnalysis.sentences(docs)
      .select("doc_id", "sent_idx", "sentence", "n_tokens")
      .as[(Long, Int, String, Int)].collect().toSeq.sorted
    assert(got == Seq(
      (1L, 0, "One two.", 2), (1L, 1, "Three!!", 1),
      (1L, 2, "Four five?", 2), (1L, 3, "tail bit", 2),
      (5L, 0, "Dr.", 1), (5L, 1, "Smith went", 2)))
  }

  test("packingStats: exact-fit shard pads zero; partial final bin and straddlers counted") {
    // one 64-token chunk fills one ctx=64 bin exactly
    val exact = Seq((1L, 0, 64L)).toDF("doc_id", "chunk_idx", "n_tokens")
    val a = TextAnalysis.packingStats(exact, ctxTokens = 64, shards = 1)
      .select("n_chunks", "n_tokens", "n_bins", "pad_tokens", "pad_frac", "n_straddling")
      .as[(Long, Long, Long, Long, Double, Long)].head()
    assert(a == ((1L, 64L, 1L, 0L, 0.0, 0L)))
    // three 30-token chunks: T=90 -> 2 bins, 38 pad; the chunk
    // spanning tokens 60..90 straddles the bin-64 boundary
    val partial = Seq((1L, 0, 30L), (1L, 1, 30L), (1L, 2, 30L))
      .toDF("doc_id", "chunk_idx", "n_tokens")
    val b = TextAnalysis.packingStats(partial, ctxTokens = 64, shards = 1)
      .select("n_chunks", "n_tokens", "n_bins", "pad_tokens", "pad_frac", "n_straddling")
      .as[(Long, Long, Long, Long, Double, Long)].head()
    assert(b == ((3L, 90L, 2L, 38L, 0.2969, 1L)))
    // invariant over the real chunker: per-shard tokens sum to the
    // corpus total and pad is always inside [0, ctx)
    val chunks = TextAnalysis.chunk(
      spark.read.parquet(s"$sf/documents.parquet"))
    val st = TextAnalysis.packingStats(chunks, ctxTokens = 64, shards = 4)
    assert(st.agg(sum("n_tokens")).as[Long].head() ==
      chunks.agg(sum("n_tokens")).as[Long].head())
    assert(st.filter(col("pad_tokens") < 0 || col("pad_tokens") >= 64).count() == 0)
  }

  test("gateAttribution: unique drops separate tunable rules from redundant ones") {
    // Hand-built gate verdicts: doc 1 passes all; doc 2 fails ONLY len
    // (len's unique drop); doc 3 fails len AND stop (unique to
    // neither); doc 4 fails only lang.
    val gate = Seq(
      (1L, true, true, true, true, true),
      (2L, false, true, true, true, false),
      (3L, false, true, false, true, false),
      (4L, true, true, true, false, false))
      .toDF("doc_id", "ok_len", "ok_rep", "ok_stop", "ok_lang", "kept")
    val got = TextAnalysis.gateAttribution(gate)
      .select("rule", "n_fail", "n_unique", "n_docs", "n_kept")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("lang", 1L, 1L, 4L, 1L),
      ("len", 2L, 1L, 4L, 1L),
      ("rep", 0L, 0L, 4L, 1L),
      ("stop", 1L, 0L, 4L, 1L)))
  }

  test("gateAttribution composes with qualityGate and sums stay consistent") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val att = TextAnalysis.gateAttribution(TextAnalysis.qualityGate(docs))
      .collect()
    assert(att.length == 4)
    val nDocs = att.head.getAs[Long]("n_docs")
    assert(att.forall(_.getAs[Long]("n_docs") == nDocs))
    // a rule's unique drops can never exceed its failures, and total
    // kept + union-of-fails >= n_docs arithmetic holds per rule
    att.foreach { r =>
      assert(r.getAs[Long]("n_unique") <= r.getAs[Long]("n_fail"))
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_fail") >= 0L)
    }
  }

  test("scriptProfile counts explicit ranges and picks the dominant script") {
    val docs = Seq(
      (1L, "hello"),                  // pure latin
      (2L, "привет мир"),             // pure cyrillic
      (3L, "hello 你好世界 world"),    // latin 10 > cjk 4
      (4L, "مرحبا"),                  // arabic
      (5L, "12 34 !?"),               // no script chars at all
      (6L, null: String),             // null text
      (7L, "ab яж"))                  // 2-2 tie: latin wins by order
      .toDF("doc_id", "text")
    val got = TextAnalysis.scriptProfile(docs)
      .select("doc_id", "n_chars", "n_latin", "n_cjk", "script")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == (1L, 5L, 5L, 0L, "latin"))
    assert(got(2L)._5 == "cyrillic")
    assert(got(3L) == (3L, 16L, 10L, 4L, "latin"))
    assert(got(4L)._5 == "arabic")
    assert(got(5L)._5 == "und")
    assert(got(6L) == (6L, 0L, 0L, 0L, "und"))
    assert(got(7L)._5 == "latin")
    // fractions: null when the doc is empty, 4dp otherwise
    val fr = TextAnalysis.scriptProfile(docs)
      .select("doc_id", "latin_frac").as[(Long, Option[Double])]
      .collect().toMap
    assert(fr(6L).isEmpty)
    assert(math.abs(fr(3L).get - 10.0 / 16) < 1e-3)
  }

  test("zipfFit: planted power-law corpus recovers slope near -1") {
    // token r appears floor(600/r) times, r = 1..40: ln f ≈ ln 600 − ln r
    val text = (1 to 40).flatMap(r =>
      Seq.fill(600 / r)(f"tok$r%02d")).mkString(" ")
    val row = TextAnalysis.zipfFit(docs((1L, text)), topK = 40)
      .collect().head
    assert(row.getAs[Long]("k") == 40L)
    assert(row.getAs[Long]("n_vocab") == 40L)
    assert(row.getAs[Long]("n_tokens") == (1 to 40).map(600 / _).sum.toLong)
    val slope = row.getAs[Double]("slope")
    assert(slope < -0.9 && slope > -1.1, s"slope $slope")
  }

  test("zipfFit: k caps at the vocabulary; degenerate 1-token corpus has null slope") {
    val r = TextAnalysis.zipfFit(docs((1L, "a a b")), topK = 200).collect().head
    assert(r.getAs[Long]("k") == 2L)
    val r1 = TextAnalysis.zipfFit(docs((1L, "a a a")), topK = 200).collect().head
    // one rank → x is constant → zero OLS denominator → null fit
    assert(r1.getAs[Long]("k") == 1L)
    assert(r1.isNullAt(r1.fieldIndex("slope")))
    assert(r1.isNullAt(r1.fieldIndex("intercept")))
  }

  test("readability: hand-computed Flesch; empty doc keeps a null-score row") {
    val m = TextAnalysis.readability(docs(
        (1L, "The cat sat. The dog ran."), (2L, ""), (3L, "zzz qqq")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // 6 words / 2 sentences / 6 syllables (one vowel group each):
    // 206.835 − 1.015·3 − 84.6·1 = 119.19
    assert(m(1L).getAs[Long]("n_words") == 6L)
    assert(m(1L).getAs[Long]("n_sentences") == 2L)
    assert(m(1L).getAs[Long]("n_syllables") == 6L)
    assert(m(1L).getAs[Double]("flesch") == 119.19)
    assert(m(2L).getAs[Long]("n_words") == 0L)
    assert(m(2L).isNullAt(m(2L).fieldIndex("flesch")))
    // vowel-free words still count the 1-syllable floor
    assert(m(3L).getAs[Long]("n_syllables") == 2L)
  }

  test("scrubPiiExtended: Luhn gates redaction; long digit runs are never candidates") {
    val m = TextAnalysis.scrubPiiExtended(docs(
        (1L, "pay 4111111111111111 or 4111111111111112 from 10.0.0.1 " +
          "code 12345678901234567890123 bad 999.300.1.1"),
        (2L, "embedded 994111111111111111994 and 4111111111111111 end")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r1 = m(1L)
    assert(r1.getAs[Long]("n_card_candidates") == 2L)
    assert(r1.getAs[Long]("n_cards") == 1L) // only the Luhn-valid PAN
    assert(r1.getAs[Long]("n_ips") == 1L)   // 999.300.1.1 fails octets
    val s1 = r1.getAs[String]("scrubbed")
    assert(s1.contains("<CARD>") && !s1.contains("4111111111111111 "))
    assert(s1.contains("4111111111111112")) // invalid checksum: kept
    assert(s1.contains("<IP>") && s1.contains("999.300.1.1"))
    assert(s1.contains("12345678901234567890123")) // 23 digits: no slice
    // the valid PAN embedded in a longer run is NOT redacted there
    // (word-bounded replace), only its standalone occurrence is
    val s2 = m(2L).getAs[String]("scrubbed")
    assert(s2.contains("994111111111111111994"))
    assert(s2.contains("<CARD>"))
  }

  test("labelAgreement: hand confusion matrix, perfect and constant edges") {
    def gate(keep: Set[Long]) = (1L to 10L).map(i => (i, keep(i)))
      .toDF("doc_id", "kept")
    val r = TextAnalysis.labelAgreement(
      gate(Set(1L, 2L, 3L, 4L, 5L, 6L)),
      gate(Set(1L, 2L, 3L, 4L, 7L, 8L))).collect().head
    assert((r.getAs[Long]("n11"), r.getAs[Long]("n10"),
      r.getAs[Long]("n01"), r.getAs[Long]("n00")) == ((4L, 2L, 2L, 2L)))
    assert(r.getAs[Double]("po") == 0.6)
    assert(r.getAs[Double]("pe") == 0.52)
    assert(r.getAs[Double]("kappa") == 0.166667) // (0.6−0.52)/0.48
    val perfect = TextAnalysis.labelAgreement(
      gate(Set(1L, 2L)), gate(Set(1L, 2L))).collect().head
    assert(perfect.getAs[Double]("kappa") == 1.0)
    val const = TextAnalysis.labelAgreement(
      gate((1L to 10L).toSet), gate((1L to 10L).toSet)).collect().head
    assert(const.isNullAt(const.fieldIndex("kappa"))) // pe = 1
  }
}
