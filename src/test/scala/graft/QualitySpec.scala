package graft

import org.apache.spark.sql.functions._
import graft.operators.Quality

/** URL-curation operators: canonicalization, URL-level dedup, and the
  * domain blocklist stage. */
class QualitySpec extends SparkSpec {
  import spark.implicits._

  private def norm(u: String): String =
    Seq(u).toDF("u").select(Quality.normalizeUrl(col("u")).as("n"))
      .as[String].head()

  test("normalizeUrl folds every cosmetic variant class to one canonical form") {
    val canonical = "https://www.ex.com/a/b?a=1&b=2"
    val variants = Seq(
      "HTTPS://WWW.EX.COM/a/b?a=1&b=2",          // scheme+host case
      "https://www.ex.com:443/a/b?a=1&b=2",      // default port
      "https://user:pw@www.ex.com/a/b?a=1&b=2",  // userinfo
      "https://www.ex.com/a//b?a=1&b=2",         // doubled slash
      "https://www.ex.com/a/b/?a=1&b=2",         // trailing slash
      "https://www.ex.com/a/b?b=2&a=1",          // param order
      "https://www.ex.com/a/b?a=1&utm_source=x&b=2&fbclid=z", // trackers
      "https://www.ex.com/a/b?a=1&b=2#frag",     // fragment
      "  https://www.ex.com/a/b?a=1&b=2  ")      // whitespace
    variants.foreach { v =>
      assert(norm(v) == canonical, s"variant <$v>")
    }
    // path CASE is significant — only scheme/host lowercase
    assert(norm("https://ex.com/A/B") == "https://ex.com/A/B")
  }

  test("normalizeUrl keeps genuinely distinct URLs distinct") {
    assert(norm("https://ex.com/a") != norm("https://www.ex.com/a")) // www kept
    assert(norm("http://ex.com/a") != norm("https://ex.com/a"))      // scheme kept
    assert(norm("https://ex.com:8443/a") != norm("https://ex.com/a")) // non-default port
    assert(norm("https://ex.com/a?x=1") != norm("https://ex.com/a?x=2"))
    // http default port is 80, not 443
    assert(norm("http://ex.com:80/a") == "http://ex.com/a")
    assert(norm("http://ex.com:443/a") == "http://ex.com:443/a")
  }

  test("normalizeUrl edge forms: all-tracker query, root slash, non-URL, null") {
    assert(norm("https://ex.com/a?utm_source=x&utm_medium=y") == "https://ex.com/a")
    assert(norm("https://ex.com/") == "https://ex.com")
    assert(norm("not a url") == "not a url") // pass-through, groupable
    val n = Seq((1L, null: String)).toDF("id", "u")
      .select(Quality.normalizeUrl(col("u")).as("n")).as[String].head()
    assert(n == "") // null never reaches the dedup join as a null key
  }

  test("normalizeUrl drops trackers by WHOLE param name, never by prefix") {
    // 'gclid_src' / 'fbclidx' are NOT tracking params — a prefix match
    // would mangle them to '_src=foo' / 'x=1' and falsely merge
    // genuinely distinct URLs (r7 ADVICE finding).
    assert(norm("https://ex.com/a?gclid_src=foo") ==
      "https://ex.com/a?gclid_src=foo")
    assert(norm("https://ex.com/a?fbclidx=1") == "https://ex.com/a?fbclidx=1")
    assert(norm("https://ex.com/a?gclid_src=1") != norm("https://ex.com/a"))
    // the real trackers still go, valueless or not
    assert(norm("https://ex.com/a?gclid=x&b=1") == "https://ex.com/a?b=1")
    assert(norm("https://ex.com/a?fbclid&b=1") == "https://ex.com/a?b=1")
    // separator debris never splits a group
    assert(norm("https://ex.com/a?b=2&&a=1") == "https://ex.com/a?a=1&b=2")
  }

  test("urlDedup keeps the min doc_id per canonical URL and flags the rest") {
    val docs = Seq(
      (1L, "https://EX.com/p/1"),
      (2L, "https://ex.com/p/1/"),          // dup of 1
      (3L, "https://ex.com/p/1?utm_source=x"), // dup of 1
      (4L, "https://ex.com/p/2"),
      (5L, null: String)).toDF("doc_id", "url")
    val out = Quality.urlDedup(docs).orderBy("doc_id")
      .select("doc_id", "kept").as[(Long, Boolean)].collect().toSeq
    assert(out == Seq((1L, true), (2L, false), (3L, false), (4L, true), (5L, true)))
  }

  test("blocklistFilter blocks exact domains and all subdomains, strips authority noise") {
    val docs = Seq(
      (1L, "https://ads.example.com/x"),        // exact hit
      (2L, "https://deep.sub.ads.example.com/x"), // subdomain hit
      (3L, "https://example.com/x"),            // parent of blocked — clean
      (4L, "https://bot@Tracker.NET:8080/x"),   // case/userinfo/port noise
      (5L, "https://clean.org/x")).toDF("doc_id", "url")
    val blk = Seq("ads.example.com", "tracker.net").toDF("domain")
    val out = Quality.blocklistFilter(docs, blk).orderBy("doc_id")
      .select("doc_id", "matched", "kept")
      .as[(Long, Option[String], Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, Some("ads.example.com"), false),
      (2L, Some("ads.example.com"), false),
      (3L, None, true),
      (4L, Some("tracker.net"), false),
      (5L, None, true)))
  }

  test("blocklistFilter catches the trailing-dot FQDN spelling of a blocked domain") {
    // 'example.com.' is a valid absolute-FQDN spelling of 'example.com';
    // without the trailing-dot strip its suffix chain never equals any
    // blocklist entry and the evader sails through (r7 ADVICE finding).
    val docs = Seq(
      (1L, "https://ads.example.com./x"),
      (2L, "https://sub.ads.example.com.:8080/x"),
      (3L, "https://clean.org./x")).toDF("doc_id", "url")
    val blk = Seq("ads.example.com").toDF("domain")
    val out = Quality.blocklistFilter(docs, blk).orderBy("doc_id")
      .select("doc_id", "host", "kept")
      .as[(Long, String, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, "ads.example.com", false),
      (2L, "sub.ads.example.com", false),
      (3L, "clean.org", true)))
  }

  test("blocklistFilter with nested blocked ancestors matches deterministically") {
    val docs = Seq((1L, "https://a.b.c.org/x")).toDF("doc_id", "url")
    val blk = Seq("b.c.org", "c.org").toDF("domain")
    val m = Quality.blocklistFilter(docs, blk)
      .select("matched").as[String].head()
    assert(m == "b.c.org") // min over the matched suffixes
  }

  private def corpus(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("corpusDrift of a snapshot against itself is exactly zero everywhere") {
    val a = corpus((1L, "alpha beta gamma"), (2L, "delta epsilon"),
      (3L, "alpha alpha beta"))
    val terms = Quality.corpusDrift(a, a, buckets = 64)
      .select("js_term").as[Double].collect()
    // dense spine: exactly one row per bucket, all exactly zero
    assert(terms.length == 64 && terms.forall(_ == 0.0))
  }

  test("corpusDrift is symmetric and bounded by ln 2; a planted shift dominates") {
    val a = corpus((1L, "alpha beta gamma delta"), (2L, "beta gamma delta"))
    val b = corpus((1L, "alpha beta gamma delta"),
      (2L, "spam spam spam spam spam spam spam spam"))
    val ab = Quality.corpusDrift(a, b, buckets = 64)
    val ba = Quality.corpusDrift(b, a, buckets = 64)
    val jsAb = ab.agg(sum("js_term")).as[Double].head()
    val jsBa = ba.agg(sum("js_term")).as[Double].head()
    assert(jsAb > 0.0 && jsAb <= math.log(2) + 1e-6)
    assert(math.abs(jsAb - jsBa) < 1e-12) // JS is symmetric
    // the top |contribution| bucket is one where only ONE side has mass
    // (the spam gram or a displaced original gram)
    val top = ab.orderBy(abs(col("js_term")).desc).select("ca", "cb")
      .as[(Long, Long)].head()
    assert(top._1 == 0L || top._2 == 0L)
  }

  test("corpusDrift against an EMPTY side reads loud, not null (failed-batch guard)") {
    // An empty/failed batch must register as maximal drift; a null sum
    // would silently report nothing (r7 ADVICE finding).
    // mass-concentrated corpus so smoothing doesn't drown the signal
    val a = corpus((1L, Seq.fill(400)("spam").mkString(" ")))
    val empty = corpus()
    val js = Quality.corpusDrift(a, empty, buckets = 64)
      .agg(sum("js_term")).as[Double].head()
    assert(!js.isNaN && js > 0.2 && js <= math.log(2) + 1e-6)
    // and the per-bucket rows are all finite
    val rows = Quality.corpusDrift(a, empty, buckets = 64)
      .select("pa", "pb", "js_term").as[(Double, Double, Double)].collect()
    assert(rows.nonEmpty && rows.forall(r =>
      r._1 > 0 && r._2 > 0 && !r._3.isNaN))
  }

  test("corpusDrift buckets cover both snapshots' grams with smoothed probabilities") {
    val a = corpus((1L, "only old tokens"))
    val b = corpus((1L, "entirely new words"))
    val out = Quality.corpusDrift(a, b, buckets = 32)
      .select("ca", "cb", "pa", "pb").as[(Long, Long, Double, Double)].collect()
    // dense spine: buckets with mass on exactly one side appear, and
    // smoothing keeps every probability strictly positive — including
    // the both-side-empty rows
    assert(out.length == 32)
    assert(out.exists(r => r._1 > 0 && r._2 == 0))
    assert(out.exists(r => r._1 == 0 && r._2 > 0))
    assert(out.forall(r => r._3 > 0 && r._4 > 0))
  }

  test("driftFromCounts(By): raw multi-batch cells are summed per key, not double-smoothed") {
    // Two landed per-batch summaries for the same data: the external
    // form must equal one summed summary (r10 advisor finding — a
    // duplicate (group, bucket) cell would otherwise take +1 smoothing
    // twice and split the spine row).
    val b1 = Seq((3L, 5L), (7L, 2L)).toDF("bucket", "n")
    val b2 = Seq((3L, 4L), (9L, 1L)).toDF("bucket", "n")
    val refB = Seq((1L, 10L)).toDF("bucket", "n")
    val merged = Seq((3L, 9L), (7L, 2L), (9L, 1L)).toDF("bucket", "n")
    val multi = Quality.driftFromCounts(b1.unionByName(b2), refB, 16)
      .collect().map(_.toSeq).toSet
    val once = Quality.driftFromCounts(merged, refB, 16)
      .collect().map(_.toSeq).toSet
    assert(multi == once && multi.size == 16)
    val g1 = Seq(("en", 3L, 5L), ("en", 3L, 4L), ("de", 2L, 7L))
      .toDF("group", "bucket", "n")
    val gm = Seq(("en", 3L, 9L), ("de", 2L, 7L)).toDF("group", "bucket", "n")
    val gRef = Seq(("en", 1L, 1L), ("de", 1L, 1L)).toDF("group", "bucket", "n")
    assert(Quality.driftFromCountsBy(g1, gRef, 8).collect().map(_.toSeq).toSet
      == Quality.driftFromCountsBy(gm, gRef, 8).collect().map(_.toSeq).toSet)
    // and an out-of-range cell fails loud, not silently dropped
    val bad = Seq((16L, 1L)).toDF("bucket", "n")
    assertThrows[IllegalArgumentException] {
      Quality.driftFromCounts(bad, refB, 16)
    }
  }

  test("psiFromHistograms(By): raw multi-batch cells are summed per key") {
    val b1 = Seq((0, 5L), (2, 2L)).toDF("bin", "c")
    val b2 = Seq((0, 3L), (3, 1L)).toDF("bin", "c")
    val merged = Seq((0, 8L), (2, 2L), (3, 1L)).toDF("bin", "c")
    val refH = Seq((1, 10L)).toDF("bin", "c")
    assert(Quality.psiFromHistograms(b1.unionByName(b2), refH, 8)
      .collect().map(_.toSeq).toSet ==
      Quality.psiFromHistograms(merged, refH, 8).collect().map(_.toSeq).toSet)
    val g1 = Seq(("a", 0, 5L), ("a", 0, 3L), ("b", 1, 2L))
      .toDF("group", "bin", "c")
    val gm = Seq(("a", 0, 8L), ("b", 1, 2L)).toDF("group", "bin", "c")
    val gRef = Seq(("a", 1, 1L), ("b", 1, 1L)).toDF("group", "bin", "c")
    assert(Quality.psiFromHistogramsBy(g1, gRef, 4)
      .collect().map(_.toSeq).toSet ==
      Quality.psiFromHistogramsBy(gm, gRef, 4).collect().map(_.toSeq).toSet)
  }

  test("corpusDrift survives 1-token and empty documents (descending-sequence regression)") {
    // Spark's sequence(1, 0) is [1, 0], NOT empty — the old
    // greatest(size-1, 0) clamp in the bigram leg crashed every
    // 1-token doc with an out-of-bounds element_at (r11, caught by
    // STDRIFTB's fixture). A 1-token doc contributes its unigram and
    // no bigram, matching DuckDB's empty range(1, 1).
    val a = corpus((1L, "solo"), (2L, ""), (3L, "two tokens"))
    val out = Quality.corpusDrift(a, a, buckets = 16)
      .select("ca").as[Long].collect()
    assert(out.length == 16)
    // unigrams: solo, "", two, tokens (4) + bigram: "two tokens" (1)
    assert(out.sum == 5, out.toSeq.toString)
  }

  test("resolveEntities closes match chains transitively and picks one canonical row") {
    // aaaa ~1~ aaab ~1~ aabb, but aaaa vs aabb is 2 edits: only the
    // transitive closure puts all three in one entity
    val people = Seq(
      (10L, "aaaa"), (11L, "aaab"), (12L, "aabb"),
      (20L, "zzzz")).toDF("pid", "name")
    val out = Quality.resolveEntities(people, col("pid"), lit("one"),
        col("name"), maxDist = 1)
      .select("pid", "entity", "canonical")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out == Set(
      (10L, 10L, true), (11L, 10L, false), (12L, 10L, false),
      (20L, 20L, true)))
  }

  test("incremental ER law: stepped batches == full recompute on the union, incl. a merge event") {
    // Names are "p" + 'x'*id, so lev(name_i, name_j) = |i - j| and
    // only CONSECUTIVE ids are 1 edit apart. Batch 1 plants TWO
    // entities {1,2} and {5,6} (gap 2<->5 is 3 edits). Batch 2's rows
    // 3 and 4 bridge the gap: the merge event that must fuse the two
    // existing entities. Batch 3's row 0 undercuts the min id — every
    // label must chase down to 0 — and 20 stays a singleton.
    def rows(ids: Seq[Long]) = ids.map(i => (i, "blk1", "p" + "x" * i.toInt))
    val b1 = rows(Seq(1L, 2L, 5L, 6L)).toDF("pid", "blk", "nm")
    val b2 = rows(Seq(3L, 4L)).toDF("pid", "blk", "nm")
    val b3 = Seq((0L, "blk1", "p"), (20L, "blk1", "zzzz")).toDF("pid", "blk", "nm")
    def step(batch: org.apache.spark.sql.DataFrame,
        idx: org.apache.spark.sql.DataFrame) =
      Quality.resolveEntitiesStep(batch, idx, col("pid"), col("blk"), col("nm"))
    val idx = step(b3, step(b2, step(b1, Quality.emptyEntityIndex(spark))))
    val inc = Quality.entityTable(idx)
      .as[(Long, Long, Boolean)].collect().toSet
    val full = Quality.resolveEntities(
        b1.unionByName(b2).unionByName(b3), col("pid"), col("blk"), col("nm"))
      .select("pid", "entity", "canonical")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(inc == full, s"inc $inc vs full $full")
    // and the merge actually happened: one entity 0..6, singleton 20
    assert(inc == (0L to 6L).map(i => (i, 0L, i == 0L)).toSet + ((20L, 20L, true)))
  }

  test("incremental ER disk index: append-only committed steps, snapshot == full recompute") {
    val path = tmp("er-index")
    def rows(ids: Seq[Long]) = ids.map(i => (i, "blk1", "p" + "x" * i.toInt))
    val b1 = rows(Seq(1L, 2L, 5L, 6L)).toDF("pid", "blk", "nm")
    val b2 = rows(Seq(3L, 4L)).toDF("pid", "blk", "nm")
    val b3 = Seq((0L, "blk1", "p")).toDF("pid", "blk", "nm")
    def rowFiles = {
      import scala.jdk.CollectionConverters._
      val base = java.nio.file.Paths.get(path, "rows")
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => base.relativize(p).toString).toSet
    }
    Quality.writeEntityIndex(b1, col("pid"), col("blk"), col("nm"), path)
    // first-batch row files, to prove they are never rewritten
    val before = rowFiles
    Quality.resolveEntitiesIncremental(b2, col("pid"), col("blk"), col("nm"), path)
    val snap = Quality.resolveEntitiesIncremental(b3, col("pid"), col("blk"),
        col("nm"), path)
      .as[(Long, Long, Boolean)].collect().toSet
    val full = Quality.resolveEntities(
        b1.unionByName(b2).unionByName(b3), col("pid"), col("blk"), col("nm"))
      .select("pid", "entity", "canonical")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(snap == full, s"snap $snap vs full $full")
    // remap CHAINS resolve: batch2 merged 5 -> 1, batch3 merged 1 -> 0,
    // so a comp stored as 5 must chase 5 -> 1 -> 0 through the log
    assert(snap.contains((5L, 0L, false)))
    val after = rowFiles
    assert(before.subsetOf(after), "old row files must never be rewritten")
    assert(after.size > before.size, "new batches append row files")
  }

  test("ER blkb bucketing: steps land under blkb= dirs; legacy unmarked index stays flat") {
    // bucketed: every rows step dir is blkb=-partitioned, pinned by
    // the meta marker, so an incremental step's prior read prunes to
    // the batch's touched buckets at the file level
    val path = tmp("er-blkb")
    val b1 = (1L to 40L).map(i => (i, s"blk${i % 7}", "p" + "x" * (i % 5).toInt))
      .toDF("pid", "blk", "nm")
    val b2 = Seq((100L, "blk1", "p"), (101L, "blk2", "px"))
      .toDF("pid", "blk", "nm")
    Quality.writeEntityIndex(b1, col("pid"), col("blk"), col("nm"), path,
      blkBuckets = 8)
    def sub(dir: String) = new java.io.File(dir).listFiles() match {
      case null => Set.empty[String]
      case a => a.map(_.getName)
        .filterNot(n => n.startsWith(".") || n.startsWith("_")).toSet
    }
    assert(sub(s"$path/meta") == Set("blkb=8"))
    assert(sub(s"$path/rows/step=0").forall(_.startsWith("blkb=")))
    assert(sub(s"$path/rows/step=0").size > 1, "multiple buckets expected")
    val snap = Quality.resolveEntitiesIncremental(b2, col("pid"),
        col("blk"), col("nm"), path)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(sub(s"$path/rows/step=1").forall(_.startsWith("blkb=")))
    val full = Quality.resolveEntities(b1.unionByName(b2), col("pid"),
        col("blk"), col("nm")).select("pid", "entity", "canonical")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(snap == full)
    // legacy: a pre-r11 committed-step index (flat rows, no meta
    // marker) keeps reading AND appending FLAT — layouts never mix
    val leg = tmp("er-legacy")
    Quality.normalizeErBatch(b1, col("pid"), col("blk"), col("nm"))
      .withColumn("comp", col("id"))
      .write.mode("overwrite").parquet(s"$leg/rows/step=0")
    spark.range(0).select(col("id").as("src"), col("id").as("dst"))
      .write.mode("overwrite").parquet(s"$leg/remap/step=0")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$leg/commits"))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$leg/commits/0.base"))
    Quality.resolveEntitiesIncremental(b2, col("pid"), col("blk"),
      col("nm"), leg)
    assert(sub(s"$leg/rows/step=1").forall(!_.startsWith("blkb=")),
      "legacy index must keep the flat layout")
    assert(Quality.entityIndexSnapshot(spark, leg).count() == 42)
  }

  test("ER index compaction: snapshot unchanged, remap folded away, superseded steps dropped") {
    val path = tmp("er-compact")
    def rows(ids: Seq[Long]) = ids.map(i => (i, "blk1", "p" + "x" * i.toInt))
    val b1 = rows(Seq(1L, 2L, 5L, 6L)).toDF("pid", "blk", "nm")
    val b2 = rows(Seq(3L, 4L)).toDF("pid", "blk", "nm")
    val b3 = Seq((0L, "blk1", "p")).toDF("pid", "blk", "nm")
    Quality.writeEntityIndex(b1, col("pid"), col("blk"), col("nm"), path)
    Quality.resolveEntitiesIncremental(b2, col("pid"), col("blk"), col("nm"), path)
    Quality.resolveEntitiesIncremental(b3, col("pid"), col("blk"), col("nm"), path)
    def snap = Quality.entityIndexSnapshot(spark, path)
      .as[(Long, Long, Boolean)].collect().toSet
    def stepDirs = new java.io.File(s"$path/rows").listFiles()
      .map(_.getName).filter(_.startsWith("step=")).toSet
    val pre = snap
    assert(stepDirs.size == 3)
    Quality.compactEntityIndex(spark, path)
    // the law: compaction changes NOTHING observable
    assert(snap == pre, s"compacted ${snap} vs ${pre}")
    // one base step remains; the chased remap labels are now STORED
    assert(stepDirs == Set("step=3"), stepDirs.toString)
    assert(spark.read.parquet(s"$path/remap/step=3").count() == 0)
    // (ignore Hadoop's .crc sidecars — reads filter dotfiles too)
    assert(new java.io.File(s"$path/commits").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSet == Set("3.base"))
    // and the index keeps working: a post-compaction increment still
    // resolves against the folded labels
    val b4 = Seq((7L, "blk1", "p" + "x" * 7)).toDF("pid", "blk", "nm")
    val snap2 = Quality.resolveEntitiesIncremental(b4, col("pid"),
        col("blk"), col("nm"), path)
      .as[(Long, Long, Boolean)].collect().toSet
    val full = Quality.resolveEntities(
        b1.unionByName(b2).unionByName(b3).unionByName(b4),
        col("pid"), col("blk"), col("nm"))
      .select("pid", "entity", "canonical")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(snap2 == full)
  }

  test("ER index atomicity: an uncommitted step is invisible; the retry overwrites, never duplicates") {
    val path = tmp("er-atomic")
    def rows(ids: Seq[Long]) = ids.map(i => (i, "blk1", "p" + "x" * i.toInt))
    val b1 = rows(Seq(1L, 2L)).toDF("pid", "blk", "nm")
    val b2 = rows(Seq(3L, 4L)).toDF("pid", "blk", "nm")
    Quality.writeEntityIndex(b1, col("pid"), col("blk"), col("nm"), path)
    // simulate a step that crashed between its writes and its commit:
    // orphan rows (even a divergent id) land — bucketed, as the real
    // writer lands them — but no marker appears
    Seq((999L, "blk1", "junk", 999L, 0)).toDF("id", "blk", "m", "comp", "blkb")
      .write.partitionBy("blkb").mode("overwrite")
      .parquet(s"$path/rows/step=1")
    val orphanSnap = Quality.entityIndexSnapshot(spark, path)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(!orphanSnap.exists(_._1 == 999L),
      "uncommitted step must be invisible")
    assert(orphanSnap.map(_._1) == Set(1L, 2L))
    // the retry recomputes step 1, overwriting the orphan in place
    val snap = Quality.resolveEntitiesIncremental(b2, col("pid"),
        col("blk"), col("nm"), path)
      .as[(Long, Long, Boolean)].collect().toSet
    val full = Quality.resolveEntities(b1.unionByName(b2),
        col("pid"), col("blk"), col("nm"))
      .select("pid", "entity", "canonical")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(snap == full)
    assert(!snap.exists(_._1 == 999L), "the orphan content must be gone")
  }

  test("robustOutliers flags a planted spike the mean-based z-score would bury") {
    // group a: 99 values near 10 plus TWO huge spikes. A mean/stddev
    // z-score is dragged by the spikes themselves (stddev ~ 2000);
    // the median/MAD verdict is immune (50% breakdown point).
    val base = (1 to 99).map(i => ("a", i.toLong, 10.0 + (i % 5)))
    val spikes = Seq(("a", 900L, 20000.0), ("a", 901L, -15000.0))
    val calm = (1 to 50).map(i => ("b", 1000L + i, 5.0 + (i % 3)))
    val df = (base ++ spikes ++ calm).toDF("g", "id", "v")
    val out = Quality.robustOutliers(df, "g", "v", cutoff = 3.5)
    val flagged = out.filter(col("outlier")).select("id").as[Long].collect().toSet
    assert(flagged == Set(900L, 901L), s"flagged $flagged")
    // sign preserved: the low spike has negative z
    val zs = out.filter(col("outlier"))
      .select("id", "robust_z").as[(Long, Double)].collect().toMap
    assert(zs(900L) > 0 && zs(901L) < 0)
  }

  test("psi: self-drift is exactly 0; a planted shift reads above the 0.25 action line") {
    val base = (1 to 2000).map(i => Tuple1(100.0 + (i % 400))).toDF("v")
    val self = Quality.psi(base, base, "v", lo = 0.0, hi = 1000.0)
      .agg(sum("psi_term")).head.getDouble(0)
    assert(self == 0.0, s"self-PSI $self")
    // shifted snapshot: same shape moved up 300 — a real distribution
    // change, not noise
    val shifted = base.select((col("v") + 300).as("v"))
    val drift = Quality.psi(base, shifted, "v", lo = 0.0, hi = 1000.0)
      .agg(sum("psi_term")).head.getDouble(0)
    assert(drift > 0.25, s"shift PSI $drift")
    // symmetric under swap: (pa-pb)ln(pa/pb) is swap-invariant
    val rev = Quality.psi(shifted, base, "v", lo = 0.0, hi = 1000.0)
      .agg(sum("psi_term")).head.getDouble(0)
    assert(math.abs(drift - rev) < 1e-12)
  }

  test("psi: empty side reads loud (vs concentrated), never null; out-of-range clamps") {
    // Under add-one smoothing an EMPTY side is the uniform
    // distribution, so against a CONCENTRATED snapshot it reads loud
    // and positive (a uniform-vs-uniform compare reads ~0 by the same
    // math — that is correct, not a blind spot: the failure mode being
    // guarded is null/NaN totals, not a particular magnitude).
    val base = (1 to 500).map(i => Tuple1(250.0 + (i % 3))).toDF("v")
    val empty = base.filter(col("v") < 0)
    val loud = Quality.psi(base, empty, "v", lo = 0.0, hi = 500.0)
      .agg(sum("psi_term")).head.getDouble(0)
    assert(loud > 0.25, s"empty-side PSI $loud must not read as no-drift")
    assert(!loud.isNaN && !loud.isInfinite)
    // values beyond the frozen bounds land in the edge bins (visible),
    // never dropped: totals still cover every row
    val wild = Seq(Tuple1(-50.0), Tuple1(9999.0)).toDF("v")
    val h = Quality.psi(base.unionByName(wild), base, "v", lo = 0.0, hi = 500.0)
    val cas = h.agg(sum("ca")).head.getLong(0)
    assert(cas == 502L, s"clamped rows must stay counted, got $cas")
  }

  test("winsorize: tails clip to the quantile band, interior passes through, null stays null") {
    val rows = (1 to 1000).map(i => (i.toLong, Some(i.toDouble))) ++
      Seq((2001L, Some(1e9)), (2002L, Some(-1e9)), (2003L, Option.empty[Double]))
    val df = rows.toDF("id", "v")
    val out = Quality.winsorize(df, "v", loQ = 0.05, hiQ = 0.95, bins = 4096)
      .select("id", "v", "qlo", "qhi", "v_w")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Double]),
          r.getDouble(2), r.getDouble(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    val (qlo, qhi) = (out(500L)._2, out(500L)._3)
    // the spikes clip to the band edges
    assert(out(2001L)._4.contains(qhi))
    assert(out(2002L)._4.contains(qlo))
    // interior values pass through BIT-identical
    assert(out(500L)._4.contains(500.0))
    // null stays null — not clipped to qhi (the LEAST null-skip trap)
    assert(out(2003L)._4.isEmpty)
    // Two-pass refinement: the ±1e9 spikes make the PASS-1 bin width
    // ~488k (range/4096), so a single-pass bound would sit ~244k off;
    // pass 2 re-histograms inside the pass-1 bracket (width one coarse
    // bin here), leaving error ≤ ~120. The bounds must sit near the
    // true p05/p95 of uniform(1..1000), not near the spike scale.
    assert(qlo > -200 && qlo < 200, s"qlo $qlo")
    assert(qhi > 800 && qhi < 1100, s"qhi $qhi")
  }

  test("robustStatsApprox: med/mad within the returned bin-error bounds of exact") {
    // Continuous (unroundable) values with a planted spike per group —
    // the metric shape whose exact-percentile state is corpus-sized.
    val rows = (1 to 2000).map { i =>
      ("a", i.toLong, 100.0 + math.sin(i * 0.7) * 30 + i % 13 * 0.001)
    } ++ (1 to 500).map { i =>
      ("b", 10000L + i, 5.0 + (i % 17) * 0.37)
    } ++ Seq(("a", 90001L, 50000.0), ("b", 90002L, -4000.0))
    val df = rows.toDF("g", "id", "v")
    val exact = Quality.robustStats(df, "g", "v").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = Quality.robustStatsApprox(df, "g", "v", bins = 4096).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(exact.keySet == approx.keySet)
    exact.keys.foreach { g =>
      val (me, se) = exact(g)
      val (ma, sa, eMed, eMad) = approx(g)
      // + 1e-4: both sides 4dp-round, which can add half an ulp each
      assert(math.abs(ma - me) <= eMed + 1e-4, s"group $g med $ma vs $me (bound $eMed)")
      assert(math.abs(sa - se) <= eMad + 1e-4, s"group $g mad $sa vs $se (bound $eMad)")
    }
  }

  test("robustStatsApprox: even-count groups — interpolated exact median stays inside med_err") {
    // The r9 advisor's straddled-gap case: even n with the two middle
    // order statistics in different bins — exact percentile(0.5)
    // interpolates to 50 while the rank element's bin sits at ~0, so
    // a one-bin error bound is violated by design; the bracket bound
    // (span of both middle-rank bins) must hold instead.
    val gap = Seq(("gap", 1L, 0.0), ("gap", 2L, 0.0),
      ("gap", 3L, 100.0), ("gap", 4L, 100.0))
    // an even-count continuous group for the generic contract
    val even = (1 to 1000).map(i =>
      ("ev", 100L + i, 10.0 + math.sin(i * 0.9) * 3))
    val df = (gap ++ even).toDF("g", "id", "v")
    val exact = Quality.robustStats(df, "g", "v").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = Quality.robustStatsApprox(df, "g", "v", bins = 4096).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    exact.keys.foreach { g =>
      val (me, se) = exact(g)
      val (ma, sa, eMed, eMad) = approx(g)
      assert(math.abs(ma - me) <= eMed + 1e-4, s"group $g med $ma vs $me (bound $eMed)")
      assert(math.abs(sa - se) <= eMad + 1e-4, s"group $g mad $sa vs $se (bound $eMad)")
    }
    // and the gap group really does straddle: exact 50, estimate ~0,
    // so only the widened (bracket-span) bound can cover it
    assert(math.abs(exact("gap")._1 - 50.0) < 1e-9)
    assert(approx("gap")._1 < 1.0 && approx("gap")._3 >= 50.0)
  }

  test("psiBy: per-group rows equal the single-group psi; dense spine; one-sided segment reads loud") {
    val old = (Seq(("en", 10.0), ("en", 20.0), ("en", 500.0),
      ("de", 100.0), ("de", 200.0)) ++
      (1 to 8).map(i => ("only_old", 50.0 + i))).toDF("g", "v")
    val curr = Seq(("en", 800.0), ("en", 900.0),
      ("de", 100.0), ("de", 210.0)).toDF("g", "v")
    val bins = 16
    val by = Quality.psiBy(old, curr, "g", "v", 0.0, 1000.0, bins)
    // dense: exactly groups × bins cells, no gaps
    assert(by.count() == 3L * bins)
    // per group == the ungrouped psi of that slice, bit for bit
    // (including the group present on one side only: its curr
    // histogram is empty, probabilities smooth against nb = 0)
    Seq("en", "de", "only_old").foreach { g =>
      val slice = Quality.psi(old.filter(col("g") === g),
          curr.filter(col("g") === g), "v", 0.0, 1000.0, bins)
        .select("bin", "ca", "cb", "pa", "pb", "psi_term")
        .collect().map(_.toSeq).toSet
      val grouped = by.filter(col("group") === g)
        .select("bin", "ca", "cb", "pa", "pb", "psi_term")
        .collect().map(_.toSeq).toSet
      assert(grouped == slice, s"group $g")
    }
    // the drifted segment trips the watch line (add-one smoothing over
    // 16 bins dampens 3-row groups hard), the stable one stays quiet,
    // the vanished one reads loud — none null
    def tot(g: String) = by.filter(col("group") === g)
      .agg(sum("psi_term")).head.getDouble(0)
    assert(tot("en") > 0.1, s"en ${tot("en")}")
    assert(tot("de") < 0.1, s"de ${tot("de")}")
    assert(tot("only_old") > 0.1, s"only_old ${tot("only_old")}")
  }

  test("corpusDriftBy: per-group rows equal the single-group corpusDrift; vanished segment reads loud") {
    val old = Seq((1L, "en", "alpha beta gamma"), (2L, "en", "beta gamma delta"),
      (3L, "de", "eins zwei drei"), (4L, "xx", "gone gone gone gone"))
      .toDF("doc_id", "lang", "text")
    val curr = Seq((10L, "en", "spam spam spam"),
      (11L, "de", "eins zwei drei")).toDF("doc_id", "lang", "text")
    val by = Quality.corpusDriftBy(old, curr, "lang", buckets = 64)
    // per group == the ungrouped corpusDrift of that slice, bit for
    // bit — including xx, present in old only (nb = 0, smoothed loud)
    Seq("en", "de", "xx").foreach { g =>
      val slice = Quality.corpusDrift(old.filter(col("lang") === g),
          curr.filter(col("lang") === g), buckets = 64)
        .select("bucket", "ca", "cb", "pa", "pb", "js_term")
        .collect().map(_.toSeq).toSet
      val grouped = by.filter(col("group") === g)
        .select("bucket", "ca", "cb", "pa", "pb", "js_term")
        .collect().map(_.toSeq).toSet
      assert(grouped == slice, s"group $g")
    }
    // the stable segment is quiet; the replaced and vanished ones are
    // not — per-segment verdicts a corpus-global JS would average away
    def tot(g: String) = by.filter(col("group") === g)
      .agg(sum("js_term")).head.getDouble(0)
    assert(tot("de") < 0.05, s"de ${tot("de")}")
    assert(tot("en") > tot("de") && tot("xx") > tot("de"),
      s"en ${tot("en")} xx ${tot("xx")} de ${tot("de")}")
  }

  test("winsorizeBy: each group clips to its OWN band == single-group winsorize; null discipline") {
    val rows = (1 to 500).map(i => (Some("a"), i.toLong, Some(i.toDouble))) ++
      (1 to 500).map(i => (Some("b"), 1000L + i, Some(1000.0 * i))) ++
      Seq((Some("a"), 9001L, Some(1e9)), (Some("b"), 9002L, Some(-1e9)),
        (Option.empty[String], 9003L, Some(5.0)),
        (Some("a"), 9004L, Option.empty[Double]))
    val df = rows.toDF("g", "id", "v")
    val out = Quality.winsorizeBy(df, "g", "v", loQ = 0.05, hiQ = 0.95,
      bins = 1024)
    // per group == the ungrouped winsorize of that slice, bit for bit
    // — group b's band is 1000× group a's, so a shared band would
    // visibly clip one of them wrong
    Seq("a", "b").foreach { g =>
      val slice = Quality.winsorize(df.filter(col("g") === g), "v",
          loQ = 0.05, hiQ = 0.95, bins = 1024)
        .select("id", "qlo", "qhi", "v_w").collect().map(_.toSeq).toSet
      val grouped = out.filter(col("g") === g)
        .select("id", "qlo", "qhi", "v_w").collect().map(_.toSeq).toSet
      assert(grouped == slice, s"group $g")
    }
    // a NULL group is its own group: its single value is its own band
    val nullG = out.filter(col("g").isNull).select("qlo", "qhi", "v_w").head
    assert(nullG.getDouble(0) == 5.0 && nullG.getDouble(1) == 5.0 &&
      nullG.getDouble(2) == 5.0)
    // null value stays null (the LEAST/GREATEST null-skip guard)
    assert(out.filter(col("id") === 9004L).select("v_w").head.isNullAt(0))
  }

  test("robustOutliersApprox: verdicts agree with exact outside the error band") {
    val rows = (1 to 1500).map { i =>
      ("a", i.toLong, 10.0 + math.cos(i * 1.3) * 2)
    } ++ Seq(("a", 900L, 20000.0), ("a", 901L, -15000.0))
    val df = rows.toDF("g", "id", "v")
    val cutoff = 3.5
    val ex = Quality.robustOutliers(df, "g", "v", cutoff)
      .select("id", "robust_z", "outlier")
      .as[(Long, Option[Double], Boolean)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val stats = Quality.robustStatsApprox(df, "g", "v", bins = 4096).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val (medA, madA, eMed, eMad) = stats("a")
    val ap = Quality.robustOutliersApprox(df, "g", "v", cutoff, bins = 4096)
      .select("id", "robust_z", "outlier")
      .as[(Long, Option[Double], Boolean)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    // Propagated z-error band: |Δz| ≤ 0.6745·(e_med/mad_a + |x−med_e|·e_mad/(mad_a·mad_e))
    val (medE, madE) = {
      val r = Quality.robustStats(df, "g", "v").head()
      (r.getDouble(1), r.getDouble(2))
    }
    val vById = rows.map(t => t._2 -> t._3).toMap
    ex.keys.foreach { id =>
      val (zE, oE) = ex(id)
      val (zA, oA) = ap(id)
      val zBand = 0.6745 * (eMed / madA +
        math.abs(vById(id) - medE) * eMad / (madA * madE)) + 1e-3
      // z within the propagated band…
      assert(math.abs(zA.get - zE.get) <= zBand,
        s"id $id zA=${zA.get} zE=${zE.get} band=$zBand")
      // …and verdicts agree wherever exact |z| clears the cutoff by the band
      if (math.abs(math.abs(zE.get) - cutoff) > zBand)
        assert(oA == oE, s"id $id verdict approx=$oA exact=$oE (z ${zE.get})")
    }
    // the planted spikes are caught by BOTH forms
    assert(ap(900L)._2 && ap(901L)._2)
  }

  test("robustOutliers: MAD=0 and null values yield no verdict, not a blow-up") {
    val df = (Seq.fill(20)(("c", 7.0)) ++ Seq(("c", 99.0)))
      .zipWithIndex.map { case ((g, v), i) => (g, i.toLong, v) }
      .toDF("g", "id", "v")
      .union(Seq(("c", 777L, Option.empty[Double])).toDF("g", "id", "v"))
    val out = Quality.robustOutliers(df, "g", "v")
    // >50% of the group sits at one value -> MAD = 0 -> null z everywhere
    assert(out.filter(col("outlier")).count() == 0)
    assert(out.filter(col("robust_z").isNotNull).count() == 0)
    // med/mad still reported
    assert(out.select("med").distinct().as[Double].collect().toSet == Set(7.0))
  }
}
