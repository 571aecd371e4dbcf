package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.operators.{Ann, Dedup, Mix, Multimodal, Quality, Retrieval, Windows}
import graft.functions.TextAnalysis
import graft.gen.DataGen

/** Training-data-pipeline operators (dedup, similarity search, text
  * analysis, multimodal metadata) declared as oracle-checked queries,
  * plus relational extras (pivot/cube/union/lag/as-of/sliding windows)
  * completing SURVEY §2 coverage.
  *
  * Oracle parity notes:
  *  - All content hashes are md5 (identical hex in both engines).
  *  - Cosines in DuckDB use a list_reduce left fold that reproduces
  *    Spark's `aggregate` fold order, so the doubles are bit-identical.
  *  - Rounds of double expressions use `rrepr`, which emulates Spark's
  *    ROUND (HALF_UP on the shortest-decimal representation).
  */
object PipelineInventory {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** DuckDB emulation of Spark's ROUND on doubles: Spark rounds the
    * shortest-decimal repr HALF_UP; DuckDB rounds the binary value. Cast
    * through VARCHAR (shortest repr) -> DECIMAL -> round -> DOUBLE. */
  private def rrepr(x: String, n: Int): String =
    s"CAST(ROUND(CAST(CAST(($x) AS VARCHAR) AS DECIMAL(38,18)), $n) AS DOUBLE)"

  /** DuckDB squared norm (self-dot) — the zero-norm guard's test:
    * `dnorm2(a) * dnorm2(b) > 0` iff both cosine denominators are
    * nonzero, mirroring Spark-side `n1 * n2 > 0` guards exactly. */
  private def dnorm2(a: String): String =
    s"list_reduce([$a[i]*$a[i] FOR i IN range(1, len($a)+1)], (p,q) -> p+q)"

  /** DuckDB cosine with Spark's exact fold order (left fold from 0.0). */
  private def dcos(a: String, b: String): String = {
    def fold(x: String, y: String) =
      s"list_reduce([$x[i]*$y[i] FOR i IN range(1, len($x)+1)], (p,q) -> p+q)"
    s"(${fold(a, b)} / (sqrt(${fold(a, a)}) * sqrt(${fold(b, b)})))"
  }

  /** DuckDB plain dot product with Spark's fold order (list_reduce's
    * first-element start equals Spark's 0.0 init bit-for-bit: 0.0 + x
    * is x in IEEE754). */
  private def ddot(a: String, b: String): String =
    s"list_reduce([$a[i]*$b[i] FOR i IN range(1, len($a)+1)], (p,q) -> p+q)"

  /** The deterministic synthetic link graph r61/r63 run on: two
    * modular-arithmetic edge maps over documents, self-loops removed,
    * src % 11 == 0 dropped to plant dangling nodes. */
  private def linkGraphEdges(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents")
    val n = docs.count()
    val e1 = docs.select(col("doc_id").as("src"),
      ((col("doc_id") * 7 + 1) % n).as("dst"))
    val e2 = docs.select(col("doc_id").as("src"),
      ((col("doc_id") * 13 + 5) % n).as("dst"))
    e1.unionByName(e2)
      .filter(col("src") =!= col("dst"))
      .filter(col("src") % 11 =!= 0)
      .distinct()
  }

  private def linkGraphPagerank(s: SparkSession, d: String,
      exact: Boolean): DataFrame =
    graft.operators.Graph.pagerank(linkGraphEdges(s, d),
      iters = 3, damping = 0.5, exact = exact)

  private def linkGraphHits(s: SparkSession, d: String,
      exact: Boolean): DataFrame =
    graft.operators.Graph.hits(linkGraphEdges(s, d), iters = 2,
      exact = exact)

  /** The link graph + node set in DuckDB — shared CTE prefix of the
    * r61/r61a and r63/r63a oracles. */
  private val linkGraphCtes =
    """nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      |ed AS (SELECT DISTINCT src, dst FROM (
      |    SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
      |    UNION ALL
      |    SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn) z
      |  WHERE src <> dst AND src % 11 <> 0),
      |nodes AS (SELECT DISTINCT v FROM (
      |    SELECT src AS v FROM ed UNION ALL SELECT dst FROM ed) t),
      |cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)""".stripMargin

  /** r61's unrolled power-iteration oracle, parameterized by the final
    * SELECT (exact mode reads pr3 raw; the assoc row re-rounds 6dp). */
  private def pagerankOracle(fin: String): String = {
    def fold(c: String) =
      rrepr(s"list_reduce(list_sort(list($c)), (x, y) -> x + y)", 9)
    val iterCtes = (1 to 3).map { i =>
      val prev = if (i == 1) "pr0" else s"pr${i - 1}"
      s"""dgl$i AS (SELECT ${fold("pr")} AS dm
         |  FROM $prev p WHERE NOT EXISTS (SELECT 1 FROM deg g WHERE g.src = p.v)),
         |c$i AS (SELECT e.dst AS v, ${rrepr("p.pr / g.deg", 9)} AS c
         |  FROM ed e JOIN $prev p ON p.v = e.src JOIN deg g ON g.src = e.src),
         |s$i AS (SELECT v, ${fold("c")} AS s FROM c$i GROUP BY v),
         |pr$i AS (SELECT nd.v,
         |  ${rrepr("(1 - 0.5) / cnt.n + 0.5 * (COALESCE(s.s, 0.0) + COALESCE(d.dm, 0.0) / cnt.n)", 9)} AS pr
         |  FROM nodes nd CROSS JOIN cnt LEFT JOIN s$i s ON s.v = nd.v CROSS JOIN dgl$i d)""".stripMargin
    }.mkString(",\n")
    s"""WITH $linkGraphCtes,
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM ed GROUP BY src),
       |pr0 AS (SELECT v, 1.0 / cnt.n AS pr FROM nodes, cnt),
       |$iterCtes
       |$fin""".stripMargin
  }

  /** r63's unrolled HITS oracle, parameterized like [[pagerankOracle]]. */
  private def hitsOracle(fin: String): String = {
    def fold(c: String) =
      rrepr(s"list_reduce(list_sort(list($c)), (x, y) -> x + y)", 9)
    val iterCtes = (1 to 2).map { i =>
      val prevH = if (i == 1) "h0" else s"h${i - 1}"
      s"""ar$i AS (SELECT e.dst AS v, ${fold("h.s")} AS s
         |  FROM ed e JOIN $prevH h ON h.v = e.src GROUP BY e.dst),
         |at$i AS (SELECT ${fold("s")} AS t FROM ar$i),
         |a$i AS (SELECT nd.v, ${rrepr("COALESCE(r.s, 0.0) / t.t", 9)} AS s
         |  FROM nodes nd CROSS JOIN at$i t LEFT JOIN ar$i r ON r.v = nd.v),
         |hr$i AS (SELECT e.src AS v, ${fold("a.s")} AS s
         |  FROM ed e JOIN a$i a ON a.v = e.dst GROUP BY e.src),
         |ht$i AS (SELECT ${fold("s")} AS t FROM hr$i),
         |h$i AS (SELECT nd.v, ${rrepr("COALESCE(r.s, 0.0) / t.t", 9)} AS s
         |  FROM nodes nd CROSS JOIN ht$i t LEFT JOIN hr$i r ON r.v = nd.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $linkGraphCtes,
       |h0 AS (SELECT v, 1.0 / cnt.n AS s FROM nodes, cnt),
       |$iterCtes
       |$fin""".stripMargin
  }

  /** The Ann.pqTrain(exactMeans)/pqEncode chain in DuckDB at the p43/
    * p44 gate config (m=4, dsub=16, ksub=8, iters=1), parameterized by
    * the subvector relation (`sv` over the corpus for p43, `rsv` over
    * coarse residuals for p44; `svCte` is that relation's definition).
    * Mirrors the Spark side stage for stage: md5-smallest seed ids →
    * seed codebooks → one Lloyd iteration (L2 argmin via
    * score = sv·c − |c|²/2 rounded 6dp with c_id tiebreak; ordered-
    * fold means rounded 6dp; empty centroids keep their seed) → final
    * argmin encode. Emits CTEs `seed bk0 … bk1 es enc`. */
  private def pqOracleCtes(sv: String, svCte: String): String = {
    def score(rel: String) =
      rrepr(s"${ddot(s"$rel.sv", "b.cemb")} - ${ddot("b.cemb", "b.cemb")} / 2", 6)
    s"""$svCte,
       |sd0 AS (SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h FROM e ORDER BY h LIMIT 8),
       |seed AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY h) - 1 AS BIGINT) AS c_id FROM sd0),
       |bk0 AS (SELECT s.sub, sd.c_id, s.sv AS cemb
       |        FROM $sv s JOIN seed sd ON s.vec_id = sd.vec_id),
       |as1 AS (SELECT s.vec_id, s.sub, s.sv, b.c_id, ${score("s")} AS score
       |        FROM $sv s JOIN bk0 b ON s.sub = b.sub),
       |a1 AS (SELECT vec_id, sub, sv, c_id FROM (
       |    SELECT z.*, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY score DESC, c_id) AS rn
       |    FROM as1 z) t WHERE rn = 1),
       |x1 AS (SELECT sub, c_id, CAST(i - 1 AS INT) AS dim, sv[i] AS v
       |       FROM a1, range(1, 17) r(i)),
       |g1 AS (SELECT sub, c_id, dim,
       |              ${rrepr("list_reduce(list_sort(list(v)), (p, q) -> p + q) / COUNT(*)", 6)} AS mv
       |       FROM x1 GROUP BY sub, c_id, dim),
       |bn AS (SELECT sub, c_id, list(mv ORDER BY dim) AS cemb FROM g1 GROUP BY sub, c_id),
       |bk1 AS (SELECT * FROM bn
       |        UNION ALL
       |        SELECT b.* FROM bk0 b WHERE NOT EXISTS (
       |          SELECT 1 FROM bn WHERE bn.sub = b.sub AND bn.c_id = b.c_id)),
       |es AS (SELECT s.vec_id, s.sub, b.c_id, ${score("s")} AS score
       |       FROM $sv s JOIN bk1 b ON s.sub = b.sub),
       |enc AS (SELECT vec_id, sub, c_id FROM (
       |    SELECT z.vec_id, z.sub, z.c_id,
       |           ROW_NUMBER() OVER (PARTITION BY z.vec_id, z.sub ORDER BY z.score DESC, z.c_id) AS rn
       |    FROM es z) t WHERE rn = 1)""".stripMargin
  }

  /** Shared p43/p44 tail: shortlist the top-20 ADC candidates per
    * query, exact float-cosine re-rank (zero-norm guard → NULLS LAST,
    * mirroring Ann.rerankShortlist), top-5. Consumes CTE `ad`
    * (q_id, vec_id, adot). */
  private val pqShortRerankSql: String =
    s"""short AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adot DESC, vec_id) AS qrn
       |    FROM ad) t WHERE qrn <= 20),
       |scored AS (SELECT sh.q_id, sh.vec_id,
       |                  CASE WHEN ${dnorm2("x.emb")} * ${dnorm2("q.emb")} > 0
       |                       THEN ${rrepr(dcos("x.emb", "q.emb"), 3)} END AS sim
       |           FROM short sh JOIN e x ON sh.vec_id = x.vec_id
       |           JOIN e q ON sh.q_id = q.vec_id)
       |SELECT q_id, vec_id, sim, CAST(rn AS INT) AS rn FROM (
       |  SELECT q_id, vec_id, sim,
       |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC NULLS LAST, vec_id) AS rn
       |  FROM scored) t
       |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin

  /** Shared DuckDB CTEs: distinct word 3-shingles (pre-hashed to the
    * same 60-bit md5-derived int Dedup.shingleHashes emits) / tokens. */
  private val shCte =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS shingle FROM (
      |  SELECT doc_id, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                         FOR i IN range(1, len(t)-1)]) AS shingle
      |  FROM toks WHERE len(t) >= 3) raw)""".stripMargin

  /** Mirrors Dedup.minhashSignatures + lshBands: one md5 per shingle,
    * k universal-hash permutations with the same md5-derived
    * coefficients (generated by the Scala side, embedded as literals). */
  private val mhCte: String = {
    val hs = (0 until 16).map { j =>
      val (a, b, c) = (Dedup.minhashCoef(j, "a"), Dedup.minhashCoef(j, "b"),
        Dedup.minhashCoef(j, "c"))
      s"min(($a * xhi + $b * xlo + $c) % ${Dedup.MinhashP}) AS h$j"
    }.mkString(",\n       ")
    val bandSelects = (0 until 4).map { b =>
      val cols = (b * 4 until b * 4 + 4).map(j => s"h$j::VARCHAR").mkString(" || ',' || ")
      s"SELECT doc_id, CAST($b AS BIGINT) AS band, md5($cols) AS bh FROM mh"
    }.mkString("\n          UNION ALL ")
    s"""$shCte,
       |hx AS (SELECT doc_id, shingle >> 30 AS xhi, shingle & 1073741823 AS xlo FROM sh),
       |mh AS (SELECT doc_id, $hs
       |       FROM hx GROUP BY doc_id),
       |bands AS ($bandSelects)""".stripMargin
  }

  /** Like shCte but for arbitrary n (p26 uses 8-grams — the realistic
    * decontamination gram size; 3-grams flag nearly every doc). */
  private def shCteN(n: Int): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (SELECT DISTINCT doc_id,
       |         ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS shingle FROM (
       |  SELECT doc_id, unnest([array_to_string(t[i:i+${n - 1}], ' ')
       |                         FOR i IN range(1, len(t)-${n - 2})]) AS shingle
       |  FROM toks WHERE len(t) >= $n) raw)""".stripMargin

  private val tokCte =
    """tok AS (SELECT DISTINCT doc_id, token FROM (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents))""".stripMargin

  /** DuckDB 60-bit simhash CTE (mirrors Dedup.simhash). */
  private val simhashCte: String = {
    val terms = (0 until 60).map { b =>
      s"CASE WHEN SUM(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) > 0" +
        s" THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")
    s"""$tokCte,
       |th AS (SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h FROM tok),
       |sim AS (SELECT doc_id, $terms AS simhash FROM th GROUP BY doc_id)""".stripMargin
  }

  private val embCte =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)""".stripMargin

  /** DuckDB cannot build bit 63 with `1 << 63` (checked overflow); the
    * sign-bit term is added as the min-long literal instead — summing
    * distinct powers of two equals OR in two's complement. */
  private val MinLongSql = "(-9223372036854775807 - 1)"

  /** Closed-form dHash64 of Multimodal.imageFixture: 32×32 grayscale
    * pixel (idx) = ((doc_id/2)*31 + idx*7 + bump) % 256, sampled on
    * the 9×8 grid sy = 4y, sx = 32x/9; bit y*8+x set iff left < right.
    * Exact because grayscale luma is the identity and the BMP
    * encode/decode round-trip is lossless (spec-proven). */
  private val ihashCte: String =
    s"""ifx AS (
       |  SELECT d.doc_id, ys.y, xs.x,
       |         (((d.doc_id // 2) * 31 + ((ys.y * 4) * 32 + (xs.x * 32) // 9) * 7 +
       |           CASE WHEN d.doc_id % 2 = 1
       |                 AND (((ys.y * 4) * 32 + (xs.x * 32) // 9) % 37) = 0
       |                THEN 64 ELSE 0 END) % 256) AS gv
       |  FROM documents d, range(0, 8) ys(y), range(0, 9) xs(x)),
       |ihash AS (
       |  SELECT a.doc_id,
       |         CAST(SUM(CASE WHEN a.gv < b.gv THEN
       |               CASE WHEN a.y * 8 + a.x = 63 THEN $MinLongSql
       |                    ELSE (1::BIGINT << CAST(a.y * 8 + a.x AS INT)) END
       |             ELSE 0 END) AS BIGINT) AS h
       |  FROM ifx a JOIN ifx b ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
       |  WHERE a.x < 8
       |  GROUP BY a.doc_id)""".stripMargin

  /** Closed-form audioHash64 of Multimodal.audioFixture: sample i =
    * ((doc_id/2)*7 + i*13 + bump) % 128, 65 windows × 10 samples;
    * equal window sizes turn the RMS-average comparison into an
    * integer sum-of-squares comparison, so no floats are involved. */
  private val ahashCte: String =
    s"""asmp AS (
       |  SELECT d.doc_id, w.w,
       |         (((d.doc_id // 2) * 7 + (w.w * 10 + j.j) * 13 +
       |           CASE WHEN d.doc_id % 2 = 1 AND ((w.w * 10 + j.j) % 331) = 0
       |                THEN 60 ELSE 0 END) % 128) AS v
       |  FROM documents d, range(0, 65) w(w), range(0, 10) j(j)),
       |awin AS (SELECT doc_id, w, SUM(v * v) AS e FROM asmp GROUP BY doc_id, w),
       |ahash AS (
       |  SELECT a.doc_id,
       |         CAST(SUM(CASE WHEN a.e < b.e THEN
       |               CASE WHEN a.w = 63 THEN $MinLongSql
       |                    ELSE (1::BIGINT << CAST(a.w AS INT)) END
       |             ELSE 0 END) AS BIGINT) AS h
       |  FROM awin a JOIN awin b ON a.doc_id = b.doc_id AND b.w = a.w + 1
       |  WHERE a.w < 64
       |  GROUP BY a.doc_id)""".stripMargin

  /** Closed-form pixel of Multimodal.imageFixture at row-major index
    * `j` (grayscale, so luma is the identity — the ihashCte formula
    * parameterized over the index expression). */
  private def ifxPx(j: String): String =
    s"(((d.doc_id // 2) * 31 + ($j) * 7 + " +
      s"CASE WHEN d.doc_id % 2 = 1 AND (($j) % 37) = 0 THEN 64 ELSE 0 END) % 256)"

  /** p69 oracle: 4-neighbor Laplacian variance over the interior of
    * the 32×32 closed-form fixture — integer sums, one IEEE division,
    * Spark's round via rrepr. */
  private def p69OracleSql: String =
    s"""WITH lap AS (
       |  SELECT d.doc_id,
       |         4 * ${ifxPx("i.i")} - ${ifxPx("i.i - 32")} - ${ifxPx("i.i + 32")}
       |           - ${ifxPx("i.i - 1")} - ${ifxPx("i.i + 1")} AS lp
       |  FROM documents d, range(0, 1024) i(i)
       |  WHERE d.doc_id < 500
       |    AND (i.i % 32) BETWEEN 1 AND 30 AND (i.i // 32) BETWEEN 1 AND 30),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n, SUM(lp) AS s, SUM(lp * lp) AS ss
       |  FROM lap GROUP BY doc_id)
       |SELECT doc_id,
       |       ${rrepr("CAST(n * ss - s * s AS DOUBLE) / (CAST(n AS DOUBLE) * n)", 6)} AS sharpness
       |FROM agg ORDER BY doc_id""".stripMargin

  /** p70 oracle: peak / RMS / clipping over the closed-form 650-sample
    * fixture (the ahashCte sample formula); values < 128 so the
    * clipping fraction is exactly 0. */
  private def p70OracleSql: String =
    s"""WITH smp AS (
       |  SELECT d.doc_id,
       |         (((d.doc_id // 2) * 7 + i.i * 13 +
       |           CASE WHEN d.doc_id % 2 = 1 AND (i.i % 331) = 0 THEN 60 ELSE 0 END) % 128) AS v
       |  FROM documents d, range(0, 650) i(i)
       |  WHERE d.doc_id < 500),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n, MAX(v) AS peak, SUM(v * v) AS ss
       |  FROM smp GROUP BY doc_id)
       |SELECT doc_id, CAST(n AS INT) AS n_samples, CAST(peak AS INT) AS peak,
       |       ${rrepr("sqrt(CAST(ss AS DOUBLE) / n)", 6)} AS rms,
       |       CAST(0.0 AS DOUBLE) AS clip_frac
       |FROM agg ORDER BY doc_id""".stripMargin

  /** BPE merge table trained on the sf0.01 documents corpus
    * (Bpe.train, 16 merges, r6). */
  val P35Merges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"))

  /** DuckDB mirror of Bpe.tokenCounts under [[P35Merges]]: identical
    * char-split, sentinel framing, and doubled replace chain. */
  private def p35OracleSql: String = {
    val repExpr = P35Merges.foldLeft("rep0") { case (e, (a, b)) =>
      val once = s"replace($e, '|$a|$b|', '|$a$b|')"
      s"replace($once, '|$a|$b|', '|$a$b|')"
    }
    s"""WITH base AS (
       |  SELECT doc_id,
       |         list_filter(string_split(replace(coalesce(text, ''), '|', ''), ' '),
       |                     w -> w <> '') AS ws
       |  FROM documents),
       |reps AS (
       |  SELECT doc_id, len(ws) AS n_words,
       |         CASE WHEN len(ws) = 0 THEN ''
       |              ELSE '|' || array_to_string(
       |                     [array_to_string(string_split(w, ''), '|') FOR w IN ws],
       |                     '||') || '|' END AS rep0
       |  FROM base)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |       CAST((length($repExpr) - length(replace($repExpr, '|', ''))) - n_words
       |            AS BIGINT) AS n_tok
       |FROM reps ORDER BY doc_id""".stripMargin
  }

  /** Quality-classifier weights (bias, len_frac, stop_ratio, top_frac,
    * distinct_ratio) distilled from the p31 rule gate's verdicts on the
    * sf0.01 corpus by TextAnalysis.trainQualityLogreg (IRLS, 12
    * Newton iterations; 500/500 agreement with the gate on the corpus
    * AT DISTILLATION TIME — the driver regenerates fixtures between
    * rounds, so later corpora may disagree on a handful of boundary
    * docs; p42 measures the live agreement, CurateSpec floors it at
    * 98%). Trained once, applied everywhere, like P35Merges. */
  val P41Weights: Seq[Double] = Seq(
    -22.61508771007489, -0.4458694383231951, 462.5628522111789,
    -10.886630711456226, 0.8031261218744232)

  /** One-vs-rest domain-classifier weights ((class, (bias, features…))
    * per source, classes sorted) fit by TextAnalysis.trainDomainLogreg
    * on the sf0.01 corpus's source column (`Main domain-train`). The
    * synthetic sources are nearly feature-indistinguishable by design —
    * what the oracle checks is the exact argmax SCORING contract
    * (rounded logits, smallest-class ties), not the fit quality; the
    * separability story is DomainLogregSpec's planted corpus. */
  val P51Weights: Seq[(String, Seq[Double])] = Seq(
    "src0" -> Seq(-4.352674413596613, 1.0487577359863876, 2.384960265103265, -14.516202765216672, 1.8787096499594067),
    "src1" -> Seq(-3.1524596275417034, 2.4789010187718046, -29.19963312919148, 12.667243592618203, -2.056770798588665),
    "src10" -> Seq(-2.8144639760261096, -0.7423091631038209, 9.04106781492837, -14.937535553116161, 0.9023150227196611),
    "src11" -> Seq(-12.944193727685608, 7.589925671735276, -5.859451955620736, 2.7709629164906695, 7.438082626923663),
    "src12" -> Seq(-4.809976089845422, 0.7860961729356755, 6.096071236575019, 14.046833349429212, 0.464822764321537),
    "src13" -> Seq(1.8488930993990722, -3.0038486025330786, 8.290083676440217, -17.063955206605442, -4.560366898775276),
    "src14" -> Seq(5.031927448828462, -5.152666942411208, -4.356265373940532, -10.041194792305888, -6.323211580666583),
    "src15" -> Seq(-4.22503709624384, 0.34114141823792254, 6.261639999635636, 5.091446259390815, 0.7554642240619518),
    "src16" -> Seq(1.789825892779884, -2.03556756081686, -21.958744850658693, 4.018139753602471, -4.291006452508469),
    "src17" -> Seq(-10.450926016640963, 5.427524914061949, 0.017662245047150728, 37.19185349776518, 2.743490609542078),
    "src18" -> Seq(-3.2813734859944246, 0.6397773498595922, -8.352713052607735, -3.3021760015698116, 0.83293583898415),
    "src19" -> Seq(-4.715540096955824, -0.015614042487189774, 7.192749315670579, -10.387204596495849, 3.3053141431667243),
    "src2" -> Seq(-2.4247824949530687, -0.7014619690139223, 10.374346840314207, -34.192347136688575, 1.2602464436461802),
    "src3" -> Seq(-1.989127076584814, -0.7132217684055647, 2.7331828634779223, 4.47974548750233, -1.4553645671299422),
    "src4" -> Seq(-2.991954269862982, 0.010128201238989535, -4.202007115410623, -14.325538946753245, 1.689790485739696),
    "src5" -> Seq(-6.8191920132561785, 2.3164773969128785, 2.2089196211918156, 11.594545548711293, 2.671426103118045),
    "src6" -> Seq(2.1299355768082187, -3.7934239063674187, -0.5505222744660556, -18.00811925191728, -2.5231788806467472),
    "src7" -> Seq(-6.268428095805552, 2.6813106554536903, -1.736183704286271, -2.000797844797432, 2.5025501690601337),
    "src8" -> Seq(-2.4374490464522114, -0.5720838909228972, -4.134199261881667, 9.295525645804185, -0.42180642611054814),
    "src9" -> Seq(-2.402294149298202, -0.2255618472754291, 3.731274393196365, -2.5408816674001247, -1.0093597841121607))

  /** The shared pigeonhole hamming join (Multimodal.hammingPairs) in
    * SQL: 4×16-bit blocks, hot buckets capped at 100, exact
    * bit_count(xor) filter at distance 3. `>>` is arithmetic in both
    * engines and the & 65535 mask erases the sign-extension bits, so
    * negative hashes block identically. */
  private def hammingOracle(hashCte: String, hashRel: String): String =
    s"""WITH $hashCte,
       |blk0 AS (SELECT doc_id, h, r.k AS blk, (h >> CAST(16 * r.k AS INT)) & 65535 AS bv
       |         FROM $hashRel, range(0, 4) r(k)),
       |blk AS (SELECT * FROM (SELECT b.*, COUNT(*) OVER (PARTITION BY blk, bv) AS bc
       |                       FROM blk0 b) t WHERE bc <= 100),
       |pairs AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
       |                 CAST(bit_count(xor(x.h, y.h)) AS BIGINT) AS dist
       |          FROM blk x JOIN blk y
       |            ON x.blk = y.blk AND x.bv = y.bv AND x.doc_id < y.doc_id)
       |SELECT d1, d2, dist FROM pairs WHERE dist <= 3 ORDER BY d1, d2""".stripMargin

  /** The p31 qualityGate chain as a DuckDB WITH-prefix ending in a
    * `gate` CTE (doc_id, n_tokens, stop_ratio, top_frac, pred_lang,
    * ok_len, ok_rep, ok_stop, ok_lang, kept) at the gate config the
    * p31/r68 rows pin (minTokens=30, maxTopFrac=0.2, minStop=0.05,
    * langs=en) — shared so the attribution oracle can never drift
    * from the gate oracle. */
  private lazy val gateChainSql: String = {
    val stops = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
    val langs = Seq("en", "es", "de", "fr", "zh")
    val sums = langs.map { l =>
      val sw = TextAnalysis.stopwords(l).map(w => s"'$w'").mkString(", ")
      s"SUM(CASE WHEN token IN ($sw) THEN 1 ELSE 0 END) AS s_$l"
    }.mkString(",\n        ")
    val best = s"GREATEST(${langs.map(l => s"s_$l").mkString(", ")})"
    val pred = langs.map(l => s"WHEN s_$l = $best AND $best > 0 THEN '$l'").mkString(" ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(COALESCE(text, ''), ' ')) AS token FROM documents),
       |qs AS (SELECT doc_id, COUNT(*) AS n_tokens,
       |        CAST(SUM(CASE WHEN token IN ($stops) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
       |       FROM tok GROUP BY doc_id),
       |q2 AS (SELECT doc_id, n_tokens,
       |        ${rrepr("CAST(n_stop AS DOUBLE) / n_tokens", 4)} AS stop_ratio FROM qs),
       |tk AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS t FROM documents),
       |bg AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bg
       |       FROM tk WHERE len(t) >= 2),
       |c AS (SELECT doc_id, bg, COUNT(*) AS n FROM bg GROUP BY doc_id, bg),
       |agg AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
       |               CAST(MAX(n) AS BIGINT) AS top_n FROM c GROUP BY doc_id),
       |rep AS (SELECT tk.doc_id,
       |         ${rrepr("CAST(a.top_n AS DOUBLE) / a.n_bigrams", 4)} AS top_frac
       |        FROM tk LEFT JOIN agg a ON a.doc_id = tk.doc_id),
       |sc AS (SELECT doc_id,
       |        $sums
       |       FROM tok GROUP BY doc_id),
       |li AS (SELECT doc_id, CASE $pred ELSE 'und' END AS pred_lang FROM sc),
       |gate AS (SELECT q2.doc_id, q2.n_tokens, q2.stop_ratio, rep.top_frac, li.pred_lang,
       |       q2.n_tokens >= 30 AS ok_len,
       |       (rep.top_frac IS NULL OR rep.top_frac <= 0.2) AS ok_rep,
       |       q2.stop_ratio >= 0.05 AS ok_stop,
       |       li.pred_lang IN ('en') AS ok_lang,
       |       (q2.n_tokens >= 30 AND (rep.top_frac IS NULL OR rep.top_frac <= 0.2)
       |         AND q2.stop_ratio >= 0.05 AND li.pred_lang IN ('en')) AS kept
       |FROM q2 JOIN rep ON rep.doc_id = q2.doc_id JOIN li ON li.doc_id = q2.doc_id)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- Deduplication suite --------------------------------------------

    // MinHash signatures -> LSH band keys (the scale path: near-dup search
    // becomes an equi-join on band keys instead of an all-pairs compare).
    QueryDef("p01_minhash_bands",
      (s, d) => Dedup.lshBands(Dedup.minhashSignatures(
          Dedup.shingleHashes(T(s, d, "documents")), hashed = true))
        .select(col("doc_id"), col("band").cast("long").as("band"), col("bh"))
        .orderBy("doc_id", "band"),
      Some(s"""WITH $mhCte
              |SELECT doc_id, band, bh FROM bands ORDER BY doc_id, band""".stripMargin)),

    // LSH candidates verified with exact shingle-set Jaccard.
    QueryDef("p02_minhash_lsh_pairs",
      (s, d) => {
        // ONE doc-keyed aggregation feeds the whole pipeline: the
        // fused docSignatures frame carries the minhash signatures
        // (bands select h*) AND the per-doc shingle arrays both sides
        // of the Jaccard verify join read — the split form shuffled
        // the exploded shingle table twice. The plan is fully LAZY:
        // all three consumers of the byDoc aggregate (the band explode
        // and both verify sides) are served by ReusedExchange inside
        // the one action, so the aggregation runs once with ZERO cache
        // machinery — the r6 withCached(byDoc, bands) form paid ~1.8 s
        // of cache build + cached-read at sf0.1 for work exchange
        // reuse gets free (measured 3.75 → 1.95 s min-of-4, r7;
        // reuse plan-asserted in PlanSpec).
        val byDoc = Dedup.docSignatures(Dedup.shingleHashes(T(s, d, "documents")))
        Dedup.jaccardVerify(byDoc, Dedup.lshCandidates(Dedup.lshBands(byDoc)))
          .select(col("d1"), col("d2"), round(col("jaccard"), 3).as("jaccard"))
          .orderBy(col("jaccard").desc, col("d1"), col("d2"))
          .limit(100)
      },
      Some(s"""WITH $mhCte,
              |bandc AS (SELECT * FROM (SELECT z.*, COUNT(*) OVER (PARTITION BY band, bh) AS bc
              |                         FROM bands z) t WHERE bc <= 100),
              |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
              |         FROM bandc x JOIN bandc y
              |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
              |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT s1.doc_id AS d1, s2.doc_id AS d2, COUNT(*) AS ninter
              |          FROM sh s1 JOIN sh s2
              |            ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
              |          GROUP BY s1.doc_id, s2.doc_id)
              |SELECT c.d1, c.d2,
              |       ${rrepr("i.ninter / (c1.n + c2.n - i.ninter)", 3)} AS jaccard
              |FROM cand c
              |JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
              |JOIN cnt c1 ON c.d1 = c1.doc_id
              |JOIN cnt c2 ON c.d2 = c2.doc_id
              |ORDER BY jaccard DESC, c.d1, c.d2 LIMIT 100""".stripMargin)),

    // 60-bit SimHash fingerprint per document.
    QueryDef("p03_simhash",
      (s, d) => Dedup.simhashPacked(T(s, d, "documents")).orderBy("doc_id"),
      Some(s"""WITH $simhashCte
              |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin)),

    // Closest pairs by Hamming distance via pigeonhole block join.
    QueryDef("p04_simhash_pairs",
      (s, d) => Dedup.simhashPairs(Dedup.simhashPacked(T(s, d, "documents")), maxDist = 60)
        .select(col("d1"), col("d2"), col("dist").cast("int").as("dist"))
        .orderBy(col("dist"), col("d1"), col("d2"))
        .limit(50),
      Some(s"""WITH $simhashCte,
              |blk0 AS (SELECT doc_id, simhash, k AS blk, (simhash >> CAST(10 * k AS INT)) & 1023 AS bkey
              |         FROM sim, range(0, 6) r(k)),
              |blk AS (SELECT * FROM (SELECT b.*, COUNT(*) OVER (PARTITION BY blk, bkey) AS bc
              |                       FROM blk0 b) t WHERE bc <= 100),
              |pairs AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
              |                 CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS dist
              |          FROM blk x JOIN blk y
              |            ON x.blk = y.blk AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
              |SELECT d1, d2, dist FROM pairs ORDER BY dist, d1, d2 LIMIT 50""".stripMargin)),

    // Embedding near-duplicates, exact-verify role: all-pairs cosine
    // over a DETERMINISTIC bounded slice (vec_id < 500 — the full corpus
    // at gate scale, a fixed-cost audit sample beyond it). The unbounded
    // all-pairs baseline stays in the library (Ann.nearDupPairs, loudly
    // labelled); the GATE path must never carry a plan whose cost is
    // corpus² — the corpus-scale near-dup answer is p14 (capped LSH).
    QueryDef("p05_embed_neardup",
      (s, d) => Ann.nearDupPairs(
        T(s, d, "embeddings").filter(col("vec_id") < 500), topN = 50),
      Some(s"""WITH $embCte
              |SELECT v1, v2, sim FROM (
              |  SELECT a.vec_id AS v1, b.vec_id AS v2,
              |         ${rrepr(dcos("a.emb", "b.emb"), 3)} AS sim
              |  FROM e a JOIN e b ON a.vec_id < b.vec_id
              |  WHERE a.vec_id < 500 AND b.vec_id < 500) t
              |ORDER BY sim DESC, v1, v2 LIMIT 50""".stripMargin)),

    // Survivor selection — the LAST stage of the dedup pipeline: LSH
    // candidate pairs -> connected components (transitive closure, so
    // A~B~C keeps ONE doc, where pairwise keep-first double-keeps) ->
    // one survivor (min doc_id) per component. Oracle = DuckDB
    // recursive CTE over the identical candidate graph.
    QueryDef("p18_dedup_survivors",
      (s, d) => {
        val docs = T(s, d, "documents")
        // dedup = false: components() distincts its edge union anyway,
        // so the candidate-pair distinct is a pure extra shuffle here
        val pairs = Dedup.lshCandidates(Dedup.lshBands(
          Dedup.minhashSignatures(Dedup.shingleHashes(docs), hashed = true)),
          dedup = false)
        docs.join(Dedup.components(pairs).withColumnRenamed("id", "doc_id"),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("comp"), col("doc_id")).as("comp"),
            (col("comp").isNull || col("comp") === col("doc_id")).as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $mhCte,
              |bandc AS (SELECT * FROM (SELECT z.*, COUNT(*) OVER (PARTITION BY band, bh) AS bc
              |                         FROM bands z) t WHERE bc <= 100),
              |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
              |         FROM bandc x JOIN bandc y
              |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
              |edges AS (SELECT d1 AS src, d2 AS dst FROM cand
              |          UNION SELECT d2, d1 FROM cand),
              |reach AS (SELECT src AS id, src AS comp FROM edges
              |          UNION
              |          SELECT e.dst AS id, r.comp FROM reach r
              |          JOIN edges e ON e.src = r.id),
              |comp AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)
              |SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp,
              |       (c.comp IS NULL OR c.comp = d.doc_id) AS keep
              |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
              |ORDER BY d.doc_id""".stripMargin)),

    // The WHOLE dedup pipeline as one operator call (Dedup.dedupCorpus):
    // LSH candidates verified at Jaccard >= 0.5, transitive closure,
    // one survivor per near-dup cluster — in: corpus, out: corpus.
    QueryDef("p20_dedup_corpus",
      (s, d) => Dedup.dedupCorpus(T(s, d, "documents"), threshold = 0.5)
        .select("doc_id").orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $mhCte,
              |bandc AS (SELECT * FROM (SELECT z.*, COUNT(*) OVER (PARTITION BY band, bh) AS bc
              |                         FROM bands z) t WHERE bc <= 100),
              |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
              |         FROM bandc x JOIN bandc y
              |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
              |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT s1.doc_id AS d1, s2.doc_id AS d2, COUNT(*) AS ninter
              |          FROM sh s1 JOIN sh s2
              |            ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
              |          GROUP BY s1.doc_id, s2.doc_id),
              |ver AS (SELECT c.d1, c.d2
              |        FROM cand c
              |        JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
              |        JOIN cnt c1 ON c.d1 = c1.doc_id
              |        JOIN cnt c2 ON c.d2 = c2.doc_id
              |        WHERE i.ninter / (c1.n + c2.n - i.ninter) >= 0.5),
              |edges AS (SELECT d1 AS src, d2 AS dst FROM ver
              |          UNION SELECT d2, d1 FROM ver),
              |reach AS (SELECT src AS id, src AS comp FROM edges
              |          UNION
              |          SELECT e.dst AS id, r.comp FROM reach r
              |          JOIN edges e ON e.src = r.id),
              |comp AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)
              |SELECT d.doc_id
              |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
              |WHERE c.comp IS NULL OR c.comp = d.doc_id
              |ORDER BY d.doc_id""".stripMargin)),

    // ---- Similarity search ----------------------------------------------

    // Brute-force exact top-10 for query vectors 0..4.
    QueryDef("p06_ann_brute",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        Ann.bruteTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
          .select(col("q_id"), col("vec_id"), col("sim"), col("rn"))
          .orderBy("q_id", "rn")
      },
      Some(s"""WITH $embCte,
              |scored AS (SELECT q.vec_id AS q_id, x.vec_id,
              |                  ${rrepr(dcos("x.emb", "q.emb"), 3)} AS sim
              |           FROM e x, e q
              |           WHERE q.vec_id < 5 AND x.vec_id <> q.vec_id)
              |SELECT q_id, vec_id, sim, CAST(rn AS INT) AS rn FROM (
              |  SELECT q_id, vec_id, sim,
              |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
              |  FROM scored) t
              |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin)),

    // Hard-negative mining: top-8 per query INSIDE the similarity band
    // [0.1, 0.9) — near-dups above the band are false negatives for a
    // contrastive loss, easy negatives below it carry no gradient.
    QueryDef("p58_hard_negatives",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        Ann.hardNegatives(emb, emb.filter(col("vec_id") < 5), k = 8,
            dupT = 0.9, minSim = 0.1)
          .select(col("q_id"), col("vec_id"), col("sim"), col("rn"))
          .orderBy("q_id", "rn")
      },
      Some(s"""WITH $embCte,
              |scored AS (SELECT q.vec_id AS q_id, x.vec_id,
              |                  ${rrepr(dcos("x.emb", "q.emb"), 3)} AS sim
              |           FROM e x, e q
              |           WHERE q.vec_id < 5 AND x.vec_id <> q.vec_id),
              |band AS (SELECT * FROM scored WHERE sim < 0.9 AND sim >= 0.1)
              |SELECT q_id, vec_id, sim, CAST(rn AS INT) AS rn FROM (
              |  SELECT q_id, vec_id, sim,
              |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
              |  FROM band) t
              |WHERE rn <= 8 ORDER BY q_id, rn""".stripMargin)),

    // MMR diversity re-rank: greedy λ·rel − (1−λ)·max-sim-to-selected
    // over a brute top-12 shortlist, 4 picks per query. The oracle
    // UNROLLS the 4 greedy steps as CTE blocks (the kmeansStep
    // per-iteration pattern) — λ=0.5 so 1−λ is IEEE-exact in both
    // engines.
    QueryDef("p59_mmr_rerank",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val cands = Ann.bruteTopK(emb, emb.filter(col("vec_id") < 3), k = 12)
          .select(col("q_id"), col("vec_id"), col("sim").as("rel"))
        Retrieval.mmrRerank(cands, emb, k = 4, lambda = 0.5)
          .orderBy("q_id", "step")
      },
      Some {
        def stepSql(t: Int): String =
          s"""ms$t AS (SELECT c.q_id, c.vec_id, c.rel, COALESCE(MAX(ps.sim), 0.0) AS msim
             |  FROM cand c
             |  LEFT JOIN (SELECT pr.q_id, pr.vec_id, pr.sim FROM pr
             |             JOIN sel${t - 1} s ON s.q_id = pr.q_id AND s.vec_id = pr.o_id) ps
             |    ON ps.q_id = c.q_id AND ps.vec_id = c.vec_id
             |  WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} s2
             |                    WHERE s2.q_id = c.q_id AND s2.vec_id = c.vec_id)
             |  GROUP BY c.q_id, c.vec_id, c.rel),
             |st$t AS (SELECT q_id, vec_id, rel, $t AS step FROM (
             |    SELECT q_id, vec_id, rel,
             |      ROW_NUMBER() OVER (PARTITION BY q_id
             |        ORDER BY ${rrepr("0.5 * rel - 0.5 * msim", 6)} DESC, vec_id) AS rn
             |    FROM ms$t) z WHERE rn = 1),
             |sel$t AS (SELECT q_id, vec_id FROM sel${t - 1}
             |          UNION ALL SELECT q_id, vec_id FROM st$t)""".stripMargin
        s"""WITH $embCte,
           |sc AS (SELECT q.vec_id AS q_id, x.vec_id, ${rrepr(dcos("x.emb", "q.emb"), 3)} AS rel
           |       FROM e x, e q WHERE q.vec_id < 3 AND x.vec_id <> q.vec_id),
           |cand AS (SELECT q_id, vec_id, rel FROM (
           |    SELECT q_id, vec_id, rel,
           |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rn
           |    FROM sc) z WHERE rn <= 12),
           |pr AS (SELECT a.q_id, a.vec_id, b.vec_id AS o_id,
           |         ${rrepr(dcos("ea.emb", "eb.emb"), 3)} AS sim
           |       FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
           |       JOIN e ea ON ea.vec_id = a.vec_id
           |       JOIN e eb ON eb.vec_id = b.vec_id),
           |st1 AS (SELECT q_id, vec_id, rel, 1 AS step FROM (
           |    SELECT q_id, vec_id, rel,
           |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rn
           |    FROM cand) z WHERE rn = 1),
           |sel1 AS (SELECT q_id, vec_id FROM st1),
           |${stepSql(2)},
           |${stepSql(3)},
           |${stepSql(4)}
           |SELECT q_id, vec_id, rel, CAST(step AS INT) AS step FROM (
           |  SELECT * FROM st1 UNION ALL SELECT * FROM st2
           |  UNION ALL SELECT * FROM st3 UNION ALL SELECT * FROM st4) u
           |ORDER BY q_id, step""".stripMargin
      }),

    // IVF-bucketed search: assign to nearest of 8 centroids, scan only
    // the query's cluster.
    QueryDef("p07_ann_ivf",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        Ann.ivfTopK(emb, emb.filter(col("vec_id") < 8), queryId = 0L, k = 10)
      },
      Some(s"""WITH $embCte,
              |c AS (SELECT vec_id AS c_id, emb AS cemb FROM e WHERE vec_id < 8),
              |scored AS (SELECT e.vec_id, c.c_id,
              |                  ${rrepr(dcos("e.emb", "c.cemb"), 6)} AS csim
              |           FROM e, c),
              |assign AS (SELECT vec_id, c_id FROM (
              |    SELECT vec_id, c_id,
              |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS crn
              |    FROM scored) t WHERE crn = 1),
              |qc AS (SELECT c_id FROM (
              |    SELECT c_id, ROW_NUMBER() OVER (ORDER BY csim DESC, c_id) AS crn
              |    FROM scored WHERE vec_id = 0) t WHERE crn <= 2),
              |qe AS (SELECT emb AS qemb FROM e WHERE vec_id = 0)
              |SELECT a.vec_id, ${rrepr(dcos("e.emb", "qe.qemb"), 3)} AS sim
              |FROM assign a JOIN qc ON a.c_id = qc.c_id JOIN e ON a.vec_id = e.vec_id, qe
              |WHERE a.vec_id <> 0
              |ORDER BY sim DESC, a.vec_id LIMIT 10""".stripMargin)),

    // Batched IVF search: top-k for a BATCH of query vectors in one
    // plan — rank centroids per query, probe nprobe clusters via the
    // broadcast (query, cluster) join, window top-k. Over the
    // partitioned index the same join prunes partitions dynamically
    // (AnnSpec); here the index is assigned inline so the math is
    // oracle-checkable with zero side effects.
    QueryDef("p19_ann_ivf_batch",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val centroids = emb.filter(col("vec_id") < 8)
        val queries = emb.filter(col("vec_id") >= 8 && col("vec_id") < 13)
        val index = Ann.assignClusters(emb, centroids).join(emb, "vec_id")
        Ann.ivfSearchBatch(index, centroids, queries, k = 5, nprobe = 2)
          .orderBy("q_id", "rn")
      },
      Some(s"""WITH $embCte,
              |c AS (SELECT vec_id AS c_id, emb AS cemb FROM e WHERE vec_id < 8),
              |q AS (SELECT vec_id AS q_id, emb AS qemb FROM e
              |      WHERE vec_id >= 8 AND vec_id < 13),
              |ascored AS (SELECT e.vec_id, c.c_id,
              |                   ${rrepr(dcos("e.emb", "c.cemb"), 6)} AS csim
              |            FROM e, c),
              |assign AS (SELECT vec_id, c_id FROM (
              |    SELECT vec_id, c_id,
              |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS crn
              |    FROM ascored) t WHERE crn = 1),
              |qscored AS (SELECT q.q_id, c.c_id,
              |                   ${rrepr(dcos("q.qemb", "c.cemb"), 6)} AS csim
              |            FROM q, c),
              |probes AS (SELECT q_id, c_id FROM (
              |    SELECT q_id, c_id,
              |           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY csim DESC, c_id) AS crn
              |    FROM qscored) t WHERE crn <= 2),
              |scored AS (SELECT p.q_id, a.vec_id,
              |                  ${rrepr(dcos("e.emb", "q.qemb"), 3)} AS sim
              |           FROM probes p JOIN assign a ON a.c_id = p.c_id
              |           JOIN e ON e.vec_id = a.vec_id
              |           JOIN q ON q.q_id = p.q_id
              |           WHERE a.vec_id <> p.q_id)
              |SELECT q_id, vec_id, sim, CAST(rn AS INT) AS rn FROM (
              |  SELECT q_id, vec_id, sim,
              |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
              |  FROM scored) t
              |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin)),

    // Hyperplane-LSH near-dup (the LSH-bucketed scale path; IVF is the
    // other). Sketch signs are a Scala-generated literal shared with
    // the oracle, so both engines compute identical projections.
    QueryDef("p14_embed_lsh_neardup",
      (s, d) => Ann.lshNearDup(T(s, d, "embeddings"), topN = 20),
      Some {
        val planeLits = Ann.hyperplanes().map(pl =>
          "[" + pl.map(v => if (v > 0) "1.0" else "-1.0").mkString(",") + "]::DOUBLE[]")
        val terms = planeLits.zipWithIndex.map { case (l, p) =>
          s"CASE WHEN list_reduce([e.emb[i] * ($l)[i] FOR i IN range(1, 65)], (x,y) -> x+y) > 0" +
            s" THEN (CAST(1 AS BIGINT) << $p) ELSE CAST(0 AS BIGINT) END"
        }.mkString(" + ")
        s"""WITH $embCte,
           |sk AS (SELECT e.vec_id, e.emb, $terms AS sk FROM e),
           |blk0 AS (SELECT vec_id, sk, b, (sk >> CAST(8 * b AS INT)) & 255 AS bkey
           |         FROM sk, range(0, 2) r(b)),
           |blk AS (SELECT * FROM (SELECT z.*, COUNT(*) OVER (PARTITION BY b, bkey) AS bc
           |                       FROM blk0 z) t WHERE bc <= 200),
           |cand AS (SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
           |         FROM blk x JOIN blk y
           |           ON x.b = y.b AND x.bkey = y.bkey AND x.vec_id < y.vec_id)
           |SELECT c.v1, c.v2, ${rrepr(dcos("a.emb", "b.emb"), 3)} AS sim
           |FROM cand c JOIN e a ON c.v1 = a.vec_id JOIN e b ON c.v2 = b.vec_id
           |ORDER BY sim DESC, c.v1, c.v2 LIMIT 20""".stripMargin
      }),

    // X2 stage 2: blocked edit-distance fuzzy dedup. The block key is
    // CORPUS-PROPORTIONAL — nation × all-but-last-2 chars of the name —
    // so block count grows with the corpus and block SIZE stays ~O(100)
    // at any scale. A fixed-cardinality key (the round-2 form:
    // nation × segment = 125 blocks, ever) silently degrades to ZERO
    // recall at 100×: every block overflows maxBlock and is dropped
    // (QualitySpec proves both behaviors). Bounded recall: pairs
    // differing outside the last 2 chars land in different blocks — the
    // standard blocking tradeoff, spelled out rather than silent.
    QueryDef("p15_fuzzy_dedup",
      (s, d) => Quality.fuzzyDuplicatesBlocked(
          T(s, d, "customer"), col("c_custkey"),
          concat_ws(":", col("c_nationkey"),
            expr("substring(c_name, 1, length(c_name) - 2)")), col("c_name"),
          maxDist = 1, maxBlock = 1000)
        .orderBy("id1", "id2"),
      Some("""WITH b0 AS (SELECT c_custkey,
             |              CAST(c_nationkey AS VARCHAR) || ':' ||
             |                substring(c_name, 1, length(c_name) - 2) AS blk,
             |              c_name
             |            FROM customer),
             |b AS (SELECT * FROM (SELECT z.*, COUNT(*) OVER (PARTITION BY blk) AS bc
             |                     FROM b0 z) t WHERE bc <= 1000)
             |SELECT x.c_custkey AS id1, y.c_custkey AS id2,
             |       CAST(levenshtein(x.c_name, y.c_name) AS INT) AS dist
             |FROM b x JOIN b y ON x.blk = y.blk AND x.c_custkey < y.c_custkey
             |WHERE levenshtein(x.c_name, y.c_name) <= 1
             |ORDER BY id1, id2""".stripMargin)),

    // Quality report as ONE declarative plan over the COMMITTED
    // generated-corpus fixture (polished_transactions.py:448-521): five
    // single-row aggregates cross-joined — zero driver-side actions and
    // no write side effects. The fixture is materialized by the explicit
    // `graft.Main quality-fixture` subcommand (like the Northwind one),
    // never from inside this query.
    QueryDef("q42_quality_report",
      (s, _) => {
        val dir = DataGen.qualityCorpusDir
        require(java.nio.file.Files.exists(
            java.nio.file.Paths.get(s"$dir/customers.parquet")),
          s"quality-corpus fixture missing at $dir — run `graft.Main quality-fixture`")
        Quality.report(
          s.read.parquet(s"$dir/customers.parquet"),
          s.read.parquet(s"$dir/accounts.parquet"),
          s.read.parquet(s"$dir/transactions.parquet"),
          "2024-01-15 00:00:00")
      },
      Some {
        val dir = DataGen.qualityCorpusDir
        s"""WITH cust AS (SELECT * FROM read_parquet('$dir/customers.parquet/*.parquet')),
           |acct AS (SELECT * FROM read_parquet('$dir/accounts.parquet/*.parquet')),
           |tx AS (SELECT * FROM read_parquet('$dir/transactions.parquet/*.parquet')),
           |grp AS (SELECT replace(replace(lower(email), '4', 'a'), '3', 'e') AS k,
           |               COUNT(*) AS n
           |        FROM cust GROUP BY 1),
           |circ AS (SELECT a.transaction_id
           |         FROM tx a JOIN tx b
           |           ON a.account_id = b.related_account_id
           |          AND a.related_account_id = b.account_id
           |          AND a.transaction_id < b.transaction_id
           |          AND CAST(a.transaction_date AS DATE) = CAST(b.transaction_date AS DATE)
           |         WHERE a.transaction_type = 'Transfer' AND b.transaction_type = 'Transfer'
           |           AND a.related_account_id IS NOT NULL AND b.related_account_id IS NOT NULL)
           |SELECT
           |  (SELECT COUNT(*) FROM cust) AS n_customers,
           |  (SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) FROM grp WHERE n > 1) AS n_fuzzy_dups,
           |  (SELECT COUNT(*) FILTER (WHERE phone IS NULL) FROM cust) AS n_null_phone,
           |  (SELECT COUNT(*) FILTER (WHERE balance < 0) FROM acct) AS n_negative_balance,
           |  (SELECT COUNT(*) FILTER (WHERE transaction_date > TIMESTAMP '2024-01-15 00:00:00') FROM tx) AS n_future_dated,
           |  (SELECT COUNT(*) FROM circ) AS n_circular_pairs""".stripMargin
      }),

    // Embedding int8 quantization — the storage-compression stage of an
    // embedding pipeline (4x smaller vectors; at 100 TB the quantized
    // codes column replaces the float column for ANN candidate scans,
    // with float re-rank on the short list). Per-vector absmax scale,
    // symmetric round-to-int codes; emitted: scale, code checksum, and
    // the saturated-code count.
    QueryDef("p17_embed_quantize",
      (s, d) => T(s, d, "embeddings")
        .select(col("vec_id"), graft.functions.Vectors.asDouble(col("embedding")).as("e"))
        .withColumn("scale0", expr("array_max(transform(e, x -> abs(x)))"))
        .withColumn("codes", expr("transform(e, x -> cast(round(x / scale0 * 127) as int))"))
        .select(col("vec_id"),
          round(col("scale0"), 6).as("scale"),
          expr("aggregate(codes, 0L, (a, x) -> a + x)").as("code_sum"),
          expr("cast(size(filter(codes, x -> abs(x) = 127)) as bigint)").as("n_sat"))
        .orderBy("vec_id"),
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              |sc AS (SELECT vec_id, emb, list_max([abs(x) FOR x IN emb]) AS scale0 FROM e),
              |q AS (SELECT vec_id, scale0,
              |        [CAST(ROUND(CAST(CAST((x / scale0 * 127) AS VARCHAR) AS DECIMAL(38,18)), 0) AS INT)
              |         FOR x IN emb] AS codes
              |      FROM sc)
              |SELECT vec_id, ${rrepr("scale0", 6)} AS scale,
              |       CAST(list_reduce(codes, (a, x) -> a + x) AS BIGINT) AS code_sum,
              |       CAST(len(list_filter(codes, x -> abs(x) = 127)) AS BIGINT) AS n_sat
              |FROM q ORDER BY vec_id""".stripMargin)),

    // K-means (Lloyd) update step: assign every vector to its nearest
    // of 8 seed centroids, emit per-cluster per-dimension counts and
    // means — the centroid-training primitive behind a production IVF
    // index. Ordered-fold sums keep the doubles engine-identical.
    QueryDef("p25_kmeans_step",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        Ann.kmeansStep(emb, emb.filter(col("vec_id") < 8))
          .orderBy("c_id", "dim")
      },
      Some(s"""WITH $embCte,
              |c AS (SELECT vec_id AS c_id, emb AS cemb FROM e WHERE vec_id < 8),
              |ascored AS (SELECT e.vec_id, c.c_id,
              |                   ${rrepr(dcos("e.emb", "c.cemb"), 6)} AS csim
              |            FROM e, c),
              |assign AS (SELECT vec_id, c_id FROM (
              |    SELECT vec_id, c_id,
              |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS crn
              |    FROM ascored) t WHERE crn = 1),
              |x AS (SELECT a.c_id, CAST(i - 1 AS INT) AS dim, e.emb[i] AS v
              |      FROM assign a JOIN e ON a.vec_id = e.vec_id, range(1, 65) r(i)),
              |g AS (SELECT c_id, dim, CAST(COUNT(*) AS BIGINT) AS n,
              |             list_reduce(list_sort(list(v)), (p, q) -> p + q) AS ssum
              |      FROM x GROUP BY c_id, dim)
              |SELECT c_id, dim, n, ${rrepr("ssum / n", 6)} AS mean
              |FROM g ORDER BY c_id, dim""".stripMargin)),

    // The streaming-IVF RETRAIN TRIGGER's arithmetic, oracle-checked:
    // one Lloyd step's implied per-cluster mean vs the fixed centroid,
    // euclidean distance per touched cluster (p25's assignment
    // machinery + a d-term ordered-fold delta; explicit x*x, not
    // pow — Math.pow(x, 2) can differ from x*x in the last ulp).
    QueryDef("r118_assignment_drift",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        Ann.assignmentDrift(emb, emb.filter(col("vec_id") < 8))
          .orderBy("c_id")
      },
      Some(s"""WITH $embCte,
              |c AS (SELECT vec_id AS c_id, emb AS cemb FROM e WHERE vec_id < 8),
              |ascored AS (SELECT e.vec_id, c.c_id,
              |                   ${rrepr(dcos("e.emb", "c.cemb"), 6)} AS csim
              |            FROM e, c),
              |assign AS (SELECT vec_id, c_id FROM (
              |    SELECT vec_id, c_id,
              |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS crn
              |    FROM ascored) t WHERE crn = 1),
              |x AS (SELECT a.c_id, CAST(i - 1 AS INT) AS dim, e.emb[i] AS v
              |      FROM assign a JOIN e ON a.vec_id = e.vec_id, range(1, 65) r(i)),
              |g AS (SELECT c_id, dim, CAST(COUNT(*) AS BIGINT) AS n,
              |             list_reduce(list_sort(list(v)), (p, q) -> p + q) AS ssum
              |      FROM x GROUP BY c_id, dim),
              |m AS (SELECT c_id, dim, n, ${rrepr("ssum / n", 6)} AS mean FROM g),
              |cent AS (SELECT vec_id AS c_id, CAST(i - 1 AS INT) AS dim, emb[i] AS cv
              |         FROM e, range(1, 65) r(i) WHERE vec_id < 8),
              |dd AS (SELECT m.c_id, m.n,
              |         list_reduce(list_prepend(0.0::DOUBLE,
              |           list_sort(list((m.mean - cent.cv) * (m.mean - cent.cv)))),
              |           (p, q) -> p + q) AS ss
              |       FROM m JOIN cent ON cent.c_id = m.c_id AND cent.dim = m.dim
              |       GROUP BY m.c_id, m.n)
              |SELECT c_id, n, ${rrepr("sqrt(ss)", 6)} AS dist
              |FROM dd ORDER BY c_id""".stripMargin)),

    // Quantized ANN: int8-code candidate scan (p17's 4x-smaller codes)
    // with exact float re-rank of a per-query shortlist — the
    // storage-bandwidth scale path for brute-force search. Integer
    // code dots are exact cross-engine, so the whole two-stage ranking
    // is hash-checkable.
    QueryDef("p21_ann_quantized",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        Ann.quantizedTopK(emb, emb.filter(col("vec_id") < 3), k = 5, shortlist = 20)
          .orderBy("q_id", "rn")
      },
      Some {
        def codeDot(a: String, b: String) =
          s"list_reduce([$a[i]*$b[i] FOR i IN range(1, len($a)+1)], (p,q) -> p+q)"
        s"""WITH $embCte,
           |sc AS (SELECT vec_id, emb, list_max([abs(x) FOR x IN emb]) AS scale0 FROM e),
           |qz AS (SELECT vec_id, emb,
           |        [CAST(CAST(ROUND(CAST(CAST((CASE WHEN scale0 = 0 THEN 0 ELSE x / scale0 * 127 END) AS VARCHAR) AS DECIMAL(38,18)), 0) AS INT) AS DOUBLE)
           |         FOR x IN emb] AS codes
           |       FROM sc),
           |qn AS (SELECT vec_id, emb, codes, sqrt(${codeDot("codes", "codes")}) AS cn FROM qz),
           |cand AS (SELECT q.vec_id AS q_id, v.vec_id AS vec_id, v.emb AS ve, q.emb AS qe,
           |                CASE WHEN v.cn * q.cn > 0
           |                     THEN ${rrepr(codeDot("v.codes", "q.codes") + " / (v.cn * q.cn)", 6)}
           |                END AS qsim
           |         FROM qn v, qn q
           |         WHERE q.vec_id < 3 AND v.vec_id <> q.vec_id),
           |short AS (SELECT q_id, vec_id, ve, qe FROM (
           |    SELECT c.*, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY qsim DESC NULLS LAST, vec_id) AS qrn
           |    FROM cand c) t WHERE qrn <= 20),
           |scored AS (SELECT q_id, vec_id,
           |                  CASE WHEN ${dnorm2("ve")} * ${dnorm2("qe")} > 0
           |                       THEN ${rrepr(dcos("ve", "qe"), 3)}
           |                  END AS sim FROM short)
           |SELECT q_id, vec_id, sim, CAST(rn AS INT) AS rn FROM (
           |  SELECT q_id, vec_id, sim,
           |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC NULLS LAST, vec_id) AS rn
           |  FROM scored) t
           |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
      }),

    // ---- Text analysis --------------------------------------------------

    QueryDef("p08_text_stats",
      (s, d) => TextAnalysis.stats(T(s, d, "documents")).orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              |       CAST(length(text) AS BIGINT) AS n_chars,
              |       ${rrepr("CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE) / len(string_split(text,' '))", 3)} AS avg_token_len
              |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("p09_quality_score",
      (s, d) => TextAnalysis.qualityScore(T(s, d, "documents")).orderBy("doc_id"),
      Some {
        val stops = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
           |agg AS (SELECT doc_id, COUNT(*) AS n_tokens,
           |        CAST(SUM(CASE WHEN token IN ($stops) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
           |        FROM tok GROUP BY doc_id)
           |SELECT doc_id, n_tokens,
           |  ${rrepr("CAST(n_stop AS DOUBLE) / n_tokens", 4)} AS stop_ratio,
           |  ${rrepr("LEAST(1.0, CAST(n_tokens AS DOUBLE) / 50) * 0.5 + (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5", 4)} AS score
           |FROM agg ORDER BY doc_id""".stripMargin
      }),

    QueryDef("p10_lang_id",
      (s, d) => TextAnalysis.langId(T(s, d, "documents")).orderBy("doc_id"),
      Some {
        val langs = Seq("en", "es", "de", "fr", "zh")
        val sums = langs.map { l =>
          val stops = TextAnalysis.stopwords(l).map(w => s"'$w'").mkString(", ")
          s"SUM(CASE WHEN token IN ($stops) THEN 1 ELSE 0 END) AS s_$l"
        }.mkString(",\n        ")
        val best = s"GREATEST(${langs.map(l => s"s_$l").mkString(", ")})"
        val pred = langs.map(l => s"WHEN s_$l = $best AND $best > 0 THEN '$l'").mkString(" ")
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
           |sc AS (SELECT doc_id,
           |        $sums
           |       FROM tok GROUP BY doc_id)
           |SELECT doc_id, CASE $pred ELSE 'und' END AS pred_lang,
           |       CAST($best AS BIGINT) AS hits
           |FROM sc ORDER BY doc_id""".stripMargin
      }),

    QueryDef("p11_fingerprints",
      (s, d) => TextAnalysis.fingerprints(T(s, d, "documents")).orderBy("doc_id"),
      Some("""WITH g AS (SELECT doc_id, i AS pos, md5(substring(text, CAST(i AS INT), 5)) AS h
             |           FROM documents, range(1, 1000) r(i)
             |           WHERE i <= length(text) - 4),
             |wm AS (SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY pos
             |                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wm FROM g),
             |agg AS (SELECT doc_id, COUNT(DISTINCT wm) AS n_fp, MIN(wm) AS min_fp
             |        FROM wm GROUP BY doc_id)
             |SELECT d.doc_id, CAST(COALESCE(a.n_fp, 0) AS BIGINT) AS n_fp, a.min_fp
             |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin)),

    QueryDef("p12_token_counts",
      (s, d) => TextAnalysis.tokenCounts(T(s, d, "documents")).orderBy("doc_id"),
      Some("""SELECT doc_id,
             |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
             |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_re
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // PII scrub — the redaction stage before any training use. The
    // fixture corpus carries no PII, so the PII-bearing text is
    // synthesized deterministically from customer keys (identical
    // construction in both engines); the operator itself
    // (TextAnalysis.scrubPii) is generic. Patterns are Java-regex ∩
    // RE2 syntax, so Spark and DuckDB match identically.
    QueryDef("p22_pii_scrub",
      (s, d) => TextAnalysis.scrubPii(
        T(s, d, "customer").select(col("c_custkey").as("doc_id"),
          concat(col("c_name"), lit(" reach me at user"), col("c_custkey"),
            lit("@example.com or 555-"),
            lpad(pmod(col("c_custkey"), lit(10000)).cast("string"), 4, "0"),
            lit(" thanks")).as("text")))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT c_custkey AS doc_id,
              |  c_name || ' reach me at user' || CAST(c_custkey AS VARCHAR) ||
              |  '@example.com or 555-' ||
              |  lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') || ' thanks' AS text
              |FROM customer)
              |SELECT doc_id,
              |  CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
              |  CAST(len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}')) AS BIGINT) AS n_phones,
              |  regexp_replace(regexp_replace(text, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
              |                 '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS scrubbed
              |FROM t ORDER BY doc_id""".stripMargin)),

    // Repetition-based quality filter (Gopher-style): top-bigram
    // fraction + distinct-token ratio per document.
    QueryDef("p23_repetition",
      (s, d) => TextAnalysis.repetition(T(s, d, "documents")).orderBy("doc_id"),
      Some(s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              |bg AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bg
              |       FROM tk WHERE len(t) >= 2),
              |c AS (SELECT doc_id, bg, COUNT(*) AS n FROM bg GROUP BY doc_id, bg),
              |agg AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
              |               CAST(MAX(n) AS BIGINT) AS top_n
              |        FROM c GROUP BY doc_id),
              |tok AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
              |               CAST(COUNT(DISTINCT tokk) AS BIGINT) AS n_distinct
              |        FROM (SELECT doc_id, unnest(t) AS tokk FROM tk) z GROUP BY doc_id)
              |SELECT t.doc_id,
              |  COALESCE(a.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
              |  COALESCE(a.top_n, CAST(0 AS BIGINT)) AS top_n,
              |  ${rrepr("CAST(a.top_n AS DOUBLE) / a.n_bigrams", 4)} AS top_frac,
              |  ${rrepr("CAST(t.n_distinct AS DOUBLE) / t.n_tok", 4)} AS distinct_ratio
              |FROM tok t LEFT JOIN agg a ON a.doc_id = t.doc_id
              |ORDER BY t.doc_id""".stripMargin)),

    // Attribute-based quality gate (taggers + mixer): every rule is an
    // auditable boolean column over the ROUNDED metrics its component
    // operator emits; kept = conjunction. Thresholds tuned so the
    // fixture yields a real mix of verdicts.
    QueryDef("p31_quality_gate",
      (s, d) => TextAnalysis.qualityGate(T(s, d, "documents"),
        minTokens = 30, maxTopFrac = 0.2, minStopRatio = 0.05).orderBy("doc_id"),
      Some(s"$gateChainSql\nSELECT * FROM gate ORDER BY doc_id")),

    // Deterministic train/val/test split via `Mix.hashSplit`:
    // membership is a pure function of the doc id (salted md5-uniform
    // bucket vs the cumulative fractions), so a doc never migrates
    // between splits when other docs arrive or leave — reproducible
    // across engines and runs (RNG-seeded splits can't be
    // hash-checked, hash splits can). Per-doc assignment output for a
    // strong cross-engine hash; one narrow codegen'd expression, no
    // shuffle beyond the query's own ORDER BY.
    QueryDef("r48_hash_split",
      (s, d) => Mix.hashSplit(T(s, d, "documents"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |       CASE WHEN b < 8000 THEN 'train'
             |            WHEN b < 9000 THEN 'val'
             |            ELSE 'test' END AS split
             |FROM (SELECT doc_id,
             |        ('0x' || substr(md5('sp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS b
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // Document chunking: 32-token windows, 8-token overlap (stride 24)
    // — the raw-doc -> training-window stage; the tail chunk covers the
    // remainder. One narrow map, chunk count ∝ doc length.
    QueryDef("p24_doc_chunks",
      (s, d) => TextAnalysis.chunk(T(s, d, "documents"))
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |n AS (SELECT doc_id, t,
             |        CAST(CEIL(GREATEST(1.0, CAST(len(t) - 8 AS DOUBLE)) / 24) AS INT) AS nc
             |      FROM tk),
             |ch AS (SELECT doc_id, CAST(i - 1 AS INT) AS chunk_idx,
             |         array_to_string(t[(i-1)*24 + 1 : (i-1)*24 + 32], ' ') AS chunk_text
             |       FROM n, range(1, 10000) r(i) WHERE i <= nc)
             |SELECT doc_id, chunk_idx, chunk_text,
             |       CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS n_tokens
             |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Benchmark decontamination: training docs (90% split) flagged by
    // how many distinct word 8-grams they share with the held-out eval
    // split — the GPT-3/Pile n-gram overlap check (8-grams: 3-grams
    // flag ~95% of synthetic docs, 8-grams only true overlaps). The
    // eval shingle set is broadcast; work ∝ training shingles.
    QueryDef("p26_decontaminate",
      (s, d) => {
        val docs = T(s, d, "documents")
        Dedup.contamination(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0), n = 8)
          .orderBy("doc_id")
      },
      Some(s"""WITH ${shCteN(8)},
              |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
              |tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 0),
              |hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
              |         FROM tr JOIN ev USING (shingle) GROUP BY doc_id)
              |SELECT d.doc_id,
              |       COALESCE(h.n_contaminated, CAST(0 AS BIGINT)) AS n_contaminated,
              |       COALESCE(h.n_contaminated, 0) > 0 AS contaminated
              |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
              |LEFT JOIN hits h ON h.doc_id = d.doc_id
              |ORDER BY d.doc_id""".stripMargin)),

    // Eval-side contamination report (the release-appendix table):
    // fraction of each held-out doc's distinct 8-grams present in the
    // train split, thresholded at 0.2. Complements p26 (train-side
    // drop flags) — same shingle space, opposite direction.
    QueryDef("p57_contamination_report",
      (s, d) => {
        val docs = T(s, d, "documents")
        Dedup.contaminationReport(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0), n = 8, threshold = 0.2)
          .orderBy("doc_id")
      },
      Some(s"""WITH ${shCteN(8)},
              |tr AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 <> 0),
              |ev AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 = 0),
              |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
              |       FROM ev GROUP BY doc_id),
              |h AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
              |      FROM ev JOIN tr USING (shingle) GROUP BY doc_id),
              |r AS (SELECT pd.doc_id, pd.n_grams,
              |             COALESCE(h.n_hit, CAST(0 AS BIGINT)) AS n_hit
              |      FROM pd LEFT JOIN h USING (doc_id)),
              |f AS (SELECT r.*, ${rrepr("n_hit / n_grams", 4)} AS overlap_frac FROM r)
              |SELECT doc_id, n_grams, n_hit, overlap_frac,
              |       overlap_frac >= 0.2 AS contaminated
              |FROM f ORDER BY doc_id""".stripMargin)),

    // Corpus diversity: distinct-n at n = 1, 2, 3 — total grams,
    // unique grams, and the ratio. Three explode+count-distinct
    // aggregations, |ns| output rows.
    QueryDef("r64_distinct_ngrams",
      (s, d) => TextAnalysis.distinctNgrams(T(s, d, "documents")),
      Some(s"""WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
              |g1 AS (SELECT unnest(t) AS g FROM t),
              |a1 AS (SELECT 1 AS n, CAST(COUNT(*) AS BIGINT) AS total,
              |              CAST(COUNT(DISTINCT g) AS BIGINT) AS uniq FROM g1),
              |g2 AS (SELECT unnest([array_to_string(t[i:i+1], ' ')
              |                      FOR i IN range(1, len(t))]) AS g
              |       FROM t WHERE len(t) >= 2),
              |a2 AS (SELECT 2 AS n, CAST(COUNT(*) AS BIGINT) AS total,
              |              CAST(COUNT(DISTINCT g) AS BIGINT) AS uniq FROM g2),
              |g3 AS (SELECT unnest([array_to_string(t[i:i+2], ' ')
              |                      FOR i IN range(1, len(t)-1)]) AS g
              |       FROM t WHERE len(t) >= 3),
              |a3 AS (SELECT 3 AS n, CAST(COUNT(*) AS BIGINT) AS total,
              |              CAST(COUNT(DISTINCT g) AS BIGINT) AS uniq FROM g3),
              |u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2
              |      UNION ALL SELECT * FROM a3)
              |SELECT n, total, uniq, ${rrepr("uniq / total", 6)} AS distinct_frac
              |FROM u ORDER BY n""".stripMargin)),

    // Sequence packing: chunks concatenated per md5-shard in
    // (doc_id, chunk_idx) order, every 64 tokens of a shard's stream =
    // one training bin (concatenate-then-split; chunks may straddle
    // bins). The shard is the parallelism unit — no global stream —
    // and the count is input-derived (floor 4 keeps the gate-scale
    // output on the oracle's % 4).
    QueryDef("p27_pack_sequences",
      (s, d) => TextAnalysis.packSequencesAuto(
          TextAnalysis.chunk(T(s, d, "documents")), ctxTokens = 64,
          minShards = 4)
        .orderBy("shard", "tok_start", "doc_id", "chunk_idx"),
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |n AS (SELECT doc_id, t,
             |        CAST(CEIL(GREATEST(1.0, CAST(len(t) - 8 AS DOUBLE)) / 24) AS INT) AS nc
             |      FROM tk),
             |ch AS (SELECT doc_id, CAST(i - 1 AS INT) AS chunk_idx,
             |         CAST(len(string_split(array_to_string(t[(i-1)*24 + 1 : (i-1)*24 + 32], ' '), ' ')) AS BIGINT) AS n_tokens
             |       FROM n, range(1, 10000) r(i) WHERE i <= nc),
             |sh AS (SELECT doc_id, chunk_idx, n_tokens,
             |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 4 AS shard
             |       FROM ch),
             |pk AS (SELECT doc_id, chunk_idx, shard, n_tokens,
             |         CAST(SUM(n_tokens) OVER (PARTITION BY shard
             |           ORDER BY doc_id, chunk_idx) AS BIGINT) AS tok_end
             |       FROM sh)
             |SELECT doc_id, chunk_idx, shard, tok_end - n_tokens AS tok_start,
             |       (tok_end - n_tokens) // 64 AS first_bin,
             |       (tok_end - 1) // 64 AS last_bin
             |FROM pk ORDER BY shard, tok_start, doc_id, chunk_idx""".stripMargin)),

    // Two-pass histogram quantiles: bounded-error estimates without a
    // sort or an engine-specific sketch — unlike r47's gated
    // approx_percentile, hash-exact against the oracle because the
    // histogram + midpoint arithmetic is IEEE-identical both sides.
    QueryDef("r73_histogram_quantiles",
      (s, d) => graft.functions.Sketch.histogramQuantiles(
        T(s, d, "lineitem"), "l_extendedprice",
        Seq(0.25, 0.5, 0.75, 0.95), bins = 1024),
      Some("""WITH b AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
             |           WHERE l_extendedprice IS NOT NULL),
             |mm AS (SELECT MIN(v) AS lo, MAX(v) AS hi, CAST(COUNT(*) AS BIGINT) AS n FROM b),
             |bn AS (SELECT CAST(CASE WHEN mm.hi = mm.lo THEN 0
             |         ELSE LEAST(1023, FLOOR((v - lo) / (hi - lo) * 1024)) END AS INT) AS bin
             |       FROM b CROSS JOIN mm),
             |bc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS c FROM bn GROUP BY bin),
             |cum AS (SELECT bin, c, CAST(SUM(c) OVER (ORDER BY bin) AS BIGINT) AS cum FROM bc),
             |qs AS (SELECT CAST(q AS DOUBLE) AS q
             |       FROM (VALUES (0.25), (0.5), (0.75), (0.95)) v(q)),
             |rk AS (SELECT q, GREATEST(CAST(1 AS BIGINT), CAST(CEIL(q * mm.n) AS BIGINT)) AS rank
             |       FROM qs CROSS JOIN mm),
             |pick AS (SELECT rk.q, rk.rank, MIN(cum.bin) AS bin
             |         FROM rk JOIN cum ON cum.cum >= rk.rank GROUP BY rk.q, rk.rank),
             |edges AS (SELECT p.q, p.rank, p.bin,
             |            lo + p.bin * ((hi - lo) / 1024) AS blo,
             |            lo + (p.bin + 1) * ((hi - lo) / 1024) AS bhi
             |          FROM pick p CROSS JOIN mm)
             |SELECT q, rank, bin, blo, bhi, (blo + bhi) / 2 AS est
             |FROM edges ORDER BY q""".stripMargin)),

    // Per-sentence script consistency: docs with doc_id%3==0 plant a
    // Cyrillic sentence inside English (mixed), %3==2 an 'und'
    // digits-only sentence (counts to n_sent, never to n_scripts or
    // the mismatch), %3==1 stays pure.
    QueryDef("r76_script_consistency", {
      (s, d) => {
        val aug = T(s, d, "documents").select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            lit("English words here. привет мир сегодня. More english follows"))
            .when(col("doc_id") % 3 === 1,
              lit("Plain english one. Plain english two"))
            .otherwise(lit("Some words first. 123 456. Tail words"))
            .as("text"))
        TextAnalysis.scriptConsistency(aug).orderBy("doc_id")
      }},
      Some {
        def cnts(src: String) = Seq(
          "l" -> "[A-Za-z]", "cy" -> "[\\x{0400}-\\x{04ff}]",
          "ck" -> "[\\x{3040}-\\x{30ff}\\x{4e00}-\\x{9fff}]",
          "ar" -> "[\\x{0600}-\\x{06ff}]").map { case (nm, re) =>
          s"len($src) - len(regexp_replace($src, '$re', '', 'g')) AS $nm"
        }.mkString(",\n        ")
        val g = "GREATEST(l, cy, ck, ar)"
        val cse = s"""CASE WHEN $g = 0 THEN 'und'
                     |     WHEN l = $g THEN 'latin'
                     |     WHEN cy = $g THEN 'cyrillic'
                     |     WHEN ck = $g THEN 'cjk' ELSE 'arabic' END""".stripMargin
        s"""WITH aug AS (SELECT doc_id, CASE CAST(doc_id % 3 AS INT)
           |    WHEN 0 THEN 'English words here. привет мир сегодня. More english follows'
           |    WHEN 1 THEN 'Plain english one. Plain english two'
           |    ELSE 'Some words first. 123 456. Tail words' END AS text
           |  FROM documents),
           |dcnt AS (SELECT doc_id,
           |        ${cnts("text")}
           |       FROM aug),
           |doc AS (SELECT doc_id, $cse AS doc_script FROM dcnt),
           |sl AS (SELECT doc_id,
           |         [x FOR x IN [trim(y) FOR y IN regexp_extract_all(text, '[^.!?]+([.!?]+|$$)')] IF x <> ''] AS ss
           |       FROM aug),
           |sen AS (SELECT doc_id, unnest(ss) AS s FROM sl),
           |scnt AS (SELECT doc_id,
           |        ${cnts("s")}
           |       FROM sen),
           |ssc AS (SELECT doc_id, $cse AS script FROM scnt),
           |agg AS (SELECT ssc.doc_id, d.doc_script,
           |    CAST(COUNT(*) AS BIGINT) AS n_sent,
           |    CAST(COUNT(DISTINCT CASE WHEN script <> 'und' THEN script END) AS BIGINT) AS n_scripts,
           |    CAST(SUM(CASE WHEN script = d.doc_script OR script = 'und' THEN 1 ELSE 0 END) AS BIGINT) AS n_match
           |  FROM ssc JOIN doc d USING (doc_id) GROUP BY ssc.doc_id, d.doc_script)
           |SELECT doc_id, doc_script, n_sent, n_scripts, n_match,
           |  ${rrepr("CAST(n_match AS DOUBLE) / n_sent", 4)} AS consistency,
           |  n_scripts > 1 AS mixed
           |FROM agg ORDER BY doc_id""".stripMargin
      }),

    // Character-distribution entropy (nats): the below-the-token
    // quality signal — gibberish high, repeated-char padding near 0.
    QueryDef("r75_char_entropy",
      (s, d) => TextAnalysis.charEntropy(T(s, d, "documents"))
        .orderBy("doc_id"),
      Some(s"""WITH d AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
              |ch AS (SELECT doc_id, unnest([t[i] FOR i IN range(1, len(t) + 1)]) AS ch FROM d),
              |c AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c FROM ch GROUP BY doc_id, ch),
              |n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
              |        CAST(COUNT(*) AS BIGINT) AS n_distinct FROM c GROUP BY doc_id),
              |tm AS (SELECT c.doc_id, n.n, n.n_distinct,
              |         (c.c::DOUBLE / n.n) * ${rrepr("ln(c.c::DOUBLE / n.n)", 6)} AS term
              |       FROM c JOIN n ON n.doc_id = c.doc_id),
              |e AS (SELECT doc_id, n, n_distinct,
              |        ${rrepr("-list_reduce(list_sort(list(term)), (x, y) -> x + y)", 6)} AS entropy
              |      FROM tm GROUP BY doc_id, n, n_distinct)
              |SELECT d2.doc_id, CAST(COALESCE(e.n, 0) AS BIGINT) AS n_chars,
              |       CAST(COALESCE(e.n_distinct, 0) AS BIGINT) AS n_distinct, e.entropy
              |FROM (SELECT DISTINCT doc_id FROM documents) d2 LEFT JOIN e USING (doc_id)
              |ORDER BY d2.doc_id""".stripMargin)),

    // C4 duplicated-span removal at sentence granularity: all even
    // docs share a leading 3-sentence block — the min-id occurrence
    // keeps it, every other even doc is reduced to its unique tail
    // sentence; odd docs (1 sentence, no spans) pass through whole.
    QueryDef("p60_span_dedup",
      (s, d) => {
        val aug = T(s, d, "documents").select(col("doc_id"),
          when(col("doc_id") % 2 === 0,
            concat(lit("Shared one. Shared two. Shared three. Unique "),
              col("doc_id").cast("string"), lit(" tail")))
            .otherwise(concat(lit("Only sentence "),
              col("doc_id").cast("string"), lit("."))).as("text"))
        Dedup.spanDedup(aug, n = 3).orderBy("doc_id")
      },
      Some("""WITH aug AS (SELECT doc_id,
             |    CASE WHEN doc_id % 2 = 0
             |      THEN 'Shared one. Shared two. Shared three. Unique ' || CAST(doc_id AS VARCHAR) || ' tail'
             |      ELSE 'Only sentence ' || CAST(doc_id AS VARCHAR) || '.' END AS text
             |  FROM documents),
             |sl AS (SELECT doc_id,
             |         [x FOR x IN [trim(y) FOR y IN regexp_extract_all(text, '[^.!?]+([.!?]+|$)')] IF x <> ''] AS ss
             |       FROM aug),
             |spn AS (SELECT doc_id, z.st AS st, z.h AS h FROM (
             |    SELECT doc_id,
             |      unnest([{'st': i - 1, 'h': md5(array_to_string(ss[i:i+2], chr(1)))}
             |              FOR i IN range(1, len(ss) - 1)]) AS z
             |    FROM sl WHERE len(ss) >= 3) t),
             |o1 AS (SELECT h, MIN(doc_id) AS od FROM spn GROUP BY h),
             |o2 AS (SELECT spn.h, o1.od, MIN(spn.st) AS os
             |       FROM spn JOIN o1 ON o1.h = spn.h AND spn.doc_id = o1.od
             |       GROUP BY spn.h, o1.od),
             |rm AS (SELECT DISTINCT doc_id, sent_idx FROM (
             |    SELECT s.doc_id, unnest([s.st + j FOR j IN [0, 1, 2]]) AS sent_idx
             |    FROM spn s JOIN o2 ON o2.h = s.h
             |    WHERE NOT (s.doc_id = o2.od AND s.st = o2.os)) t),
             |idx AS (SELECT doc_id,
             |          unnest([{'i': i - 1, 's': ss[i]} FOR i IN range(1, len(ss) + 1)]) AS z
             |        FROM sl),
             |sen AS (SELECT doc_id, CAST(z.i AS INT) AS sent_idx, z.s AS sentence FROM idx),
             |fl AS (SELECT sen.doc_id, sen.sent_idx, sen.sentence,
             |         rm.doc_id IS NULL AS kept
             |       FROM sen LEFT JOIN rm
             |         ON rm.doc_id = sen.doc_id AND rm.sent_idx = sen.sent_idx)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sent,
             |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  COALESCE(string_agg(CASE WHEN kept THEN sentence END, ' ' ORDER BY sent_idx), '') AS clean_text
             |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Winnowed-fingerprint overlap pairs over the raw corpus: the
    // character-level (MOSS) near-dup candidate tier — doc pairs
    // sharing >= 3 winnowed k-gram hashes after the common-fingerprint
    // (df > 20) drop; the oracle mirrors hash, window-min, df filter
    // and pair join exactly.
    QueryDef("p62_fingerprint_pairs",
      (s, d) => Dedup.fingerprintPairs(T(s, d, "documents"))
        .orderBy("d1", "d2"),
      Some("""WITH d AS (SELECT doc_id, text FROM documents
             |           WHERE text IS NOT NULL AND length(text) >= 5),
             |hs AS (SELECT doc_id, [md5(text[i:i+4]) FOR i IN range(1, length(text) - 3)] AS hs FROM d),
             |wm AS (SELECT DISTINCT doc_id,
             |         unnest([list_min(hs[j:least(j+3, len(hs))]) FOR j IN range(1, len(hs)+1)]) AS fp
             |       FROM hs),
             |df AS (SELECT fp FROM wm GROUP BY fp HAVING COUNT(*) <= 20),
             |f AS (SELECT wm.doc_id, wm.fp FROM wm JOIN df USING (fp))
             |SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS shared
             |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
             |GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 3
             |ORDER BY d1, d2""".stripMargin)),

    // Span-level decontamination: every third doc opens with a planted
    // leaked sentence (10 words — three 8-grams of its own); train
    // docs carrying it lose exactly that sentence and keep their tail,
    // while the corpus text itself (one unterminated sentence per doc)
    // stays subject to REAL cross-split 8-gram hits, which the oracle
    // mirrors shingle for shingle.
    QueryDef("p61_decontaminate_spans",
      (s, d) => {
        val aug = T(s, d, "documents").select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(lit("alpha beta gamma delta epsilon zeta eta theta iota kappa. "),
              coalesce(col("text"), lit(""))))
            .otherwise(col("text")).as("text"))
        Dedup.decontaminateSpans(
            aug.filter(col("doc_id") % 10 =!= 0),
            aug.filter(col("doc_id") % 10 === 0), n = 8)
          .orderBy("doc_id")
      },
      Some("""WITH aug AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
             |    THEN 'alpha beta gamma delta epsilon zeta eta theta iota kappa. ' || COALESCE(text, '')
             |    ELSE text END AS text
             |  FROM documents),
             |et AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug WHERE doc_id % 10 = 0),
             |ev AS (SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS shingle FROM (
             |    SELECT unnest([array_to_string(t[i:i+7], ' ') FOR i IN range(1, len(t)-6)]) AS g
             |    FROM et WHERE len(t) >= 8) raw),
             |sl AS (SELECT doc_id,
             |         [x FOR x IN [trim(y) FOR y IN regexp_extract_all(COALESCE(text, ''), '[^.!?]+([.!?]+|$)')] IF x <> ''] AS ss
             |       FROM aug WHERE doc_id % 10 <> 0),
             |sen AS (SELECT doc_id, CAST(z.i AS INT) AS sent_idx, z.s AS sentence FROM (
             |    SELECT doc_id, unnest([{'i': i - 1, 's': ss[i]} FOR i IN range(1, len(ss) + 1)]) AS z
             |    FROM sl) t),
             |st AS (SELECT doc_id, sent_idx, string_split(sentence, ' ') AS t FROM sen),
             |ssh AS (SELECT DISTINCT doc_id, sent_idx,
             |          ('0x' || substr(md5(g), 1, 15))::BIGINT AS shingle FROM (
             |    SELECT doc_id, sent_idx, unnest([array_to_string(t[i:i+7], ' ') FOR i IN range(1, len(t)-6)]) AS g
             |    FROM st WHERE len(t) >= 8) raw),
             |rm AS (SELECT DISTINCT doc_id, sent_idx FROM ssh JOIN ev USING (shingle)),
             |fl AS (SELECT sen.doc_id, sen.sent_idx, sen.sentence, rm.doc_id IS NULL AS kept
             |       FROM sen LEFT JOIN rm ON rm.doc_id = sen.doc_id AND rm.sent_idx = sen.sent_idx)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sent,
             |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  COALESCE(string_agg(CASE WHEN kept THEN sentence END, ' ' ORDER BY sent_idx), '') AS clean_text
             |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Grouped histogram quantiles: per-returnflag price quantiles, the
    // bounded-error per-domain form for continuous metrics (exact
    // percentile's counts-map state is distinct-values-sized).
    QueryDef("r74_group_quantiles",
      (s, d) => graft.functions.Sketch.histogramQuantilesBy(
        T(s, d, "lineitem"), "l_returnflag", "l_extendedprice",
        Seq(0.5, 0.9), bins = 256),
      Some("""WITH b AS (SELECT l_returnflag AS grp, CAST(l_extendedprice AS DOUBLE) AS v
             |           FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |mm AS (SELECT grp, MIN(v) AS lo, MAX(v) AS hi, CAST(COUNT(*) AS BIGINT) AS n
             |       FROM b GROUP BY grp),
             |bn AS (SELECT b.grp, CAST(CASE WHEN mm.hi = mm.lo THEN 0
             |         ELSE LEAST(255, FLOOR((v - lo) / (hi - lo) * 256)) END AS INT) AS bin
             |       FROM b JOIN mm ON mm.grp = b.grp),
             |bc AS (SELECT grp, bin, CAST(COUNT(*) AS BIGINT) AS c FROM bn GROUP BY grp, bin),
             |cum AS (SELECT grp, bin, c,
             |          CAST(SUM(c) OVER (PARTITION BY grp ORDER BY bin) AS BIGINT) AS cum
             |        FROM bc),
             |qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.5), (0.9)) v(q)),
             |rk AS (SELECT mm.grp, q, GREATEST(CAST(1 AS BIGINT), CAST(CEIL(q * mm.n) AS BIGINT)) AS rank
             |       FROM qs CROSS JOIN mm),
             |pick AS (SELECT rk.grp, rk.q, rk.rank, MIN(cum.bin) AS bin
             |         FROM rk JOIN cum ON cum.grp = rk.grp AND cum.cum >= rk.rank
             |         GROUP BY rk.grp, rk.q, rk.rank),
             |edges AS (SELECT p.grp AS "group", p.q, p.rank, p.bin,
             |            lo + p.bin * ((hi - lo) / 256) AS blo,
             |            lo + (p.bin + 1) * ((hi - lo) / 256) AS bhi
             |          FROM pick p JOIN mm ON mm.grp = p.grp)
             |SELECT "group", q, rank, bin, blo, bhi, (blo + bhi) / 2 AS est
             |FROM edges ORDER BY "group", q""".stripMargin)),

    // Rule-based sentence segmentation over punctuation planted around
    // the fixture text (which itself carries none): leading sentence,
    // the doc body as one long sentence, a bang and a question
    // terminator, and an unterminated tail.
    QueryDef("r72_sentences",
      (s, d) => TextAnalysis.sentences(
          T(s, d, "documents").select(col("doc_id"),
            concat(lit("Intro words. "), coalesce(col("text"), lit("")),
              lit("! Question part? trailing bit")).as("text")))
        .orderBy("doc_id", "sent_idx"),
      Some("""WITH aug AS (SELECT doc_id,
             |    'Intro words. ' || COALESCE(text, '') || '! Question part? trailing bit' AS text
             |  FROM documents),
             |s AS (SELECT doc_id,
             |        [x FOR x IN [trim(y) FOR y IN regexp_extract_all(text, '[^.!?]+([.!?]+|$)')] IF x <> ''] AS ss
             |      FROM aug),
             |e AS (SELECT doc_id,
             |        unnest([{'i': i, 'v': ss[i]} FOR i IN range(1, len(ss) + 1)]) AS z
             |      FROM s)
             |SELECT doc_id, CAST(z.i - 1 AS INT) AS sent_idx, z.v AS sentence,
             |       CAST(len(string_split(z.v, ' ')) AS INT) AS n_tokens
             |FROM e ORDER BY doc_id, sent_idx""".stripMargin)),

    // Packing-efficiency report over the p27 layout: per shard, bins
    // filled, padding tokens (only each shard's final partial bin
    // under concatenate-then-split), and boundary-straddling chunks.
    QueryDef("r71_packing_stats",
      (s, d) => TextAnalysis.packingStats(
          TextAnalysis.chunk(T(s, d, "documents")), ctxTokens = 64,
          shards = 4)
        .orderBy("shard"),
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |n AS (SELECT doc_id, t,
             |        CAST(CEIL(GREATEST(1.0, CAST(len(t) - 8 AS DOUBLE)) / 24) AS INT) AS nc
             |      FROM tk),
             |ch AS (SELECT doc_id, CAST(i - 1 AS INT) AS chunk_idx,
             |         CAST(len(string_split(array_to_string(t[(i-1)*24 + 1 : (i-1)*24 + 32], ' '), ' ')) AS BIGINT) AS n_tokens
             |       FROM n, range(1, 10000) r(i) WHERE i <= nc),
             |sh AS (SELECT doc_id, chunk_idx, n_tokens,
             |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 4 AS shard
             |       FROM ch),
             |pk AS (SELECT doc_id, chunk_idx, shard, n_tokens,
             |         CAST(SUM(n_tokens) OVER (PARTITION BY shard
             |           ORDER BY doc_id, chunk_idx) AS BIGINT) AS tok_end
             |       FROM sh),
             |agg AS (SELECT shard,
             |         CAST(COUNT(*) AS BIGINT) AS n_chunks,
             |         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             |         CAST(SUM(CASE WHEN (tok_end - n_tokens) // 64 <> (tok_end - 1) // 64
             |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling
             |       FROM pk GROUP BY shard),
             |b AS (SELECT shard, n_chunks, n_tokens,
             |        (n_tokens + 63) // 64 AS n_bins, n_straddling FROM agg)
             |SELECT shard, n_chunks, n_tokens, n_bins,
             |  n_bins * 64 - n_tokens AS pad_tokens,
             |  """.stripMargin +
        rrepr("CAST(n_bins * 64 - n_tokens AS DOUBLE) / (n_bins * 64)", 4) +
        """ AS pad_frac,
          |  n_straddling
          |FROM b ORDER BY shard""".stripMargin)),

    // Top-3 distinguishing terms per doc by tf-idf (linear idf: tf/df
    // is IEEE-exact in both engines where ln may differ in the last
    // ulp; ordering is identical for fixed tf).
    QueryDef("p28_tfidf",
      (s, d) => TextAnalysis.tfidf(T(s, d, "documents"), k = 3)
        .orderBy("doc_id", "rk"),
      Some(s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              |            FROM documents),
              |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
              |       FROM tok GROUP BY doc_id, token),
              |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
              |sc AS (SELECT t.doc_id, t.token, t.tf, f.df,
              |              ${rrepr("CAST(t.tf AS DOUBLE) / f.df", 4)} AS score
              |       FROM tf t JOIN df f USING (token))
              |SELECT doc_id, token, tf, df, score, CAST(rk AS INT) AS rk FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              |    ORDER BY score DESC, token) AS rk FROM sc) z
              |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)),

    // Corpus-unigram likelihood score (the LM-perplexity filter analog,
    // CCNet-style): mean token probability under the corpus's own
    // unigram distribution. Linear probabilities, not log — cnt/total
    // is IEEE-exact cross-engine where ln differs in the last ulp; the
    // per-doc fold runs in sorted order so the sum is reproducible.
    QueryDef("p32_unigram_lm",
      (s, d) => TextAnalysis.unigramScore(T(s, d, "documents"))
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              |            FROM documents),
              |uni AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
              |        FROM tok GROUP BY token),
              |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM tok),
              |p AS (SELECT t.doc_id, CAST(u.cnt AS DOUBLE) / n.total AS p
              |      FROM tok t JOIN uni u USING (token) CROSS JOIN n),
              |sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
              |         list_reduce(list_sort(list(p)), (x, y) -> x + y) AS s
              |       FROM p GROUP BY doc_id)
              |SELECT doc_id, n_tok, ${rrepr("s / n_tok", 6)} AS score
              |FROM sc ORDER BY doc_id""".stripMargin)),

    // Semantic dedup (SemDeDup): k-means-style cluster assignment, then
    // within-cluster cosine >= 0.4 to a lower-id cluster-mate drops a
    // vector (0.4 ~ the fixture's near-neighbor band; the threshold is
    // corpus-dependent in practice). Pair work is per-cluster (n/k
    // each), never corpus-wide.
    QueryDef("p29_semdedup",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        Ann.semDedup(emb, emb.filter(col("vec_id") < 8), simT = 0.4)
          .orderBy("vec_id")
      },
      Some(s"""WITH $embCte,
              |c AS (SELECT vec_id AS c_id, emb AS cemb FROM e WHERE vec_id < 8),
              |scored AS (SELECT e.vec_id, c.c_id,
              |                  ${rrepr(dcos("e.emb", "c.cemb"), 6)} AS csim
              |           FROM e, c),
              |assign AS (SELECT vec_id, c_id FROM (
              |    SELECT vec_id, c_id,
              |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS crn
              |    FROM scored) t WHERE crn = 1),
              |sz AS (SELECT c_id, COUNT(*) AS csz FROM assign GROUP BY c_id),
              |cap AS (SELECT a.vec_id, a.c_id FROM assign a JOIN sz USING (c_id)
              |        WHERE sz.csz <= 1000),
              |pr AS (SELECT x.vec_id AS v1, y.vec_id AS v2
              |       FROM cap x JOIN cap y ON x.c_id = y.c_id AND x.vec_id < y.vec_id
              |       JOIN e e1 ON e1.vec_id = x.vec_id
              |       JOIN e e2 ON e2.vec_id = y.vec_id
              |       WHERE ${dnorm2("e1.emb")} * ${dnorm2("e2.emb")} > 0
              |         AND ${rrepr(dcos("e1.emb", "e2.emb"), 6)} >= 0.4),
              |dr AS (SELECT DISTINCT v2 AS vec_id FROM pr)
              |SELECT a.vec_id, a.c_id, dr.vec_id IS NULL AS kept
              |FROM assign a LEFT JOIN dr ON dr.vec_id = a.vec_id
              |ORDER BY a.vec_id""".stripMargin)),

    // Deterministic global corpus shuffle: order docs by md5, sharded
    // into input-derived contiguous hash ranges so no single partition
    // ever carries the global sort — (shard, pos) IS the shuffled
    // order. Floor 256 = the hash's first byte at gate scale (what the
    // oracle computes); at 100 TB deriveShards grows it to ~25k.
    QueryDef("r49_corpus_shuffle",
      (s, d) => Mix.corpusShuffleAuto(T(s, d, "documents"))
        .orderBy("shard", "pos"),
      Some("""WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
             |SELECT doc_id, shard, CAST(pos AS INT) AS pos FROM (
             |  SELECT doc_id, ('0x' || substr(h, 1, 2))::BIGINT AS shard,
             |         ROW_NUMBER() OVER (PARTITION BY ('0x' || substr(h, 1, 2))::BIGINT
             |           ORDER BY h) AS pos
             |  FROM h) z
             |ORDER BY shard, pos""".stripMargin)),

    // Domain mixture stats: per (lang, source) counts, corpus fraction,
    // and the resampling weight that equalizes the mixture — the knob a
    // training pipeline turns to hit a target domain mix.
    QueryDef("r50_domain_mix",
      (s, d) => {
        val g = T(s, d, "documents").groupBy("lang", "source")
          .agg(count(lit(1)).as("n"))
        g.withColumn("total", sum("n").over(Window.partitionBy()))
          .withColumn("ng", count(lit(1)).over(Window.partitionBy()))
          .select(col("lang"), col("source"), col("n"),
            round(col("n") / col("total"), 6).as("frac"),
            round(col("total") / (col("ng") * col("n")), 6).as("weight"))
          .orderBy("lang", "source")
      },
      Some(s"""WITH g AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
              |           FROM documents GROUP BY lang, source),
              |t AS (SELECT *, CAST(SUM(n) OVER () AS BIGINT) AS total,
              |             CAST(COUNT(*) OVER () AS BIGINT) AS ng FROM g)
              |SELECT lang, source, n,
              |       ${rrepr("CAST(n AS DOUBLE) / total", 6)} AS frac,
              |       ${rrepr("CAST(total AS DOUBLE) / (ng * n)", 6)} AS weight
              |FROM t ORDER BY lang, source""".stripMargin)),

    // Token-budget sampling: each lang keeps docs in md5 order until
    // 2000 tokens are reached (boundary doc kept) — the op that turns
    // r50's mixture weights into an actual per-domain document sample.
    QueryDef("r51_token_budget",
      (s, d) => TextAnalysis.tokenBudgetSample(T(s, d, "documents"), 2000L)
        .orderBy("domain", "cum"),
      Some("""WITH d AS (SELECT doc_id, lang AS domain,
             |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             |             md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
             |c AS (SELECT *, CAST(SUM(n_tok) OVER (PARTITION BY domain
             |        ORDER BY h) AS BIGINT) AS cum FROM d)
             |SELECT domain, doc_id, n_tok, cum FROM c
             |WHERE cum - n_tok < 2000 ORDER BY domain, cum""".stripMargin)),

    // Passage-level exact dedup (Dolma-style paragraph dedup with
    // 16-token windows as the segmenter): corpus-wide keep-first per
    // distinct passage, docs reassembled from survivors. Sub-document
    // granularity — shared boilerplate dies, the rest of the doc lives.
    QueryDef("p30_passage_dedup",
      (s, d) => Dedup.passageDedup(T(s, d, "documents")).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |p AS (SELECT doc_id, CAST(i AS INT) AS p_idx,
             |             array_to_string(toks[(CAST(i AS INT)*16+1):(CAST(i AS INT)*16+16)], ' ') AS passage
             |      FROM t, range(0, 1000) r(i) WHERE i*16 < len(toks)),
             |k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY passage
             |                  ORDER BY doc_id, p_idx) AS rn FROM p)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pass,
             |       CAST(COALESCE(SUM(CASE WHEN rn = 1 THEN 1 END), 0) AS BIGINT) AS n_kept,
             |       COALESCE(string_agg(CASE WHEN rn = 1 THEN passage END, ' ' ORDER BY p_idx), '') AS clean_text
             |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Domain-mixture application: the equalizing weights r50 computes,
    // actually applied — floor(w) copies plus one more iff the doc's
    // md5-uniform < frac(w) (deterministic Poisson-resampling analog).
    QueryDef("r52_resample",
      (s, d) => {
        val docs = T(s, d, "documents")
        val g = docs.groupBy("lang", "source").agg(count(lit(1)).as("n"))
        val wts = g.withColumn("total", sum("n").over(Window.partitionBy()))
          .withColumn("ng", count(lit(1)).over(Window.partitionBy()))
          .select(col("lang"), col("source"),
            (col("total") / (col("ng") * col("n"))).as("weight"))
        Mix.resampleByWeight(docs, wts, Seq("lang", "source"))
          .orderBy("doc_id", "copy")
      },
      Some("""WITH g AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
             |           FROM documents GROUP BY lang, source),
             |t AS (SELECT *, CAST(SUM(n) OVER () AS BIGINT) AS total,
             |             CAST(COUNT(*) OVER () AS BIGINT) AS ng FROM g),
             |w AS (SELECT lang, source, CAST(total AS DOUBLE) / (ng * n) AS weight FROM t),
             |d AS (SELECT doc_id, dd.lang, dd.source, weight,
             |             ('0x' || substr(md5('rs:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 AS u
             |      FROM documents dd JOIN w USING (lang, source)),
             |c AS (SELECT lang, source, doc_id,
             |             CAST(LEAST(8, FLOOR(weight) +
             |               (CASE WHEN u < weight - FLOOR(weight) THEN 1 ELSE 0 END)) AS INT) AS n_copies
             |      FROM d)
             |SELECT lang, source, doc_id, CAST(i AS INT) AS copy
             |FROM c, range(1, 9) r(i) WHERE i <= n_copies
             |ORDER BY doc_id, copy""".stripMargin)),

    // ---- Multimodal metadata (binary column plumbing) -------------------

    // Text treated as an opaque binary payload: byte length + content
    // digest — the metadata layer every multimodal column carries. The
    // typed decode/feature pipeline lives in operators.Multimodal (the
    // decode itself is stubbed; codecs are not in this environment).
    QueryDef("p13_multimodal_meta",
      (s, d) => T(s, d, "documents")
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          sha2(col("text"), 256).as("content_sha"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |       sha256(text) AS content_sha
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Multimodal frame sampling, oracle-checked form: frame rows
    // exploded from duration METADATA only — payload bytes untouched
    // (the Multimodal.sampleFrames shape; durations md5-derived here so
    // both engines compute identical values).
    QueryDef("p16_frame_sample",
      (s, d) => T(s, d, "documents")
        .select(col("doc_id"),
          (conv(substring(md5(col("text")), 1, 6), 16, 10).cast("long") % 60000L + 1000L)
            .as("duration_ms"))
        .select(col("doc_id"), col("duration_ms"),
          explode(sequence(lit(0L), expr("duration_ms DIV 5000"))).as("i"))
        .select(col("doc_id"), col("i").cast("int").as("frame_idx"),
          (col("i") * 5000L).as("offset_ms"))
        .orderBy("doc_id", "frame_idx"),
      Some("""WITH m AS (SELECT doc_id,
             |             ('0x' || substr(md5(text), 1, 6))::BIGINT % 60000 + 1000 AS duration_ms
             |           FROM documents)
             |SELECT doc_id, CAST(i AS INT) AS frame_idx, i * 5000 AS offset_ms
             |FROM m, range(0, 14) r(i)
             |WHERE i <= duration_ms // 5000
             |ORDER BY doc_id, frame_idx""".stripMargin)),

    // ---- Relational extras (SURVEY §2 rows not covered by Q1-Q32) -------

    // A6: pivoted conditional aggregation. Explicit pivot values — no
    // driver-side distinct scan at plan time.
    QueryDef("r33_pivot",
      (s, d) => T(s, d, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id"),
      Some("""SELECT user_id,
             |       COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
             |       COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
             |       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             |       COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
             |       COUNT(*) FILTER (WHERE event_type = 'view')     AS view
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // A10: full cube.
    QueryDef("r34_cube",
      (s, d) => T(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n FROM orders
             |GROUP BY CUBE(o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    // U2/P8: union of eligibility sets (range ∪ deterministic sample).
    QueryDef("r35_union_dedup",
      (s, d) => {
        val c = T(s, d, "customer")
        c.filter(col("c_acctbal") > 9000).select("c_custkey")
          .unionByName(c.orderBy(md5(col("c_custkey").cast("string")), col("c_custkey"))
            .limit(20).select("c_custkey"))
          .distinct()
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey FROM customer WHERE c_acctbal > 9000
             |UNION
             |SELECT c_custkey FROM (
             |  SELECT c_custkey FROM customer
             |  ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey LIMIT 20)
             |ORDER BY c_custkey""".stripMargin)),

    // W5: lag — previous event type per user (circular-transfer window).
    QueryDef("r36_lag",
      (s, d) => T(s, d, "events")
        .select(col("user_id"), col("event_id"),
          lag("event_type", 1).over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")).as("prev_type"))
        .orderBy("user_id", "event_id"),
      Some("""SELECT user_id, event_id,
             |       LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
             |FROM events ORDER BY user_id, event_id""".stripMargin)),

    // J7: as-of join — each purchase matched to the signup interval
    // containing it (SCD2 lookup built from LEAD validity intervals).
    QueryDef("r37_asof_join",
      (s, d) => {
        // Both sides derive from the same `events` frame; renaming the
        // join key on the build side (s_uid) keeps the equi-join
        // unambiguous after refactors — `pu("user_id") === su("user_id")`
        // on shared lineage trips Spark's "trivially true predicate"
        // resolution and is where silently-wrong self-joins come from.
        val ev = T(s, d, "events")
        val su = ev.filter(col("event_type") === "signup")
          .select(col("user_id").as("s_uid"), col("event_id").as("s_id"),
            col("ts").as("vf"),
            lead("ts", 1).over(
              Window.partitionBy("user_id").orderBy("ts", "event_id")).as("vt"))
        val pu = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"))
        pu.join(su, col("user_id") === col("s_uid") &&
            col("ts") >= col("vf") && (col("vt").isNull || col("ts") < col("vt")))
          .select(col("event_id"), col("s_id"))
          .orderBy("event_id")
      },
      Some("""WITH s AS (SELECT user_id, event_id AS s_id, ts AS vf,
             |             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
             |           FROM events WHERE event_type = 'signup'),
             |p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
             |SELECT p.event_id, s.s_id FROM p JOIN s ON p.user_id = s.user_id
             |  AND p.ts >= s.vf AND (s.vt IS NULL OR p.ts < s.vt)
             |ORDER BY p.event_id""".stripMargin)),

    // T7 batch-form: 7-day sliding windows advancing by 1 day.
    QueryDef("r38_sliding_window",
      (s, d) => T(s, d, "events")
        .groupBy(window(col("ts"), "7 days", "1 day"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("n"))
        .orderBy("w_start"),
      Some("""SELECT date_trunc('day', ts) - (k * INTERVAL 1 DAY) AS w_start, COUNT(*) AS n
             |FROM events, range(0, 7) r(k)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // T7 batch form: inactivity-gap session windows (gaps-and-islands;
    // boundary rule matches Structured Streaming's session_window, so
    // the streaming form merges identically — StreamingSpec T7s).
    QueryDef("r43_session_window",
      (s, d) => Windows.sessionize(T(s, d, "events"),
          col("user_id"), col("ts"), "1 HOUR", col("event_id"))
        .groupBy(col("user_id"), col("session_id").cast("int").as("sid"))
        .agg(min("ts").as("s_start"), max("ts").as("s_end"), count(lit(1)).as("n"))
        .orderBy("user_id", "sid"),
      Some("""WITH l AS (SELECT user_id, event_id, ts,
             |             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             |           FROM events),
             |f AS (SELECT *, CASE WHEN prev IS NULL OR ts >= prev + INTERVAL 1 HOUR
             |                     THEN 1 ELSE 0 END AS new_s FROM l),
             |s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                                 ROWS UNBOUNDED PRECEDING) AS sid FROM f)
             |SELECT user_id, CAST(sid AS INT) AS sid,
             |       MIN(ts) AS s_start, MAX(ts) AS s_end, COUNT(*) AS n
             |FROM s GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin)),

    // A10 general form: explicit GROUPING SETS — the subtotal shape
    // dashboard views emit (README.md:34-40); rollup/cube are its
    // special cases (q15, r34).
    QueryDef("r40_grouping_sets",
      (s, d) => T(s, d, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
             |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    // A-surface: exact interpolated percentiles per group (both engines
    // use linear interpolation on the ordered set; rounded for safety).
    // At scale the exact sort-based percentile becomes
    // approx_percentile — same switch as q14 -> r39 for distincts.
    QueryDef("r44_percentiles",
      (s, d) => T(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"))
        .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
              |       ${rrepr("quantile_cont(l_quantity, 0.25)", 4)} AS p25,
              |       ${rrepr("quantile_cont(l_quantity, 0.5)", 4)} AS p50,
              |       ${rrepr("quantile_cont(l_quantity, 0.75)", 4)} AS p75
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Proportional STRATIFIED sampling in its deterministic form: keep
    // ceil(10%) of every stratum by md5 order (the reference's
    // proportional sampling sites; the seeded-RNG sibling is
    // `df.stat.sampleBy` — r45 covers the RNG surface, this one is
    // hash-deterministic and therefore fully oracle-checkable).
    QueryDef("r46_stratified_sample",
      (s, d) => graft.operators.Skew.stratifiedHead(
          T(s, d, "customer"), "c_mktsegment", "c_custkey", frac = 0.1)
        .select(col("c_mktsegment"), col("c_custkey"))
        .orderBy("c_mktsegment", "c_custkey"),
      Some("""SELECT c_mktsegment, c_custkey FROM (
             |  SELECT c_mktsegment, c_custkey,
             |         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
             |           ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rn,
             |         COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
             |  FROM customer) t
             |WHERE rn <= CEIL(n * 0.1)
             |ORDER BY c_mktsegment, c_custkey""".stripMargin)),

    // O3's true-random sibling: seeded Bernoulli TABLESAMPLE — the
    // engine form of the reference's `ORDER BY RANDOM() LIMIT n`
    // sampling sites (oltp_seeder.py:248-251 and 3 others).
    // Deterministic for a fixed seed within the engine (LawsSpec) but
    // not across engines, so like r39 it records a rows-only check;
    // q17 keeps the deterministic md5-order oracle role.
    QueryDef("r45_sample_seeded",
      (s, d) => T(s, d, "customer")
        .sample(withReplacement = false, fraction = 0.2, seed = 42L)
        .select("c_custkey")
        .orderBy("c_custkey"),
      None),

    // r44 at scale: sketch-based approximate percentiles (the switch
    // SCALE.md names for the exact sort-based form). No cross-engine
    // oracle — approx sketch internals are engine-specific, like r39;
    // the exact sibling r44 carries the hash check, and the spec bounds
    // approx-vs-exact error.
    QueryDef("r47_approx_percentiles",
      (s, d) => T(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("approx_percentile(l_quantity, 0.5, 10000)").as("p50_approx"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_exact"))
        .orderBy("l_returnflag"),
      None),

    // Temperature-scaled mixture (tau = 0.5): the multilingual-training
    // sampling knob between natural (tau=1, all weights 1) and
    // equalized (tau=0, r50's weights). Composes with r52's
    // resampleByWeight unchanged.
    QueryDef("r54_temperature_mix",
      (s, d) => Mix.temperatureWeights(T(s, d, "documents"),
          Seq("lang", "source"), tau = 0.5)
        .orderBy("lang", "source"),
      Some(s"""WITH g AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
              |           FROM documents GROUP BY lang, source),
              |t AS (SELECT *, CAST(SUM(n) OVER () AS BIGINT) AS total FROM g),
              |p AS (SELECT *, pow(CAST(n AS DOUBLE) / total, 0.5) AS q FROM t),
              |z AS (SELECT *, SUM(q) OVER () AS z FROM p)
              |SELECT lang, source, n,
              |       ${rrepr("q / z", 6)} AS share,
              |       ${rrepr("q / z * total / n", 6)} AS weight
              |FROM z ORDER BY lang, source""".stripMargin)),

    // Score-based corpus pruning: keep each lang's docs at or above the
    // lang's median quality score (FineWeb-style data pruning). The
    // cutoff table is one percentile aggregation broadcast back — the
    // operator never windows or sorts the corpus per domain.
    QueryDef("r53_quality_prune",
      (s, d) => TextAnalysis.qualityPrune(T(s, d, "documents"), p = 0.5)
        .orderBy("domain", "doc_id"),
      Some {
        val stops = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
           |agg AS (SELECT doc_id, COUNT(*) AS n_tokens,
           |        CAST(SUM(CASE WHEN token IN ($stops) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
           |        FROM tok GROUP BY doc_id),
           |scored AS (SELECT d.lang AS domain, a.doc_id,
           |  ${rrepr("LEAST(1.0, CAST(a.n_tokens AS DOUBLE) / 50) * 0.5 + (CAST(a.n_stop AS DOUBLE) / a.n_tokens) * 0.5", 4)} AS score
           |  FROM agg a JOIN documents d ON d.doc_id = a.doc_id),
           |cut AS (SELECT domain, ${rrepr("quantile_cont(score, 0.5)", 4)} AS cutoff
           |        FROM scored GROUP BY domain)
           |SELECT s.domain, s.doc_id, s.score, c.cutoff
           |FROM scored s JOIN cut c ON c.domain IS NOT DISTINCT FROM s.domain
           |WHERE s.score >= c.cutoff
           |ORDER BY s.domain, s.doc_id""".stripMargin
      }),

    // Perceptual image dedup, oracle-checked end to end: deterministic
    // grayscale BMPs (closed-form pixels) are hashed through the REAL
    // codec (decode -> 9x8 dHash) on the Spark side, while DuckDB
    // recomputes the identical 64-bit hash from the pixel formula
    // (grayscale makes the luma transform exact; encode/decode
    // round-trip is spec-proven), then both engines run the same
    // pigeonhole hamming join. Docs 2k/2k+1 are planted near-dups
    // <= 3 bits apart, inside the 4-block pigeonhole guarantee.
    QueryDef("p33_image_neardup",
      (s, d) => Multimodal.nearDupImages(
          Multimodal.imageFixtures(T(s, d, "documents")))
        .orderBy("d1", "d2"),
      Some(hammingOracle(ihashCte, "ihash"))),

    // Perceptual audio dedup: same shape over PCM16 WAV fixtures —
    // real RIFF decode + 65-window energy hash on the Spark side, the
    // closed-form integer-sum energies in DuckDB (equal window sizes
    // make average comparisons integer-sum comparisons).
    QueryDef("p34_audio_neardup",
      (s, d) => Multimodal.nearDupAudio(
          Multimodal.audioFixtures(T(s, d, "documents")))
        .orderBy("d1", "d2"),
      Some(hammingOracle(ahashCte, "ahash"))),

    // DCT perceptual hash (pHash) image dedup: where p33's dHash
    // compares neighboring grid cells, pHash thresholds the low 8x8
    // DCT coefficients against their AC median — invariant to a
    // uniform brightness shift (only the excluded DC term moves) and
    // robust to the clamping/noise edits that flip dHash bits
    // (MultimodalSpec plants one dHash misses). The fixture plants
    // doc 2k+1 = doc 2k with every pixel +40 (no clamping), so the
    // oracle is the planted ground truth itself: exactly the
    // (2k, 2k+1) pairs at distance 0 — a non-brightness-invariant
    // hash breaks every pair, a colliding hash adds rows. Pairing is
    // the same capped pigeonhole hamming join as p33.
    QueryDef("p63_image_phash",
      (s, d) => Multimodal.nearDupImagesPHash(
          Multimodal.pHashImageFixtures(T(s, d, "documents")), maxDist = 0)
        .orderBy("d1", "d2"),
      Some("""SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(0 AS BIGINT) AS dist
             |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
             |WHERE a.doc_id % 2 = 0
             |ORDER BY d1, d2""".stripMargin)),

    // Spectral audio near-dup (p63's audio sibling): DCT over the
    // 128-window energy envelope, low-64 coefficients vs the AC
    // median — survives the near-tie window noise that flips p34's
    // adjacent-window comparisons (MultimodalSpec plants one). The
    // fixture plants doc 2k+1 = doc 2k with every sample ×2: a
    // power-of-two gain scales energies, DCT partials, and the median
    // by an exact IEEE exponent shift, so pairs collide BIT-IDENTICAL
    // at dist 0 and the oracle is the planted ground truth — a hash
    // that is not gain-invariant breaks every pair.
    QueryDef("p64_audio_spectral",
      (s, d) => Multimodal.nearDupAudioSpectral(
          Multimodal.spectralAudioFixtures(T(s, d, "documents")), maxDist = 0)
        .orderBy("d1", "d2"),
      Some("""SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(0 AS BIGINT) AS dist
             |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
             |WHERE a.doc_id % 2 = 0
             |ORDER BY d1, d2""".stripMargin)),

    // Video near-dup by frame-fingerprint intersection: per-frame
    // pHash over a REAL concatenated-BMP container walk, candidates
    // from a capped equi-join on the 64-bit fingerprints, pairs kept
    // at >= 4 distinct shared frames. The fixture plants video 2k+1 =
    // video 2k TRIMMED to 5 of 6 frames AND brightness-shifted +40
    // (per-frame pHash exactly invariant, p63's argument), so the
    // oracle is the planted ground truth (2k, 2k+1, matched=5) — one
    // row proving trim AND brightness robustness; a hash that loses
    // either breaks every pair, a colliding texture adds rows.
    QueryDef("p65_video_neardup",
      (s, d) => Multimodal.nearDupVideos(
          Multimodal.videoFixtures(T(s, d, "documents")))
        .orderBy("d1", "d2"),
      Some("""SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(5 AS BIGINT) AS matched
             |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
             |WHERE a.doc_id % 2 = 0
             |ORDER BY d1, d2""".stripMargin)),

    // NONZERO-hamming perceptual pairs: p63/p64/p65 all collide at
    // exact hash equality, so the pigeonhole join's
    // `1 <= bit_count(xor) <= 3` path had spec coverage but no oracle
    // row. The fixture (Multimodal.perturbedPHashFixture) plants doc
    // 2k+1 = doc 2k with +32 luma on every 53rd pixel — a localized
    // edit that nudges a few low-frequency DCT coefficients across
    // the AC median. pHash sets exactly 32 of 64 bits, so distances
    // are always even: of the 100 planted pairs (doc_id < 200, the
    // sf-invariant slice), 50 land at distance 2, 45 at 0 and 5 at 4
    // (tools.P66Probe derived the parameters; MultimodalSpec pins
    // every distance). The oracle asserts exactly the dist-2 pair
    // set: the 0-pairs prove the filter's lower bound, the 4-pairs
    // its upper, and any hash change moves some pair across a
    // boundary — planted ground truth at NONZERO distance, the same
    // known-answer design as p63 one bit-flip further out.
    QueryDef("p66_image_phash_dist",
      (s, d) => Multimodal.nearDupImagesPHash(
          Multimodal.perturbedPHashFixtures(
            T(s, d, "documents").filter(col("doc_id") < 200)), maxDist = 3)
        .filter(col("dist") >= 1)
        .orderBy("d1", "d2"),
      Some("""SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(2 AS BIGINT) AS dist
             |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
             |WHERE a.doc_id % 2 = 0 AND a.doc_id < 200
             |  AND a.doc_id IN (6, 8, 12, 18, 20, 32, 34, 40, 42, 48, 50,
             |    54, 58, 64, 70, 72, 76, 78, 80, 82, 86, 88, 96, 102, 104,
             |    106, 108, 114, 120, 122, 132, 134, 136, 138, 142, 144,
             |    146, 148, 150, 156, 164, 170, 174, 176, 180, 182, 186,
             |    188, 192, 194)
             |ORDER BY d1, d2""".stripMargin)),

    // Media eval-set decontamination, image modality: the perceptual
    // sibling of the text pipeline's benchmark-leakage screens (p26/
    // p45/p61). Eval = the EVEN docs below 100 (textures 0..49);
    // train = the ODD docs below 300 (textures 0..149, ids disjoint
    // from eval) — the pHash fixture's odd doc is its even sibling's
    // texture +40-shifted, an EXACT hash invariance (p63), so the 50
    // planted leaks collide at dist 0 and every odd doc >= 100 is a
    // fresh texture no eval image shares. Survivors are planted
    // ground truth: a hash losing the invariance readmits leaks, a
    // spurious eval collision drops clean docs.
    QueryDef("p67_image_decon",
      (s, d) => {
        val docs = T(s, d, "documents")
        Multimodal.decontaminateImages(
            Multimodal.pHashImageFixtures(
              docs.filter(col("doc_id") % 2 === 1 && col("doc_id") < 300)),
            Multimodal.pHashImageFixtures(
              docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 100)))
          .select("doc_id").orderBy("doc_id")
      },
      Some("""SELECT doc_id FROM documents
             |WHERE doc_id % 2 = 1 AND doc_id >= 100 AND doc_id < 300
             |ORDER BY doc_id""".stripMargin)),

    // Video modality under the frame-set rule: the trimmed+graded odd
    // fixture shares exactly 5 of 6 frame fingerprints with its even
    // sibling (p65), so at minFrames=4 the 50 planted leaks screen
    // out and the fresh odd docs >= 100 survive — trim and brightness
    // robustness of the SCREEN proven in one row.
    QueryDef("p68_video_decon",
      (s, d) => {
        val docs = T(s, d, "documents")
        Multimodal.decontaminateVideos(
            Multimodal.videoFixtures(
              docs.filter(col("doc_id") % 2 === 1 && col("doc_id") < 300)),
            Multimodal.videoFixtures(
              docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 100)))
          .select("doc_id").orderBy("doc_id")
      },
      Some("""SELECT doc_id FROM documents
             |WHERE doc_id % 2 = 1 AND doc_id >= 100 AND doc_id < 300
             |ORDER BY doc_id""".stripMargin)),

    // Image sharpness (Laplacian variance) — the blur/flat-content
    // quality gate, hash-exact cross-engine: the fixture's grayscale
    // pixels are a closed modular form (the p33 oracle's own CTE
    // trick), the Laplacian and its variance are exact integer sums,
    // and only the final (n·Σlp² − (Σlp)²)/n² division is IEEE.
    QueryDef("p69_image_sharpness",
      (s, d) => Multimodal.imageSharpness(
          Multimodal.imageFixtures(T(s, d, "documents")
            .filter(col("doc_id") < 500)))
        .orderBy("doc_id"),
      Some(p69OracleSql)),

    // Audio level stats (peak / RMS / clipping fraction) — the
    // silence-and-distortion gate; same closed-form sample
    // reconstruction as the p34 oracle, exact integer Σs², one IEEE
    // division + sqrt.
    QueryDef("p70_audio_stats",
      (s, d) => Multimodal.audioStats(
          Multimodal.audioFixtures(T(s, d, "documents")
            .filter(col("doc_id") < 500)))
        .orderBy("doc_id"),
      Some(p70OracleSql)),

    // Video motion (mean abs luma diff between consecutive frames) —
    // the frozen-clip detector. The motionVideoFixture plants the
    // ground truth: even docs repeat one texture six times (motion
    // EXACTLY 0 — integer diffs of identical frames), odd docs use
    // six distinct textures (motion far above 0); the oracle asserts
    // the planted static/dynamic classification, so a score that
    // reads any frozen clip as moving (or vice versa) flips a row.
    QueryDef("p71_video_motion",
      (s, d) => Multimodal.videoMotion(
          Multimodal.motionVideoFixtures(T(s, d, "documents")
            .filter(col("doc_id") < 500)))
        .select(col("doc_id"), col("n_frames"),
          (col("motion") === 0.0).as("is_static"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(6 AS INT) AS n_frames,
             |       (doc_id % 2 = 0) AS is_static
             |FROM documents WHERE doc_id < 500
             |ORDER BY doc_id""".stripMargin)),

    // Content-defined-chunking dedup — the distributed ExactSubstr
    // answer: boundaries cut where md5(token) % 8 == 0, so verbatim
    // spans produce identical chunks at ANY offset and keep-first
    // removes them (fixed windows miss unaligned copies; DedupSpec
    // demonstrates the difference). Oracle = same md5 boundary rule,
    // running-sum chunk ids, window keep-first, ordered reassembly.
    QueryDef("p36_cdc_dedup",
      (s, d) => Dedup.cdcChunkDedup(T(s, d, "documents")).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks FROM documents),
             |tok AS (SELECT doc_id, unnest(toks) AS tok,
             |               generate_subscripts(toks, 1) AS pos,
             |               CASE WHEN ('0x' || substr(md5(unnest(toks)), 1, 8))::BIGINT % 8 = 0
             |                    THEN 1 ELSE 0 END AS b
             |        FROM t),
             |cidx AS (SELECT doc_id, tok, pos,
             |                COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
             |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_idx
             |         FROM tok),
             |chunks AS (SELECT doc_id, c_idx,
             |                  string_agg(tok, ' ' ORDER BY pos) AS chunk
             |           FROM cidx GROUP BY doc_id, c_idx),
             |k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk
             |                  ORDER BY doc_id, c_idx) AS rn FROM chunks)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pass,
             |       CAST(COALESCE(SUM(CASE WHEN rn = 1 THEN 1 END), 0) AS BIGINT) AS n_kept,
             |       COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY c_idx), '') AS clean_text
             |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // BPE token counting under a trained merge table (p12 counts
    // whitespace tokens; a training-data pipeline budgets SUBWORD
    // tokens). The 16 merges are literals trained by Bpe.train on the
    // sf0.01 corpus (r6 — tokenizers are trained once, applied
    // everywhere); the encoder is a pure codegen'd replace chain, so
    // the identical computation runs in DuckDB: each merge (a,b) is
    // the same DOUBLED single-pass replace of |a|b| with |ab| (two
    // passes = exact BPE greedy on consecutive runs, BpeSpec).
    QueryDef("p35_bpe_tokens",
      (s, d) => graft.functions.Bpe.tokenCounts(T(s, d, "documents"), P35Merges)
        .orderBy("doc_id"),
      Some(p35OracleSql)),

    // Interpolated bigram LM score (Jelinek-Mercer, corpus unigram
    // backoff) — the perplexity-filter step up from p32: shuffled or
    // gibberish token order scores low even with in-distribution
    // vocabulary. Linear probabilities (no ln) and a sorted per-doc
    // fold keep every double bit-identical cross-engine; 0.75::DOUBLE
    // in the oracle forces DuckDB off its DECIMAL literal type onto
    // Spark's double arithmetic sequence.
    QueryDef("p37_bigram_lm",
      (s, d) => TextAnalysis.bigramScore(T(s, d, "documents"))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              |tok AS (SELECT doc_id, unnest(t) AS token FROM t),
              |uni AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token),
              |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM tok),
              |bi AS (SELECT doc_id,
              |         unnest([t[i] FOR i IN range(1, len(t))]) AS w1,
              |         unnest([t[i+1] FOR i IN range(1, len(t))]) AS w2
              |       FROM t WHERE len(t) >= 2),
              |tf AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
              |       FROM bi GROUP BY doc_id, w1, w2),
              |bc AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS bc FROM tf GROUP BY w1, w2),
              |cc AS (SELECT w1, CAST(SUM(bc) AS BIGINT) AS cc FROM bc GROUP BY w1),
              |p AS (SELECT f.doc_id, f.tf,
              |             f.tf * (0.75::DOUBLE * b.bc / c.cc + 0.25::DOUBLE * u.cnt / n.total) AS w
              |      FROM tf f JOIN bc b USING (w1, w2) JOIN cc c USING (w1)
              |      JOIN uni u ON u.token = f.w2 CROSS JOIN n),
              |sc AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bi,
              |              list_reduce(list_sort(list(w)), (x, y) -> x + y) AS s
              |       FROM p GROUP BY doc_id)
              |SELECT doc_id, n_bi, ${rrepr("s / n_bi", 6)} AS score
              |FROM sc ORDER BY doc_id""".stripMargin)),

    // Kneser-Ney bigram LM score (absolute discount 0.75, CONTINUATION
    // backoff): p37's sibling that stays sharp at the low-count tail —
    // a frequent-but-glued token ("francisco" after "san") gets tiny
    // backoff mass in a novel context where JM hands it the full
    // unigram weight (TextAnalysisSpec plants the inversion). The
    // oracle mirrors the arithmetic operand for operand: greatest(bc
    // - D, 0)/cc + D*n1f/cc*(n1p/n1all), all ::DOUBLE-forced (same
    // cross-engine discipline as p37), distinct-continuation counts
    // over bigram TYPES.
    QueryDef("r116_bigram_kn",
      (s, d) => TextAnalysis.bigramScoreKN(T(s, d, "documents"))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              |bi AS (SELECT doc_id,
              |         unnest([t[i] FOR i IN range(1, len(t))]) AS w1,
              |         unnest([t[i+1] FOR i IN range(1, len(t))]) AS w2
              |       FROM t WHERE len(t) >= 2),
              |tf AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
              |       FROM bi GROUP BY doc_id, w1, w2),
              |bc AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS bc FROM tf GROUP BY w1, w2),
              |cc AS (SELECT w1, CAST(SUM(bc) AS BIGINT) AS cc,
              |              CAST(COUNT(*) AS BIGINT) AS n1f FROM bc GROUP BY w1),
              |np AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p FROM bc GROUP BY w2),
              |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1all FROM bc),
              |p AS (SELECT f.doc_id, f.tf,
              |             f.tf * (greatest(b.bc - 0.75::DOUBLE, 0.0::DOUBLE) / c.cc +
              |                     0.75::DOUBLE * c.n1f / c.cc *
              |                       (CAST(np.n1p AS DOUBLE) / na.n1all)) AS w
              |      FROM tf f JOIN bc b USING (w1, w2) JOIN cc c USING (w1)
              |      JOIN np ON np.w2 = f.w2 CROSS JOIN na),
              |sc AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bi,
              |              list_reduce(list_sort(list(w)), (x, y) -> x + y) AS s
              |       FROM p GROUP BY doc_id)
              |SELECT doc_id, n_bi, ${rrepr("s / n_bi", 6)} AS score
              |FROM sc ORDER BY doc_id""".stripMargin)),

    // DoReMi-style domain reweighting: per-doc excess loss = how much
    // the bigram LM (reference) improves on the unigram LM (proxy),
    // clipped at 0; per-domain mean excess -> one multiplicative-
    // weights step from uniform with uniform smoothing. The oracle
    // mirrors the Spark arithmetic stage for stage (tf-weighted
    // distinct-pair folds, domain-sized sorted folds for k and Z).
    QueryDef("p56_doremi_mix", {
      (s, d) => {
        // doc_id is the table's key and never null. Stated once here,
        // the null-id filter the joins below would infer reaches every
        // copy of the LM subtrees alike, so ReuseExchange collapses
        // them; inferred, it reached the scoring copies but not the
        // vocabulary ones and each ran twice.
        val docs = T(s, d, "documents").filter(col("doc_id").isNotNull)
        val uni = TextAnalysis.unigramScore(docs)
          .select(col("doc_id"), (lit(1.0) - col("score")).as("loss"))
        val bi = TextAnalysis.bigramScore(docs)
          .select(col("doc_id"), (lit(1.0) - col("score")).as("ref_loss"))
        Mix.doremiWeights(
            uni.join(bi, "doc_id")
              .join(docs.select(col("doc_id"), col("lang")), "doc_id"),
            eta = 2.0)
          .orderBy("domain")
      }},
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              |tok AS (SELECT doc_id, unnest(t) AS token FROM t),
              |utf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
              |        FROM tok GROUP BY doc_id, token),
              |uuni AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS cnt FROM utf GROUP BY token),
              |un AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM uuni),
              |uw AS (SELECT f.doc_id, f.tf, CAST(f.tf AS DOUBLE) * u.cnt / n.total AS w
              |       FROM utf f JOIN uuni u USING (token) CROSS JOIN un n),
              |usc AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
              |               list_reduce(list_sort(list(w)), (x, y) -> x + y) AS s
              |        FROM uw GROUP BY doc_id),
              |ul AS (SELECT doc_id, 1.0 - ${rrepr("s / n_tok", 6)} AS loss FROM usc),
              |bbi AS (SELECT doc_id,
              |          unnest([t[i] FOR i IN range(1, len(t))]) AS w1,
              |          unnest([t[i+1] FOR i IN range(1, len(t))]) AS w2
              |        FROM t WHERE len(t) >= 2),
              |btf AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
              |        FROM bbi GROUP BY doc_id, w1, w2),
              |bbc AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS bc FROM btf GROUP BY w1, w2),
              |bcc AS (SELECT w1, CAST(SUM(bc) AS BIGINT) AS cc FROM bbc GROUP BY w1),
              |bp AS (SELECT f.doc_id, f.tf,
              |              f.tf * (0.75::DOUBLE * b.bc / c.cc + 0.25::DOUBLE * u.cnt / n.total) AS w
              |       FROM btf f JOIN bbc b USING (w1, w2) JOIN bcc c USING (w1)
              |       JOIN uuni u ON u.token = f.w2 CROSS JOIN un n),
              |bsc AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bi,
              |               list_reduce(list_sort(list(w)), (x, y) -> x + y) AS s
              |        FROM bp GROUP BY doc_id),
              |bl AS (SELECT doc_id, 1.0 - ${rrepr("s / n_bi", 6)} AS ref_loss FROM bsc),
              |x AS (SELECT d.lang AS domain, GREATEST(ul.loss - bl.ref_loss, 0.0) AS x
              |      FROM ul JOIN bl USING (doc_id) JOIN documents d USING (doc_id)),
              |dom AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n,
              |          ${rrepr("list_reduce(list_sort(list(x)), (p, q) -> p + q) / COUNT(*)", 6)} AS excess
              |        FROM x GROUP BY domain),
              |kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM dom),
              |wa AS (SELECT dom.*, (1.0 / kk.k) * (1.0 + 2.0 * excess) AS a FROM dom, kk),
              |zz AS (SELECT list_reduce(list_sort(list(a)), (p, q) -> p + q) AS z FROM wa)
              |SELECT wa.domain, wa.n, wa.excess,
              |       ${rrepr("0.9 * (wa.a / zz.z) + 0.1 / kk.k", 6)} AS weight
              |FROM wa, zz, kk ORDER BY wa.domain""".stripMargin)),

    // CCNet head/middle/tail bucketing: the p37 bigram LM score cut at
    // each language's exact 1/3 and 2/3 percentiles (one percentile
    // aggregation broadcast back; bucket = pure function of the doc's
    // own score). Head = highest likelihood (lowest perplexity).
    QueryDef("p55_ccnet_buckets", {
      (s, d) => {
        val docs = T(s, d, "documents")
        TextAnalysis.ccnetBuckets(
            TextAnalysis.bigramScore(docs), docs)
          .orderBy("doc_id")
      }},
      Some {
        val (lo, hi) = (1.0 / 3, 2.0 / 3)
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |tok AS (SELECT doc_id, unnest(t) AS token FROM t),
           |uni AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token),
           |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM tok),
           |bi AS (SELECT doc_id,
           |         unnest([t[i] FOR i IN range(1, len(t))]) AS w1,
           |         unnest([t[i+1] FOR i IN range(1, len(t))]) AS w2
           |       FROM t WHERE len(t) >= 2),
           |tf AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
           |       FROM bi GROUP BY doc_id, w1, w2),
           |bc AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS bc FROM tf GROUP BY w1, w2),
           |cc AS (SELECT w1, CAST(SUM(bc) AS BIGINT) AS cc FROM bc GROUP BY w1),
           |p AS (SELECT f.doc_id, f.tf,
           |             f.tf * (0.75::DOUBLE * b.bc / c.cc + 0.25::DOUBLE * u.cnt / n.total) AS w
           |      FROM tf f JOIN bc b USING (w1, w2) JOIN cc c USING (w1)
           |      JOIN uni u ON u.token = f.w2 CROSS JOIN n),
           |sc AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bi,
           |              list_reduce(list_sort(list(w)), (x, y) -> x + y) AS s
           |       FROM p GROUP BY doc_id),
           |scd AS (SELECT sc.doc_id, d.lang, ${rrepr("s / n_bi", 6)} AS score
           |        FROM sc JOIN documents d ON d.doc_id = sc.doc_id),
           |cut AS (SELECT lang, ${rrepr(s"quantile_cont(score, $lo)", 6)} AS cut_lo,
           |               ${rrepr(s"quantile_cont(score, $hi)", 6)} AS cut_hi
           |        FROM scd GROUP BY lang)
           |SELECT s.doc_id, s.lang, s.score,
           |       CASE WHEN s.score >= c.cut_hi THEN 'head'
           |            WHEN s.score >= c.cut_lo THEN 'middle'
           |            ELSE 'tail' END AS bucket
           |FROM scd s JOIN cut c ON c.lang IS NOT DISTINCT FROM s.lang
           |ORDER BY s.doc_id""".stripMargin
      }),

    // p55 under the Kneser-Ney LM (r116): the sharper perplexity
    // filter feeding the SAME per-language head/middle/tail cuts —
    // the composition a CCNet-style pipeline would actually deploy
    // once KN is available (bucket membership shifts where JM
    // over-credits glued-token docs). Oracle = the r116 scoring CTEs
    // chained into p55's quantile-cut machinery.
    QueryDef("r119_ccnet_kn", {
      (s, d) => {
        val docs = T(s, d, "documents")
        TextAnalysis.ccnetBuckets(
            TextAnalysis.bigramScoreKN(docs), docs)
          .orderBy("doc_id")
      }},
      Some {
        val (lo, hi) = (1.0 / 3, 2.0 / 3)
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |bi AS (SELECT doc_id,
           |         unnest([t[i] FOR i IN range(1, len(t))]) AS w1,
           |         unnest([t[i+1] FOR i IN range(1, len(t))]) AS w2
           |       FROM t WHERE len(t) >= 2),
           |tf AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
           |       FROM bi GROUP BY doc_id, w1, w2),
           |bc AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS bc FROM tf GROUP BY w1, w2),
           |cc AS (SELECT w1, CAST(SUM(bc) AS BIGINT) AS cc,
           |              CAST(COUNT(*) AS BIGINT) AS n1f FROM bc GROUP BY w1),
           |np AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p FROM bc GROUP BY w2),
           |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1all FROM bc),
           |p AS (SELECT f.doc_id, f.tf,
           |             f.tf * (greatest(b.bc - 0.75::DOUBLE, 0.0::DOUBLE) / c.cc +
           |                     0.75::DOUBLE * c.n1f / c.cc *
           |                       (CAST(np.n1p AS DOUBLE) / na.n1all)) AS w
           |      FROM tf f JOIN bc b USING (w1, w2) JOIN cc c USING (w1)
           |      JOIN np ON np.w2 = f.w2 CROSS JOIN na),
           |sc AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bi,
           |              list_reduce(list_sort(list(w)), (x, y) -> x + y) AS s
           |       FROM p GROUP BY doc_id),
           |scd AS (SELECT sc.doc_id, d.lang, ${rrepr("s / n_bi", 6)} AS score
           |        FROM sc JOIN documents d ON d.doc_id = sc.doc_id),
           |cut AS (SELECT lang, ${rrepr(s"quantile_cont(score, $lo)", 6)} AS cut_lo,
           |               ${rrepr(s"quantile_cont(score, $hi)", 6)} AS cut_hi
           |        FROM scd GROUP BY lang)
           |SELECT s.doc_id, s.lang, s.score,
           |       CASE WHEN s.score >= c.cut_hi THEN 'head'
           |            WHEN s.score >= c.cut_lo THEN 'middle'
           |            ELSE 'tail' END AS bucket
           |FROM scd s JOIN cut c ON c.lang IS NOT DISTINCT FROM s.lang
           |ORDER BY s.doc_id""".stripMargin
      }),

    // Boilerplate removal (RefinedWeb/Dolma line-dedup semantics):
    // a passage in MORE THAN ONE distinct doc is removed from EVERY
    // doc — keep-first p30 instead leaves one copy in the corpus.
    QueryDef("p38_boilerplate",
      (s, d) => Dedup.stripBoilerplate(T(s, d, "documents")).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |p AS (SELECT doc_id, CAST(i AS INT) AS p_idx,
             |             array_to_string(toks[(CAST(i AS INT)*16+1):(CAST(i AS INT)*16+16)], ' ') AS passage
             |      FROM t, range(0, 1000) r(i) WHERE i*16 < len(toks)),
             |d AS (SELECT passage, COUNT(DISTINCT doc_id) AS df FROM p GROUP BY passage),
             |k AS (SELECT p.*, d.df <= 1 AS kept FROM p JOIN d USING (passage))
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pass,
             |       CAST(COALESCE(SUM(CASE WHEN kept THEN 1 END), 0) AS BIGINT) AS n_kept,
             |       COALESCE(string_agg(CASE WHEN kept THEN passage END, ' ' ORDER BY p_idx), '') AS clean_text
             |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Cross-corpus near-dup screen: dedup the odd-id half (the "new
    // crawl") against the even-id half (the "already-ingested
    // corpus"). New-vs-new dups stay (that is p20's job); the parity
    // split crosses ~half the fixture's planted near-dup pairs at any
    // SF, so both outcomes appear in the output.
    QueryDef("p39_dedup_against",
      (s, d) => {
        val docs = T(s, d, "documents")
        Dedup.dedupAgainst(docs.filter(col("doc_id") % 2 === 1),
            docs.filter(col("doc_id") % 2 === 0))
          .orderBy("doc_id")
      },
      Some(s"""WITH $mhCte,
              |bn AS (SELECT * FROM (SELECT z.*, COUNT(*) OVER (PARTITION BY band, bh) AS bc
              |                      FROM bands z WHERE doc_id % 2 = 1) t WHERE bc <= 100),
              |br AS (SELECT * FROM (SELECT z.*, COUNT(*) OVER (PARTITION BY band, bh) AS bc
              |                      FROM bands z WHERE doc_id % 2 = 0) t WHERE bc <= 100),
              |cand AS (SELECT DISTINCT n.doc_id AS d1, r.doc_id AS d2
              |         FROM bn n JOIN br r ON n.band = r.band AND n.bh = r.bh),
              |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT c.d1, c.d2, COUNT(*) AS ninter
              |          FROM cand c JOIN sh s1 ON s1.doc_id = c.d1
              |          JOIN sh s2 ON s2.doc_id = c.d2 AND s2.shingle = s1.shingle
              |          GROUP BY c.d1, c.d2),
              |m AS (SELECT i.d1 AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
              |      FROM inter i JOIN cnt c1 ON i.d1 = c1.doc_id JOIN cnt c2 ON i.d2 = c2.doc_id
              |      WHERE i.ninter / (c1.n + c2.n - i.ninter) >= 0.5
              |      GROUP BY i.d1)
              |SELECT d.doc_id, COALESCE(m.n_matches, 0::BIGINT) AS n_matches,
              |       m.n_matches IS NULL AS kept
              |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
              |LEFT JOIN m USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // Cross-split decontamination: the r48 hash split composed with
    // the p39 cross-corpus near-dup screen — train docs within LSH +
    // Jaccard 0.5 of any val/test doc flagged kept=false (the leakage
    // guard between splitting and training; held-out docs never
    // dropped). Oracle = the r48 bucket CTE feeding the p39 chain.
    QueryDef("p45_split_decontaminate",
      (s, d) => Mix.decontaminateSplits(T(s, d, "documents"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id"),
      Some(s"""WITH $mhCte,
              |spl AS (SELECT doc_id,
              |          CASE WHEN b < 8000 THEN 'train'
              |               WHEN b < 9000 THEN 'val'
              |               ELSE 'test' END AS split
              |        FROM (SELECT doc_id,
              |                ('0x' || substr(md5('sp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS b
              |              FROM documents)),
              |bn AS (SELECT * FROM (
              |    SELECT z.*, COUNT(*) OVER (PARTITION BY band, bh) AS bc
              |    FROM bands z
              |    WHERE z.doc_id IN (SELECT doc_id FROM spl WHERE split = 'train')) t
              |  WHERE bc <= 100),
              |br AS (SELECT * FROM (
              |    SELECT z.*, COUNT(*) OVER (PARTITION BY band, bh) AS bc
              |    FROM bands z
              |    WHERE z.doc_id IN (SELECT doc_id FROM spl WHERE split <> 'train')) t
              |  WHERE bc <= 100),
              |cand AS (SELECT DISTINCT n.doc_id AS d1, r.doc_id AS d2
              |         FROM bn n JOIN br r ON n.band = r.band AND n.bh = r.bh),
              |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT c.d1, c.d2, COUNT(*) AS ninter
              |          FROM cand c JOIN sh s1 ON s1.doc_id = c.d1
              |          JOIN sh s2 ON s2.doc_id = c.d2 AND s2.shingle = s1.shingle
              |          GROUP BY c.d1, c.d2),
              |m AS (SELECT i.d1 AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
              |      FROM inter i JOIN cnt c1 ON i.d1 = c1.doc_id JOIN cnt c2 ON i.d2 = c2.doc_id
              |      WHERE i.ninter / (c1.n + c2.n - i.ninter) >= 0.5
              |      GROUP BY i.d1)
              |SELECT d.doc_id, d.split, COALESCE(m.n_matches, 0::BIGINT) AS n_matches,
              |       m.n_matches IS NULL AS kept
              |FROM spl d LEFT JOIN m USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // DSIR data selection (Xie et al. 2023): rank the raw corpus by the
    // hashed-ngram log-likelihood ratio against a target model (here:
    // the English subset as the "quality reference"), then draw the
    // top-50 by derandomized Gumbel top-k — importance resampling
    // without replacement as a pure function of the corpus. The one
    // transcendental (ln) is rounded at 6dp straight off exact-int
    // ratios (≤ buckets distinct inputs, bit-stable across engines on
    // the fixture — validated at every SF); everything downstream is
    // exact-operand IEEE arithmetic with a sorted per-doc fold.
    QueryDef("p46_dsir_select",
      (s, d) => {
        val docs = T(s, d, "documents")
        Mix.dsirSelect(docs, docs.filter(col("lang") === "en"), n = 50)
          .orderBy("rn")
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              |g AS (SELECT doc_id,
              |        unnest(list_concat(t, [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])) AS g
              |      FROM toks),
              |fb AS (SELECT doc_id,
              |         ('0x' || substr(md5(g), 1, 15))::BIGINT % 4096 AS bucket,
              |         CAST(COUNT(*) AS BIGINT) AS c
              |       FROM g GROUP BY doc_id, bucket),
              |bt AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS ct
              |       FROM fb WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
              |       GROUP BY bucket),
              |br AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS cr FROM fb GROUP BY bucket),
              |nt AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt FROM bt),
              |nr AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr FROM br),
              |lr AS (SELECT br.bucket,
              |         ${rrepr("ln(((COALESCE(bt.ct, 0) + 1)::DOUBLE / (nt.nt + 4096)) / ((br.cr + 1)::DOUBLE / (nr.nr + 4096)))", 6)} AS lr
              |       FROM br LEFT JOIN bt USING (bucket) CROSS JOIN nt CROSS JOIN nr),
              |sc AS (SELECT f.doc_id, CAST(SUM(f.c) AS BIGINT) AS n_grams,
              |         ${rrepr("list_reduce(list_sort(list(f.c * lr.lr)), (x, y) -> x + y)", 6)} AS logw
              |       FROM fb f JOIN lr USING (bucket) GROUP BY f.doc_id),
              |keyed AS (SELECT doc_id, logw,
              |            logw + ${rrepr("-ln(-ln(((('0x' || substr(md5('gk:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000) + 0.5) / 1000000.0))", 6)} AS key
              |          FROM sc)
              |SELECT doc_id, logw, key, CAST(rn AS INT) AS rn FROM (
              |  SELECT doc_id, logw, key,
              |         ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS rn
              |  FROM keyed) z
              |WHERE rn <= 50 ORDER BY rn""".stripMargin)),

    // Cluster-balanced (diversity) sampling: ~30 vectors kept from
    // EACH of the 8 clusters — uniform coverage of the embedding space
    // instead of head-cluster dominance. The draw is integer-exact:
    // keep iff md5-bucket < perCluster*buckets DIV cluster_size, so
    // membership depends only on (own cluster size, own id).
    QueryDef("p49_cluster_sample",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        Ann.clusterSample(emb, emb.filter(col("vec_id") < 8), perCluster = 30)
          .orderBy("vec_id")
      },
      Some(s"""WITH $embCte,
              |c AS (SELECT vec_id AS c_id, emb AS cemb FROM e WHERE vec_id < 8),
              |scored AS (SELECT e.vec_id, c.c_id,
              |                  ${rrepr(dcos("e.emb", "c.cemb"), 6)} AS csim
              |           FROM e, c),
              |assign AS (SELECT vec_id, c_id FROM (
              |    SELECT vec_id, c_id,
              |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS crn
              |    FROM scored) t WHERE crn = 1),
              |th AS (SELECT c_id, LEAST(10000, 300000 // COUNT(*)) AS t
              |       FROM assign GROUP BY c_id)
              |SELECT a.vec_id, a.c_id,
              |       (('0x' || substr(md5('cs:' || CAST(a.vec_id AS VARCHAR)), 1, 15))::BIGINT % 10000) < th.t AS kept
              |FROM assign a JOIN th USING (c_id)
              |ORDER BY a.vec_id""".stripMargin)),

    // Quality-aware survivor selection: the p20 dedup chain (LSH
    // candidates verified at Jaccard >= 0.5, connected components) but
    // each near-dup cluster keeps its HIGHEST-quality doc (p09 score,
    // tiebreak min id) instead of the lowest id — the production
    // survivor rule when duplicates differ in extraction quality. One
    // comp-keyed min(struct(-score, id)) picks winners; no window.
    QueryDef("p48_quality_survivors",
      (s, d) => {
        val docs = T(s, d, "documents")
        Dedup.dedupCorpusByScore(docs,
            TextAnalysis.qualityScore(docs).select("doc_id", "score"))
          .orderBy("doc_id")
      },
      Some {
        val stops = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
        s"""WITH RECURSIVE $mhCte,
           |bandc AS (SELECT * FROM (SELECT z.*, COUNT(*) OVER (PARTITION BY band, bh) AS bc
           |                         FROM bands z) t WHERE bc <= 100),
           |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
           |         FROM bandc x JOIN bandc y
           |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
           |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
           |inter AS (SELECT s1.doc_id AS d1, s2.doc_id AS d2, COUNT(*) AS ninter
           |          FROM sh s1 JOIN sh s2
           |            ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
           |          GROUP BY s1.doc_id, s2.doc_id),
           |ver AS (SELECT c.d1, c.d2
           |        FROM cand c
           |        JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
           |        JOIN cnt c1 ON c.d1 = c1.doc_id
           |        JOIN cnt c2 ON c.d2 = c2.doc_id
           |        WHERE i.ninter / (c1.n + c2.n - i.ninter) >= 0.5),
           |edges AS (SELECT d1 AS src, d2 AS dst FROM ver
           |          UNION SELECT d2, d1 FROM ver),
           |reach AS (SELECT src AS id, src AS comp FROM edges
           |          UNION
           |          SELECT e.dst AS id, r.comp FROM reach r
           |          JOIN edges e ON e.src = r.id),
           |comp AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
           |lab AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp
           |        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
           |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
           |agg AS (SELECT doc_id, COUNT(*) AS n_tokens,
           |        CAST(SUM(CASE WHEN token IN ($stops) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
           |        FROM tok GROUP BY doc_id),
           |q AS (SELECT doc_id,
           |  ${rrepr("LEAST(1.0, CAST(n_tokens AS DOUBLE) / 50) * 0.5 + (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5", 4)} AS score
           |      FROM agg),
           |win AS (SELECT comp, doc_id AS winner FROM (
           |    SELECT l.comp, l.doc_id,
           |           ROW_NUMBER() OVER (PARTITION BY l.comp ORDER BY q.score DESC, l.doc_id) AS rn
           |    FROM lab l JOIN q USING (doc_id)) z WHERE rn = 1)
           |SELECT l.doc_id, l.comp, q.score, l.doc_id = w.winner AS keep
           |FROM lab l JOIN q USING (doc_id) JOIN win w USING (comp)
           |ORDER BY l.doc_id""".stripMargin
      }),

    // BM25 lexical retrieval (Okapi k1/b form): top-10 corpus docs per
    // query (queries = docs 0..2 as their own text, self-matches
    // excluded) — the sparse complement to the dense ANN stack. The
    // scoring join is token-keyed (inverted-index shape: only postings
    // matching a query token move); idf's ln is 6dp-rounded off an
    // exact-int chain; the k1/b term is the identical IEEE operand
    // sequence in both engines; per-pair sums are sorted folds.
    QueryDef("p47_bm25", {
      (s, d) => {
        val docs = T(s, d, "documents")
        TextAnalysis.bm25TopK(docs,
            docs.filter(col("doc_id") < 3)
              .select(col("doc_id").as("q_id"), col("text").as("qtext")),
            k = 10)
          .orderBy("q_id", "rn")
      }},
      {
        val (k1, b) = (1.2, 0.75)
        val (k1p1, omb) = (k1 + 1, 1 - b)
        Some(s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                |            FROM documents),
                |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
                |       FROM tok GROUP BY doc_id, token),
                |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
                |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
                |idf AS (SELECT token,
                |          ${rrepr("ln((st.n - d.df + 0.5) / (d.df + 0.5) + 1.0)", 6)} AS idf
                |        FROM (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
                |              FROM tf GROUP BY token) d CROSS JOIN st),
                |qt AS (SELECT DISTINCT doc_id AS q_id, token FROM tok WHERE doc_id < 3),
                |tm AS (SELECT q.q_id, t.doc_id,
                |         ${rrepr(s"i.idf * (t.tf * $k1p1) / (t.tf + $k1 * ($omb + $b * (d2.dl / (st.tot::DOUBLE / st.n))))", 6)} AS term
                |       FROM tf t JOIN qt q USING (token)
                |       JOIN idf i ON i.token = t.token
                |       JOIN dl d2 ON d2.doc_id = t.doc_id CROSS JOIN st
                |       WHERE t.doc_id <> q.q_id),
                |sc AS (SELECT q_id, doc_id,
                |         ${rrepr("list_reduce(list_sort(list(term)), (x, y) -> x + y)", 6)} AS score
                |       FROM tm GROUP BY q_id, doc_id)
                |SELECT q_id, doc_id, score, CAST(rn AS INT) AS rn FROM (
                |  SELECT q_id, doc_id, score,
                |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rn
                |  FROM sc) z
                |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin)
      }),

    // Hybrid retrieval via reciprocal-rank fusion: the BM25 list (p47)
    // and the dense cosine list (p06 shape) fused per candidate as
    // sum of 1/(60 + rank) — rank-based, so the incomparable score
    // scales never need calibration. Every contribution is one IEEE
    // division of exact ints; the per-candidate sum is a sorted fold.
    QueryDef("p50_hybrid_rrf", {
      (s, d) => {
        val docs = T(s, d, "documents")
        Retrieval.hybridTopK(docs, T(s, d, "embeddings"),
            docs.filter(col("doc_id") < 3)
              .select(col("doc_id").as("q_id"), col("text").as("qtext")),
            k = 10)
          .orderBy("q_id", "rn")
      }},
      {
        val (k1, b) = (1.2, 0.75)
        val (k1p1, omb) = (k1 + 1, 1 - b)
        Some(s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                |            FROM documents),
                |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
                |       FROM tok GROUP BY doc_id, token),
                |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
                |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
                |idf AS (SELECT token,
                |          ${rrepr("ln((st.n - d.df + 0.5) / (d.df + 0.5) + 1.0)", 6)} AS idf
                |        FROM (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
                |              FROM tf GROUP BY token) d CROSS JOIN st),
                |qt AS (SELECT DISTINCT doc_id AS q_id, token FROM tok WHERE doc_id < 3),
                |tm AS (SELECT q.q_id, t.doc_id,
                |         ${rrepr(s"i.idf * (t.tf * $k1p1) / (t.tf + $k1 * ($omb + $b * (d2.dl / (st.tot::DOUBLE / st.n))))", 6)} AS term
                |       FROM tf t JOIN qt q USING (token)
                |       JOIN idf i ON i.token = t.token
                |       JOIN dl d2 ON d2.doc_id = t.doc_id CROSS JOIN st
                |       WHERE t.doc_id <> q.q_id),
                |lsc AS (SELECT q_id, doc_id,
                |         ${rrepr("list_reduce(list_sort(list(term)), (x, y) -> x + y)", 6)} AS score
                |       FROM tm GROUP BY q_id, doc_id),
                |lexr AS (SELECT q_id, doc_id AS id, rn FROM (
                |  SELECT q_id, doc_id,
                |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rn
                |  FROM lsc) z WHERE rn <= 10),
                |$embCte,
                |dsc AS (SELECT q.vec_id AS q_id, x.vec_id AS id,
                |               ${rrepr(dcos("x.emb", "q.emb"), 3)} AS sim
                |        FROM e x, e q
                |        WHERE q.vec_id < 3 AND x.vec_id <> q.vec_id),
                |denr AS (SELECT q_id, id, rn FROM (
                |  SELECT q_id, id,
                |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, id) AS rn
                |  FROM dsc) z WHERE rn <= 10),
                |u AS (SELECT q_id, id, 1.0 / (rn + 60) AS contrib FROM lexr
                |      UNION ALL
                |      SELECT q_id, id, 1.0 / (rn + 60) FROM denr),
                |f AS (SELECT q_id, id,
                |        ${rrepr("list_reduce(list_sort(list(contrib)), (x, y) -> x + y)", 6)} AS rrf
                |      FROM u GROUP BY q_id, id)
                |SELECT q_id, id, rrf, CAST(rn AS INT) AS rn FROM (
                |  SELECT q_id, id, rrf,
                |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rrf DESC, id) AS rn
                |  FROM f) z
                |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin)
      }),

    // Count-min sketch corpus summary: the 4×8192 n-gram frequency
    // sketch (a ~256 KB artifact regardless of corpus size) answering
    // point frequencies for doc 0-2's trigrams without rescanning
    // text. Everything is md5-derived integer arithmetic — the sketch
    // itself is hash-checkable cross-engine, collisions and all.
    QueryDef("r57_ngram_cms",
      (s, d) => {
        val docs = T(s, d, "documents")
        val row = graft.functions.Sketch.ngramCms(docs, n = 3).head
        val sk = row.getAs[scala.collection.Seq[Long]]("sketch").toSeq
        graft.functions.Sketch.wordNgrams(docs.filter(col("doc_id") < 3), n = 3)
          .select(col("gram")).distinct()
          .select(col("gram"),
            graft.functions.Sketch.cmsEstimate(sk, 4, 8192)(col("gram")).as("est"))
          .orderBy("gram")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |g AS (SELECT doc_id, unnest([array_to_string(t[i:i+2], ' ')
             |                             FOR i IN range(1, len(t)-1)]) AS gram
             |      FROM toks WHERE len(t) >= 3),
             |h AS (SELECT gram,
             |        ('0x' || substr(md5(gram), 1, 15))::BIGINT AS a,
             |        ('0x' || substr(md5(gram), 16, 15))::BIGINT AS b
             |      FROM g),
             |cells AS (SELECT j.j * 8192 + (h.a + j.j * h.b) % 8192 AS cell
             |          FROM h, range(0, 4) j(j)),
             |cnt AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS v FROM cells GROUP BY cell),
             |q AS (SELECT DISTINCT gram FROM g WHERE doc_id < 3),
             |qh AS (SELECT gram,
             |         ('0x' || substr(md5(gram), 1, 15))::BIGINT AS a,
             |         ('0x' || substr(md5(gram), 16, 15))::BIGINT AS b
             |       FROM q)
             |SELECT qh.gram, CAST(MIN(COALESCE(c.v, 0)) AS BIGINT) AS est
             |FROM qh CROSS JOIN range(0, 4) j(j)
             |LEFT JOIN cnt c ON c.cell = j.j * 8192 + (qh.a + j.j * qh.b) % 8192
             |GROUP BY qh.gram
             |ORDER BY gram""".stripMargin)),

    // Corpus snapshot diff (added/removed/changed docs between two
    // versions, derived deterministically from the same table: A drops
    // id % 7 == 0; B drops id % 5 == 0 and edits id % 11 == 0 texts).
    // Each side reduces to (id, md5(text)) before the full-outer join,
    // so the exchange is ~50 B/doc regardless of text size.
    QueryDef("r56_corpus_diff",
      (s, d) => {
        val docs = T(s, d, "documents")
        val a = docs.filter(col("doc_id") % 7 =!= 0)
        val b = docs.filter(col("doc_id") % 5 =!= 0)
          .withColumn("text", when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
        Quality.corpusDiff(a, b).orderBy("doc_id")
      },
      Some("""WITH a AS (SELECT doc_id, md5(COALESCE(text, '')) AS h
             |           FROM documents WHERE doc_id % 7 <> 0),
             |b AS (SELECT doc_id,
             |        md5(COALESCE(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END, '')) AS h
             |      FROM documents WHERE doc_id % 5 <> 0)
             |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             |       CASE WHEN a.doc_id IS NULL THEN 'added'
             |            WHEN b.doc_id IS NULL THEN 'removed'
             |            ELSE 'changed' END AS status
             |FROM a FULL JOIN b ON a.doc_id = b.doc_id
             |WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.h <> b.h
             |ORDER BY doc_id""".stripMargin)),

    // The remaining Gopher repetition rules (duplicate-line fraction,
    // duplicate-line CHARACTER fraction, dominant-n-gram character
    // coverage for n = 2..4) — p23 carries the top-bigram fraction and
    // distinct-token ratio; together they complete the Gopher §A1.1
    // repetition family. Coverage fractions cap at 1.0 (overlapping
    // occurrences can nominally cover more chars than the doc has).
    QueryDef("p40_gopher_repetition",
      (s, d) => TextAnalysis.gopherRepetition(T(s, d, "documents"))
        .orderBy("doc_id"),
      Some {
        val ngram = Seq(2, 3, 4).map { n =>
          s"""g$n AS (SELECT doc_id, n_chars,
             |  unnest([array_to_string(t[i:i+${n - 1}], ' ') FOR i IN range(1, len(t)-${n}+2)]) AS g
             |  FROM tk WHERE len(t) >= $n),
             |c$n AS (SELECT doc_id, MAX(n_chars) AS n_chars, MAX(cnt * glen) AS cov FROM (
             |    SELECT doc_id, n_chars, g, COUNT(*) AS cnt, LENGTH(g) AS glen
             |    FROM g$n GROUP BY doc_id, n_chars, g) z GROUP BY doc_id),
             |a$n AS (SELECT doc_id, LEAST(1.0::DOUBLE,
             |    ${rrepr("CAST(cov AS DOUBLE) / n_chars", 4)}) AS top${n}gram_char_frac
             |  FROM c$n)""".stripMargin
        }.mkString(",\n")
        s"""WITH ln AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents),
           |lc AS (SELECT doc_id, line, COUNT(*) AS cnt, LENGTH(line) AS len
           |       FROM ln GROUP BY doc_id, line),
           |la AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_lines,
           |         SUM(cnt - 1) AS n_dup, SUM((cnt - 1) * len) AS dup_chars,
           |         SUM(cnt * len) AS line_chars
           |       FROM lc GROUP BY doc_id),
           |tk AS (SELECT doc_id, LENGTH(text) AS n_chars,
           |         string_split(text, ' ') AS t FROM documents),
           |$ngram
           |SELECT la.doc_id, la.n_lines,
           |  ${rrepr("CAST(la.n_dup AS DOUBLE) / la.n_lines", 4)} AS dup_line_frac,
           |  CASE WHEN la.line_chars > 0
           |       THEN ${rrepr("CAST(la.dup_chars AS DOUBLE) / la.line_chars", 4)}
           |       ELSE 0.0::DOUBLE END AS dup_line_char_frac,
           |  COALESCE(a2.top2gram_char_frac, 0.0::DOUBLE) AS top2gram_char_frac,
           |  COALESCE(a3.top3gram_char_frac, 0.0::DOUBLE) AS top3gram_char_frac,
           |  COALESCE(a4.top4gram_char_frac, 0.0::DOUBLE) AS top4gram_char_frac
           |FROM la LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
           |LEFT JOIN a4 USING (doc_id)
           |ORDER BY la.doc_id""".stripMargin
      }),

    // Learned quality filter, applied: the linear logit under the
    // distilled P41Weights over the rounded feature metrics, and the
    // kept = logit > 0 verdict. The left-folded multiply-add chain and
    // the 4dp feature rounds are bit-identical cross-engine (no
    // sigmoid on the scoring path — exp is not correctly-rounded;
    // monotonicity makes the z=0 boundary equivalent).
    QueryDef("p41_quality_classifier",
      (s, d) => TextAnalysis.scoreQualityLogreg(
          TextAnalysis.qualityFeatures(T(s, d, "documents")), P41Weights)
        .orderBy("doc_id"),
      Some {
        val stops = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
        val Seq(w0, w1, w2, w3, w4) = P41Weights.map(w => s"($w::DOUBLE)")
        s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |tok AS (SELECT doc_id, unnest(t) AS token FROM tk),
           |qs AS (SELECT doc_id, COUNT(*) AS n_tokens,
           |        CAST(SUM(CASE WHEN token IN ($stops) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
           |        CAST(COUNT(DISTINCT token) AS BIGINT) AS n_distinct
           |       FROM tok GROUP BY doc_id),
           |bg AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bg
           |       FROM tk WHERE len(t) >= 2),
           |c AS (SELECT doc_id, bg, COUNT(*) AS n FROM bg GROUP BY doc_id, bg),
           |agg AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
           |               CAST(MAX(n) AS BIGINT) AS top_n
           |        FROM c GROUP BY doc_id),
           |f AS (SELECT q.doc_id,
           |  ${rrepr("LEAST(1.0::DOUBLE, CAST(q.n_tokens AS DOUBLE) / 50)", 4)} AS len_frac,
           |  ${rrepr("CAST(q.n_stop AS DOUBLE) / q.n_tokens", 4)} AS stop_ratio,
           |  COALESCE(${rrepr("CAST(a.top_n AS DOUBLE) / a.n_bigrams", 4)}, 0.0::DOUBLE) AS top_frac,
           |  ${rrepr("CAST(q.n_distinct AS DOUBLE) / q.n_tokens", 4)} AS distinct_ratio
           |  FROM qs q LEFT JOIN agg a USING (doc_id)),
           |z AS (SELECT *, ${rrepr(s"$w0 + $w1 * len_frac + $w2 * stop_ratio + $w3 * top_frac + $w4 * distinct_ratio", 6)} AS logit
           |      FROM f)
           |SELECT doc_id, len_frac, stop_ratio, top_frac, distinct_ratio,
           |       logit, logit > 0 AS kept
           |FROM z ORDER BY doc_id""".stripMargin
      }),

    // Classifier evaluation: confusion counts + derived ratios of the
    // P41Weights verdicts against the rule gate's labels — the
    // train -> apply -> evaluate loop's last leg. Counts are exact
    // BIGINTs; ratios are single divisions of those counts.
    QueryDef("p42_classifier_eval",
      (s, d) => {
        val docs = T(s, d, "documents")
        TextAnalysis.classifierMetrics(
          TextAnalysis.scoreQualityLogreg(
            TextAnalysis.qualityFeatures(docs), P41Weights),
          TextAnalysis.qualityGate(docs)
            .select(col("doc_id"), col("kept").cast("int").as("label")))
      },
      Some {
        val stops = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
        val Seq(w0, w1, w2, w3, w4) = P41Weights.map(w => s"($w::DOUBLE)")
        // the p41 feature/logit CTEs verbatim, then the p31 gate's
        // kept-conjunction as labels, then one confusion aggregation
        val langs = Seq("en", "es", "de", "fr", "zh")
        val sums = langs.map { l =>
          val sw = TextAnalysis.stopwords(l).map(x => s"'$x'").mkString(", ")
          s"SUM(CASE WHEN token IN ($sw) THEN 1 ELSE 0 END) AS s_$l"
        }.mkString(", ")
        val best = s"GREATEST(${langs.map(l => s"s_$l").mkString(", ")})"
        val pred = langs.map(l => s"WHEN s_$l = $best AND $best > 0 THEN '$l'").mkString(" ")
        s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |tok AS (SELECT doc_id, unnest(t) AS token FROM tk),
           |qs AS (SELECT doc_id, COUNT(*) AS n_tokens,
           |        CAST(SUM(CASE WHEN token IN ($stops) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
           |        CAST(COUNT(DISTINCT token) AS BIGINT) AS n_distinct,
           |        $sums
           |       FROM tok GROUP BY doc_id),
           |bg AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bg
           |       FROM tk WHERE len(t) >= 2),
           |c AS (SELECT doc_id, bg, COUNT(*) AS n FROM bg GROUP BY doc_id, bg),
           |agg AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
           |               CAST(MAX(n) AS BIGINT) AS top_n
           |        FROM c GROUP BY doc_id),
           |f AS (SELECT q.doc_id, q.n_tokens,
           |  ${rrepr("CAST(q.n_stop AS DOUBLE) / q.n_tokens", 4)} AS stop_ratio,
           |  ${rrepr("LEAST(1.0::DOUBLE, CAST(q.n_tokens AS DOUBLE) / 50)", 4)} AS len_frac,
           |  COALESCE(${rrepr("CAST(a.top_n AS DOUBLE) / a.n_bigrams", 4)}, 0.0::DOUBLE) AS top_frac,
           |  ${rrepr("CAST(q.n_distinct AS DOUBLE) / q.n_tokens", 4)} AS distinct_ratio,
           |  CASE $pred ELSE 'und' END AS pred_lang,
           |  CASE WHEN a.n_bigrams IS NULL
           |       THEN TRUE ELSE ${rrepr("CAST(a.top_n AS DOUBLE) / a.n_bigrams", 4)} <= 0.5 END AS ok_rep
           |  FROM qs q LEFT JOIN agg a USING (doc_id)),
           |v AS (SELECT doc_id,
           |  ${rrepr(s"$w0 + $w1 * len_frac + $w2 * stop_ratio + $w3 * top_frac + $w4 * distinct_ratio", 6)} > 0 AS p,
           |  (n_tokens >= 5 AND ok_rep AND stop_ratio >= 0.05 AND pred_lang = 'en') AS y
           |  FROM f),
           |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CASE WHEN p AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           |  CAST(SUM(CASE WHEN p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           |  CAST(SUM(CASE WHEN NOT p AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           |  CAST(SUM(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
           |  FROM v)
           |SELECT n, tp, fp, fn, tn,
           |  CASE WHEN n > 0 THEN ${rrepr("CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE)", 4)} END AS accuracy,
           |  CASE WHEN tp + fp > 0 THEN ${rrepr("CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)", 4)} END AS precision,
           |  CASE WHEN tp + fn > 0 THEN ${rrepr("CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)", 4)} END AS recall,
           |  CASE WHEN tp * 2 + fp + fn > 0 THEN ${rrepr("CAST(tp * 2 AS DOUBLE) / CAST(tp * 2 + fp + fn AS DOUBLE)", 4)} END AS f1
           |FROM m""".stripMargin
      }),

    // One-vs-rest domain classifier, applied: per-class linear logits
    // under the distilled P51Weights (the same sigmoid-free exact
    // scoring contract as p41 — softmax is monotone per row, so argmax
    // over 6dp logits IS argmax over probabilities) and the argmax
    // winner with ties to the smallest class label.
    QueryDef("p51_domain_classifier",
      (s, d) => TextAnalysis.scoreDomains(
          TextAnalysis.qualityFeatures(T(s, d, "documents")), P51Weights)
        .orderBy("doc_id"),
      Some {
        val stops = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
        val legs = P51Weights.map { case (cls, ws) =>
          val Seq(w0, w1, w2, w3, w4) = ws.map(x => s"($x::DOUBLE)")
          s"""SELECT doc_id, len_frac, stop_ratio, top_frac, distinct_ratio,
             |  '$cls' AS domain,
             |  ${rrepr(s"$w0 + $w1 * len_frac + $w2 * stop_ratio + $w3 * top_frac + $w4 * distinct_ratio", 6)} AS logit
             |FROM f""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |tok AS (SELECT doc_id, unnest(t) AS token FROM tk),
           |qs AS (SELECT doc_id, COUNT(*) AS n_tokens,
           |        CAST(SUM(CASE WHEN token IN ($stops) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
           |        CAST(COUNT(DISTINCT token) AS BIGINT) AS n_distinct
           |       FROM tok GROUP BY doc_id),
           |bg AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bg
           |       FROM tk WHERE len(t) >= 2),
           |c AS (SELECT doc_id, bg, COUNT(*) AS n FROM bg GROUP BY doc_id, bg),
           |agg AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
           |               CAST(MAX(n) AS BIGINT) AS top_n
           |        FROM c GROUP BY doc_id),
           |f AS (SELECT q.doc_id,
           |  ${rrepr("LEAST(1.0::DOUBLE, CAST(q.n_tokens AS DOUBLE) / 50)", 4)} AS len_frac,
           |  ${rrepr("CAST(q.n_stop AS DOUBLE) / q.n_tokens", 4)} AS stop_ratio,
           |  COALESCE(${rrepr("CAST(a.top_n AS DOUBLE) / a.n_bigrams", 4)}, 0.0::DOUBLE) AS top_frac,
           |  ${rrepr("CAST(q.n_distinct AS DOUBLE) / q.n_tokens", 4)} AS distinct_ratio
           |  FROM qs q LEFT JOIN agg a USING (doc_id)),
           |lg AS ($legs)
           |SELECT doc_id, len_frac, stop_ratio, top_frac, distinct_ratio, domain, logit
           |FROM (SELECT *, ROW_NUMBER() OVER (
           |        PARTITION BY doc_id ORDER BY logit DESC, domain) AS drn
           |      FROM lg) z
           |WHERE drn = 1 ORDER BY doc_id""".stripMargin
      }),

    // BM25 + RM3 pseudo-relevance feedback: the p47 chain, then RM1
    // expansion weights from each query's top-3 feedback docs
    // (tf/dl × doc score, original query tokens excluded), top-5 new
    // terms normalized to sum 1, and the final α-interpolated score
    // over the UNION of the two candidate sets (a doc only expansion
    // terms reach — the vocabulary-mismatch case PRF exists for — has
    // no base leg; COALESCE gives it α·0). α = 0.5 so 1−α is exact in
    // IEEE cross-engine.
    QueryDef("p52_rm3_expansion", {
      (s, d) => {
        // doc_id is the table's key and never null; stated once, the
        // null-id filter the scoring joins infer reaches every copy of
        // the postings alike (the p56 reason), so one scan serves them.
        val docs = T(s, d, "documents").filter(col("doc_id").isNotNull)
        TextAnalysis.rm3TopK(docs,
            docs.filter(col("doc_id") < 3)
              .select(col("doc_id").as("q_id"), col("text").as("qtext")),
            k = 10, fb = 3, e = 5, alpha = 0.5)
          .orderBy("q_id", "rn")
      }},
      {
        val (k1, b) = (1.2, 0.75)
        val (k1p1, omb) = (k1 + 1, 1 - b)
        val termF = s"i.idf * (t.tf * $k1p1) / (t.tf + $k1 * ($omb + $b * (d2.dl / (st.tot::DOUBLE / st.n))))"
        Some(s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                |            FROM documents),
                |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
                |       FROM tok GROUP BY doc_id, token),
                |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
                |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
                |idf AS (SELECT token,
                |          ${rrepr("ln((st.n - d.df + 0.5) / (d.df + 0.5) + 1.0)", 6)} AS idf
                |        FROM (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
                |              FROM tf GROUP BY token) d CROSS JOIN st),
                |qt AS (SELECT DISTINCT doc_id AS q_id, token FROM tok WHERE doc_id < 3),
                |tm AS (SELECT q.q_id, t.doc_id,
                |         ${rrepr(termF, 6)} AS term
                |       FROM tf t JOIN qt q USING (token)
                |       JOIN idf i ON i.token = t.token
                |       JOIN dl d2 ON d2.doc_id = t.doc_id CROSS JOIN st
                |       WHERE t.doc_id <> q.q_id),
                |sc AS (SELECT q_id, doc_id,
                |         ${rrepr("list_reduce(list_sort(list(term)), (x, y) -> x + y)", 6)} AS score
                |       FROM tm GROUP BY q_id, doc_id),
                |fbr AS (SELECT q_id, doc_id, score FROM (
                |    SELECT q_id, doc_id, score,
                |           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS frn
                |    FROM sc) z WHERE frn <= 3),
                |ct AS (SELECT fb.q_id, t.token,
                |         ${rrepr("CAST(t.tf AS DOUBLE) / d2.dl * fb.score", 6)} AS c
                |       FROM fbr fb JOIN tf t ON t.doc_id = fb.doc_id
                |       JOIN dl d2 ON d2.doc_id = fb.doc_id),
                |cw AS (SELECT q_id, token,
                |         ${rrepr("list_reduce(list_sort(list(c)), (x, y) -> x + y)", 6)} AS w
                |       FROM ct c1
                |       WHERE NOT EXISTS (SELECT 1 FROM qt q
                |                         WHERE q.q_id = c1.q_id AND q.token = c1.token)
                |       GROUP BY q_id, token),
                |ex AS (SELECT q_id, token, w FROM (
                |    SELECT q_id, token, w,
                |           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY w DESC, token) AS ern
                |    FROM cw) z WHERE ern <= 5),
                |ws AS (SELECT q_id,
                |         ${rrepr("list_reduce(list_sort(list(w)), (x, y) -> x + y)", 6)} AS ws
                |       FROM ex GROUP BY q_id),
                |exn AS (SELECT e2.q_id, e2.token,
                |          CASE WHEN s2.ws > 0 THEN ${rrepr("e2.w / s2.ws", 6)}
                |               ELSE 0.0::DOUBLE END AS wn
                |        FROM ex e2 JOIN ws s2 ON e2.q_id = s2.q_id),
                |etm AS (SELECT x.q_id, t.doc_id,
                |          ${rrepr(s"x.wn * ${rrepr(termF, 6)}", 6)} AS wterm
                |        FROM tf t JOIN exn x ON x.token = t.token
                |        JOIN idf i ON i.token = t.token
                |        JOIN dl d2 ON d2.doc_id = t.doc_id CROSS JOIN st
                |        WHERE t.doc_id <> x.q_id),
                |esc AS (SELECT q_id, doc_id,
                |          ${rrepr("list_reduce(list_sort(list(wterm)), (x, y) -> x + y)", 6)} AS exps
                |        FROM etm GROUP BY q_id, doc_id),
                |fin AS (SELECT COALESCE(s3.q_id, x.q_id) AS q_id,
                |               COALESCE(s3.doc_id, x.doc_id) AS doc_id,
                |          ${rrepr("0.5 * COALESCE(s3.score, 0.0) + 0.5 * COALESCE(x.exps, 0.0)", 6)} AS score
                |        FROM sc s3 FULL JOIN esc x
                |          ON s3.q_id = x.q_id AND s3.doc_id = x.doc_id)
                |SELECT q_id, doc_id, score, CAST(rn AS INT) AS rn FROM (
                |  SELECT q_id, doc_id, score,
                |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rn
                |  FROM fin) z
                |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin)
      }),

    // Product-quantized ANN, oracle-checked end to end: codebook
    // TRAINING (one exact-means Lloyd iteration per subspace from
    // md5-seeded corpus vectors), ENCODE (L2 argmin via the
    // score = sv·c − |c|²/2 identity, 6dp + c_id tiebreak), the ADC
    // approximate-dot candidate scan (m ordered lookups per pair,
    // round 6), shortlist, and the exact float-cosine re-rank — every
    // stage the production pqTopK runs, at a small fixed config
    // (m=4, ksub=8, iters=1, 3 queries). exactMeans swaps the one
    // non-deterministic aggregation (the centroid mean) for the
    // kmeansStep-style ordered fold; everything else is the shipped
    // code path.
    QueryDef("p43_ann_pq",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        Ann.pqTopK(emb, emb.filter(col("vec_id") < 3), k = 5, m = 4,
          ksub = 8, iters = 1, shortlist = 20, exactMeans = true)
          .orderBy("q_id", "rn")
      },
      Some(s"""WITH $embCte,
              |${pqOracleCtes("sv",
                 s"sv AS (SELECT vec_id, r.sub, emb[(r.sub*16+1):(r.sub*16+16)] AS sv FROM e, range(0, 4) r(sub))")},
              |lutp AS (SELECT s.vec_id AS q_id, s.sub, b.c_id,
              |                ${ddot("s.sv", "b.cemb")} AS pdot
              |         FROM sv s JOIN bk1 b ON s.sub = b.sub WHERE s.vec_id < 3),
              |adp AS (SELECT l.q_id, en.vec_id, en.sub, l.pdot
              |        FROM enc en JOIN lutp l ON en.sub = l.sub AND en.c_id = l.c_id
              |        WHERE en.vec_id <> l.q_id),
              |ad AS (SELECT q_id, vec_id,
              |              ${rrepr("list_reduce(list(pdot ORDER BY sub), (p, q) -> p + q)", 6)} AS adot
              |       FROM adp GROUP BY q_id, vec_id),
              |$pqShortRerankSql""".stripMargin)),

    // IVFPQ, oracle-checked end to end: cosine coarse assignment to 8
    // FIXED centroids (the production shape — a deployed index reuses
    // one persisted coarse quantizer), per-vector residuals, an
    // exact-means residual-codebook Lloyd iteration, encode, then the
    // bias-form inner-product ADC (dot(q,v) ≈ dot(q,c_v) + dot(q,r̂_v):
    // residual lookups plus the per-(query, probed-cluster) scalar
    // bias) over nprobe=2 probed clusters, shortlist, exact re-rank.
    QueryDef("p44_ann_ivfpq",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        Ann.ivfPqTopK(emb, emb.filter(col("vec_id") < 3), k = 5,
          nprobe = 2, m = 4, ksub = 8, iters = 1, shortlist = 20,
          exactMeans = true, coarse0 = Some(emb.filter(col("vec_id") < 8)))
          .orderBy("q_id", "rn")
      },
      Some(s"""WITH $embCte,
              |coarse AS (SELECT vec_id AS c_id, emb AS cemb FROM e WHERE vec_id < 8),
              |acs AS (SELECT e.vec_id, c.c_id,
              |               ${rrepr(dcos("e.emb", "c.cemb"), 6)} AS csim
              |        FROM e, coarse c),
              |cassign AS (SELECT vec_id, c_id FROM (
              |    SELECT vec_id, c_id,
              |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS crn
              |    FROM acs) t WHERE crn = 1),
              |resid AS (SELECT e.vec_id, [e.emb[i] - c.cemb[i] FOR i IN range(1, 65)] AS emb
              |          FROM e JOIN cassign a ON e.vec_id = a.vec_id
              |          JOIN coarse c ON a.c_id = c.c_id),
              |${pqOracleCtes("rsv",
                 s"rsv AS (SELECT vec_id, r.sub, emb[(r.sub*16+1):(r.sub*16+16)] AS sv FROM resid, range(0, 4) r(sub))")},
              |qsv AS (SELECT vec_id, r.sub, emb[(r.sub*16+1):(r.sub*16+16)] AS sv
              |        FROM e, range(0, 4) r(sub) WHERE vec_id < 3),
              |lutp AS (SELECT s.vec_id AS q_id, s.sub, b.c_id,
              |                ${ddot("s.sv", "b.cemb")} AS pdot
              |         FROM qsv s JOIN bk1 b ON s.sub = b.sub),
              |qcs AS (SELECT q.vec_id AS q_id, c.c_id, q.emb AS qemb,
              |               ${rrepr(dcos("q.emb", "c.cemb"), 6)} AS csim
              |        FROM e q, coarse c WHERE q.vec_id < 3),
              |probes AS (SELECT q_id, c_id, qemb FROM (
              |    SELECT q_id, c_id, qemb,
              |           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY csim DESC, c_id) AS crn
              |    FROM qcs) t WHERE crn <= 2),
              |pb AS (SELECT p.q_id, p.c_id, ${ddot("p.qemb", "c.cemb")} AS bias
              |       FROM probes p JOIN coarse c ON p.c_id = c.c_id),
              |cand AS (SELECT p.q_id, p.bias, a.vec_id
              |         FROM pb p JOIN cassign a ON a.c_id = p.c_id
              |         WHERE a.vec_id <> p.q_id),
              |adp AS (SELECT cd.q_id, cd.vec_id, cd.bias, en.sub, l.pdot
              |        FROM cand cd JOIN enc en ON en.vec_id = cd.vec_id
              |        JOIN lutp l ON l.q_id = cd.q_id AND l.sub = en.sub AND l.c_id = en.c_id),
              |ad AS (SELECT q_id, vec_id,
              |              ${rrepr("list_reduce(list(pdot ORDER BY sub), (p, q) -> p + q) + bias", 6)} AS adot
              |       FROM adp GROUP BY q_id, vec_id, bias),
              |$pqShortRerankSql""".stripMargin)),

    // PageRank over a deterministic synthetic link graph on the
    // documents table (two modular-arithmetic edge maps; src % 11 == 0
    // rows dropped to plant dangling nodes). 3 power iterations at
    // damping 0.5, every stage 9dp-rounded with sorted folds — the
    // oracle unrolls the iterations as CTEs and must match bit for
    // bit, dangling redistribution and all.
    QueryDef("r61_pagerank",
      (s, d) => linkGraphPagerank(s, d, exact = true),
      Some(pagerankOracle("SELECT v, pr FROM pr3 ORDER BY v"))),

    // The PRODUCTION mode of the same PageRank: `exact = false` swaps
    // every sorted-fold collect for a plain partial-aggregable SUM
    // (O(1) agg state per key — the plan a 10^8-in-degree web graph
    // actually runs; PLANS.md row carries no collect_list). Because
    // every stage 9dp-rounds sums of 1e-9-multiples whose float error
    // (~1e-12) is far below the 5e-10 half-grid, the assoc ranks equal
    // exact's bit for bit in practice (GraphSpec pins ≤ 1e-9); the
    // extra 6dp output rounding absorbs any residual boundary ulp, so
    // the SAME exact-mode DuckDB oracle checks the production plan.
    QueryDef("r61a_pagerank_assoc",
      (s, d) => linkGraphPagerank(s, d, exact = false)
        .select(col("v"), round(col("pr"), 6).as("pr")),
      Some(pagerankOracle(
        s"SELECT v, ${rrepr("pr", 6)} AS pr FROM pr3 ORDER BY v"))),

    // HITS hubs/authorities on the same synthetic link graph as r61,
    // L1-normalized half-steps (no sqrt — every number stays a rounded
    // sorted-fold sum or quotient), 2 power iterations unrolled in the
    // oracle as per-half-step CTEs that must match bit for bit.
    QueryDef("r63_hits",
      (s, d) => linkGraphHits(s, d, exact = true),
      Some(hitsOracle(
        """SELECT nd.v, a2.s AS auth, h2.s AS hub
          |FROM nodes nd JOIN a2 ON a2.v = nd.v JOIN h2 ON h2.v = nd.v
          |ORDER BY nd.v""".stripMargin))),

    // Production HITS (`exact = false` — plain partial-aggregable sums
    // per node AND for the two L1 totals; the r61a argument), checked
    // against the exact-mode oracle at 6dp.
    QueryDef("r63a_hits_assoc",
      (s, d) => linkGraphHits(s, d, exact = false)
        .select(col("v"), round(col("auth"), 6).as("auth"),
          round(col("hub"), 6).as("hub")),
      Some(hitsOracle(
        s"""SELECT nd.v, ${rrepr("a2.s", 6)} AS auth, ${rrepr("h2.s", 6)} AS hub
           |FROM nodes nd JOIN a2 ON a2.v = nd.v JOIN h2 ON h2.v = nd.v
           |ORDER BY nd.v""".stripMargin))),

    // Site-level quality prior (RefinedWeb's judge-the-host pattern):
    // synthetic URLs derived from (source, lang, doc_id), host
    // extracted by the shared Java-regex/RE2 pattern, per-host mean
    // p09 quality score joined back onto every doc.
    QueryDef("r65_host_prior", {
      (s, d) => {
        val docs = T(s, d, "documents")
        val withUrl = docs.select(col("doc_id"),
          concat(lit("https://"), col("source"), lit(".example.com/"),
            col("lang"), lit("/"), col("doc_id")).as("url"))
        graft.operators.Quality.hostPrior(withUrl,
            TextAnalysis.qualityScore(docs))
          .orderBy("doc_id")
      }},
      Some {
        val stops = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
           |agg AS (SELECT doc_id, COUNT(*) AS n_tokens,
           |        CAST(SUM(CASE WHEN token IN ($stops) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
           |        FROM tok GROUP BY doc_id),
           |sc AS (SELECT doc_id,
           |  ${rrepr("LEAST(1.0, CAST(n_tokens AS DOUBLE) / 50) * 0.5 + (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5", 4)} AS score
           |  FROM agg),
           |u AS (SELECT d.doc_id,
           |        lower(regexp_extract(
           |          'https://' || d.source || '.example.com/' || d.lang || '/' || d.doc_id,
           |          '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
           |        s.score
           |      FROM documents d JOIN sc s USING (doc_id)),
           |pr AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |         ${rrepr("list_reduce(list_sort(list(score)), (x, y) -> x + y) / COUNT(*)", 6)} AS host_prior
           |       FROM u GROUP BY host)
           |SELECT u.doc_id, u.host, u.score, pr.n_docs, pr.host_prior
           |FROM u JOIN pr USING (host) ORDER BY u.doc_id""".stripMargin
      }),

    // Text normalization (lower / strip control chars / collapse
    // whitespace / trim) — the zeroth curation stage, as one codegen'd
    // projection; token count measured on the normalized form.
    QueryDef("r60_normalize",
      (s, d) => T(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("norm_text"))
        .withColumn("n_tokens",
          when(col("norm_text") === "", 0)
            .otherwise(size(split(col("norm_text"), " "))).cast("int"))
        .orderBy("doc_id"),
      Some("""WITH n AS (SELECT doc_id,
             |  trim(regexp_replace(regexp_replace(lower(text), '[\x00-\x1f]', ' ', 'g'),
             |       ' +', ' ', 'g')) AS norm_text
             |  FROM documents)
             |SELECT doc_id, norm_text,
             |  CAST(CASE WHEN norm_text = '' THEN 0
             |            ELSE len(string_split(norm_text, ' ')) END AS INT) AS n_tokens
             |FROM n ORDER BY doc_id""".stripMargin)),

    // HTML -> visible text (TextAnalysis.htmlToText), the extraction
    // stage BEFORE r60's normalization for web-crawled corpora. Each
    // document is deterministically wrapped in an HTML page that plants
    // every hazard the extractor must handle — a <script> whose code
    // contains a bare '<', a <style> block, a comment, title/h1
    // duplication, and entities including a double-encoded &amp;amp;
    // (must decode exactly one level) — then extracted. Both engines
    // run the IDENTICAL regex chain (common Java-regex/RE2 subset).
    QueryDef("r62_html_extract",
      (s, d) => {
        val docs = T(s, d, "documents")
        val html = concat(
          lit("<html><head><script type=\"text/javascript\">var hidden = 1 < 2;" +
            "</script><style>p { color: #888; }</style><title>"),
          col("source"),
          lit("</title></head>\n<body>\t<h1>"), col("source"),
          lit("</h1>\n<p>"), coalesce(col("text"), lit("")),
          lit(" &amp;amp; x &lt; y &nbsp;&quot;q&quot; &#39;s&#39;</p>" +
            "<!-- drop me -->\n</body></html>"))
        docs.select(col("doc_id"),
            TextAnalysis.htmlToText(html).as("extracted"))
          .withColumn("n_chars_extracted",
            length(col("extracted")).cast("long"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (SELECT doc_id,
             |  '<html><head><script type="text/javascript">var hidden = 1 < 2;</script><style>p { color: #888; }</style><title>'
             |  || source || '</title></head>' || chr(10) || '<body>' || chr(9) || '<h1>'
             |  || source || '</h1>' || chr(10) || '<p>' || COALESCE(text, '')
             |  || ' &amp;amp; x &lt; y &nbsp;&quot;q&quot; &#39;s&#39;</p><!-- drop me -->' || chr(10) || '</body></html>' AS html
             |  FROM documents),
             |x AS (SELECT doc_id,
             |  trim(regexp_replace(
             |    replace(replace(replace(replace(replace(replace(
             |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
             |        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
             |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
             |        '(?s)<!--.*?-->', ' ', 'g'),
             |        '<[^>]*>', ' ', 'g'),
             |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
             |    '[ \t\n\r\x0b\f]+', ' ', 'g')) AS extracted
             |  FROM h)
             |SELECT doc_id, extracted, CAST(len(extracted) AS BIGINT) AS n_chars_extracted
             |FROM x ORDER BY doc_id""".stripMargin)),

    // Calibration curve of the learned filter: fixed logit-bin cuts
    // (bin = pure function of the doc's own logit — no corpus-wide
    // ordering) -> per-bin count + empirical keep-rate under the p31
    // gate's labels. The p41 logit and p42 label CTEs, one grouping.
    QueryDef("p54_calibration",
      (s, d) => {
        val docs = T(s, d, "documents")
        TextAnalysis.calibrationBins(
          TextAnalysis.scoreQualityLogreg(
            TextAnalysis.qualityFeatures(docs), P41Weights),
          TextAnalysis.qualityGate(docs)
            .select(col("doc_id"), col("kept").cast("int").as("label")))
      },
      Some {
        val stops = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
        val Seq(w0, w1, w2, w3, w4) = P41Weights.map(w => s"($w::DOUBLE)")
        val langs = Seq("en", "es", "de", "fr", "zh")
        val sums = langs.map { l =>
          val sw = TextAnalysis.stopwords(l).map(x => s"'$x'").mkString(", ")
          s"SUM(CASE WHEN token IN ($sw) THEN 1 ELSE 0 END) AS s_$l"
        }.mkString(", ")
        val best = s"GREATEST(${langs.map(l => s"s_$l").mkString(", ")})"
        val pred = langs.map(l => s"WHEN s_$l = $best AND $best > 0 THEN '$l'").mkString(" ")
        val cuts = Seq(-4, -2, -1, 0, 1, 2, 4)
        val binCase = "CASE " + cuts.zipWithIndex
          .map { case (c, i) => s"WHEN logit <= $c THEN $i" }
          .mkString(" ") + s" ELSE ${cuts.size} END"
        s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |tok AS (SELECT doc_id, unnest(t) AS token FROM tk),
           |qs AS (SELECT doc_id, COUNT(*) AS n_tokens,
           |        CAST(SUM(CASE WHEN token IN ($stops) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
           |        CAST(COUNT(DISTINCT token) AS BIGINT) AS n_distinct,
           |        $sums
           |       FROM tok GROUP BY doc_id),
           |bg AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bg
           |       FROM tk WHERE len(t) >= 2),
           |c AS (SELECT doc_id, bg, COUNT(*) AS n FROM bg GROUP BY doc_id, bg),
           |agg AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
           |               CAST(MAX(n) AS BIGINT) AS top_n
           |        FROM c GROUP BY doc_id),
           |f AS (SELECT q.doc_id, q.n_tokens,
           |  ${rrepr("CAST(q.n_stop AS DOUBLE) / q.n_tokens", 4)} AS stop_ratio,
           |  ${rrepr("LEAST(1.0::DOUBLE, CAST(q.n_tokens AS DOUBLE) / 50)", 4)} AS len_frac,
           |  COALESCE(${rrepr("CAST(a.top_n AS DOUBLE) / a.n_bigrams", 4)}, 0.0::DOUBLE) AS top_frac,
           |  ${rrepr("CAST(q.n_distinct AS DOUBLE) / q.n_tokens", 4)} AS distinct_ratio,
           |  CASE $pred ELSE 'und' END AS pred_lang,
           |  CASE WHEN a.n_bigrams IS NULL
           |       THEN TRUE ELSE ${rrepr("CAST(a.top_n AS DOUBLE) / a.n_bigrams", 4)} <= 0.5 END AS ok_rep
           |  FROM qs q LEFT JOIN agg a USING (doc_id)),
           |v AS (SELECT doc_id,
           |  ${rrepr(s"$w0 + $w1 * len_frac + $w2 * stop_ratio + $w3 * top_frac + $w4 * distinct_ratio", 6)} AS logit,
           |  (n_tokens >= 5 AND ok_rep AND stop_ratio >= 0.05 AND pred_lang = 'en') AS y
           |  FROM f),
           |b AS (SELECT $binCase AS bin, y FROM v)
           |SELECT CAST(bin AS INT) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
           |  ${rrepr("CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 4)} AS keep_rate
           |FROM b GROUP BY bin ORDER BY bin""".stripMargin
      }),

    // Recall@k evaluation of the IVF search against the brute-force
    // list (same queries, same k) — the ANN-tuning loop's number as a
    // first-class operator. Both lists are deterministic, so the
    // per-query hit counts and 4dp recalls hash cross-engine.
    QueryDef("p53_ann_recall",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val centroids = emb.filter(col("vec_id") < 8)
        val queries = emb.filter(col("vec_id") >= 8 && col("vec_id") < 13)
        val index = Ann.assignClusters(emb, centroids).join(emb, "vec_id")
        Ann.recallAtK(
          Ann.ivfSearchBatch(index, centroids, queries, k = 5, nprobe = 2),
          Ann.bruteTopK(emb, queries, k = 5), k = 5)
      },
      Some(s"""WITH $embCte,
              |c AS (SELECT vec_id AS c_id, emb AS cemb FROM e WHERE vec_id < 8),
              |q AS (SELECT vec_id AS q_id, emb AS qemb FROM e
              |      WHERE vec_id >= 8 AND vec_id < 13),
              |ascored AS (SELECT e.vec_id, c.c_id,
              |                   ${rrepr(dcos("e.emb", "c.cemb"), 6)} AS csim
              |            FROM e, c),
              |assign AS (SELECT vec_id, c_id FROM (
              |    SELECT vec_id, c_id,
              |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS crn
              |    FROM ascored) t WHERE crn = 1),
              |qscored AS (SELECT q.q_id, c.c_id,
              |                   ${rrepr(dcos("q.qemb", "c.cemb"), 6)} AS csim
              |            FROM q, c),
              |probes AS (SELECT q_id, c_id FROM (
              |    SELECT q_id, c_id,
              |           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY csim DESC, c_id) AS crn
              |    FROM qscored) t WHERE crn <= 2),
              |scored AS (SELECT p.q_id, a.vec_id,
              |                  ${rrepr(dcos("e.emb", "q.qemb"), 3)} AS sim
              |           FROM probes p JOIN assign a ON a.c_id = p.c_id
              |           JOIN e ON e.vec_id = a.vec_id
              |           JOIN q ON q.q_id = p.q_id
              |           WHERE a.vec_id <> p.q_id),
              |apx AS (SELECT q_id, vec_id FROM (
              |    SELECT q_id, vec_id,
              |           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
              |    FROM scored) t WHERE rn <= 5),
              |bsc AS (SELECT q.q_id, x.vec_id,
              |               ${rrepr(dcos("x.emb", "q.qemb"), 3)} AS sim
              |        FROM e x, q WHERE x.vec_id <> q.q_id),
              |bex AS (SELECT q_id, vec_id FROM (
              |    SELECT q_id, vec_id,
              |           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
              |    FROM bsc) t WHERE rn <= 5),
              |h AS (SELECT a.q_id, CAST(COUNT(*) AS BIGINT) AS hits
              |      FROM apx a JOIN bex b ON b.q_id = a.q_id AND b.vec_id = a.vec_id
              |      GROUP BY a.q_id)
              |SELECT qq.q_id, COALESCE(h.hits, CAST(0 AS BIGINT)) AS hits,
              |       ${rrepr("CAST(COALESCE(h.hits, 0) AS DOUBLE) / 5", 4)} AS recall
              |FROM (SELECT DISTINCT q_id FROM bex) qq LEFT JOIN h USING (q_id)
              |ORDER BY q_id""".stripMargin)),

    // Heavy hitters: EXACT top-20 corpus tokens computed the
    // bounded-memory way — a Misra-Gries summary pass (≤ budget
    // counters per task, the whole vocabulary never rides a shuffle)
    // nominates candidates, a filtered pass recounts them exactly, and
    // the result self-certifies complete against the computable miss
    // bound (N − Σsummary)/(budget+1). The OUTPUT is exact either way
    // (a certification miss falls back to the vocab groupBy), which is
    // what makes an approximate-sketch operator oracle-checkable: the
    // oracle is the plain exact top-k.
    QueryDef("r58_heavy_hitters",
      (s, d) => graft.functions.Sketch.heavyHitters(
        T(s, d, "documents"), k = 20, budget = 4096),
      Some("""WITH tok AS (SELECT unnest(string_split(COALESCE(text, ''), ' ')) AS token
             |            FROM documents),
             |c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token)
             |SELECT token, cnt, CAST(rn AS INT) AS rn FROM (
             |  SELECT token, cnt,
             |         ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rn
             |  FROM c) z
             |WHERE rn <= 20 ORDER BY rn""".stripMargin)),

    // Incremental heavy hitters: per-half MG summaries merged (the
    // mergeable-summaries property), candidates pruned by the
    // lb + missBound >= kth-lb exactness rule, ONE corpus recount.
    // Same oracle as r58 — the incremental path must reproduce the
    // exact top-k bit for bit.
    QueryDef("r59_heavy_hitters_inc",
      (s, d) => {
        val docs = T(s, d, "documents")
        val sums = graft.functions.Sketch
          .mgSummary(docs.filter(col("doc_id") % 2 === 0))
          .unionByName(graft.functions.Sketch
            .mgSummary(docs.filter(col("doc_id") % 2 === 1)))
        graft.functions.Sketch.heavyHittersFromSummaries(sums, docs, k = 20)
      },
      Some("""WITH tok AS (SELECT unnest(string_split(COALESCE(text, ''), ' ')) AS token
             |            FROM documents),
             |c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token)
             |SELECT token, cnt, CAST(rn AS INT) AS rn FROM (
             |  SELECT token, cnt,
             |         ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rn
             |  FROM c) z
             |WHERE rn <= 20 ORDER BY rn""".stripMargin)),

    // URL-level dedup (CCNet/RefinedWeb stage one — a crawl revisits
    // pages under cosmetic URL variants): synthetic URLs derived from
    // doc_id plant every variant class Quality.normalizeUrl folds
    // (scheme/host case, default port, userinfo, doubled slashes,
    // trailing slash, tracking params, parameter order, fragments);
    // docs 2k and 2k+1 share a page when their decorations agree.
    QueryDef("r66_url_dedup",
      (s, d) => {
        val pair = floor(col("doc_id") / 2).cast("long")
        val url = concat(
          when(col("doc_id") % 3 === 0, lit("HTTPS://")).otherwise(lit("https://")),
          when(col("doc_id") % 11 === 0, lit("crawler@")).otherwise(lit("")),
          lit("WWW"), (pair % 5).cast("string"), lit(".Example.com"),
          when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
          when(col("doc_id") % 6 === 0, lit("/p//")).otherwise(lit("/p/")),
          pair.cast("string"),
          when(col("doc_id") % 2 === 1, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("?utm_source=feed&b=2&gclid_src=k&a=1"))
            .when(col("doc_id") % 5 === 1, lit("?gclid_src=k&a=1&b=2"))
            .when(col("doc_id") % 5 === 2, lit("?b=2&&a=1&gclid=x"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit("#sec")).otherwise(lit("")))
        Quality.urlDedup(T(s, d, "documents").select(col("doc_id"), url.as("url")))
          .orderBy("doc_id")
      },
      Some("""WITH b AS (SELECT doc_id, doc_id // 2 AS pair FROM documents),
             |raw AS (SELECT doc_id,
             |  (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' ELSE 'https://' END) ||
             |  (CASE WHEN doc_id % 11 = 0 THEN 'crawler@' ELSE '' END) ||
             |  'WWW' || CAST(pair % 5 AS VARCHAR) || '.Example.com' ||
             |  (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
             |  (CASE WHEN doc_id % 6 = 0 THEN '/p//' ELSE '/p/' END) ||
             |  CAST(pair AS VARCHAR) ||
             |  (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END) ||
             |  (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&b=2&gclid_src=k&a=1'
             |        WHEN doc_id % 5 = 1 THEN '?gclid_src=k&a=1&b=2'
             |        WHEN doc_id % 5 = 2 THEN '?b=2&&a=1&gclid=x' ELSE '' END) ||
             |  (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END) AS url
             |  FROM b),
             |n0 AS (SELECT doc_id, url, trim(url) AS u FROM raw),
             |n1 AS (SELECT *, lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) AS sh0 FROM n0),
             |n2 AS (SELECT *, regexp_replace(regexp_replace(regexp_replace(sh0,
             |         '://[^/?#@]*@', '://'),
             |         '^(http://[^/?#:]*):80$', '\1'),
             |         '^(https://[^/?#:]*):443$', '\1') AS sh FROM n1),
             |n3 AS (SELECT *, regexp_replace(regexp_replace(u,
             |         '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', ''), '#.*$', '') AS rest FROM n2),
             |n4 AS (SELECT *,
             |         regexp_replace(regexp_replace(regexp_extract(rest, '^([^?]*)', 1),
             |           '/{2,}', '/', 'g'), '/+$', '') AS path,
             |         regexp_extract(rest, '^[^?]*\?(.*)$', 1) AS q0 FROM n3),
             |n5 AS (SELECT *, list_filter(string_split(q0, '&'), p -> p <> '' AND NOT
             |         regexp_matches(p, '^(utm_[^=&]*|fbclid|gclid|msclkid)(=.*)?$')) AS ps FROM n4),
             |n6 AS (SELECT doc_id, url,
             |         CASE WHEN sh = '' THEN u ELSE sh || path ||
             |           (CASE WHEN len(ps) = 0 THEN ''
             |                 ELSE '?' || array_to_string(list_sort(ps), '&') END)
             |         END AS norm_url FROM n5),
             |own AS (SELECT norm_url, MIN(doc_id) AS owner FROM n6 GROUP BY norm_url)
             |SELECT n6.doc_id, n6.url, n6.norm_url, n6.doc_id = own.owner AS kept
             |FROM n6 JOIN own USING (norm_url) ORDER BY n6.doc_id""".stripMargin)),

    // Gate-rule drop attribution: per rule, docs failing it at all vs
    // docs it ALONE drops — the redundancy/tuning report for the p31
    // filter cascade. Oracle reuses the exact p31 gate chain (shared
    // CTE prefix) so the two rows can never drift apart.
    QueryDef("r68_gate_attribution",
      (s, d) => TextAnalysis.gateAttribution(
        TextAnalysis.qualityGate(T(s, d, "documents"),
          minTokens = 30, maxTopFrac = 0.2, minStopRatio = 0.05)),
      Some {
        val rules = Seq("lang", "len", "rep", "stop")
        val arms = rules.map { r =>
          val others = rules.filterNot(_ == r).map(o => s"ok_$o").mkString(" AND ")
          s"""SELECT '$r' AS rule,
             |    CAST(SUM(CASE WHEN NOT ok_$r THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
             |    CAST(SUM(CASE WHEN NOT ok_$r AND $others THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
             |    CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
             |  FROM gate""".stripMargin
        }.mkString("\n  UNION ALL ")
        s"$gateChainSql,\natt AS (\n  $arms)\nSELECT * FROM att ORDER BY rule"
      }),

    // Domain blocklist (the UT1-style stage): hosts derived from
    // doc_id; doc_id%7==3 lands exactly on a blocklisted domain,
    // doc_id%13==0 on a SUBDOMAIN of one (suffix matching), with
    // userinfo/port decoration the host extraction must strip.
    QueryDef("r67_blocklist",
      (s, d) => {
        import s.implicits._
        val url = concat(lit("https://"),
          when(col("doc_id") % 9 === 0, lit("bot@")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0, lit("Sub.Ads.Example.com"))
            .otherwise(concat(lit("www"), (col("doc_id") % 7).cast("string"),
              lit(".example.com"))),
          // Trailing root-label dot — the FQDN spelling a blocklist
          // evader would use; the filter must still catch it.
          when(col("doc_id") % 17 === 0, lit(".")).otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit(":8080")).otherwise(lit("")),
          lit("/page/"), col("doc_id").cast("string"))
        val blk = Seq("ads.example.com", "tracker.net", "www3.example.com")
          .toDF("domain")
        Quality.blocklistFilter(
            T(s, d, "documents").select(col("doc_id"), url.as("url")), blk)
          .orderBy("doc_id")
      },
      Some("""WITH raw AS (SELECT doc_id, 'https://' ||
             |  (CASE WHEN doc_id % 9 = 0 THEN 'bot@' ELSE '' END) ||
             |  (CASE WHEN doc_id % 13 = 0 THEN 'Sub.Ads.Example.com'
             |        ELSE 'www' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' END) ||
             |  (CASE WHEN doc_id % 17 = 0 THEN '.' ELSE '' END) ||
             |  (CASE WHEN doc_id % 4 = 0 THEN ':8080' ELSE '' END) ||
             |  '/page/' || CAST(doc_id AS VARCHAR) AS url FROM documents),
             |h AS (SELECT doc_id, url,
             |        regexp_replace(regexp_replace(regexp_replace(
             |          lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)),
             |          '^[^/?#@]*@', ''), ':[0-9]*$', ''), '\.$', '') AS host FROM raw),
             |p AS (SELECT doc_id, string_split(host, '.') AS parts FROM h),
             |s AS (SELECT doc_id,
             |        unnest([array_to_string(parts[i:], '.') FOR i IN range(1, len(parts) + 1)]) AS suf
             |      FROM p),
             |bl AS (SELECT * FROM (VALUES ('ads.example.com'), ('tracker.net'),
             |                             ('www3.example.com')) AS v(domain)),
             |m AS (SELECT doc_id, MIN(suf) AS matched
             |      FROM s JOIN bl ON bl.domain = s.suf GROUP BY doc_id)
             |SELECT h.doc_id, h.url, h.host, m.matched, m.matched IS NULL AS kept
             |FROM h LEFT JOIN m USING (doc_id) ORDER BY h.doc_id""".stripMargin)),

    // Unicode script profile: per-doc character counts/fractions in
    // four explicit code-point ranges + the dominant script — the
    // writing-system discriminator the stopword langid can't see
    // (every non-Latin doc votes 'und' there). Planted Cyrillic/CJK/
    // Arabic tails by doc_id%4 exercise each range on both engines.
    QueryDef("r69_script_profile",
      (s, d) => {
        val aug = T(s, d, "documents").select(col("doc_id"),
          concat(coalesce(col("text"), lit("")),
            when(col("doc_id") % 4 === 0, lit(" привет мир"))
              .when(col("doc_id") % 4 === 1, lit(" 你好世界"))
              .when(col("doc_id") % 4 === 2, lit(" مرحبا بالعالم"))
              .otherwise(lit(""))).as("text"))
        TextAnalysis.scriptProfile(aug).orderBy("doc_id")
      },
      Some(s"""WITH aug AS (SELECT doc_id, COALESCE(text, '') ||
              |  (CASE WHEN doc_id % 4 = 0 THEN ' привет мир'
              |        WHEN doc_id % 4 = 1 THEN ' 你好世界'
              |        WHEN doc_id % 4 = 2 THEN ' مرحبا بالعالم' ELSE '' END) AS text
              |  FROM documents),
              |c AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
              |  CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
              |  CAST(length(text) - length(regexp_replace(text, '[\\x{0400}-\\x{04ff}]', '', 'g')) AS BIGINT) AS n_cyrillic,
              |  CAST(length(text) - length(regexp_replace(text, '[\\x{3040}-\\x{30ff}\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS n_cjk,
              |  CAST(length(text) - length(regexp_replace(text, '[\\x{0600}-\\x{06ff}]', '', 'g')) AS BIGINT) AS n_arabic
              |  FROM aug),
              |g AS (SELECT *, GREATEST(n_latin, n_cyrillic, n_cjk, n_arabic) AS best FROM c)
              |SELECT doc_id, n_chars, n_latin, n_cyrillic, n_cjk, n_arabic,
              |  CASE WHEN n_chars > 0 THEN ${rrepr("CAST(n_latin AS DOUBLE) / n_chars", 4)} END AS latin_frac,
              |  CASE WHEN n_chars > 0 THEN ${rrepr("CAST(n_cyrillic AS DOUBLE) / n_chars", 4)} END AS cyrillic_frac,
              |  CASE WHEN n_chars > 0 THEN ${rrepr("CAST(n_cjk AS DOUBLE) / n_chars", 4)} END AS cjk_frac,
              |  CASE WHEN n_chars > 0 THEN ${rrepr("CAST(n_arabic AS DOUBLE) / n_chars", 4)} END AS arabic_frac,
              |  CASE WHEN best = 0 THEN 'und'
              |       WHEN n_latin = best THEN 'latin'
              |       WHEN n_cyrillic = best THEN 'cyrillic'
              |       WHEN n_cjk = best THEN 'cjk'
              |       ELSE 'arabic' END AS script
              |FROM g ORDER BY doc_id""".stripMargin)),

    // Corpus drift: per-bucket Jensen-Shannon contributions between a
    // snapshot and a mutated successor (a third of the docs removed,
    // a third with injected tokens) — Σ js_term is the divergence in
    // nats. Buckets/probabilities exact-int-derived; the two lns are
    // 6dp-rounded (the p46 dsir discipline).
    QueryDef("r70_corpus_drift",
      (s, d) => {
        val docs = T(s, d, "documents").select(col("doc_id"),
          coalesce(col("text"), lit("")).as("text"))
        val curr = docs.filter(col("doc_id") % 3 =!= 0).select(col("doc_id"),
          when(col("doc_id") % 3 === 1, concat(col("text"), lit(" drift drift")))
            .otherwise(col("text")).as("text"))
        Quality.corpusDrift(docs, curr, buckets = 512).orderBy("bucket")
      },
      Some(s"""WITH oldd AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents),
              |curd AS (SELECT doc_id,
              |    CASE WHEN doc_id % 3 = 1 THEN COALESCE(text, '') || ' drift drift'
              |         ELSE COALESCE(text, '') END AS text
              |  FROM documents WHERE doc_id % 3 <> 0),
              |ga AS (SELECT unnest(list_concat(t, [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])) AS g
              |       FROM (SELECT string_split(text, ' ') AS t FROM oldd)),
              |gb AS (SELECT unnest(list_concat(t, [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])) AS g
              |       FROM (SELECT string_split(text, ' ') AS t FROM curd)),
              |fa AS (SELECT ('0x' || substr(md5(g), 1, 15))::BIGINT % 512 AS bucket,
              |         CAST(COUNT(*) AS BIGINT) AS ca FROM ga GROUP BY bucket),
              |fb AS (SELECT ('0x' || substr(md5(g), 1, 15))::BIGINT % 512 AS bucket,
              |         CAST(COUNT(*) AS BIGINT) AS cb FROM gb GROUP BY bucket),
              |na AS (SELECT CAST(SUM(ca) AS BIGINT) AS na FROM fa),
              |nb AS (SELECT CAST(SUM(cb) AS BIGINT) AS nb FROM fb),
              |j AS (SELECT s.bucket,
              |        COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
              |      FROM range(0, 512) s(bucket)
              |        LEFT JOIN fa ON fa.bucket = s.bucket
              |        LEFT JOIN fb ON fb.bucket = s.bucket),
              |p AS (SELECT bucket, ca, cb,
              |        (ca + 1)::DOUBLE / (na.na + 512) AS pa,
              |        (cb + 1)::DOUBLE / (nb.nb + 512) AS pb
              |      FROM j CROSS JOIN na CROSS JOIN nb),
              |q AS (SELECT *, (pa + pb) / 2 AS m FROM p)
              |SELECT bucket, ca, cb, pa, pb,
              |  0.5 * pa * ${rrepr("ln(pa / m)", 6)} + 0.5 * pb * ${rrepr("ln(pb / m)", 6)} AS js_term
              |FROM q ORDER BY bucket""".stripMargin)),

    // Portable HyperLogLog vocabulary estimate: unlike r39's built-in
    // approx_count_distinct (engine-private HLL++ internals, rows-only
    // check), Sketch.hllRegisters/hllEstimate derive registers from
    // md5 hex with string ops and run the harmonic sum in exact
    // DECIMAL, so the ESTIMATE ITSELF is oracle-checkable bit for bit.
    // n_exact rides along to show the ~3.3% p=10 error band live.
    QueryDef("r77_hll_distinct",
      (s, d) => {
        val toks = T(s, d, "documents")
          .select(explode(split(coalesce(col("text"), lit("")), " "))
            .as("token"))
          .filter(col("token") =!= "")
        graft.functions.Sketch.hllDistinct(toks, "token", p = 10)
          .crossJoin(toks.agg(countDistinct(col("token")).as("n_exact")))
      },
      Some {
        val m = 1024
        val cNum = 0.7213 / (1.0 + 1.079 / m) * m * m * math.pow(2.0, 65)
        s"""WITH tk AS (SELECT unnest(string_split(COALESCE(text, ''), ' ')) AS token
           |            FROM documents),
           |t AS (SELECT token FROM tk WHERE token <> ''),
           |hx AS (SELECT md5(token) AS h FROM t),
           |rg0 AS (SELECT ('0x' || substr(h, 1, 15))::BIGINT % $m AS idx,
           |               substr(h, 17, 16) AS tail FROM hx),
           |rr AS (SELECT idx,
           |        CASE WHEN regexp_replace(tail, '^0+', '') = '' THEN 65
           |             ELSE 4 * length(regexp_extract(tail, '^(0*)', 1)) +
           |               (CASE substr(regexp_replace(tail, '^0+', ''), 1, 1)
           |                  WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
           |                  WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
           |                  WHEN '7' THEN 1 ELSE 0 END) + 1 END AS r
           |       FROM rg0),
           |reg AS (SELECT idx, MAX(r) AS r FROM rr GROUP BY idx),
           |dense AS (SELECT g.idx, COALESCE(reg.r, 0) AS r
           |          FROM range(0, $m) g(idx) LEFT JOIN reg ON reg.idx = g.idx),
           |ag AS (SELECT SUM(CAST(POWER(2, 65 - r) AS DECIMAL(38,0))) AS s,
           |              CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
           |       FROM dense),
           |ex AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS n_exact FROM t)
           |SELECT CAST($m AS INT) AS m, v_zero,
           |  CASE WHEN v_zero > 0 AND $cNum / CAST(s AS DOUBLE) <= ${2.5 * m}
           |       THEN ${rrepr(s"$m.0 * ${rrepr(s"ln($m.0 / v_zero)", 6)}", 6)}
           |       ELSE ${rrepr(s"$cNum / CAST(s AS DOUBLE)", 6)} END AS n_est,
           |  n_exact
           |FROM ag CROSS JOIN ex""".stripMargin
      }),

    // Weighted sample without replacement (Efraimidis-Spirakis keys):
    // docs sampled ∝ token count via the deterministic salted-md5
    // uniform, so the drawn SET itself is oracle-checkable — unlike
    // rand()-based sampling (r45's rows-only check).
    QueryDef("r78_weighted_sample",
      (s, d) => {
        val docs = T(s, d, "documents").select(col("doc_id"),
          (size(split(coalesce(col("text"), lit("")), " ")) + 1)
            .cast("double").as("w"))
        Mix.weightedSample(docs, k = 25, weightCol = "w")
          .orderBy(desc("sample_key"), col("doc_id"))
      },
      Some {
        val denom = math.pow(2, 60) + 1.0
        s"""WITH w AS (SELECT doc_id,
           |    CAST(len(string_split(COALESCE(text, ''), ' ')) + 1 AS DOUBLE) AS w
           |  FROM documents),
           |u AS (SELECT doc_id, w,
           |    ((('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           |      + 1.0) / $denom) AS u
           |  FROM w WHERE w > 0),
           |sk AS (SELECT doc_id, w, ${rrepr("ln(u) / w", 9)} AS sample_key FROM u)
           |SELECT doc_id, w, sample_key FROM sk
           |ORDER BY sample_key DESC, doc_id LIMIT 25""".stripMargin
      }),

    // Unkeyed point-in-interval join via bin bucketing: customers
    // matched to overlapping supplier account-balance bands as an
    // EQUI-join on the bin id plus a residual BETWEEN — the shape
    // Spark would otherwise plan as a broadcast-nested-loop theta
    // join (PlanSpec asserts the binned plan carries a real equi-join
    // and no nested loop). The oracle is the naive BETWEEN join.
    QueryDef("r79_range_join",
      (s, d) => {
        val cust = T(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
        val bands = T(s, d, "supplier")
          .filter(col("s_suppkey") % 10 === 0)
          .select(col("s_suppkey"), col("s_acctbal").as("lo"),
            (col("s_acctbal") + 1000.0).as("hi"))
        Windows.rangeJoinBinned(cust, "c_acctbal", bands, "lo", "hi",
            binWidth = 500.0)
          .groupBy("c_custkey")
          .agg(count(lit(1)).cast("long").as("n_bands"),
            sum(col("s_suppkey")).cast("long").as("sum_supp"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c.c_custkey, CAST(COUNT(*) AS BIGINT) AS n_bands,
             |       CAST(SUM(s.s_suppkey) AS BIGINT) AS sum_supp
             |FROM customer c
             |JOIN (SELECT s_suppkey, s_acctbal AS lo, s_acctbal + 1000.0 AS hi
             |      FROM supplier WHERE s_suppkey % 10 = 0) s
             |  ON c.c_acctbal >= s.lo AND c.c_acctbal <= s.hi
             |GROUP BY c.c_custkey
             |ORDER BY c_custkey""".stripMargin)),

    // Interval-interval OVERLAP join via bins, each overlapping pair
    // kept only in its intersection's first bin (a per-row predicate
    // instead of a pair-sized distinct). Oracle: the naive
    // `a.lo <= b.hi AND b.lo <= a.hi` theta join. Overlap length is
    // pure IEEE subtraction/min/max — bit-identical cross-engine.
    QueryDef("r80_overlap_join",
      (s, d) => {
        val cust = T(s, d, "customer")
          .filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), col("c_acctbal").as("clo"),
            (col("c_acctbal") + 500.0).as("chi"))
        val supp = T(s, d, "supplier")
          .filter(col("s_suppkey") % 10 === 0)
          .select(col("s_suppkey"), col("s_acctbal").as("slo"),
            (col("s_acctbal") + 800.0).as("shi"))
        Windows.overlapJoinBinned(cust, "clo", "chi", supp, "slo", "shi",
            binWidth = 400.0)
          .select(col("c_custkey"), col("s_suppkey"),
            (least(col("chi"), col("shi")) -
              greatest(col("clo"), col("slo"))).as("overlap"))
          .orderBy("c_custkey", "s_suppkey")
      },
      Some("""SELECT c.c_custkey, s.s_suppkey,
             |       least(c.chi, s.shi) - greatest(c.clo, s.slo) AS overlap
             |FROM (SELECT c_custkey, c_acctbal AS clo, c_acctbal + 500.0 AS chi
             |      FROM customer WHERE c_custkey % 10 = 0) c
             |JOIN (SELECT s_suppkey, s_acctbal AS slo, s_acctbal + 800.0 AS shi
             |      FROM supplier WHERE s_suppkey % 10 = 0) s
             |  ON c.clo <= s.shi AND s.slo <= c.chi
             |ORDER BY c_custkey, s_suppkey""".stripMargin)),

    // W3 in aggregator form: top-3 orders per customer through the
    // bounded TopKAggregator — the shuffle carries at most k pairs per
    // (group, partition) instead of every row (the hot-key-proof
    // ranking). Oracle: the ROW_NUMBER window it is row-identical to.
    QueryDef("r81_topk_agg",
      (s, d) => Windows.topKPerGroupAgg(T(s, d, "orders"), k = 3,
          key = "o_custkey", ord = "o_totalprice", id = "o_orderkey")
        .orderBy("o_custkey", "rn"),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
             |  SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
             |         ROW_NUMBER() OVER (PARTITION BY o_custkey
             |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) z
             |WHERE rn <= 3
             |ORDER BY o_custkey, rn""".stripMargin)),

    // One-pass column profiler over orders: per-column row count, null
    // count, EXACT distinct count, and typed min/max (numerics +
    // timestamps as epoch-seconds doubles, strings under binary
    // collation). The scale form (exact=false, HLL per column in one
    // true pass) is MetaSpec-gated within 5% of these exact counts.
    QueryDef("r82_profile",
      (s, d) => graft.sources.Meta.profile(T(s, d, "orders")),
      Some {
        def row(c: String, kind: String) = {
          val (mn, mx) = kind match {
            case "num" => (s"CAST(MIN($c) AS DOUBLE)", s"CAST(MAX($c) AS DOUBLE)")
            case "ts"  => (s"CAST(epoch(MIN($c)) AS DOUBLE)", s"CAST(epoch(MAX($c)) AS DOUBLE)")
            case _     => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
          }
          val (ms, xs) =
            if (kind == "str") (s"MIN($c)", s"MAX($c)")
            else ("CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
          s"""SELECT '$c' AS col, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  $mn AS min_num, $mx AS max_num, $ms AS min_str, $xs AS max_str
             |FROM orders""".stripMargin
        }
        Seq(row("o_orderkey", "num"), row("o_custkey", "num"),
          row("o_orderstatus", "str"), row("o_totalprice", "num"),
          row("o_orderdate", "ts"), row("o_orderpriority", "str"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY col")
      }),

    // Explicit Bloom semi-join reduction: lineitem is pre-filtered on
    // a ~150 KB sketch of the urgent orders' key set before its
    // exchange, then verified by the real join — row-identical to the
    // plain join at ANY fpp (no false negatives; false positives die
    // in the join). The oracle IS the plain join; PlanSpec asserts the
    // might_contain probe sits in the fact scan stage.
    QueryDef("r83_bloom_join",
      (s, d) => {
        val fact = T(s, d, "lineitem").select(
          col("l_orderkey").as("orderkey"),
          col("l_returnflag"), col("l_extendedprice"))
        val dim = T(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey").as("orderkey"))
        graft.operators.Joins.bloomReducedJoin(fact, dim, "orderkey",
            expectedKeys = 1L << 18)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).cast("long").as("n_items"),
            round(sum(col("l_extendedprice").cast("decimal(12,4)")), 2)
              .cast("double").as("revenue"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l.l_returnflag,
             |       CAST(COUNT(*) AS BIGINT) AS n_items,
             |       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))), 2)
             |            AS DOUBLE) AS revenue
             |FROM lineitem l
             |JOIN (SELECT o_orderkey FROM orders
             |      WHERE o_orderpriority = '1-URGENT') o
             |  ON l.l_orderkey = o.o_orderkey
             |GROUP BY l.l_returnflag
             |ORDER BY l.l_returnflag""".stripMargin)),

    // Deterministic k-per-group sample through the bounded top-k
    // aggregator (never a per-group window): each group's k docs with
    // the largest salted-md5 uniforms — the same uniform r78 draws
    // from, so the SET is fully oracle-checkable. Oracle: the
    // ROW_NUMBER form it is row-identical to.
    QueryDef("r84_group_sample",
      (s, d) => Mix.groupSample(T(s, d, "documents"), k = 20,
          groupCol = "source")
        .orderBy("source", "rn"),
      Some {
        val denom = math.pow(2, 60) + 1.0
        s"""WITH u AS (SELECT source, doc_id,
           |    ((('0x' || substr(md5('gsp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           |      + 1.0) / $denom) AS u
           |  FROM documents),
           |r AS (SELECT source, doc_id,
           |        ROW_NUMBER() OVER (PARTITION BY source
           |                           ORDER BY u DESC, doc_id) AS rn
           |      FROM u)
           |SELECT source, doc_id, CAST(rn AS INT) AS rn FROM r
           |WHERE rn <= 20 ORDER BY source, rn""".stripMargin
      }),

    // Salted equi-join (J-side skew control): the fact side's hot keys
    // fan over 8 reducers via a deterministic row-hash salt, the dim
    // side replicates once per salt — exact, row-identical to the
    // plain join, which is the oracle.
    QueryDef("r85_salted_join",
      (s, d) => {
        val big = T(s, d, "orders").select(
          col("o_custkey").as("custkey"), col("o_orderkey"),
          col("o_totalprice"))
        val small = T(s, d, "customer").select(
          col("c_custkey").as("custkey"), col("c_nationkey"))
        graft.operators.Skew.saltedJoin(big, small, "custkey", salts = 8)
          .groupBy("c_nationkey")
          .agg(count(lit(1)).cast("long").as("n_orders"),
            round(sum(col("o_totalprice").cast("decimal(12,4)")), 2)
              .cast("double").as("total"))
          .orderBy("c_nationkey")
      },
      Some("""SELECT c.c_nationkey,
             |       CAST(COUNT(*) AS BIGINT) AS n_orders,
             |       CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(12,4))), 2)
             |            AS DOUBLE) AS total
             |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |GROUP BY c.c_nationkey
             |ORDER BY c.c_nationkey""".stripMargin)),

    // Robust per-group outliers: modified z-score from group median +
    // MAD (Iglewicz-Hoaglin), the anomalous-amount screen with a 50%
    // breakdown point. med/mad/z rounded to 4 dp on BOTH engines (the
    // r44 percentile discipline) so a borderline verdict cannot flip.
    QueryDef("r86_robust_outliers",
      (s, d) => Quality.robustOutliers(T(s, d, "events"),
          groupCol = "event_type", valueCol = "value", cutoff = 3.5)
        .filter(col("outlier"))
        .select(col("event_id"), col("event_type"),
          col("value").as("amount"),
          col("med"), col("mad"), col("robust_z"))
        .orderBy("event_id"),
      Some(s"""WITH med AS (SELECT event_type,
              |    ${rrepr("quantile_cont(CAST(value AS DOUBLE), 0.5)", 4)} AS med
              |  FROM events GROUP BY event_type),
              |dev AS (SELECT e.event_id, e.event_type,
              |    CAST(e.value AS DOUBLE) AS amount, m.med
              |  FROM events e JOIN med m USING (event_type)),
              |mad AS (SELECT event_type,
              |    ${rrepr("quantile_cont(abs(amount - med), 0.5)", 4)} AS mad
              |  FROM dev GROUP BY event_type),
              |z AS (SELECT d.event_id, d.event_type, d.amount, d.med, a.mad,
              |    CASE WHEN a.mad > 0
              |         THEN ${rrepr("0.6745 * (d.amount - d.med) / a.mad", 4)}
              |    END AS robust_z
              |  FROM dev d JOIN mad a USING (event_type))
              |SELECT event_id, event_type, amount, med, mad, robust_z
              |FROM z WHERE abs(robust_z) > 3.5
              |ORDER BY event_id""".stripMargin)),

    // r86's bounded-state sibling: med/MAD from fixed-width histograms
    // (per-group aggregation state ≤ bins longs — the 100 TB form for
    // hot groups where exact percentile's distinct-value map is an
    // OOM). The oracle unrolls BOTH histogram passes with the r74 CTE
    // pattern and must match bit for bit: bin edges, midpoint
    // estimates, 4dp rounding, z-scores.
    QueryDef("r90_robust_binned", {
      (s, d) => Quality.robustOutliersApprox(T(s, d, "events"),
          groupCol = "event_type", valueCol = "value", cutoff = 3.5,
          bins = 512)
        .filter(col("outlier"))
        .select(col("event_id"), col("event_type"),
          col("value").cast("double").as("amount"),
          col("med"), col("mad"), col("robust_z"))
        .orderBy("event_id")},
      Some {
        def histMedian(src: String, vcol: String, p: String) =
          s"""mm$p AS (SELECT grp, MIN($vcol) AS lo, MAX($vcol) AS hi,
             |    CAST(COUNT(*) AS BIGINT) AS n
             |  FROM $src b GROUP BY grp),
             |bn$p AS (SELECT b.grp, CAST(CASE WHEN m.hi = m.lo THEN 0
             |      ELSE LEAST(511, FLOOR(($vcol - m.lo) / (m.hi - m.lo) * 512)) END AS INT) AS bin
             |  FROM $src b JOIN mm$p m ON m.grp = b.grp),
             |bc$p AS (SELECT grp, bin, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM bn$p GROUP BY grp, bin),
             |cum$p AS (SELECT grp, bin,
             |    CAST(SUM(c) OVER (PARTITION BY grp ORDER BY bin) AS BIGINT) AS cum
             |  FROM bc$p),
             |rk$p AS (SELECT grp,
             |    GREATEST(CAST(1 AS BIGINT), CAST(CEIL(0.5 * n) AS BIGINT)) AS rank
             |  FROM mm$p),
             |pick$p AS (SELECT r.grp, MIN(c.bin) AS bin
             |  FROM rk$p r JOIN cum$p c ON c.grp = r.grp AND c.cum >= r.rank
             |  GROUP BY r.grp),
             |est$p AS (SELECT p.grp,
             |    ${rrepr("((m.lo + p.bin * ((m.hi - m.lo) / 512)) + (m.lo + (p.bin + 1) * ((m.hi - m.lo) / 512))) / 2", 4)} AS est
             |  FROM pick$p p JOIN mm$p m ON m.grp = p.grp)""".stripMargin
        s"""WITH b AS (SELECT event_id, event_type AS grp, CAST(value AS DOUBLE) AS v
           |  FROM events WHERE value IS NOT NULL),
           |${histMedian("b", "b.v", "1")},
           |medt AS (SELECT grp, est AS med FROM est1),
           |dv AS (SELECT b.grp, abs(b.v - m.med) AS w
           |  FROM b JOIN medt m ON m.grp = b.grp),
           |${histMedian("dv", "b.w", "2")},
           |madt AS (SELECT grp, est AS mad FROM est2),
           |z AS (SELECT b.event_id, b.grp AS event_type, b.v AS amount,
           |    m.med, a.mad,
           |    CASE WHEN a.mad > 0
           |         THEN ${rrepr("0.6745 * (b.v - m.med) / a.mad", 4)}
           |    END AS robust_z
           |  FROM b JOIN medt m ON m.grp = b.grp JOIN madt a ON a.grp = b.grp)
           |SELECT event_id, event_type, amount, med, mad, robust_z
           |FROM z WHERE abs(robust_z) > 3.5
           |ORDER BY event_id""".stripMargin
      }),

    // End-to-end entity resolution: p15's blocked edit-distance pairs
    // closed transitively into entity clusters (A~B, B~C -> one entity
    // even when A and C exceed maxDist) with a canonical survivor per
    // cluster. Oracle: the p15 pair CTE + the p18 recursive reachability.
    QueryDef("r87_entity_clusters",
      (s, d) => Quality.resolveEntities(T(s, d, "customer"),
          col("c_custkey"),
          concat_ws(":", col("c_nationkey"),
            expr("substring(c_name, 1, length(c_name) - 2)")),
          col("c_name"), maxDist = 1, maxBlock = 1000)
        .select(col("c_custkey"), col("entity"), col("canonical"))
        .orderBy("c_custkey"),
      Some("""WITH RECURSIVE b0 AS (SELECT c_custkey,
             |              CAST(c_nationkey AS VARCHAR) || ':' ||
             |                substring(c_name, 1, length(c_name) - 2) AS blk,
             |              c_name
             |            FROM customer),
             |b AS (SELECT * FROM (SELECT z.*, COUNT(*) OVER (PARTITION BY blk) AS bc
             |                     FROM b0 z) t WHERE bc <= 1000),
             |cand AS (SELECT x.c_custkey AS d1, y.c_custkey AS d2
             |         FROM b x JOIN b y ON x.blk = y.blk AND x.c_custkey < y.c_custkey
             |         WHERE levenshtein(x.c_name, y.c_name) <= 1),
             |edges AS (SELECT d1 AS src, d2 AS dst FROM cand
             |          UNION SELECT d2, d1 FROM cand),
             |reach AS (SELECT src AS id, src AS comp FROM edges
             |          UNION
             |          SELECT e.dst AS id, r.comp FROM reach r
             |          JOIN edges e ON e.src = r.id),
             |comp AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)
             |SELECT c.c_custkey,
             |       CAST(COALESCE(p.comp, c.c_custkey) AS BIGINT) AS entity,
             |       (p.comp IS NULL OR p.comp = c.c_custkey) AS canonical
             |FROM customer c LEFT JOIN comp p ON c.c_custkey = p.id
             |ORDER BY c.c_custkey""".stripMargin)),

    // r87's persisted-index discipline: the customer table arrives as
    // TWO batches (even keys first, odd keys second); the second
    // resolves incrementally against the first batch's index — old
    // rows enter the closure only as entity super-nodes in touched
    // blocks, never re-blocked. The oracle is the SAME full-recompute
    // recursive CTE as r87: incremental == full on the union is the
    // law, checked here cross-engine.
    QueryDef("r91_entity_incremental", {
      (s, d) => {
        val cust = T(s, d, "customer")
        val blk = concat_ws(":", col("c_nationkey"),
          expr("substring(c_name, 1, length(c_name) - 2)"))
        // Pin the step-1 index: step 2 consumes it TWICE (the touched-
        // block semi and the remap label set), and without the pin the
        // whole step-1 plan re-runs per consumer (measured 7.8 -> 6.8 s
        // at sf0.1, min of 2). On disk the pin is the parquet landing
        // itself (resolveEntitiesIncremental re-reads, never replans).
        val idx1 = Quality.resolveEntitiesStep(
          cust.filter(col("c_custkey") % 2 === 0),
          Quality.emptyEntityIndex(s), col("c_custkey"), blk, col("c_name"))
          .localCheckpoint(false)
        val idx2 = Quality.resolveEntitiesStep(
          cust.filter(col("c_custkey") % 2 =!= 0),
          idx1, col("c_custkey"), blk, col("c_name"))
        Quality.entityTable(idx2)
          .select(col("id").as("c_custkey"), col("entity"), col("canonical"))
          .orderBy("c_custkey")
      }},
      Some("""WITH RECURSIVE b0 AS (SELECT c_custkey,
             |              CAST(c_nationkey AS VARCHAR) || ':' ||
             |                substring(c_name, 1, length(c_name) - 2) AS blk,
             |              c_name
             |            FROM customer),
             |b AS (SELECT * FROM (SELECT z.*, COUNT(*) OVER (PARTITION BY blk) AS bc
             |                     FROM b0 z) t WHERE bc <= 1000),
             |cand AS (SELECT x.c_custkey AS d1, y.c_custkey AS d2
             |         FROM b x JOIN b y ON x.blk = y.blk AND x.c_custkey < y.c_custkey
             |         WHERE levenshtein(x.c_name, y.c_name) <= 1),
             |edges AS (SELECT d1 AS src, d2 AS dst FROM cand
             |          UNION SELECT d2, d1 FROM cand),
             |reach AS (SELECT src AS id, src AS comp FROM edges
             |          UNION
             |          SELECT e.dst AS id, r.comp FROM reach r
             |          JOIN edges e ON e.src = r.id),
             |comp AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)
             |SELECT c.c_custkey,
             |       CAST(COALESCE(p.comp, c.c_custkey) AS BIGINT) AS entity,
             |       (p.comp IS NULL OR p.comp = c.c_custkey) AS canonical
             |FROM customer c LEFT JOIN comp p ON c.c_custkey = p.id
             |ORDER BY c.c_custkey""".stripMargin)),

    // Grouped portable HLL (the A8-per-key form: distinct users per
    // event_type): per-group register tables (≤ groups × 2^p rows,
    // max-mergeable across batches) + the exact-decimal harmonic
    // estimate per group — r77's cross-engine bit parity, keyed. The
    // exact countDistinct rides along as the error-band column.
    QueryDef("r92_hll_group_distinct", {
      (s, d) => {
        val ev = T(s, d, "events")
        graft.functions.Sketch.hllDistinctBy(ev, "event_type", "user_id",
            p = 10)
          .join(ev.filter(col("user_id").isNotNull)
            .groupBy(col("event_type").as("group"))
            .agg(countDistinct(col("user_id")).as("n_exact")), Seq("group"))
          .orderBy("group")
      }},
      Some {
        val m = 1024
        val cNum = 0.7213 / (1.0 + 1.079 / m) * m * m * math.pow(2.0, 65)
        s"""WITH t AS (SELECT event_type AS grp, CAST(user_id AS VARCHAR) AS v
           |           FROM events WHERE user_id IS NOT NULL),
           |hx AS (SELECT grp, md5(v) AS h FROM t),
           |rg0 AS (SELECT grp, ('0x' || substr(h, 1, 15))::BIGINT % $m AS idx,
           |               substr(h, 17, 16) AS tail FROM hx),
           |rr AS (SELECT grp, idx,
           |        CASE WHEN regexp_replace(tail, '^0+', '') = '' THEN 65
           |             ELSE 4 * length(regexp_extract(tail, '^(0*)', 1)) +
           |               (CASE substr(regexp_replace(tail, '^0+', ''), 1, 1)
           |                  WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
           |                  WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
           |                  WHEN '7' THEN 1 ELSE 0 END) + 1 END AS r
           |       FROM rg0),
           |reg AS (SELECT grp, idx, MAX(r) AS r FROM rr GROUP BY grp, idx),
           |gs AS (SELECT DISTINCT grp FROM reg),
           |dense AS (SELECT gs.grp, g.idx, COALESCE(reg.r, 0) AS r
           |          FROM gs CROSS JOIN range(0, $m) g(idx)
           |          LEFT JOIN reg ON reg.grp = gs.grp AND reg.idx = g.idx),
           |ag AS (SELECT grp,
           |              SUM(CAST(POWER(2, 65 - r) AS DECIMAL(38,0))) AS s,
           |              CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
           |       FROM dense GROUP BY grp),
           |ex AS (SELECT event_type AS grp,
           |              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
           |       FROM events WHERE user_id IS NOT NULL GROUP BY 1)
           |SELECT ag.grp AS "group", CAST($m AS INT) AS m, v_zero,
           |  CASE WHEN v_zero > 0 AND $cNum / CAST(s AS DOUBLE) <= ${2.5 * m}
           |       THEN ${rrepr(s"$m.0 * ${rrepr(s"ln($m.0 / v_zero)", 6)}", 6)}
           |       ELSE ${rrepr(s"$cNum / CAST(s AS DOUBLE)", 6)} END AS n_est,
           |  n_exact
           |FROM ag JOIN ex ON ex.grp = ag.grp
           |ORDER BY "group"""".stripMargin
      }),

    // PSI numeric drift between two event slices under frozen [0,1000)
    // bounds: the model-monitoring twin of r70 (text drift) for a
    // score/amount column — per-bin smoothed probabilities and
    // (pa−pb)·ln(pa/pb) contributions, Σ = the PSI a deployed
    // threshold is judged by. Clamped edge bins keep out-of-range
    // values visible; the ln is 6dp-rounded on both engines. The
    // output is DENSE (both-empty bins carry their smoothed terms —
    // the r9 advisor fix), so the oracle joins off a range() spine.
    QueryDef("r93_psi_drift", {
      (s, d) => {
        val ev = T(s, d, "events")
        Quality.psi(ev.filter(col("user_id") % 3 === 0),
            ev.filter(col("user_id") % 3 =!= 0),
            "value", lo = 0.0, hi = 1000.0, bins = 256)
          .orderBy("bin")
      }},
      Some(s"""WITH a0 AS (SELECT CAST(value AS DOUBLE) AS v FROM events
              |            WHERE user_id % 3 = 0 AND value IS NOT NULL),
              |b0 AS (SELECT CAST(value AS DOUBLE) AS v FROM events
              |       WHERE user_id % 3 <> 0 AND value IS NOT NULL),
              |ha AS (SELECT CAST(GREATEST(0, LEAST(255, FLOOR((v - 0.0) / (1000.0 - 0.0) * 256))) AS INT) AS bin,
              |              CAST(COUNT(*) AS BIGINT) AS ca
              |       FROM a0 GROUP BY 1),
              |hb AS (SELECT CAST(GREATEST(0, LEAST(255, FLOOR((v - 0.0) / (1000.0 - 0.0) * 256))) AS INT) AS bin,
              |              CAST(COUNT(*) AS BIGINT) AS cb
              |       FROM b0 GROUP BY 1),
              |na AS (SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS na FROM ha),
              |nb AS (SELECT CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS nb FROM hb),
              |rng AS (SELECT CAST(r AS INT) AS bin FROM range(0, 256) tt(r)),
              |j AS (SELECT rng.bin,
              |             COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
              |      FROM rng LEFT JOIN ha ON ha.bin = rng.bin
              |               LEFT JOIN hb ON hb.bin = rng.bin),
              |pr AS (SELECT bin, ca, cb,
              |              CAST(ca + 1 AS DOUBLE) / (na + 256) AS pa,
              |              CAST(cb + 1 AS DOUBLE) / (nb + 256) AS pb
              |       FROM j CROSS JOIN na CROSS JOIN nb)
              |SELECT bin, ca, cb, pa, pb,
              |       (pa - pb) * ${rrepr("ln(pa / pb)", 6)} AS psi_term
              |FROM pr ORDER BY bin""".stripMargin)),

    // Schema + column drift between two snapshots (r82's profiler,
    // diffed): the "curr" snapshot drops a column, ADDS one, retypes
    // the key, and filters a third of the rows — each change surfaces
    // as one row of the diff (status / type_changed / count+distinct
    // movement), which is what a lakehouse refresh audit reads.
    QueryDef("r94_profile_diff", {
      (s, d) => {
        val o = T(s, d, "orders")
        val old = o.select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
        val curr = o.filter(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey").cast("string").as("o_orderkey"),
            col("o_orderstatus"), col("o_orderpriority"))
        graft.sources.Meta.profileDiff(old, curr)
      }},
      Some {
        def side(src: String, cols: Seq[(String, String)], suf: String) =
          cols.map { case (c, t) =>
            s"""SELECT '$c' AS col, '$t' AS dtype$suf,
               |  CAST(COUNT(*) AS BIGINT) AS n$suf,
               |  CASE WHEN COUNT(*) > 0
               |       THEN ${rrepr(s"CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 6)}
               |  END AS null_frac$suf,
               |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct$suf
               |FROM $src""".stripMargin
          }.mkString("\nUNION ALL\n")
        s"""WITH a1 AS (
           |${side("orders", Seq("o_orderkey" -> "bigint",
              "o_orderstatus" -> "string", "o_totalprice" -> "double"), "_a")}),
           |cu AS (SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey,
           |              o_orderstatus, o_orderpriority
           |       FROM orders WHERE o_orderkey % 3 <> 0),
           |b1 AS (
           |${side("cu", Seq("o_orderkey" -> "string",
              "o_orderstatus" -> "string", "o_orderpriority" -> "string"), "_b")})
           |SELECT COALESCE(a1.col, b1.col) AS col, dtype_a, dtype_b,
           |  CASE WHEN dtype_a IS NULL THEN 'added'
           |       WHEN dtype_b IS NULL THEN 'removed'
           |       ELSE 'kept' END AS status,
           |  COALESCE(dtype_a <> dtype_b, false) AS type_changed,
           |  n_a, n_b, null_frac_a, null_frac_b, n_distinct_a, n_distinct_b
           |FROM a1 FULL OUTER JOIN b1 ON a1.col = b1.col
           |ORDER BY col""".stripMargin
      }),

    // Strict-ordering funnel (view -> click -> purchase within 7 days
    // of the first view): each step counts only after the user's
    // previous-step FIRST time — k-1 users-sized joins, no window over
    // raw events. The oracle unrolls the steps as chained min CTEs.
    QueryDef("r95_funnel", {
      (s, d) => graft.operators.Behavior.funnelCounts(T(s, d, "events"),
        Seq("view", "click", "purchase"), within = Some("7 DAYS"))},
      Some(s"""WITH s1 AS (SELECT user_id AS u, MIN(ts) AS t1 FROM events
              |            WHERE event_type = 'view' GROUP BY 1),
              |s2 AS (SELECT s1.u, MIN(e.ts) AS t2
              |       FROM s1 JOIN events e ON e.user_id = s1.u
              |       WHERE e.event_type = 'click' AND e.ts > s1.t1
              |         AND e.ts <= s1.t1 + INTERVAL 7 DAY
              |       GROUP BY 1),
              |s3 AS (SELECT s1.u, MIN(e.ts) AS t3
              |       FROM s1 JOIN s2 ON s2.u = s1.u
              |       JOIN events e ON e.user_id = s1.u
              |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
              |         AND e.ts <= s1.t1 + INTERVAL 7 DAY
              |       GROUP BY 1),
              |n AS (SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n1,
              |             CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n2,
              |             CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n3)
              |SELECT * FROM (
              |  SELECT 1 AS step, 'view' AS name, n1 AS n_users,
              |         CASE WHEN n1 > 0 THEN ${rrepr("CAST(n1 AS DOUBLE) / n1", 6)} END AS frac FROM n
              |  UNION ALL
              |  SELECT 2, 'click', n2,
              |         CASE WHEN n1 > 0 THEN ${rrepr("CAST(n2 AS DOUBLE) / n1", 6)} END FROM n
              |  UNION ALL
              |  SELECT 3, 'purchase', n3,
              |         CASE WHEN n1 > 0 THEN ${rrepr("CAST(n3 AS DOUBLE) / n1", 6)} END FROM n)
              |ORDER BY step""".stripMargin)),

    // Weekly cohort retention: users grouped by the ISO week of their
    // first event, counted in each later week they are active —
    // two partial-aggregable passes + a users-sized join; nothing
    // event-sized past the first aggregations.
    QueryDef("r96_retention", {
      // cohort cast to string on BOTH sides: DATE cells render
      // differently between the two engines' dataframe bridges
      // (datetime.date vs midnight Timestamp), which the driver's
      // string compare reads as a mismatch.
      (s, d) => graft.operators.Behavior.cohortRetention(
          T(s, d, "events"), period = "week")
        .select(col("cohort").cast("string").as("cohort"), col("k"),
          col("n_active"), col("retention"))},
      Some(s"""WITH c AS (SELECT user_id AS u,
              |            CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort
              |           FROM events GROUP BY 1),
              |a AS (SELECT DISTINCT user_id AS u,
              |             CAST(date_trunc('week', ts) AS DATE) AS bucket
              |      FROM events),
              |kk AS (SELECT cohort,
              |              CAST(datediff('day', cohort, bucket) / 7 AS INT) AS k
              |       FROM c JOIN a ON a.u = c.u),
              |ct AS (SELECT cohort, k, CAST(COUNT(*) AS BIGINT) AS n_active
              |       FROM kk GROUP BY 1, 2),
              |b AS (SELECT cohort, n_active AS n_cohort FROM ct WHERE k = 0)
              |SELECT CAST(ct.cohort AS VARCHAR) AS cohort, ct.k, ct.n_active,
              |       ${rrepr("CAST(ct.n_active AS DOUBLE) / b.n_cohort", 6)} AS retention
              |FROM ct JOIN b ON b.cohort = ct.cohort
              |ORDER BY ct.cohort, ct.k""".stripMargin)),

    // Quantile winsorization: events.value clipped to the two-pass
    // histogram-estimated [p01, p99] band (pass 1 brackets the rank
    // elements; pass 2 re-histograms INSIDE the bracket so resolution
    // is set by the interior, not the spikes being clipped). Interior
    // values pass through bit-identical; nulls stay null (the
    // LEAST/GREATEST null-skip guard). The oracle unrolls BOTH passes.
    QueryDef("r97_winsorize", {
      (s, d) => Quality.winsorize(T(s, d, "events"), "value",
          loQ = 0.01, hiQ = 0.99, bins = 4096)
        .select(col("event_id"), col("value").cast("double").as("value"),
          col("qlo"), col("qhi"), col("value_w"))
        .orderBy("event_id")},
      Some("""WITH b AS (SELECT CAST(value AS DOUBLE) AS v FROM events
             |           WHERE value IS NOT NULL),
             |mm AS (SELECT MIN(v) AS lo, MAX(v) AS hi, CAST(COUNT(*) AS BIGINT) AS n FROM b),
             |bn AS (SELECT CAST(CASE WHEN mm.hi = mm.lo THEN 0
             |         ELSE LEAST(4095, FLOOR((v - lo) / (hi - lo) * 4096)) END AS INT) AS bin
             |       FROM b CROSS JOIN mm),
             |bc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS c FROM bn GROUP BY bin),
             |cum AS (SELECT bin, c, CAST(SUM(c) OVER (ORDER BY bin) AS BIGINT) AS cum FROM bc),
             |qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.01), (0.99)) v(q)),
             |rk AS (SELECT q, GREATEST(CAST(1 AS BIGINT), CAST(CEIL(q * mm.n) AS BIGINT)) AS rank
             |       FROM qs CROSS JOIN mm),
             |pick AS (SELECT rk.q, MIN(cum.bin) AS bin
             |         FROM rk JOIN cum ON cum.cum >= rk.rank GROUP BY rk.q),
             |band AS (SELECT MIN(CASE WHEN q = 0.01 THEN lo + bin * ((hi - lo) / 4096) END) AS blo2,
             |                MIN(CASE WHEN q = 0.99 THEN lo + (bin + 1) * ((hi - lo) / 4096) END) AS bhi2
             |         FROM pick CROSS JOIN mm),
             |bn2 AS (SELECT CAST(CASE WHEN bhi2 = blo2 THEN 0
             |          ELSE GREATEST(0, LEAST(4095, FLOOR((v - blo2) / (bhi2 - blo2) * 4096))) END AS INT) AS bin
             |        FROM b CROSS JOIN band),
             |bc2 AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS c FROM bn2 GROUP BY bin),
             |cum2 AS (SELECT bin, CAST(SUM(c) OVER (ORDER BY bin) AS BIGINT) AS cum FROM bc2),
             |n2 AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM bc2),
             |rk2 AS (SELECT q, GREATEST(CAST(1 AS BIGINT), CAST(CEIL(q * n2.n) AS BIGINT)) AS rank
             |        FROM qs CROSS JOIN n2),
             |pick2 AS (SELECT rk2.q, MIN(cum2.bin) AS bin
             |          FROM rk2 JOIN cum2 ON cum2.cum >= rk2.rank GROUP BY rk2.q),
             |est2 AS (SELECT q,
             |           ((blo2 + bin * ((bhi2 - blo2) / 4096)) +
             |            (blo2 + (bin + 1) * ((bhi2 - blo2) / 4096))) / 2 AS est
             |         FROM pick2 CROSS JOIN band),
             |bounds AS (SELECT MIN(CASE WHEN q = 0.01 THEN est END) AS qlo,
             |                  MIN(CASE WHEN q = 0.99 THEN est END) AS qhi
             |           FROM est2)
             |SELECT e.event_id, CAST(e.value AS DOUBLE) AS value, qlo, qhi,
             |       CASE WHEN e.value IS NOT NULL
             |            THEN GREATEST(qlo, LEAST(qhi, CAST(e.value AS DOUBLE)))
             |       END AS value_w
             |FROM events e CROSS JOIN bounds
             |ORDER BY e.event_id""".stripMargin)),

    // First-order event transitions: adjacent (from, to) pairs per
    // user's (ts, type)-ordered stream, counted globally with 6dp row
    // probabilities — the Markov flow summary. The (ts, type) order is
    // a deterministic total order for the PAIR MULTISET, so the oracle
    // window reproduces it exactly.
    QueryDef("r98_transitions",
      (s, d) => graft.operators.Behavior.transitionMatrix(T(s, d, "events")),
      Some(s"""WITH o AS (SELECT event_type AS f,
              |            LEAD(event_type) OVER (PARTITION BY user_id
              |                                   ORDER BY ts, event_type) AS t
              |           FROM events),
              |p AS (SELECT f AS from_type, t AS to_type,
              |             CAST(COUNT(*) AS BIGINT) AS n
              |      FROM o WHERE t IS NOT NULL GROUP BY 1, 2),
              |tt AS (SELECT from_type, SUM(n) AS tn FROM p GROUP BY 1)
              |SELECT p.from_type, p.to_type, n,
              |       ${rrepr("CAST(n AS DOUBLE) / tn", 6)} AS p
              |FROM p JOIN tt USING (from_type)
              |ORDER BY from_type, to_type""".stripMargin)),

    // The hot-user-safe transition matrix: per-user streams split into
    // contiguous day-grid runs, within-run pairs from a (user, day)-
    // partitioned window, boundary pairs from per-cell first/last
    // summaries — a bot user's task-sized sort becomes per-cell sorts
    // (SCALE.md transhot row). Same output as r98, same oracle: the
    // bucketed == plain law, oracle-checked on real event data.
    QueryDef("r102_transitions_bucketed",
      (s, d) => graft.operators.Behavior.transitionMatrixBucketed(
        T(s, d, "events"), date_trunc("day", col("ts"))),
      Some(s"""WITH o AS (SELECT event_type AS f,
              |            LEAD(event_type) OVER (PARTITION BY user_id
              |                                   ORDER BY ts, event_type) AS t
              |           FROM events),
              |p AS (SELECT f AS from_type, t AS to_type,
              |             CAST(COUNT(*) AS BIGINT) AS n
              |      FROM o WHERE t IS NOT NULL GROUP BY 1, 2),
              |tt AS (SELECT from_type, SUM(n) AS tn FROM p GROUP BY 1)
              |SELECT p.from_type, p.to_type, n,
              |       ${rrepr("CAST(n AS DOUBLE) / tn", 6)} AS p
              |FROM p JOIN tt USING (from_type)
              |ORDER BY from_type, to_type""".stripMargin)),

    // Per-segment PSI (r93 grouped by event_type): drift monitored per
    // group, because a corpus-global PSI washes out a segment that
    // drifted alone. Dense groups × bins spine — every (group, bin)
    // cell carries its smoothed term against the GROUP's totals.
    QueryDef("r99_psi_by", {
      (s, d) => {
        val ev = T(s, d, "events")
        Quality.psiBy(ev.filter(col("user_id") % 3 === 0),
            ev.filter(col("user_id") % 3 =!= 0),
            "event_type", "value", lo = 0.0, hi = 1000.0, bins = 64)
          .orderBy("group", "bin")
      }},
      Some(s"""WITH a0 AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
              |            FROM events WHERE user_id % 3 = 0 AND value IS NOT NULL),
              |b0 AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
              |       FROM events WHERE user_id % 3 <> 0 AND value IS NOT NULL),
              |ha AS (SELECT g, CAST(GREATEST(0, LEAST(63, FLOOR((v - 0.0) / (1000.0 - 0.0) * 64))) AS INT) AS bin,
              |              CAST(COUNT(*) AS BIGINT) AS ca
              |       FROM a0 GROUP BY 1, 2),
              |hb AS (SELECT g, CAST(GREATEST(0, LEAST(63, FLOOR((v - 0.0) / (1000.0 - 0.0) * 64))) AS INT) AS bin,
              |              CAST(COUNT(*) AS BIGINT) AS cb
              |       FROM b0 GROUP BY 1, 2),
              |na AS (SELECT g, CAST(SUM(ca) AS BIGINT) AS na FROM ha GROUP BY 1),
              |nb AS (SELECT g, CAST(SUM(cb) AS BIGINT) AS nb FROM hb GROUP BY 1),
              |gs AS (SELECT DISTINCT g FROM (SELECT g FROM ha UNION ALL SELECT g FROM hb) t),
              |spine AS (SELECT gs.g, CAST(r AS INT) AS bin FROM gs CROSS JOIN range(0, 64) tt(r)),
              |j AS (SELECT spine.g, spine.bin,
              |             COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb,
              |             COALESCE(na.na, 0) AS na, COALESCE(nb.nb, 0) AS nb
              |      FROM spine LEFT JOIN ha ON ha.g = spine.g AND ha.bin = spine.bin
              |                 LEFT JOIN hb ON hb.g = spine.g AND hb.bin = spine.bin
              |                 LEFT JOIN na ON na.g = spine.g
              |                 LEFT JOIN nb ON nb.g = spine.g),
              |pr AS (SELECT g, bin, ca, cb,
              |              CAST(ca + 1 AS DOUBLE) / (na + 64) AS pa,
              |              CAST(cb + 1 AS DOUBLE) / (nb + 64) AS pb
              |       FROM j)
              |SELECT g AS "group", bin, ca, cb, pa, pb,
              |       (pa - pb) * ${rrepr("ln(pa / pb)", 6)} AS psi_term
              |FROM pr ORDER BY "group", bin""".stripMargin)),

    // Per-segment winsorization (r97 grouped by event_type): each
    // segment's clip band fit from its OWN two-pass histogram
    // quantiles — the segment whose p95 is another's median needs its
    // own bounds. The oracle unrolls both passes PER GROUP.
    QueryDef("r100_winsorize_by", {
      (s, d) => Quality.winsorizeBy(T(s, d, "events"), "event_type",
          "value", loQ = 0.05, hiQ = 0.95, bins = 512)
        .select(col("event_id"), col("event_type"),
          col("value").cast("double").as("value"), col("qlo"), col("qhi"),
          col("value_w"))
        .orderBy("event_id")},
      Some("""WITH b AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
             |           FROM events WHERE value IS NOT NULL),
             |mm AS (SELECT g, MIN(v) AS lo, MAX(v) AS hi, CAST(COUNT(*) AS BIGINT) AS n
             |       FROM b GROUP BY 1),
             |bn AS (SELECT b.g, CAST(CASE WHEN mm.hi = mm.lo THEN 0
             |         ELSE LEAST(511, FLOOR((v - lo) / (hi - lo) * 512)) END AS INT) AS bin
             |       FROM b JOIN mm ON mm.g = b.g),
             |bc AS (SELECT g, bin, CAST(COUNT(*) AS BIGINT) AS c FROM bn GROUP BY 1, 2),
             |cum AS (SELECT g, bin, c,
             |               CAST(SUM(c) OVER (PARTITION BY g ORDER BY bin) AS BIGINT) AS cum
             |        FROM bc),
             |qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.05), (0.95)) v(q)),
             |rk AS (SELECT mm.g, q,
             |              GREATEST(CAST(1 AS BIGINT), CAST(CEIL(q * mm.n) AS BIGINT)) AS rank
             |       FROM qs CROSS JOIN mm),
             |pick AS (SELECT rk.g, rk.q, MIN(cum.bin) AS bin
             |         FROM rk JOIN cum ON cum.g = rk.g AND cum.cum >= rk.rank
             |         GROUP BY 1, 2),
             |band AS (SELECT pick.g,
             |                MIN(CASE WHEN q = 0.05 THEN lo + bin * ((hi - lo) / 512) END) AS blo2,
             |                MIN(CASE WHEN q = 0.95 THEN lo + (bin + 1) * ((hi - lo) / 512) END) AS bhi2
             |         FROM pick JOIN mm ON mm.g = pick.g GROUP BY 1),
             |bn2 AS (SELECT b.g, CAST(CASE WHEN bhi2 = blo2 THEN 0
             |          ELSE GREATEST(0, LEAST(511, FLOOR((v - blo2) / (bhi2 - blo2) * 512))) END AS INT) AS bin
             |        FROM b JOIN band ON band.g = b.g),
             |bc2 AS (SELECT g, bin, CAST(COUNT(*) AS BIGINT) AS c FROM bn2 GROUP BY 1, 2),
             |cum2 AS (SELECT g, bin,
             |                CAST(SUM(c) OVER (PARTITION BY g ORDER BY bin) AS BIGINT) AS cum
             |         FROM bc2),
             |n2 AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM bc2 GROUP BY 1),
             |rk2 AS (SELECT n2.g, q,
             |               GREATEST(CAST(1 AS BIGINT), CAST(CEIL(q * n2.n) AS BIGINT)) AS rank
             |        FROM qs CROSS JOIN n2),
             |pick2 AS (SELECT rk2.g, rk2.q, MIN(cum2.bin) AS bin
             |          FROM rk2 JOIN cum2 ON cum2.g = rk2.g AND cum2.cum >= rk2.rank
             |          GROUP BY 1, 2),
             |est2 AS (SELECT pick2.g, q,
             |           ((blo2 + bin * ((bhi2 - blo2) / 512)) +
             |            (blo2 + (bin + 1) * ((bhi2 - blo2) / 512))) / 2 AS est
             |         FROM pick2 JOIN band ON band.g = pick2.g),
             |bounds AS (SELECT g, MIN(CASE WHEN q = 0.05 THEN est END) AS qlo,
             |                  MIN(CASE WHEN q = 0.95 THEN est END) AS qhi
             |           FROM est2 GROUP BY 1)
             |SELECT e.event_id, e.event_type, CAST(e.value AS DOUBLE) AS value,
             |       qlo, qhi,
             |       CASE WHEN e.value IS NOT NULL
             |            THEN GREATEST(qlo, LEAST(qhi, CAST(e.value AS DOUBLE)))
             |       END AS value_w
             |FROM events e LEFT JOIN bounds ON bounds.g = e.event_type
             |ORDER BY e.event_id""".stripMargin)),

    // Per-segment text drift (r70 grouped by lang): each language's
    // own hashed-ngram JS divergence between a snapshot and a mutated
    // successor where ONLY the en segment is injected with drift
    // tokens — the grouped monitor reads en loud and the others quiet
    // where the corpus-global r70 would average them together.
    QueryDef("r101_drift_by", {
      (s, d) => {
        val docs = T(s, d, "documents").select(col("doc_id"), col("lang"),
          coalesce(col("text"), lit("")).as("text"))
        val curr = docs.filter(col("doc_id") % 3 =!= 0).select(col("doc_id"),
          col("lang"),
          when(col("lang") === "en", concat(col("text"), lit(" drift drift")))
            .otherwise(col("text")).as("text"))
        Quality.corpusDriftBy(docs, curr, "lang", buckets = 256)
          .orderBy("group", "bucket")
      }},
      Some(s"""WITH oldd AS (SELECT doc_id, lang, COALESCE(text, '') AS text FROM documents),
              |curd AS (SELECT doc_id, lang,
              |    CASE WHEN lang = 'en' THEN COALESCE(text, '') || ' drift drift'
              |         ELSE COALESCE(text, '') END AS text
              |  FROM oldd WHERE doc_id % 3 <> 0),
              |ga AS (SELECT lang, unnest(list_concat(t, [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])) AS g
              |       FROM (SELECT lang, string_split(text, ' ') AS t FROM oldd)),
              |gb AS (SELECT lang, unnest(list_concat(t, [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])) AS g
              |       FROM (SELECT lang, string_split(text, ' ') AS t FROM curd)),
              |fa AS (SELECT lang, ('0x' || substr(md5(g), 1, 15))::BIGINT % 256 AS bucket,
              |         CAST(COUNT(*) AS BIGINT) AS ca FROM ga GROUP BY 1, 2),
              |fb AS (SELECT lang, ('0x' || substr(md5(g), 1, 15))::BIGINT % 256 AS bucket,
              |         CAST(COUNT(*) AS BIGINT) AS cb FROM gb GROUP BY 1, 2),
              |na AS (SELECT lang, CAST(SUM(ca) AS BIGINT) AS na FROM fa GROUP BY 1),
              |nb AS (SELECT lang, CAST(SUM(cb) AS BIGINT) AS nb FROM fb GROUP BY 1),
              |grp AS (SELECT lang FROM fa UNION SELECT lang FROM fb),
              |sp AS (SELECT grp.lang, r.bucket
              |       FROM grp CROSS JOIN range(0, 256) r(bucket)),
              |j AS (SELECT sp.lang, sp.bucket,
              |        COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
              |      FROM sp
              |        LEFT JOIN fa ON fa.lang = sp.lang AND fa.bucket = sp.bucket
              |        LEFT JOIN fb ON fb.lang = sp.lang AND fb.bucket = sp.bucket),
              |p AS (SELECT j.lang, bucket, ca, cb,
              |        (ca + 1)::DOUBLE / (COALESCE(na.na, 0) + 256) AS pa,
              |        (cb + 1)::DOUBLE / (COALESCE(nb.nb, 0) + 256) AS pb
              |      FROM j LEFT JOIN na ON na.lang = j.lang
              |             LEFT JOIN nb ON nb.lang = j.lang),
              |q AS (SELECT *, (pa + pb) / 2 AS m FROM p)
              |SELECT lang AS "group", bucket, ca, cb, pa, pb,
              |  0.5 * pa * ${rrepr("ln(pa / m)", 6)} + 0.5 * pb * ${rrepr("ln(pb / m)", 6)} AS js_term
              |FROM q ORDER BY "group", bucket""".stripMargin)),

    // Leakage-safe temporal split: train / embargo / test assignment
    // from the row's own timestamp, the purge-window rule from
    // financial ML backtesting (a pure narrow CASE — the oracle is the
    // same CASE in SQL).
    QueryDef("r88_temporal_split",
      (s, d) => Mix.temporalSplit(T(s, d, "events"), "ts",
          trainEnd = "2024-01-20 00:00:00", testStart = "2024-01-24 00:00:00")
        .groupBy("split")
        .agg(count(lit(1)).cast("long").as("n"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum("value"), 2).as("total"))
        .orderBy("split"),
      Some("""SELECT CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
             |            WHEN ts >= TIMESTAMP '2024-01-24 00:00:00' THEN 'test'
             |            ELSE 'embargo' END AS split,
             |       CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             |       ROUND(SUM(value), 2) AS total
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // IR metrics for any ranked list vs graded qrels: nDCG@k (ln/ln2
    // discount with the same double literal both engines parse, 6-dp
    // terms, sorted-fold sums), MRR@k, recall@k. Results here = each
    // nation's suppliers ranked by balance; qrels = a graded subset —
    // rank order uncorrelated with relevance, so all three metrics are
    // non-trivial.
    QueryDef("r89_retrieval_eval",
      (s, d) => {
        val sup = T(s, d, "supplier")
        val results = sup.select(col("s_nationkey").as("q_id"),
            col("s_suppkey").as("id"), col("s_acctbal"))
          .withColumn("rn", row_number().over(Window.partitionBy("q_id")
            .orderBy(col("s_acctbal").desc, col("id"))))
          .drop("s_acctbal")
        val qrels = sup.filter(col("s_suppkey") % 4 === 0)
          .select(col("s_nationkey").as("q_id"), col("s_suppkey").as("id"),
            (lit(1) + col("s_suppkey") % 3).cast("double").as("rel"))
        Retrieval.evalMetrics(results, qrels, k = 10).orderBy("q_id")
      },
      Some(s"""WITH res AS (SELECT s_nationkey AS q_id, s_suppkey AS id,
              |    ROW_NUMBER() OVER (PARTITION BY s_nationkey
              |                       ORDER BY s_acctbal DESC, s_suppkey) AS rn
              |  FROM supplier),
              |r AS (SELECT * FROM res WHERE rn <= 10),
              |qr AS (SELECT s_nationkey AS q_id, s_suppkey AS id,
              |    CAST(1 + s_suppkey % 3 AS DOUBLE) AS rel
              |  FROM supplier WHERE s_suppkey % 4 = 0),
              |h AS (SELECT r.q_id, r.id, r.rn, COALESCE(qr.rel, 0.0) AS rel
              |  FROM r LEFT JOIN qr ON r.q_id = qr.q_id AND r.id = qr.id),
              |hterm AS (SELECT q_id, rn, rel,
              |    ${rrepr("rel / (ln(rn + 1) / 0.6931471805599453)", 6)} AS dg,
              |    CASE WHEN rel > 0 THEN ${rrepr("1.0 / rn", 6)} ELSE 0.0 END AS rr
              |  FROM h),
              |perq AS (SELECT q_id,
              |    ${rrepr("list_reduce(list_sort(list(dg)), (x, y) -> x + y)", 6)} AS dcg,
              |    MAX(rr) AS mrr,
              |    CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
              |  FROM hterm GROUP BY q_id),
              |ideal0 AS (SELECT q_id, rel,
              |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, id) AS irn
              |  FROM qr WHERE rel > 0),
              |iterm AS (SELECT q_id,
              |    ${rrepr("rel / (ln(irn + 1) / 0.6931471805599453)", 6)} AS idg
              |  FROM ideal0 WHERE irn <= 10),
              |ideal AS (SELECT q_id,
              |    ${rrepr("list_reduce(list_sort(list(idg)), (x, y) -> x + y)", 6)} AS idcg
              |  FROM iterm GROUP BY q_id),
              |tot AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_rel
              |  FROM qr WHERE rel > 0 GROUP BY q_id)
              |SELECT p.q_id,
              |  CASE WHEN i.idcg > 0 THEN ${rrepr("p.dcg / i.idcg", 6)} ELSE 0.0 END AS ndcg,
              |  p.mrr,
              |  CASE WHEN COALESCE(t.n_rel, 0) > 0
              |       THEN ${rrepr("CAST(p.n_hit AS DOUBLE) / t.n_rel", 6)} ELSE 0.0 END AS recall,
              |  p.n_hit, CAST(COALESCE(t.n_rel, 0) AS BIGINT) AS n_rel
              |FROM perq p LEFT JOIN ideal i USING (q_id) LEFT JOIN tot t USING (q_id)
              |ORDER BY q_id""".stripMargin)),

    // Zipf-law fit over the token-frequency head: OLS of ln(freq) on
    // ln(rank) for the top-200 tokens — the corpus-health slope check.
    // Both engines: exact-int counts, 6dp-rounded lns, sorted-fold OLS
    // sums, slope rounded before it feeds the intercept.
    QueryDef("r103_zipf_fit",
      (s, d) => TextAnalysis.zipfFit(T(s, d, "documents"), topK = 200),
      Some(s"""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
              |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tk
              |      WHERE tok <> '' GROUP BY tok),
              |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
              |               CAST(COUNT(*) AS BIGINT) AS n_vocab FROM c),
              |hd AS (SELECT tok, c FROM c ORDER BY c DESC, tok ASC LIMIT 200),
              |rk AS (SELECT ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS r, c FROM hd),
              |xy AS (SELECT ${rrepr("ln(CAST(r AS DOUBLE))", 6)} AS x,
              |              ${rrepr("ln(CAST(c AS DOUBLE))", 6)} AS y FROM rk),
              |sm AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
              |  list_reduce(list_prepend(0.0, list_sort(list(x))), (a, b) -> a + b) AS sx,
              |  list_reduce(list_prepend(0.0, list_sort(list(y))), (a, b) -> a + b) AS sy,
              |  list_reduce(list_prepend(0.0, list_sort(list(x * y))), (a, b) -> a + b) AS sxy,
              |  list_reduce(list_prepend(0.0, list_sort(list(x * x))), (a, b) -> a + b) AS sxx
              |  FROM xy),
              |fit AS (SELECT k, sx, sy,
              |    CASE WHEN CAST(k AS DOUBLE) * sxx - sx * sx <> 0.0
              |      THEN ${rrepr("(CAST(k AS DOUBLE) * sxy - sx * sy) / (CAST(k AS DOUBLE) * sxx - sx * sx)", 6)}
              |    END AS slope,
              |    (CAST(k AS DOUBLE) * sxx - sx * sx) AS den
              |  FROM sm)
              |SELECT k, n_tokens, n_vocab, slope,
              |  CASE WHEN den <> 0.0
              |    THEN ${rrepr("(sy - slope * sx) / CAST(k AS DOUBLE)", 6)}
              |  END AS intercept
              |FROM fit CROSS JOIN tot""".stripMargin)),

    // Structured-identifier PII: Luhn-verified payment cards + octet-
    // validated IPv4, planted per customer — one valid PAN (redacted),
    // one checksum-invalid sibling (kept, counted as candidate only),
    // one 23-digit run (never a candidate: no word-bounded 13-19 slice)
    // and one malformed IP (999.300.x — octet rule rejects).
    QueryDef("r104_pii_extended",
      (s, d) => TextAnalysis.scrubPiiExtended(
        T(s, d, "customer").select(col("c_custkey").as("doc_id"),
          concat(lit("card 4111111111111111 alt 4111111111111112 ip 10."),
            pmod(col("c_custkey"), lit(256)).cast("string"),
            lit(".0.1 bad 999.300.1.1 run 12345678901234567890123 end"))
            .as("text")))
        .orderBy("doc_id"),
      Some {
        val wb = "\\b"
        s"""WITH t AS (SELECT c_custkey AS doc_id,
           |    'card 4111111111111111 alt 4111111111111112 ip 10.' ||
           |    CAST(c_custkey % 256 AS VARCHAR) ||
           |    '.0.1 bad 999.300.1.1 run 12345678901234567890123 end' AS text
           |  FROM customer),
           |c AS (SELECT doc_id, text,
           |    regexp_extract_all(text, '${TextAnalysis.CardRe}') AS cands
           |  FROM t),
           |v AS (SELECT doc_id, text, cands,
           |    list_filter(cands, c -> list_reduce(
           |      list_prepend(0, range(1, len(c) + 1)),
           |      (acc, i) -> acc + (CASE
           |        WHEN (len(c) - i) % 2 = 1 THEN (CASE
           |          WHEN 2 * CAST(substr(c, i, 1) AS INT) > 9
           |          THEN 2 * CAST(substr(c, i, 1) AS INT) - 9
           |          ELSE 2 * CAST(substr(c, i, 1) AS INT) END)
           |        ELSE CAST(substr(c, i, 1) AS INT) END)) % 10 = 0) AS valid
           |  FROM c)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '${TextAnalysis.Ipv4Re}')) AS BIGINT) AS n_ips,
           |  CAST(len(cands) AS BIGINT) AS n_card_candidates,
           |  CAST(len(valid) AS BIGINT) AS n_cards,
           |  list_reduce(
           |    list_prepend(regexp_replace(text, '${TextAnalysis.Ipv4Re}', '<IP>', 'g'), valid),
           |    (acc, c) -> regexp_replace(acc, '$wb' || c || '$wb', '<CARD>', 'g')) AS scrubbed
           |FROM v ORDER BY doc_id""".stripMargin }),

    // Cohen's kappa between two gates (a char-length rule vs a token-
    // count rule) — chance-corrected agreement, one join + one 1-row
    // aggregation; every ratio an IEEE division of exact ints in a
    // fixed operand order.
    QueryDef("r105_label_agreement",
      (s, d) => {
        val docs = T(s, d, "documents")
        TextAnalysis.labelAgreement(
          docs.select(col("doc_id"), (col("n_chars") >= 150).as("kept")),
          docs.select(col("doc_id"),
            (size(split(coalesce(col("text"), lit("")), " ")) >= 30)
              .as("kept")))
      },
      Some(s"""WITH j AS (SELECT (n_chars >= 150) AS va,
              |    (len(string_split(COALESCE(text, ''), ' ')) >= 30) AS vb
              |  FROM documents),
              |cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |  CAST(SUM(CASE WHEN va AND vb THEN 1 ELSE 0 END) AS BIGINT) AS n11,
              |  CAST(SUM(CASE WHEN va AND NOT vb THEN 1 ELSE 0 END) AS BIGINT) AS n10,
              |  CAST(SUM(CASE WHEN NOT va AND vb THEN 1 ELSE 0 END) AS BIGINT) AS n01,
              |  CAST(SUM(CASE WHEN NOT va AND NOT vb THEN 1 ELSE 0 END) AS BIGINT) AS n00
              |  FROM j),
              |p AS (SELECT *,
              |    CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
              |    (CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)) *
              |      (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE)) +
              |    (CAST(n01 + n00 AS DOUBLE) / CAST(n AS DOUBLE)) *
              |      (CAST(n10 + n00 AS DOUBLE) / CAST(n AS DOUBLE)) AS pe
              |  FROM cc)
              |SELECT n, n11, n10, n01, n00,
              |  ${rrepr("po", 6)} AS po, ${rrepr("pe", 6)} AS pe,
              |  CASE WHEN 1.0 - pe <> 0.0
              |    THEN ${rrepr("(po - pe) / (1.0 - pe)", 6)}
              |  END AS kappa
              |FROM p""".stripMargin)),

    // Exact long-form embedding covariance: components scaled 1e6 and
    // TRUNCATED to longs (identical in both engines, where rounding
    // ties are not), upper-triangle products summed as decimal(38,0) —
    // order-independent exact integer sums, so the whole artifact is
    // hash-stable; cov derived in a fixed IEEE operand order, 6dp.
    // The exact sums are DECLARED as strings (both sides): the values
    // are engine-identical, but DuckDB's pandas bridge renders a
    // DECIMAL(38,0) as float64 ('1530811.0') while Spark's parquet
    // keeps Decimal ('1530811') — the r11 driver-hash red. CAST to
    // VARCHAR/string renders digits-only in both engines; the operator
    // API keeps the native decimals (they are the mergeable summary).
    // Null embeddings are excluded on BOTH sides (the oracle's v CTE
    // previously counted them in n — the n-inflation bias the Spark
    // side fixed in 87fe23f, now pinned cross-engine).
    QueryDef("r106_embed_covariance",
      (s, d) => Ann.covarianceLongForm(T(s, d, "embeddings"))
        .select(col("i"), col("j"), col("n"),
          col("sxy").cast("string").as("sxy"),
          col("sx").cast("string").as("sx"),
          col("sy").cast("string").as("sy"), col("cov"))
        .orderBy("i", "j"),
      Some(s"""WITH v AS (SELECT [CAST(trunc(CAST(x AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT) FOR x IN embedding] AS q
              |  FROM embeddings WHERE embedding IS NOT NULL),
              |px AS (SELECT q, unnest(range(0, len(q))) AS i FROM v),
              |sx AS (SELECT CAST(i AS INT) AS i,
              |         CAST(SUM(q[i + 1]) AS DECIMAL(38,0)) AS sx
              |       FROM px GROUP BY 1),
              |pj AS (SELECT q, i, unnest(range(i, len(q))) AS j FROM px),
              |cells AS (SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
              |            CAST(SUM(q[i + 1] * q[j + 1]) AS DECIMAL(38,0)) AS sxy
              |          FROM pj GROUP BY 1, 2),
              |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v)
              |SELECT c.i, c.j, nn.n,
              |  CAST(c.sxy AS VARCHAR) AS sxy,
              |  CAST(a.sx AS VARCHAR) AS sx,
              |  CAST(b.sx AS VARCHAR) AS sy,
              |  ${rrepr("(CAST(c.sxy AS DOUBLE) / CAST(nn.n AS DOUBLE) - (CAST(a.sx AS DOUBLE) / CAST(nn.n AS DOUBLE)) * (CAST(b.sx AS DOUBLE) / CAST(nn.n AS DOUBLE))) / CAST(1000000000000 AS DOUBLE)", 6)} AS cov
              |FROM cells c JOIN sx a ON a.i = c.i JOIN sx b ON b.i = c.j
              |CROSS JOIN nn ORDER BY c.i, c.j""".stripMargin)),

    // Flesch reading-ease over punctuation-augmented docs (the fixture
    // corpus has no terminators, so sentence structure is planted; the
    // doc_id % 7 rows exercise the empty-text null-score edge).
    QueryDef("r107_readability",
      (s, d) => TextAnalysis.readability(
        T(s, d, "documents").select(col("doc_id"),
          when(col("doc_id") % 7 === 0, lit(""))
            .otherwise(concat(lit("Intro words here. "),
              coalesce(col("text"), lit("")), lit(" Final!")))
            .as("text")))
        .orderBy("doc_id"),
      Some(s"""WITH aug AS (SELECT doc_id,
              |    CASE WHEN doc_id % 7 = 0 THEN ''
              |         ELSE 'Intro words here. ' || COALESCE(text, '') || ' Final!'
              |    END AS text
              |  FROM documents),
              |w AS (SELECT doc_id,
              |    [x FOR x IN string_split(COALESCE(text, ''), ' ') IF x <> ''] AS ws,
              |    [x FOR x IN [trim(y) FOR y IN regexp_extract_all(text, '[^.!?]+([.!?]+|$$)')] IF x <> ''] AS ss
              |  FROM aug),
              |m AS (SELECT doc_id,
              |    CAST(len(ws) AS BIGINT) AS n_words,
              |    CAST(len(ss) AS BIGINT) AS n_sentences,
              |    CAST(list_reduce(list_prepend(0,
              |      [greatest(1, len(regexp_extract_all(lower(x), '[aeiouy]+'))) FOR x IN ws]),
              |      (a, b) -> a + b) AS BIGINT) AS n_syllables
              |  FROM w)
              |SELECT doc_id, n_words, n_sentences, n_syllables,
              |  CASE WHEN n_words > 0 AND n_sentences > 0
              |    THEN ${rrepr("206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))", 4)}
              |  END AS flesch
              |FROM m ORDER BY doc_id""".stripMargin)),

    // Cross-source duplication-leakage matrix: verified near-dup pairs
    // (the p02 LSH chain at Jaccard >= 0.5) grouped by the unordered
    // source pair they connect — off-diagonal rows are syndication/
    // mirror leakage that breaks by-source held-out splits. The oracle
    // shares the p02 CTE prefix, so the two rows cannot drift.
    QueryDef("r108_dup_leakage",
      (s, d) => Dedup.crossSourceLeakage(T(s, d, "documents"),
          threshold = 0.5)
        .orderBy("source_a", "source_b"),
      Some(s"""WITH $mhCte,
              |bandc AS (SELECT * FROM (SELECT z.*, COUNT(*) OVER (PARTITION BY band, bh) AS bc
              |                         FROM bands z) t WHERE bc <= 100),
              |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
              |         FROM bandc x JOIN bandc y
              |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
              |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT s1.doc_id AS d1, s2.doc_id AS d2, COUNT(*) AS ninter
              |          FROM sh s1 JOIN sh s2
              |            ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
              |          GROUP BY s1.doc_id, s2.doc_id)
              |SELECT least(da.source, db.source) AS source_a,
              |       greatest(da.source, db.source) AS source_b,
              |       CAST(COUNT(*) AS BIGINT) AS n_pairs
              |FROM cand c
              |JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
              |JOIN cnt c1 ON c.d1 = c1.doc_id
              |JOIN cnt c2 ON c.d2 = c2.doc_id
              |JOIN documents da ON c.d1 = da.doc_id
              |JOIN documents db ON c.d2 = db.doc_id
              |WHERE i.ninter / (c1.n + c2.n - i.ninter) >= 0.5
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Semantic decontamination: train vectors scored by max cosine to
    // the held-out eval slice (vec_id % 5 == 0) — the dense tier that
    // catches paraphrased benchmark leakage 8-gram overlap cannot.
    // Eval side broadcast, max partial-aggregated: the p06 brute shape
    // with an agg instead of a window.
    QueryDef("r109_sem_decontaminate",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        Ann.semDecontaminate(emb.filter(col("vec_id") % 5 =!= 0),
            emb.filter(col("vec_id") % 5 === 0), threshold = 0.95)
          .orderBy("vec_id")
      },
      Some(s"""WITH $embCte,
              |tr AS (SELECT * FROM e WHERE vec_id % 5 <> 0),
              |ev AS (SELECT * FROM e WHERE vec_id % 5 = 0),
              |mx AS (SELECT t.vec_id, MAX(${dcos("t.emb", "v.emb")}) AS mx
              |       FROM tr t, ev v GROUP BY t.vec_id)
              |SELECT vec_id, ${rrepr("mx", 3)} AS max_sim,
              |       (mx >= 0.95) AS contaminated
              |FROM mx ORDER BY vec_id""".stripMargin)),

    // Memorization-risk score: fraction of each doc's distinct 8-grams
    // occurring in >= 2 docs corpus-wide — boilerplate/template mass
    // the pairwise dedup tier cannot express. The r64/bm25 df shape.
    QueryDef("r110_ngram_commonality",
      (s, d) => Dedup.ngramCommonality(T(s, d, "documents"), n = 8,
          minDf = 2)
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              |g AS (SELECT DISTINCT doc_id, gram FROM (
              |  SELECT doc_id, unnest([array_to_string(t[i:i+7], ' ')
              |                         FOR i IN range(1, len(t) - 6)]) AS gram
              |  FROM toks WHERE len(t) >= 8) raw),
              |fd AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM g GROUP BY gram),
              |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
              |         CAST(SUM(CASE WHEN fd.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_common
              |       FROM g JOIN fd USING (gram) GROUP BY doc_id)
              |SELECT d2.doc_id,
              |  COALESCE(pd.n_grams, CAST(0 AS BIGINT)) AS n_grams,
              |  COALESCE(pd.n_common, CAST(0 AS BIGINT)) AS n_common,
              |  CASE WHEN pd.n_grams > 0
              |    THEN ${rrepr("CAST(pd.n_common AS DOUBLE) / CAST(pd.n_grams AS DOUBLE)", 4)}
              |  END AS common_frac
              |FROM (SELECT DISTINCT doc_id FROM documents) d2
              |LEFT JOIN pd USING (doc_id) ORDER BY d2.doc_id""".stripMargin)),

    // Correlation long-form derived from the r106 cells: corr over the
    // 6dp covariances, diagonal broadcast back — dead dimensions null,
    // linearly-tied dimensions read |corr| ~ 1.
    QueryDef("r111_embed_correlation",
      (s, d) => Ann.correlationFromCells(
          Ann.covarianceCells(T(s, d, "embeddings")))
        .orderBy("i", "j"),
      Some(s"""WITH v AS (SELECT [CAST(trunc(CAST(x AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT) FOR x IN embedding] AS q
              |  FROM embeddings WHERE embedding IS NOT NULL),
              |px AS (SELECT q, unnest(range(0, len(q))) AS i FROM v),
              |sx AS (SELECT CAST(i AS INT) AS i,
              |         CAST(SUM(q[i + 1]) AS DECIMAL(38,0)) AS sx
              |       FROM px GROUP BY 1),
              |pj AS (SELECT q, i, unnest(range(i, len(q))) AS j FROM px),
              |cells AS (SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
              |            CAST(SUM(q[i + 1] * q[j + 1]) AS DECIMAL(38,0)) AS sxy
              |          FROM pj GROUP BY 1, 2),
              |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
              |cv AS (SELECT c.i, c.j,
              |  ${rrepr("(CAST(c.sxy AS DOUBLE) / CAST(nn.n AS DOUBLE) - (CAST(a.sx AS DOUBLE) / CAST(nn.n AS DOUBLE)) * (CAST(b.sx AS DOUBLE) / CAST(nn.n AS DOUBLE))) / CAST(1000000000000 AS DOUBLE)", 6)} AS cov
              |  FROM cells c JOIN sx a ON a.i = c.i JOIN sx b ON b.i = c.j
              |  CROSS JOIN nn),
              |dg AS (SELECT i AS d, cov AS v FROM cv WHERE i = j)
              |SELECT cv.i, cv.j, cv.cov,
              |  CASE WHEN di.v * dj.v > 0
              |    THEN ${rrepr("cv.cov / sqrt(di.v * dj.v)", 6)}
              |  END AS corr
              |FROM cv JOIN dg di ON di.d = cv.i JOIN dg dj ON dj.d = cv.j
              |ORDER BY cv.i, cv.j""".stripMargin)),

    // Per-label embedding covariance (the grouped r106): one exact
    // cell summary per class — stratified PCA / per-source embedding
    // drift. Each group's rows == ungrouped covariance of its slice.
    // Same presentation rules as r106: exact sums declared as strings
    // (the DECIMAL(38,0) pandas-bridge rendering red), null embeddings
    // excluded both sides; the label joins are null-safe (IS NOT
    // DISTINCT FROM) to match the Spark side's <=> — a plain equality
    // would silently drop a NULL-label stratum the engine keeps.
    QueryDef("r112_embed_covariance_by",
      (s, d) => Ann.covarianceFromCellsBy(
          Ann.covarianceCellsBy(T(s, d, "embeddings"), "label"))
        .select(col("label"), col("i"), col("j"), col("n"),
          col("sxy").cast("string").as("sxy"),
          col("sx").cast("string").as("sx"),
          col("sy").cast("string").as("sy"), col("cov"))
        .orderBy("label", "i", "j"),
      Some(s"""WITH v AS (SELECT label, [CAST(trunc(CAST(x AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT) FOR x IN embedding] AS q
              |  FROM embeddings WHERE embedding IS NOT NULL),
              |px AS (SELECT label, q, unnest(range(0, len(q))) AS i FROM v),
              |sx AS (SELECT label, CAST(i AS INT) AS i,
              |         CAST(SUM(q[i + 1]) AS DECIMAL(38,0)) AS sx
              |       FROM px GROUP BY 1, 2),
              |pj AS (SELECT label, q, i, unnest(range(i, len(q))) AS j FROM px),
              |cells AS (SELECT label, CAST(i AS INT) AS i, CAST(j AS INT) AS j,
              |            CAST(SUM(q[i + 1] * q[j + 1]) AS DECIMAL(38,0)) AS sxy
              |          FROM pj GROUP BY 1, 2, 3),
              |nn AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1)
              |SELECT c.label, c.i, c.j, nn.n,
              |  CAST(c.sxy AS VARCHAR) AS sxy,
              |  CAST(a.sx AS VARCHAR) AS sx,
              |  CAST(b.sx AS VARCHAR) AS sy,
              |  ${rrepr("(CAST(c.sxy AS DOUBLE) / CAST(nn.n AS DOUBLE) - (CAST(a.sx AS DOUBLE) / CAST(nn.n AS DOUBLE)) * (CAST(b.sx AS DOUBLE) / CAST(nn.n AS DOUBLE))) / CAST(1000000000000 AS DOUBLE)", 6)} AS cov
              |FROM cells c
              |JOIN sx a ON a.label IS NOT DISTINCT FROM c.label AND a.i = c.i
              |JOIN sx b ON b.label IS NOT DISTINCT FROM c.label AND b.i = c.j
              |JOIN nn ON nn.label IS NOT DISTINCT FROM c.label
              |ORDER BY c.label, c.i, c.j""".stripMargin)),

    // Per-label correlation (the grouped r111, completing the
    // r106/r111/r112 embedding-statistics family): per-source dead
    // dimensions and per-class dimension ties are exactly what a
    // pooled corr hides — one healthy majority source masks a
    // degenerate minority one. Derived doubles only (the r111
    // presentation pattern — no raw decimals declared), null-safe
    // label joins, null embeddings excluded both sides.
    QueryDef("r113_embed_correlation_by",
      (s, d) => Ann.correlationFromCellsBy(
          Ann.covarianceCellsBy(T(s, d, "embeddings"), "label"))
        .orderBy("label", "i", "j"),
      Some(s"""WITH v AS (SELECT label, [CAST(trunc(CAST(x AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT) FOR x IN embedding] AS q
              |  FROM embeddings WHERE embedding IS NOT NULL),
              |px AS (SELECT label, q, unnest(range(0, len(q))) AS i FROM v),
              |sx AS (SELECT label, CAST(i AS INT) AS i,
              |         CAST(SUM(q[i + 1]) AS DECIMAL(38,0)) AS sx
              |       FROM px GROUP BY 1, 2),
              |pj AS (SELECT label, q, i, unnest(range(i, len(q))) AS j FROM px),
              |cells AS (SELECT label, CAST(i AS INT) AS i, CAST(j AS INT) AS j,
              |            CAST(SUM(q[i + 1] * q[j + 1]) AS DECIMAL(38,0)) AS sxy
              |          FROM pj GROUP BY 1, 2, 3),
              |nn AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
              |cv AS (SELECT c.label, c.i, c.j,
              |  ${rrepr("(CAST(c.sxy AS DOUBLE) / CAST(nn.n AS DOUBLE) - (CAST(a.sx AS DOUBLE) / CAST(nn.n AS DOUBLE)) * (CAST(b.sx AS DOUBLE) / CAST(nn.n AS DOUBLE))) / CAST(1000000000000 AS DOUBLE)", 6)} AS cov
              |  FROM cells c
              |  JOIN sx a ON a.label IS NOT DISTINCT FROM c.label AND a.i = c.i
              |  JOIN sx b ON b.label IS NOT DISTINCT FROM c.label AND b.i = c.j
              |  JOIN nn ON nn.label IS NOT DISTINCT FROM c.label),
              |dg AS (SELECT label, i AS d, cov AS v FROM cv WHERE i = j)
              |SELECT cv.label, cv.i, cv.j, cv.cov,
              |  CASE WHEN di.v * dj.v > 0
              |    THEN ${rrepr("cv.cov / sqrt(di.v * dj.v)", 6)}
              |  END AS corr
              |FROM cv
              |JOIN dg di ON di.label IS NOT DISTINCT FROM cv.label AND di.d = cv.i
              |JOIN dg dj ON dj.label IS NOT DISTINCT FROM cv.label AND dj.d = cv.j
              |ORDER BY cv.label, cv.i, cv.j""".stripMargin)),

    // Per-label per-dimension embedding drift vs the pooled corpus
    // (the embedding-side psiBy): standardized mean shift and variance
    // ratio per (label, dim) — a re-embedded/drifted source reads
    // |mean_z| >> 0 / var_ratio far from 1 on many dims at once. Only
    // corpus pass = the grouped diagonal cells; pooled spine = SUM of
    // the grouped summaries (exact integers merge by addition).
    QueryDef("r114_embed_drift_by",
      (s, d) => Ann.embeddingDriftBy(T(s, d, "embeddings"), "label")
        .orderBy("label", "i"),
      Some(s"""WITH v AS (SELECT label, [CAST(trunc(CAST(x AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT) FOR x IN embedding] AS q
              |  FROM embeddings WHERE embedding IS NOT NULL),
              |px AS (SELECT label, q, unnest(range(0, len(q))) AS i FROM v),
              |dg AS (SELECT label, CAST(i AS INT) AS i,
              |         CAST(COUNT(*) AS BIGINT) AS n,
              |         CAST(SUM(q[i + 1]) AS DECIMAL(38,0)) AS sx,
              |         CAST(SUM(q[i + 1] * q[i + 1]) AS DECIMAL(38,0)) AS sxy
              |       FROM px GROUP BY 1, 2),
              |gr AS (SELECT label, i, n,
              |  ${rrepr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / CAST(1000000 AS DOUBLE)", 6)} AS mean,
              |  ${rrepr("(CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / CAST(1000000000000 AS DOUBLE)", 6)} AS variance
              |  FROM dg),
              |pl AS (SELECT i, CAST(SUM(n) AS BIGINT) AS np,
              |         CAST(SUM(sx) AS DECIMAL(38,0)) AS sxp,
              |         CAST(SUM(sxy) AS DECIMAL(38,0)) AS sxyp
              |       FROM dg GROUP BY 1),
              |pp AS (SELECT i,
              |  ${rrepr("CAST(sxp AS DOUBLE) / CAST(np AS DOUBLE) / CAST(1000000 AS DOUBLE)", 6)} AS mean_p,
              |  ${rrepr("(CAST(sxyp AS DOUBLE) / CAST(np AS DOUBLE) - (CAST(sxp AS DOUBLE) / CAST(np AS DOUBLE)) * (CAST(sxp AS DOUBLE) / CAST(np AS DOUBLE))) / CAST(1000000000000 AS DOUBLE)", 6)} AS var_p
              |  FROM pl)
              |SELECT g.label, g.i, g.n, g.mean, g.variance,
              |  CASE WHEN p.var_p > 0
              |    THEN ${rrepr("(g.mean - p.mean_p) / sqrt(p.var_p)", 6)}
              |  END AS mean_z,
              |  CASE WHEN p.var_p > 0
              |    THEN ${rrepr("g.variance / p.var_p", 6)}
              |  END AS var_ratio
              |FROM gr g JOIN pp p ON p.i = g.i
              |ORDER BY g.label, g.i""".stripMargin)),

    // Two-corpus embedding drift (the release-gate form: a frozen
    // REFERENCE snapshot as the baseline instead of the pooled
    // mixture). Fixture split: even vec_id = reference, odd = current
    // (the deterministic-slice convention of r109's eval split).
    QueryDef("r115_embed_drift_against",
      (s, d) => {
        val e = T(s, d, "embeddings")
        Ann.embeddingDriftAgainst(e.filter(col("vec_id") % 2 === 0),
            e.filter(col("vec_id") % 2 === 1))
          .orderBy("i")
      },
      Some(s"""WITH vr AS (SELECT [CAST(trunc(CAST(x AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT) FOR x IN embedding] AS q
              |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id % 2 = 0),
              |vc AS (SELECT [CAST(trunc(CAST(x AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT) FOR x IN embedding] AS q
              |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id % 2 = 1),
              |pr AS (SELECT q, unnest(range(0, len(q))) AS i FROM vr),
              |pu AS (SELECT q, unnest(range(0, len(q))) AS i FROM vc),
              |dr AS (SELECT CAST(i AS INT) AS i,
              |         CAST(COUNT(*) AS BIGINT) AS n,
              |         CAST(SUM(q[i + 1]) AS DECIMAL(38,0)) AS sx,
              |         CAST(SUM(q[i + 1] * q[i + 1]) AS DECIMAL(38,0)) AS sxy
              |       FROM pr GROUP BY 1),
              |du AS (SELECT CAST(i AS INT) AS i,
              |         CAST(COUNT(*) AS BIGINT) AS n,
              |         CAST(SUM(q[i + 1]) AS DECIMAL(38,0)) AS sx,
              |         CAST(SUM(q[i + 1] * q[i + 1]) AS DECIMAL(38,0)) AS sxy
              |       FROM pu GROUP BY 1),
              |gr AS (SELECT i, n AS n_ref,
              |  ${rrepr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / CAST(1000000 AS DOUBLE)", 6)} AS mean_ref,
              |  ${rrepr("(CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / CAST(1000000000000 AS DOUBLE)", 6)} AS var_ref
              |  FROM dr),
              |gc AS (SELECT i, n AS n_cur,
              |  ${rrepr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / CAST(1000000 AS DOUBLE)", 6)} AS mean_cur,
              |  ${rrepr("(CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / CAST(1000000000000 AS DOUBLE)", 6)} AS var_cur
              |  FROM du)
              |SELECT gr.i, gr.n_ref, gc.n_cur, gr.mean_ref, gc.mean_cur,
              |  CASE WHEN gr.var_ref > 0
              |    THEN ${rrepr("(gc.mean_cur - gr.mean_ref) / sqrt(gr.var_ref)", 6)}
              |  END AS mean_z,
              |  CASE WHEN gr.var_ref > 0
              |    THEN ${rrepr("gc.var_cur / gr.var_ref", 6)}
              |  END AS var_ratio
              |FROM gr JOIN gc ON gc.i = gr.i
              |ORDER BY gr.i""".stripMargin)),

    // The embedding-drift RELEASE GATE verdict (Curate.DriftGate's
    // predicate) as an oracle row: the reference side is the persisted
    // diagCells snapshot (the production shape — frozen corpus never
    // re-read), the current side is the odd-id slice with dims 0-7
    // shifted +1.0 (double arithmetic both sides for exact parity;
    // z = 1/sigma ~ 8 >> the 4.0 gate), so `drifted` must read TRUE on
    // exactly those 8 dims and FALSE on the other 56 — a gate that
    // over- or under-fires breaks the hash. Thresholds are the
    // DriftGate defaults (|z| > 4, var_ratio outside [0.25, 4],
    // null-sided spine rows, constant-ref movement).
    QueryDef("r117_drift_gate",
      (s, d) => {
        val e = T(s, d, "embeddings")
        val ref = e.filter(col("vec_id") % 2 === 0)
        val cur = e.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id"),
            expr("transform(embedding, (x, k) -> CASE WHEN k < 8 " +
              "THEN CAST(x AS DOUBLE) + CAST(1.0 AS DOUBLE) " +
              "ELSE CAST(x AS DOUBLE) END)").as("embedding"))
        Ann.embeddingDriftAgainstCells(Ann.diagCells(ref), cur)
          .withColumn("drifted",
            col("n_ref").isNull || col("n_cur").isNull ||
              abs(col("mean_z")) > 4.0 ||
              col("var_ratio") < 0.25 || col("var_ratio") > 4.0 ||
              (col("mean_z").isNull && !(col("mean_cur") <=> col("mean_ref"))))
          .orderBy("i")
      },
      Some(s"""WITH vr AS (SELECT [CAST(trunc(CAST(x AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT) FOR x IN embedding] AS q
              |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id % 2 = 0),
              |pu AS (SELECT CAST(gs - 1 AS BIGINT) AS i,
              |         CAST(trunc((CASE WHEN gs <= 8
              |                     THEN CAST(x AS DOUBLE) + 1.0::DOUBLE
              |                     ELSE CAST(x AS DOUBLE) END) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS v
              |       FROM (SELECT unnest(embedding) AS x,
              |                    generate_subscripts(embedding, 1) AS gs
              |             FROM embeddings
              |             WHERE embedding IS NOT NULL AND vec_id % 2 = 1)),
              |pr AS (SELECT q, unnest(range(0, len(q))) AS i FROM vr),
              |dr AS (SELECT CAST(i AS INT) AS i,
              |         CAST(COUNT(*) AS BIGINT) AS n,
              |         CAST(SUM(q[i + 1]) AS DECIMAL(38,0)) AS sx,
              |         CAST(SUM(q[i + 1] * q[i + 1]) AS DECIMAL(38,0)) AS sxy
              |       FROM pr GROUP BY 1),
              |du AS (SELECT CAST(i AS INT) AS i,
              |         CAST(COUNT(*) AS BIGINT) AS n,
              |         CAST(SUM(v) AS DECIMAL(38,0)) AS sx,
              |         CAST(SUM(v * v) AS DECIMAL(38,0)) AS sxy
              |       FROM pu GROUP BY 1),
              |gr AS (SELECT i, n AS n_ref,
              |  ${rrepr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / CAST(1000000 AS DOUBLE)", 6)} AS mean_ref,
              |  ${rrepr("(CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / CAST(1000000000000 AS DOUBLE)", 6)} AS var_ref
              |  FROM dr),
              |gc AS (SELECT i, n AS n_cur,
              |  ${rrepr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / CAST(1000000 AS DOUBLE)", 6)} AS mean_cur,
              |  ${rrepr("(CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / CAST(1000000000000 AS DOUBLE)", 6)} AS var_cur
              |  FROM du),
              |rep AS (SELECT gr.i, gr.n_ref, gc.n_cur, gr.mean_ref, gc.mean_cur,
              |  CASE WHEN gr.var_ref > 0
              |    THEN ${rrepr("(gc.mean_cur - gr.mean_ref) / sqrt(gr.var_ref)", 6)}
              |  END AS mean_z,
              |  CASE WHEN gr.var_ref > 0
              |    THEN ${rrepr("gc.var_cur / gr.var_ref", 6)}
              |  END AS var_ratio
              |  FROM gr FULL OUTER JOIN gc ON gc.i = gr.i)
              |SELECT i, n_ref, n_cur, mean_ref, mean_cur, mean_z, var_ratio,
              |  (n_ref IS NULL OR n_cur IS NULL
              |   OR abs(mean_z) > 4.0::DOUBLE
              |   OR var_ratio < 0.25::DOUBLE OR var_ratio > 4.0::DOUBLE
              |   OR (mean_z IS NULL
              |       AND NOT (mean_cur IS NOT DISTINCT FROM mean_ref))) AS drifted
              |FROM rep ORDER BY i""".stripMargin)),

    // A8 at scale: HLL approximate distinct (no cross-engine oracle —
    // sketch internals differ; driver records a rows-only check; the
    // portable alternative with a full oracle is r77).
    QueryDef("r39_approx_distinct",
      (s, d) => T(s, d, "lineitem")
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_part"),
          countDistinct(col("l_partkey")).as("exact_part")),
      None)
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    defs.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
