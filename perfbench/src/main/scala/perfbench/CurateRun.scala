package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.pipelines.Curate
import graft.sources.Tables

/** The north-star curation pipeline over a seeded corpus with planted
  * exact and near duplicates. Operations per round: `profile`, the
  * per-document token and character statistics a user looks at before
  * curating (`TextAnalysis.stats`, written in full), then `curate`,
  * `Curate.run(stats = false)` with the packed sequences written in full. */
final class CurateRun(val spark: SparkSession, val r: Runner, seed: Long,
    work: String) extends Part {
  val key = "curate"

  private val nDocs = 1000L
  private val maxCopies = 8
  private val chunkTokens = 32
  private val ctxTokens = 64
  private var fixture = ""
  private def out = s"$work/curate/packed"
  private def profileOut = s"$work/curate/profile"

  def prepare(dir: String): Unit = {
    Fixture.write(spark, dir, seed,
      Fixture.Size(0, 0, 0, 0, 0, documents = nDocs, embeddings = 0), Seq("documents"))
    fixture = dir
  }

  private def done(name: String) = r.ops.exists(o => o.ok && o.name == name)

  def round(i: Int): Unit = {
    r.op(i, "profile", nDocs) {
      val docs = r.span("sources")(Tables.load(spark, fixture, "documents"))
      val stats = r.span("functions")(TextAnalysis.stats(docs))
      r.span("output")(stats.write.mode("overwrite").parquet(profileOut))
    }
    r.op(i, "curate", nDocs) {
      val docs = r.span("sources")(Tables.load(spark, fixture, "documents"))
      val (packed, _) = r.span("pipelines")(
        Curate.run(docs, maxCopies = maxCopies, chunkTokens = chunkTokens,
          ctxTokens = ctxTokens, stats = false))
      r.span("output")(packed.write.mode("overwrite").parquet(out))
    }
  }

  def facts(): Map[String, Any] = Map(
    "documents" -> s"$fixture/documents.parquet",
    "packed" -> (if (done("curate")) out else ""),
    "profile" -> (if (done("profile")) profileOut else ""),
    "max_copies" -> maxCopies,
    "chunk_tokens" -> chunkTokens,
    "ctx_tokens" -> ctxTokens)

  def layers(t: Trace): Map[String, Double] = {
    val ls = labels(_.name == "curate")
    val secs = t.layerSeconds(ls)
    val survivors =
      if (done("curate"))
        spark.read.parquet(out).select((col("doc_id") / maxCopies).cast("long"))
          .distinct().count()
      else 0L
    Map(
      "curate.profile_s" -> seconds(_.name == "profile"),
      "curate.run_s" -> secs.getOrElse("pipelines", 0.0) / rounds,
      "curate.write_s" -> secs.getOrElse("output", 0.0) / rounds,
      "curate.scans.documents" -> t.total(ls).scansByTable("documents").toDouble / rounds,
      "curate.jobs" -> t.total(ls).jobs.toDouble / rounds,
      "curate.survivors" -> survivors.toDouble)
  }
}
