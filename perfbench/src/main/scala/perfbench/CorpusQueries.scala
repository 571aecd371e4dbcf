package perfbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Declared corpus queries, each built and its full output written:
  * DoReMi mixing (the most repeated scans of `documents`), RM3 query
  * expansion (Retrieval) and embedding LSH near-duplicates (Ann). One
  * operation per query per round. */
final class CorpusQueries(val spark: SparkSession, val r: Runner, seed: Long,
    work: String) extends Part {
  val key = "queries"

  val queries: Seq[(String, String)] = Seq(
    "p56_doremi_mix" -> "documents",
    "p52_rm3_expansion" -> "documents",
    "p14_embed_lsh_neardup" -> "embeddings")

  private val size = Fixture.Size(customers = 0, orders = 0, lineitems = 0,
    events = 0, users = 0, documents = 600, embeddings = 200)
  private val tables = Seq("documents", "embeddings")
  private var fixture = ""
  private def out(q: String) = s"$work/queries/$q"

  private def rowsOf(t: String): Long = t match {
    case "documents"  => size.documents
    case "embeddings" => size.embeddings
  }

  def prepare(dir: String): Unit = {
    Fixture.write(spark, dir, seed, size, tables)
    fixture = dir
  }

  def round(i: Int): Unit = queries.foreach { case (q, t) =>
    r.op(i, q, rowsOf(t), call = true) {
      val df = r.span("queries")(SparkEntry.queries(q)(spark, fixture))
      r.span("output")(df.write.mode("overwrite").parquet(out(q)))
    }
  }

  def facts(): Map[String, Any] = {
    val last = r.ops.map(_.round).max
    val ok = r.ops.filter(o => o.ok && o.round == last).map(_.name).toSet
    val sql = SparkEntry.oracleSql
    Map(
      "tables_dir" -> fixture,
      "tables" -> tables,
      "outputs" -> queries.map(_._1).filter(ok).map(q => q -> out(q)).toMap,
      "oracle_sql" -> queries.map(_._1).filter(ok).map(q => q -> sql(q)).toMap)
  }

  def layers(t: Trace): Map[String, Double] = {
    queries.flatMap { case (q, _) =>
      val c = t.total(labels(_.name == q))
      Seq(s"q.$q.s" -> seconds(_.name == q),
        s"q.$q.jobs" -> c.jobs.toDouble / rounds,
        s"q.$q.task_s" -> c.taskMs / 1e3 / rounds,
        s"q.$q.scans.documents" -> c.scansByTable("documents").toDouble / rounds)
    }.toMap
  }
}
