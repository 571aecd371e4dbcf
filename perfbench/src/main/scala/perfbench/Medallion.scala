package perfbench

import org.apache.spark.sql.SparkSession
import graft.operators.Quality
import graft.queries.GoldMart
import graft.sources.Lake

/** The reference's hourly DAG plus dashboard refresh: generate OLTP
  * customers, accounts and transactions, land them in bronze (one
  * batch_ts), read bronze back into the silver quality report, then
  * build and write every gold dashboard panel over the corpus tables.
  *
  * Operations per round: `bronze`, `quality_report`, one per panel.
  * Each round lands in a fresh lake root, so bronze never grows. */
final class Medallion(val spark: SparkSession, val r: Runner, seed: Long,
    work: String, qualityDir: String) extends Part {
  val key = "medallion"

  private val nCustomers = 3000L
  private val nTx = 30000L
  private val size = Fixture.Size(customers = 1500, orders = 15000, lineitems = 30000,
    events = 10000, users = 1000, documents = 0, embeddings = 0)
  private val batchTs = "2024-01-15T00"
  private val now = "2024-01-15 00:00:00"
  private var fixture = ""
  private var lastRoot = ""
  private var generated = Map.empty[String, Long]

  private def panels = GoldMart.panels.toSeq.sortBy(_._1)

  def prepare(dir: String): Unit = {
    Fixture.write(spark, dir, seed, size, Seq("customer", "lineitem", "events"))
    // the data_quality_metrics panel reads the OLTP corpus the engine
    // locates by $GRAFT_QUALITY_DIR
    Fixture.oltp(spark, 2000, 10000, seed).foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$qualityDir/$t.parquet")
    }
    if (generated.isEmpty)
      generated = Fixture.oltp(spark, nCustomers, nTx, seed)
        .map { case (t, df) => t -> df.count() }.toMap
    fixture = dir
  }

  def round(i: Int): Unit = {
    if (lastRoot.nonEmpty) rm(lastRoot)
    lastRoot = s"$work/medallion/r$i"
    val bronze = s"$lastRoot/bronze"
    val rows = generated.values.sum
    r.op(i, "bronze", rows) {
      r.span("gen")(Fixture.oltp(spark, nCustomers, nTx, seed)).foreach { case (t, df) =>
        r.span("sources")(Lake.writeBronze(df, bronze, t, batchTs))
      }
    }
    r.op(i, "quality_report", rows) {
      val Seq(c, a, t) = Seq("customers", "accounts", "transactions")
        .map(n => r.span("sources")(Lake.readBronze(spark, bronze, n)))
      val rep = r.span("operators")(Quality.report(c, a, t, now))
      r.span("output")(rep.write.mode("overwrite").parquet(s"$lastRoot/quality_report"))
    }
    panels.foreach { case (panel, _) =>
      r.op(i, s"gold.$panel", 0L) {
        val frames = r.span("queries")(GoldMart.panel(spark, fixture, panel))
        frames.toSeq.sortBy(_._1).foreach { case (q, df) =>
          r.span("output")(df.write.mode("overwrite").parquet(s"$lastRoot/gold/$q"))
        }
      }
    }
  }

  def facts(): Map[String, Any] = {
    val last = r.ops.map(_.round).max
    val lastOk = r.ops.filter(o => o.ok && o.round == last).map(_.name).toSet
    val sql = graft.SparkEntry.oracleSql
    val gold = panels.filter(p => lastOk(s"gold.${p._1}")).flatMap(_._2)
    Map(
      "tables_dir" -> fixture,
      "tables" -> Seq("customer", "lineitem", "events"),
      "outputs" -> gold.map(q => q -> s"$lastRoot/gold/$q").toMap,
      "oracle_sql" -> gold.map(q => q -> sql(q)).toMap,
      "bronze" -> (if (lastOk("bronze")) s"$lastRoot/bronze" else ""),
      "quality_report" -> (if (lastOk("quality_report")) s"$lastRoot/quality_report" else ""),
      "now" -> now,
      "generated_rows" -> generated)
  }

  def layers(t: Trace): Map[String, Double] = {
    val base = Map(
      "medallion.gen_bronze_s" -> seconds(_.name == "bronze"),
      "medallion.quality_report_s" -> seconds(_.name == "quality_report"),
      "medallion.bronze_bytes" -> bytesUnder(s"$lastRoot/bronze").toDouble)
    base ++ panels.map { case (p, _) =>
      s"medallion.gold_s.$p" -> seconds(_.name == s"gold.$p")
    }
  }
}
