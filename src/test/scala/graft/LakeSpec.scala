package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{Lake, Tables}

class LakeSpec extends SparkSpec {

  test("S7/S2: bronze batches land under batch_ts partitions and prune on read") {
    val root = tmp("bronze")
    val ev = Tables.load(spark, sf, "events")
    Lake.writeBronze(ev.filter(col("event_id") < 500), root, "events", "2024-01-01T00")
    Lake.writeBronze(ev.filter(col("event_id") >= 500), root, "events", "2024-01-01T01")
    val all = Lake.readBronze(spark, root, "events")
    assert(all.count() == ev.count())
    val incr = Lake.readBronze(spark, root, "events", sinceBatch = Some("2024-01-01T00"))
    assert(incr.count() == ev.filter(col("event_id") >= 500).count())
    // partition pruning reaches the scan
    val plan = incr.queryExecution.executedPlan.toString
    assert(!plan.contains("batch_ts = null"))
  }

  test("vacuumBronze drops expired batch partitions; survivors read back intact") {
    val root = tmp("vac")
    val ev = Tables.load(spark, sf, "events")
    Lake.writeBronze(ev.filter(col("event_id") < 300), root, "events", "2024-01-01T00")
    Lake.writeBronze(ev.filter(col("event_id") >= 300 && col("event_id") < 600),
      root, "events", "2024-01-01T01")
    Lake.writeBronze(ev.filter(col("event_id") >= 600), root, "events", "2024-01-01T02")
    val (kept, deleted) = Lake.vacuumBronze(spark, root, "events", keepLast = 2)
    assert(kept == Seq("2024-01-01T01", "2024-01-01T02"))
    assert(deleted == Seq("2024-01-01T00"))
    val back = Lake.readBronze(spark, root, "events")
    assert(back.select(col("batch_ts").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq ==
      Seq("2024-01-01T01", "2024-01-01T02"))
    assert(back.count() == ev.filter(col("event_id") >= 300).count())
    // idempotent once within retention: nothing more is deleted
    val (kept2, deleted2) = Lake.vacuumBronze(spark, root, "events", keepLast = 5)
    assert(kept2 == kept && deleted2.isEmpty)
  }

  test("asOfBatch time-travel reads the table as of an ingest batch; composes with sinceBatch") {
    val root = tmp("tt")
    val ev = Tables.load(spark, sf, "events")
    Lake.writeBronze(ev.filter(col("event_id") < 300), root, "events", "2024-01-01T00")
    Lake.writeBronze(ev.filter(col("event_id") >= 300 && col("event_id") < 600),
      root, "events", "2024-01-01T01")
    Lake.writeBronze(ev.filter(col("event_id") >= 600), root, "events", "2024-01-01T02")
    val asOf1 = Lake.readBronze(spark, root, "events",
      asOfBatch = Some("2024-01-01T01"))
    assert(asOf1.count() == ev.filter(col("event_id") < 600).count())
    // since + asOf compose to the half-open batch window (01 only)
    val window = Lake.readBronze(spark, root, "events",
      sinceBatch = Some("2024-01-01T00"), asOfBatch = Some("2024-01-01T01"))
    assert(window.count() ==
      ev.filter(col("event_id") >= 300 && col("event_id") < 600).count())
  }

  test("fileStats reports per-file rows and min/max for skipping audits") {
    val dir = tmp("fs") + "/t"
    val nation = Tables.load(spark, sf, "nation")
    Lake.writeClustered(nation, dir, nFiles = 4, col("n_nationkey"))
    val st = Lake.fileStats(spark, dir, Seq("n_nationkey")).collect()
    assert(st.length == 4)
    assert(st.map(_.getAs[Long]("rows")).sum == nation.count())
    // the clustered layout's promise, read back from the stats table:
    // per-file key ranges are disjoint
    val ranges = st.map(r => (
        r.getAs[Number]("min_n_nationkey").longValue,
        r.getAs[Number]("max_n_nationkey").longValue))
      .sortBy(_._1).toSeq
    ranges.sliding(2).foreach { w =>
      if (w.size == 2) assert(w(0)._2 < w(1)._1, s"overlap: $ranges")
    }
  }

  test("clustered write produces disjoint per-file key ranges (file-skipping layout)") {
    val out = tmp("clustered")
    val events = Tables.load(spark, sf, "events")
    Lake.writeClustered(events, out, nFiles = 8, col("ts"))
    // re-derive each file's [min, max] of the clustering key
    val ranges = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min("ts").as("lo"), max("ts").as("hi"))
      .orderBy("lo")
      .collect()
    assert(ranges.length > 1)
    ranges.sliding(2).foreach { case Array(a, b) =>
      assert(!b.getTimestamp(1).before(a.getTimestamp(2)),
        s"overlapping file ranges: $a vs $b")
    }
    // row count preserved
    assert(spark.read.parquet(out).count() == events.count())
  }

  test("z-ordered write skips files on BOTH dimensions; single-dim clustering cannot") {
    val zdir = tmp("zorder") + "/z"
    val cdir = tmp("zorder") + "/c"
    val events = Tables.load(spark, sf, "events")
    Lake.writeZOrdered(events, zdir, nFiles = 8, col("user_id"), col("value"))
    Lake.writeClustered(events, cdir, nFiles = 8, col("user_id"))
    def hitFiles(dir: String, lo: Double, hi: Double): (Long, Long) = {
      val ranges = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min("value").as("lo"), max("value").as("hi"))
        .collect()
      val hits = ranges.count(r => r.getDouble(1) <= hi && r.getDouble(2) >= lo)
      (hits.toLong, ranges.length.toLong)
    }
    // a range predicate on the SECOND dimension: every user_id-clustered
    // file spans the full value range (zero skipping); the z-ordered
    // layout keeps per-file value ranges tight enough to skip some
    val stats = events.agg(min("value"), max("value")).head()
    val (vlo, vhi) = (stats.getDouble(0), stats.getDouble(1))
    val mid = (vlo + vhi) / 2; val w = (vhi - vlo) * 0.05
    val (zHits, zTotal) = hitFiles(zdir, mid - w, mid + w)
    val (cHits, cTotal) = hitFiles(cdir, mid - w, mid + w)
    assert(cHits == cTotal)            // single-dim layout: no skipping on dim 2
    assert(zHits < zTotal, s"z-order skipped nothing: $zHits/$zTotal")
    assert(spark.read.parquet(zdir).count() == events.count())
  }

  test("compact bin-packs many small files into few, content identical") {
    val dir = tmp("compact") + "/t"
    val events = Tables.load(spark, sf, "events")
    events.repartition(20).write.parquet(dir)
    def dataFiles() = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(dataFiles() == 20)
    val before = spark.read.parquet(dir).orderBy("event_id").collect()
    Lake.compact(spark, dir) // tiny table -> one target file
    assert(dataFiles() == 1)
    val after = spark.read.parquet(dir).orderBy("event_id").collect()
    assert(after.toSeq == before.toSeq)
  }

  test("S7 CSV compatibility mode round-trips") {
    val root = tmp("bronze-csv")
    val nation = Tables.load(spark, sf, "nation")
    Lake.writeBronze(nation, root, "nation", "b1", format = "csv")
    val back = Lake.readBronze(spark, root, "nation", format = "csv")
    assert(back.count() == nation.count())
  }

  test("S10/S11/S3/S4: DDL create-drop-recreate + catalog introspection") {
    val loc = tmp("tbl")
    val schema = Tables.load(spark, sf, "region").schema
    Lake.recreateTable(spark, "graft_region", schema, Some(loc))
    assert(spark.catalog.tableExists("graft_region"))
    val cols = Lake.describeColumns(spark, "graft_region").collect()
    assert(cols.map(_.getString(1)).toSet == schema.fieldNames.toSet)
    Lake.recreateTable(spark, "graft_region", schema, Some(loc)) // idempotent rebuild
    spark.sql("DROP TABLE graft_region")
  }

  test("JSONL round-trip: sharded gz write, schema-first read, values intact") {
    val dir = tmp("jsonl") + "/docs"
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "lang", "source")
    Lake.writeJsonl(docs, dir, numShards = 4)
    // the writer's shard count IS the gz reader's parallelism ceiling
    val shards = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".json.gz"))
    assert(shards.length == 4)
    val back = Lake.readJsonl(spark, dir, docs.schema)
    // a data column must ride along in the FILTER: Spark disallows
    // queries referencing ONLY the corrupt column (readJsonl scaladoc)
    assert(back.filter(col("doc_id").isNotNull &&
      col("_corrupt_record").isNull).count() == docs.count())
    val a = docs.orderBy("doc_id").collect().toSeq
    val b = back.select("doc_id", "text", "lang", "source")
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("JSONL corrupt lines quarantine intact instead of dropping or failing") {
    val dir = java.nio.file.Paths.get(tmp("jsonlc"))
    Files.writeString(dir.resolve("part-0.jsonl"),
      """{"doc_id": 1, "text": "ok"}
        |this line is not json
        |{"doc_id": 2, "text": "also ok"}
        |{"doc_id": "wrong type", "text": 3}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val df = Lake.readJsonl(spark, dir.toString, schema)
    val good = df.filter(col("doc_id").isNotNull && col("_corrupt_record").isNull)
    assert(good.count() == 2)
    val bad = df.filter(col("doc_id").isNull && col("_corrupt_record").isNotNull)
      .collect().map(_.getAs[String]("_corrupt_record"))
    // the raw line survives for audit; the type-mismatch row also lands
    // here (doc_id unparseable as long)
    assert(bad.exists(_.contains("not json")))
    assert(bad.exists(_.contains("wrong type")))
    intercept[IllegalArgumentException] {
      Lake.readJsonl(spark, dir.toString,
        schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
    }
  }
}
