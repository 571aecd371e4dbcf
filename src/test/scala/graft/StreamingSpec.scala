package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables
import graft.streaming.Ingest

/** Streaming batch-equivalence (SURVEY §5.2.4, ST1-ST4): feed the
  * events fixture through file-source streams and assert the final
  * state equals the corresponding batch query. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val events = Tables.load(spark, sf, "events").cache()

  test("ST1: incremental ingest is exactly-once across restarts") {
    val src = tmp("st1-src"); val out = tmp("st1-out"); val ck = tmp("st1-ck")
    val schema = events.schema
    // chunk 1 arrives, drain
    events.filter($"event_id" < 500).write.mode("append").parquet(src)
    Ingest.incrementalIngest(spark, schema, src, out, ck)
    val n1 = spark.read.parquet(out).count()
    assert(n1 == events.filter($"event_id" < 500).count())
    // chunk 2 arrives, drain again with the same checkpoint: only new
    // files flow (the reference's wall-clock watermark would drop or
    // double-read rows here — SURVEY bug A11)
    events.filter($"event_id" >= 500).write.mode("append").parquet(src)
    Ingest.incrementalIngest(spark, schema, src, out, ck)
    val outDf = spark.read.parquet(out)
    assert(outDf.count() == events.count())
    assert(outDf.select("event_id").distinct().count() == events.count())
  }

  test("ST2: streaming hourly windowed counts equal batch Q28") {
    val src = tmp("st2-src"); val ck = tmp("st2-ck")
    events.write.mode("append").parquet(src)
    val stream = spark.readStream.schema(events.schema).parquet(src)
    val q = Ingest.hourlyCounts(stream)
      .writeStream.format("memory").queryName("st2_out")
      .outputMode("complete")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("st2_out")
      .orderBy("h", "event_type")
      .collect()
    val batch = Ingest.hourlyCounts(events)
      .orderBy("h", "event_type")
      .collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("ST3: CDC decode + keep-latest-per-key equals the batch oracle") {
    val rowSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    def env(op: String, id: Long, v: String, lsn: Long): String =
      s"""{"payload":{"op":"$op","before":${if (op == "d") s"""{"id":$id,"v":"$v"}""" else "null"},""" +
        s""""after":${if (op != "d") s"""{"id":$id,"v":"$v"}""" else "null"},""" +
        s""""source":{"lsn":$lsn},"ts_ms":${1700000000000L + lsn}}}"""
    val src = tmp("st3-src"); val out = tmp("st3-out"); val ck = tmp("st3-ck")
    // batch 1: create 1,2,3 ; update 2
    Files.write(java.nio.file.Paths.get(src, "b1.json"),
      Seq(env("c", 1, "a", 1), env("c", 2, "b", 2), env("c", 3, "c", 3),
        env("u", 2, "b2", 4)).mkString("\n").getBytes)
    Ingest.cdcUpsertStream(spark, rowSchema, "id", src, out, ck)
    // batch 2: delete 1, update 3, create 4
    Files.write(java.nio.file.Paths.get(src, "b2.json"),
      Seq(env("d", 1, "a", 5), env("u", 3, "c2", 6), env("c", 4, "d", 7))
        .mkString("\n").getBytes)
    Ingest.cdcUpsertStream(spark, rowSchema, "id", src, out, ck)
    val snap = spark.read.parquet(out).orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(snap == Seq((2L, "b2"), (3L, "c2"), (4L, "d")))
    // equals the batch keep-latest over the full change log
    val raw = spark.read.text(src)
    val batchSnap = Ingest.latestPerKey(Ingest.decodeCdc(raw, rowSchema), "id")
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(batchSnap == snap)
  }

  test("ST3rf: full-rewrite CDC upsert restores a parked snapshot before the stream starts") {
    val rowSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    def env(op: String, id: Long, v: String, lsn: Long): String =
      s"""{"payload":{"op":"$op","before":${if (op == "d") s"""{"id":$id,"v":"$v"}""" else "null"},""" +
        s""""after":${if (op != "d") s"""{"id":$id,"v":"$v"}""" else "null"},""" +
        s""""source":{"lsn":$lsn},"ts_ms":${1700000000000L + lsn}}}"""
    val src = tmp("st3rf-src"); val out = tmp("st3rf-out"); val ck = tmp("st3rf-ck")
    Files.write(java.nio.file.Paths.get(src, "b1.json"),
      Seq(env("c", 1, "a", 1), env("c", 2, "b", 2), env("c", 3, "c", 3),
        env("u", 2, "b2", 4)).mkString("\n").getBytes)
    Ingest.cdcUpsertStream(spark, rowSchema, "id", src, out, ck)
    def snapshot(): Seq[(Long, String)] =
      spark.read.parquet(out).orderBy("id").as[(Long, String)].collect().toSeq
    val before = snapshot()
    // simulate a crash caught between park and promote: the whole
    // snapshot sits at <out>_bak and the live directory is gone
    val parked = java.nio.file.Paths.get(out + "_bak")
    Files.move(java.nio.file.Paths.get(out), parked)
    // no new file: no batch runs, yet the snapshot must come back
    Ingest.cdcUpsertStream(spark, rowSchema, "id", src, out, ck)
    assert(Files.exists(java.nio.file.Paths.get(out)))
    assert(!Files.exists(parked))
    assert(snapshot() == before)
    // the next batch merges against the restored snapshot (ST3 holds)
    Files.write(java.nio.file.Paths.get(src, "b2.json"),
      Seq(env("d", 1, "a", 5), env("u", 3, "c2", 6), env("c", 4, "d", 7))
        .mkString("\n").getBytes)
    Ingest.cdcUpsertStream(spark, rowSchema, "id", src, out, ck)
    val snap = snapshot()
    assert(snap == Seq((2L, "b2"), (3L, "c2"), (4L, "d")))
    val raw = spark.read.text(src)
    val batchSnap = Ingest.latestPerKey(Ingest.decodeCdc(raw, rowSchema), "id")
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(batchSnap == snap)
  }

  test("ST3p: partitioned CDC upsert rewrites only touched buckets, equals the batch oracle") {
    val rowSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    def env(op: String, id: Long, v: String, lsn: Long): String =
      s"""{"payload":{"op":"$op","before":${if (op == "d") s"""{"id":$id,"v":"$v"}""" else "null"},""" +
        s""""after":${if (op != "d") s"""{"id":$id,"v":"$v"}""" else "null"},""" +
        s""""source":{"lsn":$lsn},"ts_ms":${1700000000000L + lsn}}}"""
    val src = tmp("st3p-src"); val out = tmp("st3p-out"); val ck = tmp("st3p-ck")
    // batch 1: many keys spread over the 8 buckets
    Files.write(java.nio.file.Paths.get(src, "b1.json"),
      (1L to 40L).map(i => env("c", i, s"v$i", i)).mkString("\n").getBytes)
    Ingest.cdcUpsertStreamPartitioned(spark, rowSchema, "id", src, out, ck, nBuckets = 8)
    // fingerprint every bucket's files (name, size, mtime)
    def fingerprint(): Map[String, Seq[(String, Long, Long)]] = {
      val root = new java.io.File(out)
      root.listFiles().filter(_.getName.startsWith("kb=")).map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
          .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1)
      }.toMap
    }
    val before = fingerprint()
    // batch 2 touches exactly one key -> exactly one bucket
    Files.write(java.nio.file.Paths.get(src, "b2.json"),
      Seq(env("u", 7, "v7b", 100)).mkString("\n").getBytes)
    Ingest.cdcUpsertStreamPartitioned(spark, rowSchema, "id", src, out, ck, nBuckets = 8)
    val after = fingerprint()
    val touchedBucket = spark.range(1).select(
      pmod(hash(lit(7L)), lit(8)).cast("string")).head().getString(0)
    // untouched buckets: byte-identical files; the touched one changed
    before.keys.filterNot(_ == s"kb=$touchedBucket").foreach { b =>
      assert(after(b) == before(b), s"bucket $b was rewritten")
    }
    assert(after(s"kb=$touchedBucket") != before(s"kb=$touchedBucket"))
    // final snapshot equals the batch keep-latest oracle
    val raw = spark.read.text(src)
    val batchSnap = Ingest.latestPerKey(Ingest.decodeCdc(raw, rowSchema), "id")
      .orderBy("id").as[(Long, String)].collect().toSeq
    val snap = spark.read.parquet(out).select("id", "v").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(snap == batchSnap)
  }

  test("ST3k: a hot key rewrites only its own bucket, and compaction preserves the snapshot") {
    val rowSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    def env(op: String, id: Long, v: String, lsn: Long): String =
      s"""{"payload":{"op":"$op","before":null,""" +
        s""""after":{"id":$id,"v":"$v"},"source":{"lsn":$lsn},"ts_ms":${1700000000000L + lsn}}}"""
    val src = tmp("st3k-src"); val out = tmp("st3k-out"); val ck = tmp("st3k-ck")
    Files.write(java.nio.file.Paths.get(src, "b1.json"),
      (1L to 40L).map(i => env("c", i, s"v$i", i)).mkString("\n").getBytes)
    Ingest.cdcUpsertStreamPartitioned(spark, rowSchema, "id", src, out, ck, nBuckets = 8)
    def fingerprint(): Map[String, Seq[(String, Long, Long)]] = {
      val root = new java.io.File(out)
      root.listFiles().filter(_.getName.startsWith("kb=")).map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
          .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1)
      }.toMap
    }
    val before = fingerprint()
    // skewed batch: 300 successive updates of ONE hot key + one other
    // key — per-batch work must stay bounded by the touched buckets,
    // not fan out across the snapshot
    val hot = (1L to 300L).map(i => env("u", 7, s"v7-$i", 1000 + i))
    Files.write(java.nio.file.Paths.get(src, "b2.json"),
      (hot :+ env("u", 8, "v8b", 2000)).mkString("\n").getBytes)
    Ingest.cdcUpsertStreamPartitioned(spark, rowSchema, "id", src, out, ck, nBuckets = 8)
    val after = fingerprint()
    val touched = spark.range(1).select(
        pmod(hash(lit(7L)), lit(8)).cast("string"),
        pmod(hash(lit(8L)), lit(8)).cast("string")).head()
    val touchedDirs = Set(s"kb=${touched.getString(0)}", s"kb=${touched.getString(1)}")
    before.keys.filterNot(touchedDirs).foreach { b =>
      assert(after(b) == before(b), s"bucket $b was rewritten by the hot-key batch")
    }
    // keep-latest under the skew: highest lsn wins for the hot key
    def oracle(): Seq[(Long, String)] = {
      val raw = spark.read.text(src)
      Ingest.latestPerKey(Ingest.decodeCdc(raw, rowSchema), "id")
        .orderBy("id").as[(Long, String)].collect().toSeq
    }
    def snap(): Seq[(Long, String)] =
      spark.read.parquet(out).select("id", "v").orderBy("id")
        .as[(Long, String)].collect().toSeq
    assert(snap() == oracle())
    assert(snap().contains((7L, "v7-300")))
    // small-file compaction over the bucketed layout must preserve both
    // the rows and the kb= directory structure the upsert depends on
    graft.sources.Lake.compact(spark, out, partitionCols = Seq("kb"))
    assert(snap() == oracle())
    assert(new java.io.File(out).listFiles().exists(_.getName.startsWith("kb=")))
    // and the stream keeps merging correctly on top of the compacted
    // snapshot (bucket pruning + park/promote still line up)
    Files.write(java.nio.file.Paths.get(src, "b3.json"),
      Seq(env("u", 9, "v9b", 3000)).mkString("\n").getBytes)
    Ingest.cdcUpsertStreamPartitioned(spark, rowSchema, "id", src, out, ck, nBuckets = 8)
    assert(snap() == oracle())
  }

  test("S14a: binary Avro Debezium envelopes decode to the same frame as JSON") {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val rowSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val schema = new org.apache.avro.Schema.Parser()
      .parse(Ingest.avroEnvelopeSchema(rowSchema))
    val rowType = schema.getField("before").schema.getTypes.get(1)
    def envelope(op: String, id: Long, v: String, lsn: Long): Array[Byte] = {
      val rec = new GenericData.Record(schema)
      val row = new GenericData.Record(rowType)
      row.put("id", id); row.put("v", v)
      rec.put(if (op == "d") "before" else "after", row)
      val src = new GenericData.Record(schema.getField("source").schema)
      src.put("lsn", lsn)
      rec.put("source", src); rec.put("op", op); rec.put("ts_ms", 1700000000000L + lsn)
      val out = new java.io.ByteArrayOutputStream()
      val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
      new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
      enc.flush(); out.toByteArray
    }
    val payloads = Seq(
      envelope("c", 1, "a", 1), envelope("u", 1, "a2", 2), envelope("d", 2, "x", 3))
    val raw = payloads.map(Tuple1(_)).toDF("value")
    val decoded = Ingest.decodeAvroCdc(raw, rowSchema)
      .selectExpr("op", "lsn", "ts_ms", "row.id", "row.v")
      .orderBy("lsn").collect().toSeq
    // identical rows through the JSON path (the ST3 wire format)
    def json(op: String, id: Long, v: String, lsn: Long): String =
      s"""{"payload":{"op":"$op","before":${if (op == "d") s"""{"id":$id,"v":"$v"}""" else "null"},""" +
        s""""after":${if (op != "d") s"""{"id":$id,"v":"$v"}""" else "null"},""" +
        s""""source":{"lsn":$lsn},"ts_ms":${1700000000000L + lsn}}}"""
    val viaJson = Ingest.decodeCdc(
        Seq(json("c", 1, "a", 1), json("u", 1, "a2", 2), json("d", 2, "x", 3))
          .toDF("value"), rowSchema)
      .selectExpr("op", "lsn", "ts_ms", "row.id", "row.v")
      .orderBy("lsn").collect().toSeq
    assert(decoded == viaJson)
    // Confluent wire framing: magic 0x0 + 4-byte schema id prefix
    val framed = payloads.map(p => Tuple1(Array[Byte](0, 0, 0, 0, 42) ++ p)).toDF("value")
    val viaFramed = Ingest.decodeAvroCdc(framed, rowSchema, confluentFraming = true)
      .selectExpr("op", "lsn", "ts_ms", "row.id", "row.v")
      .orderBy("lsn").collect().toSeq
    assert(viaFramed == viaJson)
    // and the keep-latest merge downstream behaves identically
    val snap = Ingest.latestPerKey(Ingest.decodeAvroCdc(raw, rowSchema), "id")
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(snap == Seq((1L, "a2")))   // id 2's latest op is a delete
  }

  test("STB: streamed token-budget sampling equals batch r51 when batches arrive in md5 order") {
    val docsDf = Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "lang").cache()
    val budget = 500L
    // split the corpus into two files along the md5 order (the order
    // both the batch operator and the per-batch walk use), so stream
    // arrival == batch walk order and the law is exact equality
    val ordered = docsDf
      .withColumn("h", md5($"doc_id".cast("string")))
      .orderBy("h")
    val n = ordered.count()
    val firstIds = ordered.limit((n / 2).toInt)
      .select("doc_id").as[Long].collect().toSet
    val src = tmp("stb-src"); val out = tmp("stb-out"); val ck = tmp("stb-ck")
    val schema = docsDf.schema
    docsDf.filter($"doc_id".isInCollection(firstIds))
      .write.mode("append").parquet(src)
    Ingest.tokenBudgetStream(spark, schema, src, out, ck, budget)
    docsDf.filter(!$"doc_id".isInCollection(firstIds))
      .write.mode("append").parquet(src)
    Ingest.tokenBudgetStream(spark, schema, src, out, ck, budget)
    val streamed = spark.read.parquet(out)
      .select("domain", "doc_id", "n_tok", "cum")
      .orderBy("domain", "cum").collect().toSeq
    val batch = graft.functions.TextAnalysis.tokenBudgetSample(docsDf, budget)
      .orderBy("domain", "cum").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("S14r: live schema-registry lookup drives the framed Avro CDC decode end to end") {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val rowSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val envJson = Ingest.avroEnvelopeSchema(rowSchema)
    // a REAL HTTP server speaking the Confluent registry REST protocol
    // (JDK HttpServer on an ephemeral localhost port — the same wire
    // shape docker-compose.yaml:81-84 provisions)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def regBody(extra: (String, Any)*): String = {
      val n = mapper.createObjectNode()
      extra.foreach {
        case (k, v: Int) => n.put(k, v)
        case (k, v: String) => n.put(k, v)
        case (k, v) => n.put(k, v.toString)
      }
      n.put("schema", envJson).toString
    }
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def serve(path: String, body: String): Unit =
      server.createContext(path, (x: com.sun.net.httpserver.HttpExchange) => {
        val bytes = body.getBytes("UTF-8")
        x.getResponseHeaders.add("Content-Type",
          "application/vnd.schemaregistry.v1+json")
        x.sendResponseHeaders(200, bytes.length)
        x.getResponseBody.write(bytes); x.close()
      })
    serve("/subjects/cdc-value/versions/latest",
      regBody("subject" -> "cdc-value", "version" -> 1, "id" -> 42))
    serve("/schemas/ids/42", regBody())
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      // the registry round-trips the schema and both lookup forms agree
      assert(Ingest.rowSchemaFromEnvelope(
        Ingest.registryLatestSchema(url, "cdc-value")) == rowSchema)
      assert(Ingest.registrySchemaById(url, 42) == envJson)
      // framed records decoded WITHOUT any caller-supplied schema...
      val schema = new org.apache.avro.Schema.Parser().parse(envJson)
      val rowType = schema.getField("before").schema.getTypes.get(1)
      def envelope(op: String, id: Long, v: String, lsn: Long): Array[Byte] = {
        val rec = new GenericData.Record(schema)
        val row = new GenericData.Record(rowType)
        row.put("id", id); row.put("v", v)
        rec.put(if (op == "d") "before" else "after", row)
        val src = new GenericData.Record(schema.getField("source").schema)
        src.put("lsn", lsn)
        rec.put("source", src); rec.put("op", op); rec.put("ts_ms", 1700000000000L + lsn)
        val out = new java.io.ByteArrayOutputStream()
        val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
        new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
        enc.flush(); out.toByteArray
      }
      val framed = Seq(
          envelope("c", 1, "a", 1), envelope("u", 1, "a2", 2), envelope("d", 2, "x", 3))
        .map(p => Tuple1(Array[Byte](0, 0, 0, 0, 42) ++ p)).toDF("value")
      val viaRegistry = Ingest.decodeAvroCdcRegistry(framed, url, "cdc-value")
        .selectExpr("op", "lsn", "ts_ms", "row.id", "row.v")
        .orderBy("lsn").collect().toSeq
      // ...equal the caller-schema path bit for bit
      val viaCaller = Ingest.decodeAvroCdc(framed, rowSchema, confluentFraming = true)
        .selectExpr("op", "lsn", "ts_ms", "row.id", "row.v")
        .orderBy("lsn").collect().toSeq
      assert(viaRegistry == viaCaller && viaRegistry.nonEmpty)
      // a record stamped with a DIFFERENT schema id (evolved producer)
      // rejects to a null row instead of being misread: binary Avro
      // has no field tags, so decoding with the wrong writer schema
      // would produce garbage values, not errors
      val wrongId = Seq(envelope("c", 9, "z", 9))
        .map(p => Tuple1(Array[Byte](0, 0, 0, 0, 41) ++ p)).toDF("value")
      val mixed = framed.unionByName(wrongId)
      val decoded = Ingest.decodeAvroCdcRegistry(mixed, url, "cdc-value")
      assert(decoded.filter(col("op").isNull).count() == 1)
      assert(decoded.filter(col("op").isNotNull).count() == 3)
      // a dead registry fails loudly at plan time, not mid-job
      val e = intercept[Exception] {
        Ingest.decodeAvroCdcRegistry(framed, url, "no-such-subject")
      }
      assert(e.getMessage.contains("404") || e.getMessage.contains("schema"),
        e.getMessage)
    } finally server.stop(0)
  }

  test("SCC: streamed curation (gate -> dedup -> budget) equals the batch composition, 3 batches + restarts") {
    import graft.operators.Dedup
    import graft.functions.TextAnalysis
    val docsDf = Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "lang").cache()
    // plant exact duplicates under new ids so the dedup stage has
    // cross-batch work to do (identical text -> same bands -> dropped
    // wherever the original arrived first in md5 order)
    val copies = docsDf.filter($"doc_id" % 7 === 0)
      .select(($"doc_id" + 100000).as("doc_id"), $"text", $"lang")
    val corpus = docsDf.unionByName(copies).cache()

    // batch composition = the law's right-hand side: gate -> survivors
    // on the md5-prefix surrogate id -> token budget over ORIGINAL ids
    val gated = corpus.join(
      TextAnalysis.qualityGate(corpus).filter($"kept").select("doc_id"), "doc_id")
    val relabeled = gated.withColumn("orig_id", $"doc_id")
      .withColumn("doc_id",
        conv(substring(md5($"orig_id".cast("string")), 1, 15), 16, 10).cast("long"))
    val pairs = Dedup.lshCandidates(Dedup.lshBands(Dedup.minhashSignatures(
      Dedup.shingleHashes(relabeled), hashed = true)))
    val surv = Dedup.survivors(relabeled, pairs)
      .select($"orig_id".as("doc_id"), $"text", $"lang")
    // the budget is PER DOMAIN: set it to ~60% of the largest
    // domain's surviving tokens so at least that domain CLOSES
    // mid-stream (later batches must see the carried state, not just
    // add to it)
    val maxDomTok = surv.groupBy("lang")
      .agg(sum(size(split($"text", " "))).as("t"))
      .agg(max($"t")).as[Long].head()
    val budget = maxDomTok * 6 / 10
    val batchOut = TextAnalysis.tokenBudgetSample(surv, budget)
      .orderBy("domain", "cum").collect().toSeq

    // stream the same corpus in 3 md5-ordered single-file batches,
    // each trigger a separate start/stop cycle on one checkpoint (so
    // batches 2 and 3 are RESTARTS recovering index + budget state)
    val ids = corpus.withColumn("h", md5($"doc_id".cast("string")))
      .orderBy("h").select("doc_id").as[Long].collect()
    val third = ids.length / 3
    val slices = Seq(ids.take(third), ids.slice(third, 2 * third), ids.drop(2 * third))
    val src = tmp("scc-src"); val out = tmp("scc-out"); val idxP = tmp("scc-idx")
    val st = tmp("scc-state"); val ck = tmp("scc-ck")
    slices.foreach { slice =>
      corpus.filter($"doc_id".isInCollection(slice.toSeq))
        .coalesce(1)  // ONE file per landing = one md5-contiguous batch
        .write.mode("append").parquet(src)
      Ingest.curateIngestStream(spark, corpus.schema, src, out, idxP, st, ck, budget)
    }
    val streamed = spark.read.parquet(out)
      .select("domain", "doc_id", "n_tok", "cum")
      .orderBy("domain", "cum").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batchOut)
    // and the budget really closed before the corpus ran out
    assert(streamed.size < surv.count())
  }

  test("SCCw: streamed curation with the learned gate equals the batch composition") {
    import graft.operators.Dedup
    import graft.functions.TextAnalysis
    val corpus = Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "lang").cache()
    // weights distilled from the rule gate on this corpus — fixed for
    // the whole stream, exactly how a production run ships them
    val feats = TextAnalysis.qualityFeatures(corpus)
    val labels = TextAnalysis.qualityGate(corpus)
      .select($"doc_id", $"kept".cast("int").as("label"))
    val w = TextAnalysis.trainQualityLogreg(feats, labels)
    // batch composition with the SAME learned gate
    val gated = corpus.join(TextAnalysis.scoreQualityLogreg(feats, w)
      .filter($"kept").select("doc_id"), "doc_id")
    val relabeled = gated.withColumn("orig_id", $"doc_id")
      .withColumn("doc_id",
        conv(substring(md5($"orig_id".cast("string")), 1, 15), 16, 10).cast("long"))
    val pairs = Dedup.lshCandidates(Dedup.lshBands(Dedup.minhashSignatures(
      Dedup.shingleHashes(relabeled), hashed = true)))
    val surv = Dedup.survivors(relabeled, pairs)
      .select($"orig_id".as("doc_id"), $"text", $"lang")
    val maxDomTok = surv.groupBy("lang")
      .agg(sum(size(split($"text", " "))).as("t"))
      .agg(max($"t")).as[Long].head()
    val budget = maxDomTok * 6 / 10
    val batchOut = TextAnalysis.tokenBudgetSample(surv, budget)
      .orderBy("domain", "cum").collect().toSeq
    // two md5-ordered batches through the stream, one restart
    val ids = corpus.withColumn("h", md5($"doc_id".cast("string")))
      .orderBy("h").select("doc_id").as[Long].collect()
    val half = ids.length / 2
    val slices = Seq(ids.take(half), ids.drop(half))
    val src = tmp("sccw-src"); val out = tmp("sccw-out"); val idxP = tmp("sccw-idx")
    val st = tmp("sccw-state"); val ck = tmp("sccw-ck")
    slices.foreach { slice =>
      corpus.filter($"doc_id".isInCollection(slice.toSeq))
        .coalesce(1)
        .write.mode("append").parquet(src)
      Ingest.curateIngestStream(spark, corpus.schema, src, out, idxP, st, ck,
        budget, gateWeights = Some(w))
    }
    val streamed = spark.read.parquet(out)
      .select("domain", "doc_id", "n_tok", "cum")
      .orderBy("domain", "cum").collect().toSeq
    assert(streamed.nonEmpty && streamed == batchOut)
  }

  test("SCCsd: streamed curation with span decontamination equals the batch composition") {
    import graft.operators.Dedup
    import graft.functions.TextAnalysis
    // a third of the docs open with a leaked sentence the held-out
    // frame quotes; the scrub is per-doc pure against the FIXED
    // held-out shingle set, so stream == batch must hold exactly
    val leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa."
    val corpus = Tables.load(spark, sf, "documents")
      .select($"doc_id",
        when($"doc_id" % 3 === 0, concat(lit(leak + " "), $"text"))
          .otherwise($"text").as("text"),
        $"lang").cache()
    val heldout = Seq((900001L, s"eval item context: $leak answer here"))
      .toDF("doc_id", "text")
    // batch composition: gate -> survivors -> scrub -> budget walk
    val gated = corpus.join(TextAnalysis.qualityGate(corpus)
      .filter($"kept").select("doc_id"), "doc_id")
    val relabeled = gated.withColumn("orig_id", $"doc_id")
      .withColumn("doc_id",
        conv(substring(md5($"orig_id".cast("string")), 1, 15), 16, 10).cast("long"))
    val pairs = Dedup.lshCandidates(Dedup.lshBands(Dedup.minhashSignatures(
      Dedup.shingleHashes(relabeled), hashed = true)))
    val surv = Dedup.survivors(relabeled, pairs)
      .select($"orig_id".as("doc_id"), $"text", $"lang")
    val scrubbed = surv.drop("text")
      .join(Dedup.decontaminateSpans(surv, heldout, n = 8)
        .filter($"clean_text" =!= "")
        .select($"doc_id", $"clean_text".as("text")), "doc_id")
      .select(surv.columns.map(col).toIndexedSeq: _*)
    val maxDomTok = scrubbed.groupBy("lang")
      .agg(sum(size(split($"text", " "))).as("t"))
      .agg(max($"t")).as[Long].head()
    val budget = maxDomTok * 6 / 10
    val batchOut = TextAnalysis.tokenBudgetSample(scrubbed, budget)
      .orderBy("domain", "cum").collect().toSeq
    // two md5-ordered batches through the stream, one restart
    val ids = corpus.withColumn("h", md5($"doc_id".cast("string")))
      .orderBy("h").select("doc_id").as[Long].collect()
    val half = ids.length / 2
    val slices = Seq(ids.take(half), ids.drop(half))
    val src = tmp("sccsd-src"); val out = tmp("sccsd-out"); val idxP = tmp("sccsd-idx")
    val st = tmp("sccsd-state"); val ck = tmp("sccsd-ck")
    slices.foreach { slice =>
      corpus.filter($"doc_id".isInCollection(slice.toSeq))
        .coalesce(1)
        .write.mode("append").parquet(src)
      Ingest.curateIngestStream(spark, corpus.schema, src, out, idxP, st, ck,
        budget, spanDecontaminate = Some((heldout, 8)))
    }
    val streamed = spark.read.parquet(out)
      .select("domain", "doc_id", "n_tok", "cum")
      .orderBy("domain", "cum").collect().toSeq
    assert(streamed.nonEmpty && streamed == batchOut)
    // and the scrub really fired: some accepted doc's token count is
    // SHORTER than its gated corpus text (the leak sentence removed)
    val nTokByDoc = streamed.map(r => r.getLong(1) -> r.getLong(2)).toMap
    val origTok = corpus.filter($"doc_id" % 3 === 0)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(origTok.exists { case (id, n) =>
      nTokByDoc.get(id).exists(_ < n) })
  }

  test("JSONL ingest stream: good rows land, corrupt lines quarantine, replay is exactly-once") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val src = tmp("jst-src"); val good = tmp("jst-good")
    val bad = tmp("jst-bad"); val ck = tmp("jst-ck")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    Files.writeString(java.nio.file.Paths.get(src, "a.jsonl"),
      """{"doc_id": 1, "text": "alpha"}
        |not json at all
        |{"doc_id": 2, "text": "beta"}
        |""".stripMargin)
    Ingest.jsonlIngestStream(spark, schema, src, good, bad, ck)
    // second shard lands; the restarted stream processes ONLY it
    Files.writeString(java.nio.file.Paths.get(src, "b.jsonl"),
      """{"doc_id": 3, "text": "gamma"}
        |{"doc_id": "bad type", "text": "delta"}
        |""".stripMargin)
    Ingest.jsonlIngestStream(spark, schema, src, good, bad, ck)
    // and an idle restart is a no-op (exactly-once across replays)
    Ingest.jsonlIngestStream(spark, schema, src, good, bad, ck)
    val g = spark.read.parquet(good)
    assert(g.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    val q = spark.read.parquet(bad).select("raw_line").as[String].collect()
    assert(q.length == 2)
    assert(q.exists(_.contains("not json")) && q.exists(_.contains("bad type")))
  }

  test("SCCx: streamed curation with HTML extraction + normalization equals batch") {
    import graft.operators.Dedup
    import graft.functions.TextAnalysis
    val raw = Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "lang")
    // wrap every doc in HTML chrome; the stream must extract it away
    val corpus = raw.withColumn("text", concat(
      lit("<html><head><title>T</title></head><body><p>"),
      $"text", lit("</p><!-- f --></body></html>"))).cache()
    // batch composition over the PRE-processed corpus (same chain as SCC)
    val pre = corpus.withColumn("text",
      TextAnalysis.normalizeText(TextAnalysis.htmlToText($"text")))
    val gated = pre.join(TextAnalysis.qualityGate(pre)
      .filter($"kept").select("doc_id"), "doc_id")
    val relabeled = gated.withColumn("orig_id", $"doc_id")
      .withColumn("doc_id",
        conv(substring(md5($"orig_id".cast("string")), 1, 15), 16, 10).cast("long"))
    val pairs = Dedup.lshCandidates(Dedup.lshBands(Dedup.minhashSignatures(
      Dedup.shingleHashes(relabeled), hashed = true)))
    val surv = Dedup.survivors(relabeled, pairs)
      .select($"orig_id".as("doc_id"), $"text", $"lang")
    val maxDomTok = surv.groupBy("lang")
      .agg(sum(size(split($"text", " "))).as("t"))
      .agg(max($"t")).as[Long].head()
    val budget = maxDomTok * 6 / 10
    val batchOut = TextAnalysis.tokenBudgetSample(surv, budget)
      .orderBy("domain", "cum").collect().toSeq
    // two md5-ordered batches through the stream, one restart
    val ids = corpus.withColumn("h", md5($"doc_id".cast("string")))
      .orderBy("h").select("doc_id").as[Long].collect()
    val half = ids.length / 2
    val slices = Seq(ids.take(half), ids.drop(half))
    val src = tmp("sccx-src"); val out = tmp("sccx-out"); val idxP = tmp("sccx-idx")
    val st = tmp("sccx-state"); val ck = tmp("sccx-ck")
    slices.foreach { slice =>
      corpus.filter($"doc_id".isInCollection(slice.toSeq))
        .coalesce(1)
        .write.mode("append").parquet(src)
      Ingest.curateIngestStream(spark, corpus.schema, src, out, idxP, st, ck,
        budget, extractHtml = true, normalize = true)
    }
    val streamed = spark.read.parquet(out)
      .select("domain", "doc_id", "n_tok", "cum")
      .orderBy("domain", "cum").collect().toSeq
    assert(streamed.nonEmpty && streamed == batchOut)
  }

  test("STURL: streamed URL dedup — first-arrived wins across batches, replay clean") {
    val src = tmp("sturl-src"); val corpus = tmp("sturl-corpus")
    val idx = tmp("sturl-idx"); val ck = tmp("sturl-ck")
    val b1 = Seq(
      (1L, "https://Ex.com/a", "one"),
      (2L, "https://ex.com/a?utm_source=x", "two"), // in-batch dup of 1
      (3L, "https://ex.com/c", "three")).toDF("doc_id", "url", "text")
    val b2 = Seq(
      (10L, "https://ex.com/a/", "ten"),            // cross-batch dup of 1
      (11L, "https://ex.com/d", "eleven")).toDF("doc_id", "url", "text")
    // doc 0 arrives LAST with doc 3's URL: first-arrived wins, so the
    // smaller id does NOT displace the already-landed survivor
    val b3 = Seq((0L, "https://ex.com/c#frag", "zero")).toDF("doc_id", "url", "text")
    Seq(b1, b2, b3).foreach { b =>
      b.coalesce(1).write.mode("append").parquet(src)
      Ingest.urlDedupIngestStream(spark, b1.schema, src, corpus, idx, ck)
    }
    def landed = spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(landed == Seq(1L, 3L, 11L))
    // with batches fed in id order the stream coincides with the batch
    // form restricted to those batches (the spec law in the scaladoc)
    val batchForm = graft.operators.Quality
      .urlDedup(b1.unionByName(b2)).filter($"kept")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(batchForm == Seq(1L, 3L, 11L))
    // index holds one key per surviving URL; replay lands nothing new
    assert(spark.read.parquet(idx).select("norm_url").distinct().count() == 3)
    Ingest.urlDedupIngestStream(spark, b1.schema, src, corpus, idx, ck)
    assert(landed == Seq(1L, 3L, 11L))
  }

  test("SCCu: streamed curation with a blocklist equals the stream over the pre-filtered corpus") {
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "lang")
      .withColumn("url", concat(lit("https://"),
        when($"doc_id" % 4 === 0, lit("spam.example.com"))
          .otherwise(lit("ok.example.org")),
        lit("/p/"), $"doc_id".cast("string"))).cache()
    val bl = Seq("spam.example.com").toDF("domain")
    val pre = docs.filter($"doc_id" % 4 =!= 0)
    val budget = 100000L
    def stream(corpus: org.apache.spark.sql.DataFrame, tag: String,
        blk: Option[org.apache.spark.sql.DataFrame]) = {
      val src = tmp(s"sccu-$tag-src"); val out = tmp(s"sccu-$tag-out")
      val idxP = tmp(s"sccu-$tag-idx"); val st = tmp(s"sccu-$tag-state")
      val ck = tmp(s"sccu-$tag-ck")
      corpus.coalesce(1).write.mode("append").parquet(src)
      Ingest.curateIngestStream(spark, corpus.schema, src, out, idxP, st, ck,
        budget, blocklist = blk)
      spark.read.parquet(out).select("domain", "doc_id", "n_tok", "cum")
        .orderBy("domain", "cum").collect().toSeq
    }
    val staged = stream(docs, "on", Some(bl))
    val prefiltered = stream(pre, "off", None)
    assert(staged.nonEmpty && staged == prefiltered)
  }

  test("SCB: streamed curation boilerplate stage obeys the per-batch passage-index law") {
    import graft.operators.Dedup
    import graft.functions.TextAnalysis
    // Shared 16-token header H: df=1 in batch 1 (kept for doc A),
    // crosses maxDocs=1 in batch 2 (stripped from B and C — the index
    // df of 1 plus the batch's own 2), stays boilerplate in batch 3.
    // A's batch-1 output must NOT be rewritten (forward-only).
    val header = (1 to 8).map(i => s"the nav$i").mkString(" ")
    def body(tag: String) = (1 to 16).map(i => s"the $tag$i of and").mkString(" ")
    val batches = Seq(
      Seq((1L, s"$header ${body("alpha")}", "en"), (2L, body("echo"), "en")),
      Seq((3L, s"$header ${body("beta")}", "en"), (4L, s"$header ${body("gamma")}", "en")),
      Seq((5L, s"$header ${body("delta")}", "en")))
    val all = batches.flatten.toDF("doc_id", "text", "lang")
    // precondition: the gate keeps every planted doc (else the law's
    // prefix corpus below would diverge from what the stream gates)
    assert(TextAnalysis.qualityGate(all).filter(!$"kept").count() == 0)

    val src = tmp("scb-src"); val out = tmp("scb-out"); val idxP = tmp("scb-idx")
    val st = tmp("scb-state"); val ck = tmp("scb-ck"); val pIdx = tmp("scb-pidx")
    batches.foreach { b =>
      b.toDF("doc_id", "text", "lang").coalesce(1)
        .write.mode("append").parquet(src)
      Ingest.curateIngestStream(spark, all.schema, src, out, idxP, st, ck,
        budgetTokens = 1000000L, boilerplateMaxDocs = Some(1),
        passageIndexPath = pIdx)
    }
    val streamed = spark.read.parquet(out)
      .select("doc_id", "n_tok").as[(Long, Long)].collect().toMap
    // expected: per batch, the ONE-SHOT stripBoilerplate over the
    // gated prefix ∪ batch, restricted to the batch (the index law),
    // with emptied docs dropped
    val expected = batches.zipWithIndex.flatMap { case (b, i) =>
      val prefix = batches.take(i + 1).flatten.toDF("doc_id", "text", "lang")
      val ids = b.map(_._1).toSet
      Dedup.stripBoilerplate(prefix).collect()
        .filter(r => ids.contains(r.getAs[Long]("doc_id")))
        .filter(_.getAs[String]("clean_text") != "")
        .map(r => r.getAs[Long]("doc_id") ->
          r.getAs[String]("clean_text").split(" ").length.toLong)
    }.toMap
    assert(streamed == expected, s"$streamed vs $expected")
    // the header survived for A (batch-1 df was 1) and died for B/C/D
    assert(streamed(1L) == 80L && Seq(3L, 4L, 5L).forall(streamed(_) == 64L))
    assert(streamed(2L) == 64L)
    // three per-batch passage-index partitions landed
    assert(new java.io.File(pIdx).listFiles().count(_.getName.startsWith("batch_id=")) == 3)
  }

  test("SCBe: enabling the boilerplate stage mid-stream fails loudly") {
    // Batch 1 runs with the stage OFF, so no passage-index partition
    // lands; turning the stage on for batch 2 cannot satisfy the
    // cross-batch df law (batch 1's gated text was never indexed) and
    // must throw instead of silently screening batch-locally.
    val b1 = Seq((1L, (1 to 24).map(i => s"the word$i of and").mkString(" "), "en"))
    val b2 = Seq((2L, (1 to 24).map(i => s"the term$i of and").mkString(" "), "en"))
    val all = (b1 ++ b2).toDF("doc_id", "text", "lang")
    val src = tmp("scbe-src"); val out = tmp("scbe-out"); val idxP = tmp("scbe-idx")
    val st = tmp("scbe-state"); val ck = tmp("scbe-ck"); val pIdx = tmp("scbe-pidx")
    b1.toDF("doc_id", "text", "lang").coalesce(1).write.mode("append").parquet(src)
    Ingest.curateIngestStream(spark, all.schema, src, out, idxP, st, ck,
      budgetTokens = 1000000L)
    b2.toDF("doc_id", "text", "lang").coalesce(1).write.mode("append").parquet(src)
    val e = intercept[Exception] {
      Ingest.curateIngestStream(spark, all.schema, src, out, idxP, st, ck,
        budgetTokens = 1000000L, boilerplateMaxDocs = Some(1),
        passageIndexPath = pIdx)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("cross-batch passage-df law")), messages(e))
  }

  test("S13: kafka facade wires the connector name; env without the jar fails fast") {
    // The facade is compile-checked against the public Kafka source
    // options; this sandbox ships no spark-sql-kafka jar (SURVEY env
    // facts), so .load() must fail on the DATA SOURCE LOOKUP — i.e.
    // the facade really resolves the "kafka" connector, and on a
    // cluster that ships the jar the same call runs unchanged.
    val e = intercept[Exception] {
      Ingest.kafkaLines(spark, "broker:9092", "cdc.events").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.toLowerCase.contains("kafka")), messages(e))
  }

  test("S13t: partitioned upsert is transport-agnostic (raw-frame form == file form)") {
    val rowSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    def env(op: String, id: Long, v: String, lsn: Long): String =
      s"""{"payload":{"op":"$op","before":null,""" +
        s""""after":{"id":$id,"v":"$v"},"source":{"lsn":$lsn},"ts_ms":${1700000000000L + lsn}}}"""
    val src = tmp("s13t-src")
    Files.write(java.nio.file.Paths.get(src, "b1.json"),
      (1L to 10L).map(i => env("c", i, s"v$i", i)).mkString("\n").getBytes)
    val outA = tmp("s13t-outA"); val outB = tmp("s13t-outB")
    Ingest.cdcUpsertStreamPartitioned(spark, rowSchema, "id", src, outA,
      tmp("s13t-ckA"), nBuckets = 4)
    // the raw-frame entry point a Kafka caller would use, driven by the
    // same lines via the file source
    Ingest.cdcUpsertPartitionedFrom(spark, spark.readStream.text(src),
      rowSchema, "id", outB, tmp("s13t-ckB"), nBuckets = 4)
    val a = spark.read.parquet(outA).select("id", "v").orderBy("id")
      .as[(Long, String)].collect().toSeq
    val b = spark.read.parquet(outB).select("id", "v").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(a == b && a.size == 10)
  }

  test("ST3r: bucket parked by a crashed swap is restored before the next batch merges") {
    val rowSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    def env(op: String, id: Long, v: String, lsn: Long): String =
      s"""{"payload":{"op":"$op","before":null,""" +
        s""""after":{"id":$id,"v":"$v"},"source":{"lsn":$lsn},"ts_ms":${1700000000000L + lsn}}}"""
    val src = tmp("st3r-src"); val out = tmp("st3r-out"); val ck = tmp("st3r-ck")
    Files.write(java.nio.file.Paths.get(src, "b1.json"),
      (1L to 40L).map(i => env("c", i, s"v$i", i)).mkString("\n").getBytes)
    Ingest.cdcUpsertStreamPartitioned(spark, rowSchema, "id", src, out, ck, nBuckets = 8)
    // simulate a crash caught between park and promote: one bucket sits
    // in the backup dir and its live directory is gone
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val victim = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("kb=")).head.getName
    fs.mkdirs(new org.apache.hadoop.fs.Path(out + "_bak"))
    fs.rename(new org.apache.hadoop.fs.Path(s"$out/$victim"),
      new org.apache.hadoop.fs.Path(s"${out}_bak/$victim"))
    assert(!new java.io.File(s"$out/$victim").exists())
    // next batch (touching a different key) must restore the parked
    // bucket before merging — no key may be lost
    Files.write(java.nio.file.Paths.get(src, "b2.json"),
      Seq(env("u", 7, "v7b", 100)).mkString("\n").getBytes)
    Ingest.cdcUpsertStreamPartitioned(spark, rowSchema, "id", src, out, ck, nBuckets = 8)
    assert(!new java.io.File(out + "_bak").exists())
    val raw = spark.read.text(src)
    val batchSnap = Ingest.latestPerKey(Ingest.decodeCdc(raw, rowSchema), "id")
      .orderBy("id").as[(Long, String)].collect().toSeq
    val snap = spark.read.parquet(out).select("id", "v").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(snap == batchSnap)
  }

  test("STD: streaming dedup ingest accepts survivors, drops cross-batch dups, appends the index") {
    val src = tmp("std-src"); val corpus = tmp("std-corpus")
    val ck = tmp("std-ck")
    val idx = src + "-idx" // must NOT pre-exist (snapshotExists bootstraps)
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "one two three four five six seven eight nine ten"
    val b1 = Seq((1L, t1), (2L, t1), (3L, t2)).toDF("doc_id", "text")
    val b2 = Seq((11L, t1), (12L, "totally fresh content nothing shared here at all"),
      (13L, "totally fresh content nothing shared here at all")).toDF("doc_id", "text")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.dedupIngestStream(spark, b1.schema, src, corpus, idx, ck)
    // batch1: 2 dups 1, keep {1,3}; batch2: 11 dups indexed 1 -> dropped,
    // 13 dups in-batch 12 -> keep {12}
    val kept = spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 12L))
    // the index holds bands for exactly the accepted docs
    val indexed = spark.read.parquet(idx).select("doc_id").distinct()
      .as[Long].collect().sorted.toSeq
    assert(indexed == Seq(1L, 3L, 12L))
    // a late third batch duplicating batch-1 content is fully dropped
    Seq((21L, t2)).toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    Ingest.dedupIngestStream(spark, b1.schema, src, corpus, idx, ck)
    assert(spark.read.parquet(corpus).count() == 3)
  }

  test("STS: streamed DSIR scoring against a fixed model equals the batch scores, replay lands nothing twice") {
    val src = tmp("sts-src"); val out = tmp("sts-out"); val ck = tmp("sts-ck")
    val target = (1L to 10L).map(i => (i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val fitRaw = Seq((900L, "alpha beta qq ww"), (901L, "ee rr tt yy"))
      .toDF("doc_id", "text")
    val model = graft.operators.Mix.dsirModel(fitRaw, target)
    val b1 = Seq((100L, "alpha beta gamma one"), (101L, "qq ww ee two"))
      .toDF("doc_id", "text")
    val b2 = Seq((102L, "beta gamma delta three")).toDF("doc_id", "text")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.dsirScoreStream(spark, b1.schema, src, out, model, ck)
    val streamed = spark.read.parquet(out)
    assert(streamed.select("batch_id").distinct().count() == 2)
    val batch = graft.operators.Mix.dsirScoreWith(b1.unionByName(b2), model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed.select("doc_id", "n_grams", "logw")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == batch)
    // restart on the same checkpoint: nothing new, nothing doubled
    Ingest.dsirScoreStream(spark, b1.schema, src, out, model, ck)
    assert(spark.read.parquet(out).count() == 3)
  }

  test("STDRIFT: streamed bucket counts sum to the one-shot summary; drift == corpusDrift; replay clean") {
    val src = tmp("std-src"); val out = tmp("std-out"); val ck = tmp("std-ck")
    val ref = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"))
      .toDF("doc_id", "text")
    val b1 = Seq((10L, "alpha beta gamma"), (11L, "spam spam spam"))
      .toDF("doc_id", "text")
    val b2 = Seq((12L, "delta epsilon")).toDF("doc_id", "text")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.driftCountsStream(spark, b1.schema, src, out, ck, buckets = 64)
    def summed = spark.read.parquet(out)
      .groupBy("bucket").agg(sum("n").cast("long").as("n"))
    // landed per-batch counts sum to the one-shot summary exactly
    val oneShot = graft.operators.Quality
      .driftCounts(b1.unionByName(b2), buckets = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(summed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == oneShot)
    // drift vs a frozen reference == the batch corpusDrift, bit for bit
    val refCounts = graft.operators.Quality.driftCounts(ref, buckets = 64)
    def driftRows(df: org.apache.spark.sql.DataFrame) = df
      .select("bucket", "ca", "cb", "pa", "pb", "js_term")
      .collect().map(_.toSeq).toSet
    assert(driftRows(graft.operators.Quality
        .driftFromCounts(refCounts, summed, buckets = 64)) ==
      driftRows(graft.operators.Quality
        .corpusDrift(ref, b1.unionByName(b2), buckets = 64)))
    // restart on the same checkpoint: nothing re-lands, sums unchanged
    Ingest.driftCountsStream(spark, b1.schema, src, out, ck, buckets = 64)
    assert(summed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == oneShot)
  }

  test("SCSEM: streamed sem-decontamination scores == batch form; replay clean") {
    val src = tmp("scsem-src"); val out = tmp("scsem-out"); val ck = tmp("scsem-ck")
    val eval = Seq((100L, Seq(1.0f, 0.0f)), (101L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val b1 = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.7f, 0.7f)))
      .toDF("vec_id", "embedding")
    val b2 = Seq((3L, Seq(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.semDeconStream(spark, b1.schema, src, out, eval, ck,
      threshold = 0.9)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "max_sim", "contaminated")
      .collect().map(_.toSeq).toSet
    val oneShot = graft.operators.Ann.semDecontaminate(
      b1.unionByName(b2), eval, threshold = 0.9)
    assert(rows(spark.read.parquet(out)) == rows(oneShot))
    // restart on the same checkpoint: nothing re-lands
    Ingest.semDeconStream(spark, b1.schema, src, out, eval, ck,
      threshold = 0.9)
    assert(rows(spark.read.parquet(out)) == rows(oneShot))
  }

  test("SCCOVB: streamed grouped covariance cells merge per class to the one-shot grouped form; replay clean") {
    val src = tmp("sccovb-src"); val out = tmp("sccovb-out"); val ck = tmp("sccovb-ck")
    val b1 = Seq((0L, "a", Seq(1.0f, 2.0f)), (1L, "b", Seq(3.0f, 5.0f)))
      .toDF("vec_id", "lbl", "embedding")
    val b2 = Seq((2L, "a", Seq(-1.0f, 0.5f)), (3L, "b", Seq(0.25f, 1.5f)))
      .toDF("vec_id", "lbl", "embedding")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.covByIngestStream(spark, b1.schema, src, out, ck, "lbl")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("lbl", "i", "j", "n", "sxy", "sx", "sy", "cov")
      .collect().map(_.toSeq).toSet
    val oneShot = graft.operators.Ann.covarianceFromCellsBy(
      graft.operators.Ann.covarianceCellsBy(b1.unionByName(b2), "lbl"))
    def merged = graft.operators.Ann.covarianceFromCellsBy(
      spark.read.parquet(out).drop("batch_id"))
    assert(rows(merged) == rows(oneShot))
    Ingest.covByIngestStream(spark, b1.schema, src, out, ck, "lbl")
    assert(rows(merged) == rows(oneShot))
    // the drift monitoring feed rides the same landing: the report
    // derived from the landed raw cells == one-shot embeddingDriftBy
    // of the full corpus, bit for bit (and cross-implementation: the
    // one-shot side runs the diagonal-only pass, the landed side the
    // full-cells diag filter)
    val driftLanded = graft.operators.Ann.embeddingDriftFromCellsBy(
        spark.read.parquet(out).drop("batch_id"))
      .collect().map(_.toSeq).toSet
    val driftOneShot = graft.operators.Ann.embeddingDriftBy(
        b1.unionByName(b2), "lbl")
      .collect().map(_.toSeq).toSet
    assert(driftLanded == driftOneShot)
  }

  test("SCZIPF: streamed token counts feed zipfFitFromCounts raw == one-shot zipfFit; replay clean") {
    val src = tmp("sczipf-src"); val out = tmp("sczipf-out"); val ck = tmp("sczipf-ck")
    val text1 = (1 to 20).flatMap(r => Seq.fill(100 / r)(f"tok$r%02d")).mkString(" ")
    val b1 = Seq((1L, text1)).toDF("doc_id", "text")
    val b2 = Seq((2L, text1 + " tail extra tail")).toDF("doc_id", "text")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.tokenCountsIngestStream(spark, b1.schema, src, out, ck)
    def fit = graft.functions.TextAnalysis
      .zipfFitFromCounts(spark.read.parquet(out), topK = 10)
      .collect().map(_.toSeq).toSet
    val oneShot = graft.functions.TextAnalysis
      .zipfFit(b1.unionByName(b2), topK = 10)
      .collect().map(_.toSeq).toSet
    assert(fit == oneShot)
    Ingest.tokenCountsIngestStream(spark, b1.schema, src, out, ck)
    assert(fit == oneShot)
  }

  test("SCCOV: streamed covariance cells merge to the one-shot summary bit for bit; replay clean") {
    val src = tmp("sccov-src"); val out = tmp("sccov-out"); val ck = tmp("sccov-ck")
    val b1 = Seq((0L, Seq(1.0f, 2.0f, -0.5f)), (1L, Seq(3.0f, 5.0f, 0.25f)))
      .toDF("vec_id", "embedding")
    val b2 = Seq((2L, Seq(-1.0f, 0.5f, 2.0f)), (3L, Seq(0.125f, -2.5f, 1.5f)))
      .toDF("vec_id", "embedding")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.covIngestStream(spark, b1.schema, src, out, ck)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("i", "j", "n", "sxy", "sx", "sy", "cov")
      .collect().map(_.toSeq).toSet
    // raw landed cells (multi-batch duplicates per (i, j), batch_id
    // partition column included) merge to the one-shot form exactly
    def merged = graft.operators.Ann
      .covarianceFromCells(spark.read.parquet(out))
    val oneShot = graft.operators.Ann
      .covarianceLongForm(b1.unionByName(b2))
    assert(rows(merged) == rows(oneShot))
    assert(spark.read.parquet(out).select("batch_id").distinct().count() == 2)
    // restart on the same checkpoint: nothing re-lands, merge stable
    Ingest.covIngestStream(spark, b1.schema, src, out, ck)
    assert(rows(merged) == rows(oneShot))
  }

  test("STGATE: streamed current-corpus cells gate against the frozen snapshot identically to the batch form") {
    // the streaming release gate: reference = a persisted diagCells
    // artifact, current = covIngestStream's per-batch FULL cell
    // landing (diagonal filtered inside the operator) — the verdict
    // refreshes per micro-batch with no vector re-read on either side
    val src = tmp("stgate-src"); val out = tmp("stgate-out"); val ck = tmp("stgate-ck")
    val ref = Seq((100L, Seq(1.0f, 2.0f, -0.5f)), (101L, Seq(3.0f, 5.0f, 0.25f)),
      (102L, Seq(0.5f, 1.0f, 1.0f))).toDF("vec_id", "embedding")
    val b1 = Seq((0L, Seq(1.5f, 2.5f, -0.25f)), (1L, Seq(2.0f, 4.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val b2 = Seq((2L, Seq(-1.0f, 0.5f, 2.0f)), (3L, Seq(0.125f, -2.5f, 1.5f)))
      .toDF("vec_id", "embedding")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.covIngestStream(spark, b1.schema, src, out, ck)
    val refCells = graft.operators.Ann.diagCells(ref)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("i").collect().map(_.toSeq).toSeq
    val streamed = graft.operators.Ann.embeddingDriftAgainstLanded(
      refCells, spark.read.parquet(out))
    val batch = graft.operators.Ann.embeddingDriftAgainst(
      ref, b1.unionByName(b2))
    assert(key(streamed) == key(batch))
    // replay: re-running the stream re-lands nothing, verdict stable
    Ingest.covIngestStream(spark, b1.schema, src, out, ck)
    assert(key(graft.operators.Ann.embeddingDriftAgainstLanded(
      refCells, spark.read.parquet(out))) == key(batch))
  }

  test("STDRIFTB: streamed grouped cells + driftFromCountsBy == one-shot corpusDriftBy; raw cells; replay clean") {
    val src = tmp("stdb-src"); val out = tmp("stdb-out"); val ck = tmp("stdb-ck")
    val ref = Seq((1L, "en", "alpha beta gamma"), (2L, "de", "eins zwei"))
      .toDF("doc_id", "lang", "text")
    val b1 = Seq((10L, "en", "alpha beta"), (11L, "de", "spam spam"))
      .toDF("doc_id", "lang", "text")
    val b2 = Seq((12L, "en", "delta epsilon"), (13L, "xx", "neu"))
      .toDF("doc_id", "lang", "text")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.driftCountsByStream(spark, b1.schema, src, out, ck, "lang",
      buckets = 32)
    val refCells = graft.operators.Quality.driftCountsBy(ref, "lang",
      buckets = 32)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("group", "bucket", "ca", "cb", "pa", "pb", "js_term")
      .collect().map(_.toSeq).toSet
    // the landed cells feed the monitor RAW — multi-batch duplicates
    // per (group, bucket) and the batch_id partition column included;
    // driftFromCountsBy sums and prunes them itself (the r10 advisor
    // fix, exercised end to end)
    def monitor = graft.operators.Quality.driftFromCountsBy(refCells,
      spark.read.parquet(out), buckets = 32)
    val oneShot = graft.operators.Quality.corpusDriftBy(ref,
      b1.unionByName(b2), "lang", buckets = 32)
    assert(rows(monitor) == rows(oneShot))
    // restart on the same checkpoint: nothing re-lands, monitor stable
    Ingest.driftCountsByStream(spark, b1.schema, src, out, ck, "lang",
      buckets = 32)
    assert(rows(monitor) == rows(oneShot))
  }

  test("STHQ: streamed histograms sum to the one-shot quantiles; replay clean") {
    val src = tmp("sthq-src"); val out = tmp("sthq-out"); val ck = tmp("sthq-ck")
    val b1 = (1L to 50L).map(i => (i, i.toDouble)).toDF("id", "x")
    val b2 = (51L to 80L).map(i => (i, i.toDouble)).toDF("id", "x")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    // frozen bounds from "domain knowledge" covering both batches
    Ingest.histogramIngestStream(spark, b1.schema, src, out, ck,
      "x", lo = 1.0, hi = 80.0, bins = 64)
    def merged = spark.read.parquet(out)
      .groupBy("bin").agg(sum("c").cast("long").as("c"))
    val streamed = graft.functions.Sketch
      .quantilesFromHistogram(merged, 1.0, 80.0, Seq(0.5, 0.9), bins = 64)
      .collect().map(_.toSeq).toSeq
    val oneShot = graft.functions.Sketch.quantilesFromHistogram(
        graft.functions.Sketch.valueHistogram(
          b1.unionByName(b2), "x", 1.0, 80.0, bins = 64),
        1.0, 80.0, Seq(0.5, 0.9), bins = 64)
      .collect().map(_.toSeq).toSeq
    assert(streamed == oneShot && streamed.nonEmpty)
    // replay lands nothing twice
    Ingest.histogramIngestStream(spark, b1.schema, src, out, ck,
      "x", lo = 1.0, hi = 80.0, bins = 64)
    assert(merged.agg(sum("c")).as[Long].head() == 80L)
  }

  test("SCCro: streamed outlier screen == batch scoreOutliers under one frozen model; replay clean") {
    val src = tmp("sccro-src"); val out = tmp("sccro-out"); val ck = tmp("sccro-ck")
    // reference window: calm values around 10 fit the model
    val ref = (1L to 99L).map(i => ("a", i, 10.0 + (i % 5))).toDF("g", "id", "v")
    val model = graft.operators.Quality.robustStats(ref, "g", "v")
    // live traffic: two batches, each carrying one planted spike
    val b1 = (Seq(("a", 900L, 20000.0)) ++ (101L to 120L).map(i => ("a", i, 11.0)))
      .toDF("g", "id", "v")
    val b2 = (Seq(("a", 901L, -15000.0)) ++ (121L to 140L).map(i => ("a", i, 12.0)))
      .toDF("g", "id", "v")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.outlierIngestStream(spark, b1.schema, src, out, ck, model, "g", "v")
    def landed = spark.read.parquet(out)
      .select("g", "id", "v", "med", "mad", "robust_z")
    val batch = graft.operators.Quality
      .scoreOutliers(b1.unionByName(b2), model, "g", "v")
      .filter(col("outlier"))
      .select("g", "id", "v", "med", "mad", "robust_z")
    assert(landed.collect().map(_.toSeq).toSet ==
      batch.collect().map(_.toSeq).toSet)
    assert(landed.select("id").as[Long].collect().toSet == Set(900L, 901L))
    // restart on the same checkpoint: nothing re-lands
    Ingest.outlierIngestStream(spark, b1.schema, src, out, ck, model, "g", "v")
    assert(landed.count() == 2)
  }

  test("SCPSI: streamed histogram cells + psiFromHistograms == one-shot psi, bit for bit") {
    val src = tmp("scpsi-src"); val hist = tmp("scpsi-hist"); val ck = tmp("scpsi-ck")
    val ref = (1 to 800).map(i => Tuple1(100.0 + (i % 200))).toDF("v")
    // live traffic drifts upward across two batches
    val b1 = (1 to 300).map(i => Tuple1(250.0 + (i % 150))).toDF("v")
    val b2 = (1 to 300).map(i => Tuple1(300.0 + (i % 150))).toDF("v")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.histogramIngestStream(spark, b1.schema, src, hist, ck,
      "v", lo = 0.0, hi = 1000.0, bins = 256)
    val landed = spark.read.parquet(hist)
      .groupBy("bin").agg(sum("c").cast("long").as("c"))
    val refHist = graft.functions.Sketch.valueHistogram(ref, "v", 0.0, 1000.0, 256)
    val streamed = graft.operators.Quality.psiFromHistograms(refHist, landed, 256)
      .select("bin", "ca", "cb", "pa", "pb", "psi_term")
      .collect().map(_.toSeq).toSet
    val oneShot = graft.operators.Quality.psi(ref, b1.unionByName(b2),
        "v", 0.0, 1000.0, 256)
      .select("bin", "ca", "cb", "pa", "pb", "psi_term")
      .collect().map(_.toSeq).toSet
    assert(streamed == oneShot)
    // and the drift is real: above the 0.25 action line
    val total = streamed.toSeq.map(_(5).asInstanceOf[Double]).sum
    assert(total > 0.25, s"PSI $total")
  }

  test("SCPSIB: streamed grouped cells + psiFromHistogramsBy == one-shot psiBy, bit for bit") {
    val src = tmp("scpsib-src"); val hist = tmp("scpsib-hist"); val ck = tmp("scpsib-ck")
    val ref = ((1 to 400).map(i => ("en", 100.0 + (i % 200))) ++
      (1 to 400).map(i => ("de", 300.0 + (i % 100)))).toDF("g", "v")
    // only the en segment drifts, split across two batches; de's live
    // sample is its reference's exact multiset (PSI identically 0)
    val b1 = ((1 to 150).map(i => ("en", 600.0 + (i % 150))) ++
      (1 to 400).map(i => ("de", 300.0 + (i % 100)))).toDF("g", "v")
    val b2 = (1 to 150).map(i => ("en", 700.0 + (i % 150))).toDF("g", "v")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.groupedHistogramIngestStream(spark, b1.schema, src, hist, ck,
      "g", "v", lo = 0.0, hi = 1000.0, bins = 128)
    def landed = spark.read.parquet(hist)
      .groupBy("group", "bin").agg(sum("c").cast("long").as("c"))
    val refHist = graft.functions.Sketch.valueHistogramBy(ref, "g", "v",
      0.0, 1000.0, 128)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("group", "bin", "ca", "cb", "pa", "pb", "psi_term")
      .collect().map(_.toSeq).toSet
    val streamed = rows(graft.operators.Quality
      .psiFromHistogramsBy(refHist, landed, 128))
    val oneShot = rows(graft.operators.Quality
      .psiBy(ref, b1.unionByName(b2), "g", "v", 0.0, 1000.0, 128))
    assert(streamed == oneShot && streamed.nonEmpty)
    // per-segment verdicts: en trips the action line, de stays quiet
    val tot = graft.operators.Quality.psiFromHistogramsBy(refHist, landed, 128)
      .groupBy("group").agg(sum("psi_term").as("t"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(tot("en") > 0.25, tot.toString)
    assert(tot("de") < 0.1, tot.toString)
    // replay lands nothing twice
    Ingest.groupedHistogramIngestStream(spark, b1.schema, src, hist, ck,
      "g", "v", lo = 0.0, hi = 1000.0, bins = 128)
    assert(landed.agg(sum("c")).as[Long].head() == 700L)
  }

  test("SCTRP: partitioned transition state == one-shot; untouched bucket layers byte-stable; replay clean") {
    val src = tmp("sctrp-src"); val out = tmp("sctrp-out"); val ck = tmp("sctrp-ck")
    import graft.operators.Behavior
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u1 spans all three batches (bridges), u3 lives in batch 1 only —
    // its state bucket must never gain another layer
    val b1 = Seq((1L, "a", ts("2024-01-01 10:00:00")),
      (1L, "b", ts("2024-01-01 11:00:00")),
      (3L, "a", ts("2024-01-01 10:00:00")),
      (3L, "b", ts("2024-01-01 10:30:00")))
      .toDF("user_id", "event_type", "ts")
    val b2 = Seq((1L, "c", ts("2024-01-02 10:00:00")))
      .toDF("user_id", "event_type", "ts")
    val b3 = Seq((1L, "b", ts("2024-01-03 10:00:00")))
      .toDF("user_id", "event_type", "ts")
    val nb = 8
    val kb = (u: Long) => Seq(u).toDF("user_id")
      .select(pmod(hash($"user_id"), lit(nb)).as("kb")).head.getInt(0)
    // the test's whole point needs u1 and u3 in different buckets
    assume(kb(1L) != kb(3L), "fixture users must hash to distinct buckets")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.transitionIngestStreamPartitioned(spark, b1.schema, src, out, ck,
      nBuckets = nb)
    def snap = Ingest.transitionSnapshot(spark, out)
      .collect().map(_.toSeq).toSeq
    def oneShot(df: org.apache.spark.sql.DataFrame) =
      Behavior.transitionMatrix(df).collect().map(_.toSeq).toSeq
    assert(snap == oneShot(b1.unionByName(b2)))
    def layers(b: Int) = {
      val d = new java.io.File(s"$out/last/kb=$b")
      if (!d.exists()) Set.empty[(String, Long)]
      else d.listFiles().filterNot(_.getName.startsWith("."))
        .flatMap(bd => bd.listFiles().filterNot(_.getName.startsWith("."))
          .map(f => (bd.getName + "/" + f.getName, f.lastModified))).toSet
    }
    val u3Before = layers(kb(3L))
    assert(u3Before.nonEmpty && u3Before.forall(_._1.startsWith("batch_id=0/")))
    // batch 3 (only u1) after a restart: u3's bucket gains no layer
    b3.coalesce(1).write.mode("append").parquet(src)
    Ingest.transitionIngestStreamPartitioned(spark, b1.schema, src, out, ck,
      nBuckets = nb)
    assert(snap == oneShot(b1.unionByName(b2).unionByName(b3)))
    assert(layers(kb(3L)) == u3Before,
      "an untouched bucket must not gain or rewrite layers")
    // u1's bridges all present: b->c (1->2), c->b (2->3)
    val m = Ingest.transitionSnapshot(spark, out)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m(("b", "c")) == 1L && m(("c", "b")) == 1L, m.toString)
    // idle restart: nothing re-lands
    Ingest.transitionIngestStreamPartitioned(spark, b1.schema, src, out, ck,
      nBuckets = nb)
    assert(snap == oneShot(b1.unionByName(b2).unionByName(b3)))
  }

  test("SCRT: streamed retention cells == one-shot cohortRetention under any delivery order; replay clean") {
    val src = tmp("scrt-src"); val out = tmp("scrt-out"); val ck = tmp("scrt-ck")
    import graft.operators.Behavior
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // deliberately OUT-OF-ORDER batches (cells are a set union — no
    // arrival contract, unlike the funnel fold): batch 2 carries the
    // EARLIEST event, moving u1's cohort back a week after the fact
    val b1 = Seq((1L, ts("2024-01-10 10:00:00")),
      (2L, ts("2024-01-10 11:00:00")),
      (1L, ts("2024-01-17 10:00:00")))
      .toDF("user_id", "ts")
    val b2 = Seq((1L, ts("2024-01-03 09:00:00")),
      (2L, ts("2024-01-18 09:00:00")))
      .toDF("user_id", "ts")
    b1.coalesce(1).write.mode("append").parquet(src)
    Ingest.retentionCellsStream(spark, b1.schema, src, out, ck)
    def snap = Ingest.retentionSnapshot(spark, out)
      .collect().map(_.toSeq).toSeq
    def oneShot(df: org.apache.spark.sql.DataFrame) =
      Behavior.cohortRetention(df).collect().map(_.toSeq).toSeq
    assert(snap == oneShot(b1))
    // the late batch restates u1's cohort — a pure re-read, no rescan
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.retentionCellsStream(spark, b1.schema, src, out, ck)
    assert(snap == oneShot(b1.unionByName(b2)))
    // replay lands nothing twice
    Ingest.retentionCellsStream(spark, b1.schema, src, out, ck)
    assert(snap == oneShot(b1.unionByName(b2)))
  }

  test("SCCer: streamed entity resolution == one-shot full recompute; merge + chained remaps; replay clean") {
    val src = tmp("sccer-src"); val idx = tmp("sccer-idx"); val ck = tmp("sccer-ck")
    // Names are "p" + 'x'*id (lev = id gap). Batch 1: entities {1,2}
    // and {5,6}. Batch 2 bridges them (MERGE event -> remap 5->1).
    // Batch 3 undercuts the min id (remap 1->0 — stored comp 5 must
    // chase 5->1->0 through the log) and adds a singleton.
    def rows(ids: Seq[Long]) = ids.map(i => (i, "blk1", "p" + "x" * i.toInt))
    val b1 = rows(Seq(1L, 2L, 5L, 6L)).toDF("pid", "blk", "nm")
    val b2 = rows(Seq(3L, 4L)).toDF("pid", "blk", "nm")
    val b3 = Seq((0L, "blk1", "p"), (20L, "blk1", "zzzz")).toDF("pid", "blk", "nm")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    b3.coalesce(1).write.mode("append").parquet(src)
    Ingest.erIngestStream(spark, b1.schema, src, idx, ck, "pid", "blk", "nm")
    def snap = graft.operators.Quality.entityIndexSnapshot(spark, idx)
      .as[(Long, Long, Boolean)].collect().toSet
    val full = graft.operators.Quality.resolveEntities(
        b1.unionByName(b2).unionByName(b3), col("pid"), col("blk"), col("nm"))
      .select("pid", "entity", "canonical")
      .as[(Long, Long, Boolean)].collect().toSet
    val first = snap
    assert(first == full, s"streamed $first vs full $full")
    assert(first.contains((5L, 0L, false)), "chained remap 5->1->0 must resolve")
    // restart on the same checkpoint: no re-processing, snapshot stable
    Ingest.erIngestStream(spark, b1.schema, src, idx, ck, "pid", "blk", "nm")
    assert(snap == full)
  }

  test("SCCerA: auto-compaction == no compaction; bases land; superseded steps GC'd") {
    def rows(ids: Seq[Long]) = ids.map(i => (i, "blk1", "p" + "x" * i.toInt))
    val b1 = rows(Seq(1L, 2L, 5L, 6L)).toDF("pid", "blk", "nm")
    val b2 = rows(Seq(3L, 4L)).toDF("pid", "blk", "nm") // bridges -> remap 5->1
    val b3 = Seq((0L, "blk1", "p"), (20L, "blk1", "zzzz")).toDF("pid", "blk", "nm")
    def mkSrc(name: String) = {
      val s = tmp(name)
      Seq(b1, b2, b3).foreach(_.coalesce(1).write.mode("append").parquet(s))
      s
    }
    val (idxA, ckA) = (tmp("sccera-ia"), tmp("sccera-cka"))
    val (idxB, ckB) = (tmp("sccera-ib"), tmp("sccera-ckb"))
    // A: compact whenever the live remap log is non-empty; B: never
    Ingest.erIngestStream(spark, b1.schema, mkSrc("sccera-sa"), idxA, ckA,
      "pid", "blk", "nm", maxRemapRows = 0L)
    Ingest.erIngestStream(spark, b1.schema, mkSrc("sccera-sb"), idxB, ckB,
      "pid", "blk", "nm")
    def snap(p: String) = graft.operators.Quality.entityIndexSnapshot(spark, p)
      .as[(Long, Long, Boolean)].collect().toSet
    val full = graft.operators.Quality.resolveEntities(
        b1.unionByName(b2).unionByName(b3), col("pid"), col("blk"), col("nm"))
      .select("pid", "entity", "canonical")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(snap(idxA) == full && snap(idxB) == full)
    assert(snap(idxA).contains((5L, 0L, false)), "chained 5->1->0 survives compaction")
    // compaction really fired: a base marker at step >= 1, and the
    // superseded step dirs/markers are GONE (GC after the marker)
    def names(p: String) = new java.io.File(p).list() match {
      case null => Seq.empty[String]
      case a => a.toSeq.filterNot(n => n.startsWith(".") || n.startsWith("_"))
    }
    val marks = names(s"$idxA/commits")
    val baseIds = marks.filter(_.endsWith(".base")).map(_.stripSuffix(".base").toLong)
    assert(baseIds.nonEmpty && baseIds.max >= 1, marks.toString)
    assert(marks.size == names(s"$idxA/rows").size,
      s"superseded rows dirs not GC'd: $marks vs ${names(s"$idxA/rows")}")
    assert(names(s"$idxA/rows").forall(_.stripPrefix("step=").toLong >= baseIds.max))
    // B never compacted: no base markers, all three delta steps live
    assert(names(s"$idxB/commits").forall(!_.endsWith(".base")))
    assert(names(s"$idxB/rows").size == 3)
  }

  test("SCCerC: restart interrupting a compaction — orphan step invisible, replay overwrites it") {
    def rows(ids: Seq[Long]) = ids.map(i => (i, "blk1", "p" + "x" * i.toInt))
    val b1 = rows(Seq(1L, 2L, 5L, 6L)).toDF("pid", "blk", "nm")
    val b2 = rows(Seq(3L, 4L)).toDF("pid", "blk", "nm")
    val b3 = Seq((0L, "blk1", "p"), (20L, "blk1", "zzzz")).toDF("pid", "blk", "nm")
    val src = tmp("sccerc-src"); val idx = tmp("sccerc-idx"); val ck = tmp("sccerc-ck")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.erIngestStream(spark, b1.schema, src, idx, ck, "pid", "blk", "nm",
      maxRemapRows = 0L) // batch 1 (remap 5->1) lands as a base
    def snap = graft.operators.Quality.entityIndexSnapshot(spark, idx)
      .as[(Long, Long, Boolean)].collect().toSet
    val afterTwo = snap
    // Simulate a compaction attempt for batch 2 that crashed AFTER its
    // parquet writes but BEFORE the commit marker: complete-looking
    // step dirs (bucketed, as the real writer lands them), no marker —
    // exactly what erStreamStep's write order can leave behind.
    spark.read.parquet(s"$idx/rows/step=1") // discovers blkb
      .write.partitionBy("blkb").mode("overwrite")
      .parquet(s"$idx/rows/step=2")
    spark.range(0).select(col("id").as("src"), col("id").as("dst"))
      .write.mode("overwrite").parquet(s"$idx/remap/step=2")
    // the orphan is INVISIBLE to reads: snapshot unchanged
    assert(snap == afterTwo, "uncommitted step dirs must not be read")
    // resume: batch 2 recomputes from committed state, overwrites the
    // orphan in place, compacts (remap 1->0), commits
    b3.coalesce(1).write.mode("append").parquet(src)
    Ingest.erIngestStream(spark, b1.schema, src, idx, ck, "pid", "blk", "nm",
      maxRemapRows = 0L)
    val full = graft.operators.Quality.resolveEntities(
        b1.unionByName(b2).unionByName(b3), col("pid"), col("blk"), col("nm"))
      .select("pid", "entity", "canonical")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(snap == full)
    assert(snap.contains((5L, 0L, false)), "chained remap across the compaction")
    // replay on the same checkpoint: stable
    Ingest.erIngestStream(spark, b1.schema, src, idx, ck, "pid", "blk", "nm",
      maxRemapRows = 0L)
    assert(snap == full)
    // and a foreign marker BEYOND the batch id fails loud, not a
    // silent skip (manual compactEntityIndex on a live stream dir)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$idx/commits/99"))
    val err = intercept[Exception] {
      graft.operators.Quality.erStreamStep(b1, 3L, idx, "pid", "blk", "nm",
        1, 1000, 20, 0L)
    }
    assert(err.getMessage.contains("beyond batch"), err.getMessage)
  }

  test("SCCerE: empty FIRST batch — bucketed step dirs carry no schema file, reads still work") {
    // A partitionBy write of zero rows emits no data file at all, so a
    // schema-inferring parent read would fail exactly when an index
    // starts with an empty batch; the readers' explicit schemas make
    // it a zero-row step instead.
    val src = tmp("sccere-src"); val idx = tmp("sccere-idx"); val ck = tmp("sccere-ck")
    val empty = Seq.empty[(Long, String, String)].toDF("pid", "blk", "nm")
    val b2 = Seq((1L, "blk1", "px"), (2L, "blk1", "pxx")).toDF("pid", "blk", "nm")
    empty.coalesce(1).write.mode("append").parquet(src)
    Ingest.erIngestStream(spark, empty.schema, src, idx, ck, "pid", "blk", "nm")
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.erIngestStream(spark, empty.schema, src, idx, ck, "pid", "blk", "nm")
    val snap = graft.operators.Quality.entityIndexSnapshot(spark, idx)
      .as[(Long, Long, Boolean)].collect().toSet
    val full = graft.operators.Quality.resolveEntities(b2, col("pid"),
        col("blk"), col("nm")).select("pid", "entity", "canonical")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(snap == full && snap.nonEmpty)
  }

  test("SCCra: streamed outlier screen accepts the binned approx model interchangeably") {
    val src = tmp("sccra-src"); val out = tmp("sccra-out"); val ck = tmp("sccra-ck")
    // continuous reference values — the metric shape the approx model
    // exists for (exact percentile state would be distinct-value-sized)
    val ref = (1L to 400L).map(i => ("a", i, 10.0 + math.sin(i * 0.31) * 2))
      .toDF("g", "id", "v")
    val model = graft.operators.Quality.robustStatsApprox(ref, "g", "v", bins = 1024)
      .select("g", "med", "mad")
    val b1 = (Seq(("a", 900L, 20000.0)) ++ (501L to 520L).map(i => ("a", i, 11.0)))
      .toDF("g", "id", "v")
    b1.coalesce(1).write.mode("append").parquet(src)
    Ingest.outlierIngestStream(spark, b1.schema, src, out, ck, model, "g", "v")
    val landed = spark.read.parquet(out)
      .select("g", "id", "v", "med", "mad", "robust_z")
    val batch = graft.operators.Quality.scoreOutliers(b1, model, "g", "v")
      .filter(col("outlier"))
      .select("g", "id", "v", "med", "mad", "robust_z")
    assert(landed.collect().map(_.toSeq).toSet ==
      batch.collect().map(_.toSeq).toSet)
    assert(landed.select("id").as[Long].collect().toSet == Set(900L))
  }

  test("STB25: streamed BM25 ingest == one-shot batch index; replay never double-counts df") {
    val src = tmp("stb25-src"); val idx = tmp("stb25-idx"); val ck = tmp("stb25-ck")
    val b1 = Seq((1L, "the zebra runs far today"),
      (2L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val b2 = Seq((3L, "the zebra sleeps near the tree")).toDF("doc_id", "text")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.bm25IngestStream(spark, b1.schema, src, idx, ck)
    val queries = Seq((0L, "zebra tree fox")).toDF("q_id", "qtext")
    def rows(p: String) =
      graft.functions.TextAnalysis.bm25SearchIndex(spark, p, queries, k = 5)
        .select("q_id", "doc_id", "score", "rn").collect().map(_.toSeq).toSet
    val full = tmp("stb25-full") + "-w"
    graft.functions.TextAnalysis.writeBm25Index(b1.unionByName(b2), full)
    assert(rows(idx) == rows(full))
    // restart on the same checkpoint: df/doclens/stats unchanged —
    // a replayed plain append would silently deflate every idf
    Ingest.bm25IngestStream(spark, b1.schema, src, idx, ck)
    assert(rows(idx) == rows(full))
    assert(spark.read.parquet(s"$idx/stats").agg(
      org.apache.spark.sql.functions.sum("n")).head.getLong(0) == 3L)
  }

  test("STCMS: streamed sketch ingest merges to the one-shot corpus sketch; replay lands nothing twice") {
    val src = tmp("stcms-src"); val out = tmp("stcms-out"); val ck = tmp("stcms-ck")
    val b1 = Seq((1L, "the cat sat on the mat"),
      (2L, "the cat sat on a chair")).toDF("doc_id", "text")
    val b2 = Seq((3L, "dogs bark loudly at night")).toDF("doc_id", "text")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.sketchIngestStream(spark, b1.schema, src, out, ck, width = 2048)
    // one sketch row per micro-batch, summary-sized
    assert(spark.read.parquet(out).count() == 2)
    def sk(df: org.apache.spark.sql.DataFrame) =
      df.head.getAs[scala.collection.Seq[Long]]("sketch").toSeq
    val merged = sk(graft.functions.Sketch.readMergedCms(spark, out))
    val oneShot = sk(graft.functions.Sketch.ngramCms(
      b1.unionByName(b2), width = 2048))
    assert(merged == oneShot) // streamed == batch, cell for cell
    // restart on the same checkpoint: identical rows re-land, counts stable
    Ingest.sketchIngestStream(spark, b1.schema, src, out, ck, width = 2048)
    assert(spark.read.parquet(out).count() == 2)
    assert(sk(graft.functions.Sketch.readMergedCms(spark, out)) == oneShot)
    // the merged sketch still answers exact point frequencies
    val est = Seq("the cat sat").toDF("gram").select(
      graft.functions.Sketch.cmsEstimate(merged, 4, 2048)($"gram").as("e"))
      .head.getLong(0)
    assert(est == 2L)
  }

  test("STHLL: streamed register batches merge to the one-shot estimate; replay stable") {
    val src = tmp("sthll-src"); val out = tmp("sthll-out"); val ck = tmp("sthll-ck")
    val b1 = (0L until 30L).map(i => (i, s"tok$i shared common words"))
      .toDF("doc_id", "text")
    val b2 = (30L until 50L).map(i => (i, s"tok$i shared other words"))
      .toDF("doc_id", "text")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.hllIngestStream(spark, b1.schema, src, out, ck, p = 10)
    def toks(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(split(coalesce($"text", lit("")), " ")).as("token"))
      .filter($"token" =!= "")
    val streamed = graft.functions.Sketch.hllEstimate(
      graft.functions.Sketch.readMergedHll(spark, out))
      .select("n_est").as[Double].head()
    val oneShot = graft.functions.Sketch.hllDistinct(
      toks(b1.unionByName(b2)), "token").select("n_est").as[Double].head()
    assert(streamed == oneShot) // streamed == batch, bit for bit
    // restart on the same checkpoint: registers re-land identically
    Ingest.hllIngestStream(spark, b1.schema, src, out, ck, p = 10)
    assert(graft.functions.Sketch.hllEstimate(
      graft.functions.Sketch.readMergedHll(spark, out))
      .select("n_est").as[Double].head() == oneShot)
    // and the estimate is sane on the 54-distinct fixture
    assert(math.abs(oneShot - 54.0) < 8.0, s"est $oneShot")
  }

  test("STHH: streamed MG summaries + one recount equal batch heavyHitters; replay stable") {
    val src = tmp("sthh-src"); val out = tmp("sthh-out"); val ck = tmp("sthh-ck")
    val b1 = (0L until 40L).map(i => (i, "alpha alpha beta " + s"rare$i"))
      .toDF("doc_id", "text")
    val b2 = (40L until 60L).map(i => (i, "alpha gamma " + s"rare$i"))
      .toDF("doc_id", "text")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.mgIngestStream(spark, b1.schema, src, out, ck, budget = 8)
    assert(spark.read.parquet(out).count() == 2) // one summary row per batch
    val corpus = spark.read.parquet(src)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getAs[Long]("cnt"), r.getAs[Int]("rn"))).toSeq
    val streamed = key(graft.functions.Sketch.heavyHittersFromSummaries(
      spark.read.parquet(out), corpus, k = 3))
    val batch = key(graft.functions.Sketch.heavyHitters(corpus, k = 3, budget = 8))
    assert(streamed == batch)
    assert(streamed.head._1 == "alpha" && streamed.head._2 == 100L)
    // restart on the same checkpoint: identical summaries, same answer
    Ingest.mgIngestStream(spark, b1.schema, src, out, ck, budget = 8)
    assert(spark.read.parquet(out).count() == 2)
    assert(key(graft.functions.Sketch.heavyHittersFromSummaries(
      spark.read.parquet(out), corpus, k = 3)) == batch)
  }

  test("STV: streamed vector ingest equals the batch-built IVF index, pruning intact") {
    val src = tmp("stv-src"); val ck = tmp("stv-ck")
    val idx = src + "-idx" // fresh path: the stream lays out batch_id= dirs
    val b1 = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, Seq(0.99f, 0.01f)))
      .toDF("vec_id", "embedding")
    val b2 = Seq((3L, Seq(0.98f, 0.02f)), (4L, Seq(0.01f, 0.99f)))
      .toDF("vec_id", "embedding")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    val cents = b1.filter($"vec_id" < 2)
    Ingest.vectorIngestStream(spark, b1.schema, src, idx, cents, ck)
    val indexed = spark.read.parquet(idx)
    assert(indexed.select("batch_id").distinct().count() == 2)
    assert(indexed.select("vec_id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L))
    // cluster-pruned search over the streamed index == one-shot batch index
    val full = tmp("stv-full") + "-w"
    graft.operators.Ann.writeIvfIndex(spark.read.parquet(src), cents, full)
    def top(p: String) =
      graft.operators.Ann.ivfSearchIndex(spark, p, cents, Seq(1.0, 0.0), k = 3, nprobe = 1)
        .as[(Long, Double)].collect().toSeq
    assert(top(idx) == top(full))
    // restart on the same checkpoint: nothing new, nothing doubled
    Ingest.vectorIngestStream(spark, b1.schema, src, idx, cents, ck)
    assert(spark.read.parquet(idx).count() == 5)
  }

  test("STIMG: streamed image ingest drops cross-batch perceptual dups, appends the fingerprint index, replay clean") {
    import graft.operators.Multimodal
    import Multimodal.{MediaRow, pHashImageFixture}
    val src = tmp("stimg-src"); val ck = tmp("stimg-ck")
    val corpus = src + "-corpus"; val idx = src + "-idx"
    def m(id: Long, tex: Long) = MediaRow(id, pHashImageFixture(tex), "image", 32, 32, 0L)
    // batch 1: two distinct textures; batch 2: a brightness-shifted
    // copy of batch 1's first image (cross-batch dup) + a fresh one
    val b1 = Seq(m(1, 0), m(2, 2)).toDS()
    val b2 = Seq(m(3, 1), m(4, 10)).toDS() // tex 1 = shifted twin of tex 0
    b1.toDF().coalesce(1).write.mode("append").parquet(src)
    b2.toDF().coalesce(1).write.mode("append").parquet(src)
    Ingest.imageIngestStream(spark, b1.toDF().schema, src, corpus, idx, ck,
      maxDist = 0)
    val keptIds = spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet
    assert(keptIds == Set(1L, 2L, 4L), s"got $keptIds")
    // the index carries exactly the survivors' fingerprints, per batch
    val idxDf = spark.read.parquet(idx)
    assert(idxDf.select("batch_id").distinct().count() == 2)
    assert(idxDf.select("doc_id").distinct().as[Long].collect().toSet ==
      Set(1L, 2L, 4L))
    // restart on the same checkpoint: nothing new, nothing doubled
    Ingest.imageIngestStream(spark, b1.toDF().schema, src, corpus, idx, ck,
      maxDist = 0)
    assert(spark.read.parquet(corpus).count() == 3)
    assert(spark.read.parquet(idx).count() == idxDf.count())
  }

  test("STAUD: streamed audio ingest drops cross-batch gain dups via the spectral index, replay clean") {
    import graft.operators.Multimodal
    import Multimodal.{MediaRow, spectralAudioFixture}
    val src = tmp("staud-src"); val ck = tmp("staud-ck")
    val corpus = src + "-corpus"; val idx = src + "-idx"
    def m(id: Long, tex: Long) = MediaRow(id, spectralAudioFixture(tex), "audio", 0, 0, 0L)
    val b1 = Seq(m(1, 0), m(2, 2)).toDS()
    val b2 = Seq(m(3, 1), m(4, 10)).toDS() // tex 1 = x2-gain twin of tex 0
    b1.toDF().coalesce(1).write.mode("append").parquet(src)
    b2.toDF().coalesce(1).write.mode("append").parquet(src)
    Ingest.audioIngestStream(spark, b1.toDF().schema, src, corpus, idx, ck,
      maxDist = 0)
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L, 4L))
    Ingest.audioIngestStream(spark, b1.toDF().schema, src, corpus, idx, ck,
      maxDist = 0)
    assert(spark.read.parquet(corpus).count() == 3)
  }

  test("STVID: streamed video ingest drops cross-batch trimmed+graded dups via the frame index, replay clean") {
    import graft.operators.Multimodal
    import Multimodal.{MediaRow, videoFixture}
    val src = tmp("stvid-src"); val ck = tmp("stvid-ck")
    val corpus = src + "-corpus"; val idx = src + "-idx"
    def m(id: Long, tex: Long) = MediaRow(id, videoFixture(tex), "video", 32, 32, 0L)
    // batch 1: two distinct videos; batch 2: a trimmed + brightness-
    // graded copy of batch 1's first video (cross-batch dup, shares 5
    // frame fingerprints) + a fresh one
    val b1 = Seq(m(1, 0), m(2, 2)).toDS()
    val b2 = Seq(m(3, 1), m(4, 10)).toDS() // tex 1 = trimmed twin of tex 0
    b1.toDF().coalesce(1).write.mode("append").parquet(src)
    b2.toDF().coalesce(1).write.mode("append").parquet(src)
    Ingest.videoIngestStream(spark, b1.toDF().schema, src, corpus, idx, ck)
    val keptIds = spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet
    assert(keptIds == Set(1L, 2L, 4L), s"got $keptIds")
    // the index carries exactly the survivors' frame fingerprints,
    // per batch: 6 per surviving video (6 distinct frames each)
    val idxDf = spark.read.parquet(idx)
    assert(idxDf.select("batch_id").distinct().count() == 2)
    assert(idxDf.select("doc_id").distinct().as[Long].collect().toSet ==
      Set(1L, 2L, 4L))
    assert(idxDf.count() == 18)
    // restart on the same checkpoint: nothing new, nothing doubled
    Ingest.videoIngestStream(spark, b1.toDF().schema, src, corpus, idx, ck)
    assert(spark.read.parquet(corpus).count() == 3)
    assert(spark.read.parquet(idx).count() == 18)
  }

  test("STCMP: delta-state compaction folds below the max batch id; rows verbatim, replay window safe, resumed decisions unchanged") {
    import graft.operators.Multimodal
    import Multimodal.{MediaRow, pHashImageFixture}
    val src = tmp("stcmp-src"); val ck = tmp("stcmp-ck")
    val corpus = src + "-corpus"; val idx = src + "-idx"
    def m(id: Long, tex: Long) = MediaRow(id, pHashImageFixture(tex), "image", 32, 32, 0L)
    val b1 = Seq(m(1, 0), m(2, 2)).toDS()
    val b2 = Seq(m(3, 1), m(4, 10)).toDS() // tex 1 = shifted twin of tex 0 -> drops
    b1.toDF().coalesce(1).write.mode("append").parquet(src)
    b2.toDF().coalesce(1).write.mode("append").parquet(src)
    Ingest.imageIngestStream(spark, b1.toDF().schema, src, corpus, idx, ck,
      maxDist = 0)
    def parts(p: String) = new java.io.File(p).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    def rows(p: String) = spark.read.parquet(p).drop("batch_id")
      .collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq // structural equality for payloads
        case v => v
      }).toSeq.sortBy(_.toString)
    assert(parts(idx) == Seq("batch_id=0", "batch_id=1"))
    val (idxBefore, corpusBefore) = (rows(idx), rows(corpus))
    // compact both state dirs: everything STRICTLY BELOW the max id
    // folds into the second-highest id (here the two-partition case:
    // 0 absorbs nothing but itself); the max-id partition stays its
    // own — the uncommitted-replay window's protection — and rows are
    // verbatim either way
    assert(Ingest.compactStreamState(spark, idx) == 0L)
    assert(Ingest.compactStreamState(spark, corpus) == 0L)
    assert(parts(idx) == Seq("batch_id=0", "batch_id=1"))
    assert(rows(idx) == idxBefore && rows(corpus) == corpusBefore)
    assert(!new java.io.File(idx + "_compact_bak").exists())
    assert(!new java.io.File(idx + "_compact_tmp").exists())
    // the replay-window law: if batch 1 had NOT committed and were
    // replayed, its earlier-state read (batch_id < 1) must still see
    // all of batch 0's state after compaction — i.e. folding must
    // never move rows from below an id to at-or-above it
    assert(spark.read.parquet(idx).filter($"batch_id" < 1).count() ==
      spark.read.parquet(idx).filter($"batch_id" === 0).count())
    // a batch landing AFTER compaction reads the same union it would
    // have read before: a shifted twin of batch-1 survivor tex 2 still
    // drops, a fresh texture still lands (under the next checkpoint
    // id, which is strictly above the compacted ones)
    Seq(m(5, 3), m(6, 20)).toDS().toDF().coalesce(1)
      .write.mode("append").parquet(src)
    Ingest.imageIngestStream(spark, b1.toDF().schema, src, corpus, idx, ck,
      maxDist = 0)
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L, 4L, 6L))
    assert(parts(idx) == Seq("batch_id=0", "batch_id=1", "batch_id=2"))
    // a three-partition dir folds 0+1 into 1, leaving 2 alone
    assert(Ingest.compactStreamState(spark, idx) == 1L)
    assert(parts(idx) == Seq("batch_id=1", "batch_id=2"))
    assert(spark.read.parquet(idx).filter($"batch_id" < 2).count() ==
      idxBefore.size)
    // layout guard: a non-stream dir is rejected, not silently folded
    val ex = intercept[IllegalArgumentException] {
      Ingest.compactStreamState(spark, src)
    }
    assert(ex.getMessage.contains("batch_id="))
  }

  test("STVAC: snapshot-state vacuum keeps the newest partitions; resumed fold unchanged") {
    import graft.operators.Behavior
    val src = tmp("stvac-src"); val st = tmp("stvac-state"); val ck = tmp("stvac-ck")
    val steps = Seq("view", "purchase")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = Seq((1L, "view", ts("2024-01-01 10:00:00")),
      (2L, "view", ts("2024-01-01 11:00:00")))
      .toDF("user_id", "event_type", "ts")
    val b2 = Seq((1L, "purchase", ts("2024-01-02 09:00:00")))
      .toDF("user_id", "event_type", "ts")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.funnelIngestStream(spark, b1.schema, src, st, ck, steps)
    def snap = Ingest.funnelStateSnapshot(spark, st)
      .collect().map(_.toSeq).toSet
    val full = snap
    // two snapshots landed; at least the TWO newest always survive
    // (the newest may be an uncommitted batch's write; its
    // predecessor is the true replay anchor), so keepLast=1 still
    // deletes nothing here
    val (kept, dropped) = Ingest.vacuumStreamSnapshots(spark, st, keepLast = 1)
    assert(kept == Seq(0L, 1L) && dropped == Seq.empty, s"$kept $dropped")
    assert(snap == full)
    // the fold resumes on the surviving snapshots: batch 3 converts u2
    Seq((2L, "purchase", ts("2024-01-03 09:00:00")))
      .toDF("user_id", "event_type", "ts")
      .coalesce(1).write.mode("append").parquet(src)
    Ingest.funnelIngestStream(spark, b1.schema, src, st, ck, steps)
    assert(snap == Behavior.funnelUsers(
      spark.read.parquet(src), steps).collect().map(_.toSeq).toSet)
    // with three snapshots on disk, vacuum now drops the oldest
    val (kept3, dropped3) = Ingest.vacuumStreamSnapshots(spark, st, keepLast = 1)
    assert(kept3 == Seq(1L, 2L) && dropped3 == Seq(0L), s"$kept3 $dropped3")
    assert(snap == Behavior.funnelUsers(
      spark.read.parquet(src), steps).collect().map(_.toSeq).toSet)
    intercept[IllegalArgumentException] {
      Ingest.vacuumStreamSnapshots(spark, st, keepLast = 0)
    }
  }

  test("STDECON: streamed media screen vs a frozen eval index == batch screen; replay clean") {
    import graft.operators.Multimodal
    import Multimodal.{MediaRow, pHashImageFixture}
    val src = tmp("stdc-src"); val ck = tmp("stdc-ck")
    val out = src + "-out"; val evIdx = src + "-evidx"
    def m(id: Long, tex: Long) = MediaRow(id, pHashImageFixture(tex), "image", 32, 32, 0L)
    // frozen eval index: textures 0 and 1, hashed once
    Multimodal.writePHashIndex(Seq(m(900, 0), m(901, 2)).toDS(), evIdx)
    // each batch carries one shifted benchmark twin (leak) + one fresh
    val b1 = Seq(m(1, 1), m(2, 20)).toDS()
    val b2 = Seq(m(3, 3), m(4, 30)).toDS()
    b1.toDF().coalesce(1).write.mode("append").parquet(src)
    b2.toDF().coalesce(1).write.mode("append").parquet(src)
    val ev = spark.read.parquet(evIdx)
    def screen(ds: org.apache.spark.sql.Dataset[MediaRow]) =
      Multimodal.decontaminateImagesAgainstIndex(ds, ev)
    Ingest.mediaDeconStream(spark, b1.toDF().schema, src, out, screen, ck)
    val streamed = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().toSet
    assert(streamed == Set(2L, 4L), streamed.toString)
    // stateless per batch against the frozen index -> == the one-shot
    // batch screen over the union, by construction AND by check
    assert(streamed == screen(b1.unionByName(b2))
      .select("doc_id").as[Long].collect().toSet)
    // replay on the same checkpoint: nothing new, nothing doubled
    Ingest.mediaDeconStream(spark, b1.toDF().schema, src, out, screen, ck)
    assert(spark.read.parquet(out).count() == 2)
  }

  test("STIVF: retrain trigger fires on a planted drifted batch, stays quiet in-distribution; index law intact; replay clean") {
    val src = tmp("stivf-src"); val ck = tmp("stivf-ck")
    val idx = src + "-idx"; val sig = src + "-sig"
    // fixed index centroids at (1,0) and (0,1)
    val cents = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    // batch 1: in-distribution (implied per-cluster means sit within
    // ~0.03 of the centroids); batch 2: a distribution shift — vectors
    // whose implied mean is whole cluster-radii away
    val b1 = Seq((0L, Seq(0.99f, 0.01f)), (1L, Seq(0.02f, 0.98f)),
      (2L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val b2 = Seq((3L, Seq(6f, 4f)), (4L, Seq(5f, 1f)))
      .toDF("vec_id", "embedding")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.vectorIngestStream(spark, b1.schema, src, idx, cents, ck,
      signalPath = sig, retrainDist = 0.5)
    // the signal history: batch 0 quiet on every touched cluster,
    // batch 1 (the planted drift) fires
    val signals = Ingest.retrainSignals(spark, sig)
      .collect().map(r => (r.getLong(0), r.getBoolean(4))).toSeq
    val byBatch = signals.groupBy(_._1).view.mapValues(_.exists(_._2)).toMap
    assert(byBatch(0L) == false, s"in-distribution batch fired: $signals")
    assert(byBatch(1L) == true, s"drifted batch did not fire: $signals")
    // the signal sink does not perturb the index law: cluster-pruned
    // search over the streamed index == the one-shot batch index
    val full = tmp("stivf-full") + "-w"
    graft.operators.Ann.writeIvfIndex(spark.read.parquet(src), cents, full)
    def top(p: String) =
      graft.operators.Ann.ivfSearchIndex(spark, p, cents, Seq(1.0, 0.0), k = 3, nprobe = 1)
        .as[(Long, Double)].collect().toSeq
    assert(top(idx) == top(full))
    // restart on the same checkpoint: signals and index land nothing new
    Ingest.vectorIngestStream(spark, b1.schema, src, idx, cents, ck,
      signalPath = sig, retrainDist = 0.5)
    assert(Ingest.retrainSignals(spark, sig).count() == signals.size)
    assert(spark.read.parquet(idx).count() == 5)
  }

  test("STIVF2: acting on the retrain signal — retrain-and-swap equals an index built from scratch; appends resume on the new centroids") {
    import graft.operators.Ann
    val src = tmp("stivf2-src"); val ck = tmp("stivf2-ck")
    val idx = src + "-idx"; val sig = src + "-sig"
    val cents0 = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val b1 = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, Seq(0.75f, 0.25f)))
      .toDF("vec_id", "embedding")
    // the planted drift: a new content domain far from both centroids
    val b2 = Seq((3L, Seq(6f, 4f)), (4L, Seq(4f, 5f)))
      .toDF("vec_id", "embedding")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.vectorIngestStream(spark, b1.schema, src, idx, cents0, ck,
      signalPath = sig, retrainDist = 0.5)
    // the signal fired — the maintenance loop this test plays acts on it
    assert(Ingest.retrainSignals(spark, sig)
      .filter($"retrain").count() > 0)
    val cents = Ann.retrainIvfIndex(spark, idx, k = 2)
    // THE LAW: the swapped-in index + returned centroids give the
    // same search results as an index built from scratch on the full
    // corpus (holds by margin on this fixture — the gaps dwarf the
    // ulp-level layout sensitivity trainCentroidsTol documents)
    val scratch = tmp("stivf2-scratch") + "-w"
    val allVecs = spark.read.parquet(src)
    val cents2 = Ann.trainCentroidsTol(allVecs, k = 2)
      .select($"c_id".as("vec_id"), $"cemb".as("embedding"))
      .localCheckpoint(true)
    Ann.writeIvfIndex(allVecs, cents2, scratch)
    def top(p: String, c: org.apache.spark.sql.DataFrame, q: Seq[Double]) =
      Ann.ivfSearchIndex(spark, p, c, q, k = 5, nprobe = 1)
        .as[(Long, Double)].collect().toSeq
    for (q <- Seq(Seq(1.0, 0.0), Seq(5.0, 4.5)))
      assert(top(idx, cents, q) == top(scratch, cents2, q), s"query $q")
    // the swap left the one-shot layout (no batch_id partition) and
    // cleaned up its working dirs
    assert(!spark.read.parquet(idx).columns.contains("batch_id"))
    assert(!new java.io.File(idx + "_bak").exists())
    assert(!new java.io.File(idx + "_retrain").exists())
    // the append epoch resumes on the RETRAINED centroids: a new
    // batch lands in the same c_id= layout and is searchable
    val b3 = Seq((5L, Seq(5.5f, 4.4f))).toDF("vec_id", "embedding")
    Ann.appendIvfIndex(b3, cents, idx)
    assert(spark.read.parquet(idx).count() == 6)
    assert(top(idx, cents, Seq(5.5, 4.4)).map(_._1).contains(5L))
    // crash healing: a retrain that died between park and promote
    // leaves the live dir missing and the old index at _bak — the
    // next call restores it and retrains from the restored corpus
    val hp = new org.apache.hadoop.fs.Path(idx)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(hp, new org.apache.hadoop.fs.Path(idx + "_bak")))
    val cents3 = Ann.retrainIvfIndex(spark, idx, k = 2)
    assert(spark.read.parquet(idx).count() == 6)
    assert(!new java.io.File(idx + "_bak").exists())
    assert(top(idx, cents3, Seq(5.5, 4.4)).map(_._1).contains(5L))
  }

  test("STP: streamed PQ-code ingest equals the batch index; IVFPQ layout prunes across batches") {
    import graft.operators.Ann
    import graft.functions.Vectors
    val src = tmp("stp-src"); val ck = tmp("stp-ck")
    val idx = src + "-idx"
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select("vec_id", "embedding")
    val b1 = emb.filter($"vec_id" < 60)
    val b2 = emb.filter($"vec_id" >= 60 && $"vec_id" < 120)
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    val all = emb.filter($"vec_id" < 120)
    val books = Ann.pqTrain(all, m = 4, ksub = 8, iters = 1).localCheckpoint(true)
    Ingest.pqIngestStream(spark, b1.schema, src, idx, books, ck, m = 4)
    val streamed = spark.read.parquet(idx)
    assert(streamed.select("batch_id").distinct().count() == 2)
    // the streamed layout holds exactly the one-shot batch index's codes
    val full = tmp("stp-full") + "-w"
    Ann.writePqIndex(all, books, full, m = 4)
    def codes(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("codes").cast("array<int>"))
      .as[(Long, Seq[Int])].collect().toSet
    assert(codes(idx) == codes(full))
    // search over the streamed root == search over the batch index
    val queries = all.filter($"vec_id" < 3)
    def top(p: String) = Ann.pqSearchIndex(spark, p, books, all, queries,
      k = 5, m = 4, shortlist = 20).collect().map(_.toSeq).toSet
    assert(top(idx) == top(full))
    // restart on the same checkpoint: nothing new, nothing doubled
    Ingest.pqIngestStream(spark, b1.schema, src, idx, books, ck, m = 4)
    assert(spark.read.parquet(idx).count() == 120)
    // IVFPQ form: residual codes under batch_id=/c_id= directories,
    // cluster pruning intact across every batch partition
    val ck2 = tmp("stp-ck2"); val idx2 = src + "-idx2"
    val coarse = all.filter($"vec_id" < 8)
      .select($"vec_id".as("c_id"), Vectors.asDouble($"embedding").as("cemb"))
      .localCheckpoint(true)
    val rbooks = Ann.pqTrain(Ann.ivfPqResiduals(all, coarse).drop("c_id"),
      m = 4, ksub = 8, iters = 1).localCheckpoint(true)
    Ingest.pqIngestStream(spark, b1.schema, src, idx2, rbooks, ck2,
      coarse = Some(coarse), m = 4)
    val viaIdx = Ann.ivfPqSearchIndex(spark, idx2, coarse, rbooks, all,
      queries, k = 5, nprobe = 2, m = 4, shortlist = 20)
    val rows = viaIdx.collect().map(_.toSeq).toSet
    val fullIvf = tmp("stp-fullivf") + "-w"
    Ann.writeIvfPqIndex(all, coarse, rbooks, fullIvf, m = 4)
    assert(rows == Ann.ivfPqSearchIndex(spark, fullIvf, coarse, rbooks, all,
      queries, k = 5, nprobe = 2, m = 4, shortlist = 20)
      .collect().map(_.toSeq).toSet)
    val plan = viaIdx.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*c_id".r.findFirstIn(plan).isDefined,
      plan.take(1500))
  }

  test("STQ: streamed quality report equals the batch report per micro-batch") {
    val src = tmp("stq-src"); val gold = tmp("stq-gold"); val ck = tmp("stq-ck")
    val cust = graft.gen.DataGen.customers(spark, 200)
    val acct = graft.gen.DataGen.accounts(spark, 200, 300)
    val tx = graft.gen.DataGen.transactions(spark, 300, 1000)
    val h1 = tx.filter($"transaction_id" < 500)
    val h2 = tx.filter($"transaction_id" >= 500)
    // one file per half -> maxFilesPerTrigger=1 yields one micro-batch each
    h1.coalesce(1).write.mode("append").parquet(src)
    h2.coalesce(1).write.mode("append").parquet(src)
    val now = "2024-06-01 00:00:00"
    Ingest.qualityReportStream(spark, cust, acct, tx.schema, src, gold, ck, now)
    val goldDf = spark.read.parquet(gold)
    assert(goldDf.select("batch_id").distinct().count() == 2)
    val streamed = goldDf.drop("batch_id").collect()
      .map(_.toSeq).sortBy(_.toString)
    val expected = Seq(h1, h2)
      .map(h => graft.operators.Quality.report(cust, acct, h, now).collect().head.toSeq)
      .sortBy(_.toString)
    assert(streamed.toSeq == expected)
  }

  test("T5: streaming dropDuplicates equals batch distinct across files") {
    val src = tmp("t5-src"); val ck = tmp("t5-ck")
    // the same rows arrive twice in different files (reference's
    // in-memory email set, oltp_seeder.py:106-142, as a stream)
    events.filter($"event_id" < 200).write.mode("append").parquet(src)
    events.filter($"event_id" < 300).write.mode("append").parquet(src)
    val stream = spark.readStream.schema(events.schema).parquet(src)
      .dropDuplicates("event_id")
    val q = stream.writeStream.format("memory").queryName("t5_out")
      .outputMode("append")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("t5_out").count() ==
      events.filter($"event_id" < 300).count())
    assert(spark.table("t5_out").select("event_id").distinct().count() ==
      spark.table("t5_out").count())
  }

  test("T7: streaming sliding-window counts equal batch r38") {
    val src = tmp("t7-src"); val ck = tmp("t7-ck")
    events.write.mode("append").parquet(src)
    val stream = spark.readStream.schema(events.schema).parquet(src)
      .withWatermark("ts", "30 days")
      .groupBy(window($"ts", "7 days", "1 day"))
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("w_start"), $"n")
    val q = stream.writeStream.format("memory").queryName("t7_out")
      .outputMode("complete")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("t7_out").orderBy("w_start").collect()
    val batch = SparkEntry.queries("r38_sliding_window")(spark, sf)
      .orderBy("w_start").collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("T7s: streaming session windows equal the batch sessionize oracle") {
    val src = tmp("t7s-src"); val ck = tmp("t7s-ck")
    events.write.mode("append").parquet(src)
    val stream = spark.readStream.schema(events.schema).parquet(src)
    val q = Ingest.sessionCounts(stream)
      .writeStream.format("memory").queryName("t7s_out")
      .outputMode("complete")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("t7s_out")
      .orderBy("user_id", "s_start")
      .select("user_id", "s_start", "s_end", "n").collect()
    // batch oracle: same boundary rule; session_window's end = last+gap
    val batch = graft.operators.Windows.sessionize(
        events, $"user_id", $"ts", "1 HOUR", $"event_id")
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("s_start"),
        (max($"ts") + expr("INTERVAL 1 HOUR")).as("s_end"),
        count(lit(1)).as("n"))
      .orderBy("user_id", "s_start")
      .select("user_id", "s_start", "s_end", "n").collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("T8: stream-stream interval join equals the batch form") {
    val src = tmp("t8-src"); val ck = tmp("t8-ck")
    events.write.mode("append").parquet(src)
    val stream = spark.readStream.schema(events.schema).parquet(src)
    val q = Ingest.attributedPurchases(stream)
      .writeStream.format("memory").queryName("t8_out")
      .outputMode("append")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("t8_out").orderBy("event_id", "s_id").collect()
    val batch = Ingest.attributedPurchases(events).orderBy("event_id", "s_id").collect()
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("T4: dropDuplicatesWithinWatermark dedups re-delivered rows with bounded state") {
    val src = tmp("t4-src"); val ck = tmp("t4-ck")
    events.filter($"event_id" < 100).write.mode("append").parquet(src)
    events.filter($"event_id" < 100).write.mode("append").parquet(src) // redelivery
    val stream = Ingest.dedupWithinWatermark(
      spark.readStream.schema(events.schema).parquet(src), "event_id")
    val q = stream.writeStream.format("memory").queryName("t4_out")
      .outputMode("append")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("t4_out").count() == 100)
  }

  test("ST4: future-dated routing splits the stream losslessly") {
    val now = java.sql.Timestamp.valueOf("2024-01-28 00:00:00")
    val (ok, rejected) = Ingest.routeFutureDated(events, now)
    assert(ok.count() + rejected.count() == events.count())
    val q29 = Ingest.lateFutureCounts(events, "2024-01-28 00:00:00", "2024-01-05 00:00:00")
      .collect().head
    assert(rejected.count() == q29.getAs[Long]("future_ct"))
  }

  test("SCFN: streamed funnel fold == one-shot funnelUsers across restarts; replay clean") {
    val src = tmp("scfn-src"); val st = tmp("scfn-state"); val ck = tmp("scfn-ck")
    import graft.operators.Behavior
    val steps = Seq("view", "click", "purchase")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // time-ordered batches; conversions SPAN batches (u1 view/click/
    // purchase in three different batches); u2's purchase lands past
    // the 7-day cap of its first view and must not convert
    val b1 = Seq((1L, "view", ts("2024-01-01 10:00:00")),
      (2L, "view", ts("2024-01-01 10:00:00")),
      (2L, "purchase", ts("2024-01-01 10:30:00")))
      .toDF("user_id", "event_type", "ts")
    val b2 = Seq((1L, "click", ts("2024-01-02 09:00:00")),
      (2L, "click", ts("2024-01-02 10:00:00")),
      (3L, "view", ts("2024-01-02 11:00:00")))
      .toDF("user_id", "event_type", "ts")
    val b3 = Seq((1L, "purchase", ts("2024-01-03 09:00:00")),
      (2L, "purchase", ts("2024-01-10 10:00:00")))
      .toDF("user_id", "event_type", "ts")
    val within = Some("7 DAYS")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.funnelIngestStream(spark, b1.schema, src, st, ck, steps,
      within = within)
    def snap = Ingest.funnelStateSnapshot(spark, st)
      .collect().map(_.toSeq).toSet
    def oneShot(df: org.apache.spark.sql.DataFrame) =
      Behavior.funnelUsers(df, steps, within = within)
        .collect().map(_.toSeq).toSet
    assert(snap == oneShot(b1.unionByName(b2)))
    // the third batch lands after a restart: only it is processed
    b3.coalesce(1).write.mode("append").parquet(src)
    Ingest.funnelIngestStream(spark, b1.schema, src, st, ck, steps,
      within = within)
    val full = oneShot(b1.unionByName(b2).unionByName(b3))
    assert(snap == full)
    // u1 converted across three batches; u2's late purchase did not
    val t3 = Ingest.funnelStateSnapshot(spark, st)
      .collect().map(r => r.getLong(0) -> !r.isNullAt(3)).toMap
    assert(t3(1L) && !t3(2L))
    // idle restart on the same checkpoint: nothing reprocessed
    Ingest.funnelIngestStream(spark, b1.schema, src, st, ck, steps,
      within = within)
    assert(snap == full)
  }

  test("SCFNP: partitioned funnel state == one-shot; untouched buckets not rewritten; replay clean") {
    val src = tmp("scfnp-src"); val out = tmp("scfnp-out"); val ck = tmp("scfnp-ck")
    import graft.operators.Behavior
    val steps = Seq("view", "click")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = (1L to 8L).map(u => (u, "view", ts("2024-01-01 10:00:00")))
      .toDF("user_id", "event_type", "ts")
    val b2 = Seq((1L, "click", ts("2024-01-02 10:00:00")))
      .toDF("user_id", "event_type", "ts")
    b1.coalesce(1).write.mode("append").parquet(src)
    Ingest.funnelIngestStreamPartitioned(spark, b1.schema, src, out, ck,
      steps, nBuckets = 4)
    def snap = spark.read.parquet(out).drop("kb")
      .collect().map(_.toSeq).toSet
    def oneShot(df: org.apache.spark.sql.DataFrame) =
      Behavior.funnelUsers(df, steps).collect().map(_.toSeq).toSet
    assert(snap == oneShot(b1))
    // find a live bucket batch 2 does NOT touch, and fingerprint it
    val kb1 = Seq(1L).toDF("user_id")
      .select(pmod(hash($"user_id"), lit(4)).as("kb")).head.getInt(0)
    def listing(b: Int) = new java.io.File(s"$out/kb=$b").listFiles()
      .filterNot(_.getName.startsWith(".")).map(f =>
        (f.getName, f.lastModified)).toSet
    val untouched = (0 until 4).filter(_ != kb1)
      .filter(b => new java.io.File(s"$out/kb=$b").exists()).head
    val before = listing(untouched)
    // batch 2 arrives after a restart: only user 1's bucket rewrites
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.funnelIngestStreamPartitioned(spark, b1.schema, src, out, ck,
      steps, nBuckets = 4)
    assert(snap == oneShot(b1.unionByName(b2)))
    assert(listing(untouched) == before,
      s"bucket kb=$untouched was rewritten by a batch that never touched it")
    // idle restart: nothing reprocessed, state byte-stable
    val all = (0 until 4)
      .filter(b => new java.io.File(s"$out/kb=$b").exists())
      .map(b => b -> listing(b)).toMap
    Ingest.funnelIngestStreamPartitioned(spark, b1.schema, src, out, ck,
      steps, nBuckets = 4)
    assert(snap == oneShot(b1.unionByName(b2)))
    assert(all.forall { case (b, l) => listing(b) == l })
  }

  test("SCTR: streamed transition counts (+ cross-batch bridges) == one-shot transitionMatrix; replay clean") {
    val src = tmp("sctr-src"); val out = tmp("sctr-out"); val ck = tmp("sctr-ck")
    import graft.operators.Behavior
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u1 spans all three batches (two bridge pairs), u2 bridges over
    // an absent middle batch, u3 lives entirely in batch 1
    val b1 = Seq((1L, "a", ts("2024-01-01 10:00:00")),
      (1L, "b", ts("2024-01-01 11:00:00")),
      (2L, "a", ts("2024-01-01 10:00:00")),
      (3L, "a", ts("2024-01-01 10:00:00")),
      (3L, "b", ts("2024-01-01 10:30:00")),
      (3L, "a", ts("2024-01-01 10:45:00")))
      .toDF("user_id", "event_type", "ts")
    val b2 = Seq((1L, "c", ts("2024-01-02 10:00:00")),
      (1L, "a", ts("2024-01-02 11:00:00")))
      .toDF("user_id", "event_type", "ts")
    val b3 = Seq((1L, "b", ts("2024-01-03 10:00:00")),
      (2L, "b", ts("2024-01-03 10:00:00")))
      .toDF("user_id", "event_type", "ts")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    Ingest.transitionIngestStream(spark, b1.schema, src, out, ck)
    def snap = Ingest.transitionSnapshot(spark, out)
      .collect().map(_.toSeq).toSeq
    def oneShot(df: org.apache.spark.sql.DataFrame) =
      Behavior.transitionMatrix(df).collect().map(_.toSeq).toSeq
    assert(snap == oneShot(b1.unionByName(b2)))
    // restart picks up only the new batch; u2's bridge skips batch 2
    b3.coalesce(1).write.mode("append").parquet(src)
    Ingest.transitionIngestStream(spark, b1.schema, src, out, ck)
    val full = oneShot(b1.unionByName(b2).unionByName(b3))
    assert(snap == full)
    // the cross-batch bridges are really in there: u1's b->c (batch
    // 1 -> 2) and a->b (2 -> 3), u2's a->b (1 -> 3)
    val m = Ingest.transitionSnapshot(spark, out)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m(("b", "c")) == 1L && m(("a", "b")) >= 2L, m.toString)
    // idle restart: nothing re-lands, counts unchanged
    Ingest.transitionIngestStream(spark, b1.schema, src, out, ck)
    assert(snap == full)
  }
}
