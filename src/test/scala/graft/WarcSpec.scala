package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._
import graft.sources.Warc
import graft.functions.TextAnalysis

class WarcSpec extends SparkSpec {
  import spark.implicits._

  private val html =
    "<html><head><title>T</title></head><body><p>Hello crawl</p></body></html>"

  private def record(tpe: String, uri: String, body: Array[Byte]): Array[Byte] = {
    val uriLine = if (uri.isEmpty) "" else s"WARC-Target-URI: $uri\r\n"
    (s"WARC/1.0\r\n" +
      s"WARC-Type: $tpe\r\n" + uriLine +
      s"WARC-Date: 2024-01-01T00:00:00Z\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n")
      .getBytes(StandardCharsets.UTF_8) ++ body ++
      "\r\n\r\n".getBytes(StandardCharsets.UTF_8)
  }

  private def fixtureBytes: Array[Byte] = {
    val info = record("warcinfo", "", "software: graft-test\r\n".getBytes)
    val httpResp = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html)
      .getBytes(StandardCharsets.UTF_8)
    val resp = record("response", "http://example.com/a", httpResp)
    val req = record("request", "http://example.com/a",
      "GET /a HTTP/1.1\r\n".getBytes)
    info ++ resp ++ req
  }

  test("readWarc parses records from plain and member-gzipped shards") {
    val dir = java.nio.file.Paths.get(tmp("warc"))
    Files.write(dir.resolve("a.warc"), fixtureBytes)
    val gz = new java.io.ByteArrayOutputStream()
    val go = new GZIPOutputStream(gz)
    go.write(fixtureBytes); go.close()
    Files.write(dir.resolve("b.warc.gz"), gz.toByteArray)
    val df = Warc.readWarc(spark, dir.toString).cache()
    // both shards parse identically: 3 records each
    assert(df.count() == 6)
    val types = df.groupBy("record_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types == Map("warcinfo" -> 2, "response" -> 2, "request" -> 2))
    val resp = df.filter(col("record_type") === "response").collect()
    assert(resp.forall(_.getAs[String]("target_uri") == "http://example.com/a"))
    assert(resp.forall(_.getAs[Long]("content_length") > 0))
    df.unpersist()
  }

  test("httpBodyText strips HTTP headers; composes with htmlToText end to end") {
    val dir = java.nio.file.Paths.get(tmp("warc2"))
    Files.write(dir.resolve("a.warc"), fixtureBytes)
    val pages = Warc.readWarc(spark, dir.toString)
      .filter(col("record_type") === "response")
      .select(Warc.httpBodyText(col("payload")).as("html"))
    assert(pages.collect().head.getString(0) == html)
    // the full Common-Crawl chain: WARC -> body -> text -> normalize
    val text = pages.select(TextAnalysis.normalizeText(
      TextAnalysis.htmlToText(col("html"))).as("t")).collect().head.getString(0)
    assert(text == "t hello crawl")
    // a payload with no header terminator quarantines as null
    val noHdr = Seq(Tuple1("just bytes".getBytes(StandardCharsets.UTF_8)))
      .toDF("payload").select(Warc.httpBodyText(col("payload")).as("b"))
    assert(noHdr.collect().head.isNullAt(0))
  }

  test("a truncated shard yields its valid prefix, not an exception") {
    val cut = fixtureBytes.take(fixtureBytes.length - 30) // cut inside the last record
    val parsed = Warc.parseRecords("f", cut)
    assert(parsed.map(_.record_type) == Seq("warcinfo", "response"))
    // non-WARC bytes yield nothing
    assert(Warc.parseRecords("g", "plain text".getBytes).isEmpty)
  }
}
