package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import graft.streaming.Ingest

/** One Debezium-shaped change: `op` is c (create), u (update) or
  * d (delete); `lsn` orders all changes of the log. */
final case class Change(op: String, lsn: Long, id: Long, name: String, balance: Long) {
  def json: String = {
    val row = s"""{"id":$id,"name":"$name","balance":$balance,"version":$lsn}"""
    val (before, after) = if (op == "d") (row, "null") else ("null", row)
    s"""{"payload":{"op":"$op","before":$before,"after":$after,""" +
      s""""source":{"lsn":$lsn},"ts_ms":${1700000000000L + lsn}}}"""
  }
}

/** Seeded change-log generator. It tracks which keys are live so that it
  * emits creates for absent keys and updates or deletes for live ones. */
final class ChangeLog(seed: Long, val keys: Int) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val live = mutable.BitSet.empty
  private var lsn = 0L
  val all = mutable.ArrayBuffer.empty[Change]

  private def change(id: Long): Change = {
    lsn += 1
    val op =
      if (!live(id.toInt)) "c"
      else if (rnd.nextInt(10) == 0) "d"
      else "u"
    if (op == "d") live -= id.toInt else live += id.toInt
    val c = Change(op, lsn, id, s"cust-$id-${rnd.nextInt(1000)}", rnd.nextLong(1000000L))
    all += c
    c
  }

  /** Every key created once. */
  def load(): Seq[Change] = (0 until keys).map(k => change(k.toLong))

  /** `n` changes spread over every key. */
  def large(n: Int): Seq[Change] = Seq.fill(n)(change(rnd.nextLong(keys.toLong)))

  /** `n` changes on `width` neighbouring keys. */
  def small(n: Int, width: Int): Seq[Change] = {
    val lo = rnd.nextLong((keys - width).toLong)
    Seq.fill(n)(change(lo + rnd.nextLong(width.toLong)))
  }
}

/** Keep-latest CDC upsert into a 16-bucket partitioned snapshot, driven
  * as a closed loop with one client: write one change file, call
  * `Ingest.cdcUpsertStreamPartitioned` (AvailableNow drains it), write
  * the next. Operations per round: two small batches (200 changes on 6
  * neighbouring keys, so few buckets are touched), then one large batch
  * (20,000 changes over all 20,000 keys). */
final class CdcUpsert(val spark: SparkSession, val r: Runner, seed: Long) extends Part {
  val key = "cdc"

  private val keys = 20000
  private val smallN = 200
  private val smallWidth = 6
  private val largeN = 20000
  private val smallPerRound = 2
  private val nBuckets = 16

  private var log: ChangeLog = _
  private var dir = ""
  private var nFiles = 0
  private val rewritten = mutable.ArrayBuffer.empty[Int]

  /** A fresh change log and its initial load (every key created once)
    * applied to a new snapshot: the state a consumer starts from. */
  def prepare(d: String): Unit = {
    rm(d)
    dir = d
    nFiles = 0
    log = new ChangeLog(seed, keys)
    feed(log.load())
    ingest()
  }

  /** One small batch that merges into the loaded snapshot: the stream's
    * first merge, untimed, as a long-running consumer makes it once. */
  override def warmup(): Unit = {
    feed(log.small(smallN, smallWidth))
    r.op(0, "batch.small", smallN)(ingest())
  }

  def round(i: Int): Unit = {
    val batches = (1 to smallPerRound).map(k => s"batch.small.$k" -> log.small(smallN, smallWidth)) :+
      ("batch.large" -> log.large(largeN))
    batches.foreach { case (name, b) =>
      feed(b)
      val before = if (r.trace.isDefined) buckets() else Map.empty[String, Map[String, (Long, Long)]]
      r.op(i, name, b.size, call = true)(ingest())
      if (r.trace.isDefined) {
        val after = buckets()
        rewritten += (before.keySet ++ after.keySet).count(k => before.get(k) != after.get(k))
      }
    }
  }

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("name", StringType), StructField("balance", LongType),
    StructField("version", LongType)))

  private def src = s"$dir/src"
  private def snapshot = s"$dir/snapshot"

  /** Write the next change file: aside first, then moved in, so the
    * file source never lists a half-written file. */
  private def feed(b: Seq[Change]): Unit = {
    nFiles += 1
    Files.createDirectories(Paths.get(src))
    val tmp = Paths.get(dir, s".b$nFiles.json")
    Files.write(tmp, b.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(tmp, Paths.get(src, f"b$nFiles%05d.json"))
  }

  private def ingest(): Unit = r.span("streaming")(
    Ingest.cdcUpsertStreamPartitioned(spark, schema, "id", src, snapshot,
      s"$dir/checkpoint", nBuckets))

  /** (size, mtime) of every snapshot file by relative path: a rewrite
    * writes new files, so any rewrite shows. */
  private def files(): Map[String, (Long, Long)] = {
    val root = Paths.get(snapshot)
    if (!Files.exists(root)) return Map.empty
    val s = Files.walk(root)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p))
      .map(p => root.relativize(p).toString ->
        (Files.size(p), Files.getLastModifiedTime(p).toMillis))
      .toMap
    finally s.close()
  }

  /** The snapshot's files grouped by `kb=` bucket directory. */
  private def buckets(): Map[String, Map[String, (Long, Long)]] =
    files().groupBy(_._1.takeWhile(_ != '/'))

  override def checks(): Seq[Check] = {
    // Exactly once: a call with no new file leaves the snapshot as it was.
    val before = files()
    val again = scala.util.Try(ingest())
    val after = files()
    val unchanged = Check("cdc_no_new_file_no_rewrite", again.isSuccess && before == after,
      again.failed.map(_.toString).getOrElse(s"${before.size} files before, ${after.size} after"))
    val got = spark.read.parquet(snapshot).select("id", "name", "balance", "version")
      .collect().map(x => x.getLong(0) -> (x.getString(1), x.getLong(2), x.getLong(3))).toMap
    val want = CdcFold.fold(log.all).map { case (k, c) => k -> (c.name, c.balance, c.lsn) }
    val diff = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
    Seq(unchanged, Check("cdc_snapshot_equals_fold", diff == 0,
      s"${got.size} snapshot rows, ${want.size} fold rows, $diff keys differ"))
  }

  def facts(): Map[String, Any] = Map("changes" -> log.all.size)

  def layers(t: Trace): Map[String, Double] = {
    val batches = (o: Op) => o.name.startsWith("batch.")
    val ok = r.ops.filter(o => o.ok && batches(o)).map(_.seconds).sorted
    Map(
      "cdc.batch_max_s" -> ok.lastOption.getOrElse(0.0),
      "cdc.jobs_per_batch" -> t.total(labels(batches)).jobs.toDouble /
        math.max(1, r.ops.count(batches)),
      "cdc.buckets_rewritten" ->
        (if (rewritten.isEmpty) 0.0 else rewritten.sum.toDouble / rewritten.size),
      "cdc.snapshot_bytes" -> bytesUnder(snapshot).toDouble,
      "cdc.large_rows_per_s" -> {
        val large = r.ops.filter(o => o.ok && o.name == "batch.large")
        val s = large.map(_.seconds).sum
        if (s > 0) large.map(_.rows).sum / s else 0.0
      })
  }
}
