package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkEntry
import graft.operators.Multimodal
import graft.streaming.Ingest

/** Driver-side job-structure profile: per measured body, wall time,
  * Spark jobs (with each job's wall), completed stages, executor task
  * time and a census of stage names — the numbers that separate "slow
  * because it computes a lot" from "slow because it launches 25
  * sequential jobs of fixed overhead each".
  *
  *   runMain graft.tools.Profile queries <q1,q2,...> [sfDir] [reps]
  *   runMain graft.tools.Profile streams [sfDir]
  *
  * `queries` runs declared queries and writes their full output to the
  * noop sink (a bare `count()` lets Catalyst prune the very columns a
  * query exists to compute); the best of `reps` cold runs is reported.
  * `streams` drives each foreachBatch stream, the stream-state
  * maintenance calls and CurateMedia once, cold, over fixtures in a
  * temp dir: streams are stateful, so a scenario is not repeated, and
  * the first one absorbs JVM warmup (read job and stage counts as the
  * signal, wall as noisy).
  */
object Profile {

  /** One measured body. `jobSecs` is each job's wall, by job id. */
  final case class Entry(name: String, wallSec: Double, jobSecs: Map[Int, Double],
      stages: Int, taskTimeMs: Long, stageNames: Seq[String]) {
    def jobs: Int = jobSecs.size
  }

  /** Listener events are attributed by a per-body job tag, so jobs that
    * other threads run at the same time, or the tail of an earlier body,
    * are never counted. Tags, not job groups: a streaming query sets its
    * own job group (its run id) on the thread it starts, while tags are
    * inherited by that thread. */
  final class Recorder(spark: SparkSession) extends SparkListener with AutoCloseable {
    private val sc = spark.sparkContext
    private val seq = new AtomicInteger
    private final class Acc {
      var jobSecs = Map.empty[Int, Double]
      var stages = 0
      var taskTimeMs = 0L
      var stageNames = Vector.empty[String]
    }
    private val accs = new ConcurrentHashMap[String, Acc]
    private val jobs = new ConcurrentHashMap[Int, (Acc, Long)]
    private val stageAccs = new ConcurrentHashMap[Int, Acc]
    sc.addSparkListener(this)

    // SparkContext.SPARK_JOB_TAGS / SPARK_JOB_TAGS_SEP are private[spark]
    private def accOf(props: java.util.Properties): Option[Acc] =
      Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(',')).flatMap(t => Option(accs.get(t))).headOption

    override def onJobStart(e: SparkListenerJobStart): Unit =
      accOf(e.properties).foreach(a => jobs.put(e.jobId, (a, e.time)))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { case (a, t0) =>
        a.synchronized { a.jobSecs += e.jobId -> (e.time - t0) / 1000.0 }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      accOf(e.properties).foreach(stageAccs.put(e.stageInfo.stageId, _))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageAccs.get(e.stageInfo.stageId)).foreach { a =>
        a.synchronized {
          a.stages += 1
          a.taskTimeMs += e.stageInfo.taskMetrics.executorRunTime
          a.stageNames :+= e.stageInfo.name.takeWhile(_ != '\n').take(90)
        }
      }

    /** Runs `body` under a fresh job tag and reports what it cost once
      * the listener bus has delivered every event. */
    def measure(name: String)(body: => Unit): Entry = {
      val tag = s"graft-profile-${seq.incrementAndGet()}"
      val acc = new Acc
      accs.put(tag, acc)
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      try body finally sc.removeJobTag(tag)
      val wall = (System.nanoTime() - t0) / 1e9
      BusDrain.drain(sc)
      accs.remove(tag)
      acc.synchronized {
        Entry(name, wall, acc.jobSecs, acc.stages, acc.taskTimeMs, acc.stageNames)
      }
    }

    def close(): Unit = sc.removeSparkListener(this)
  }

  private def report(e: Entry, reps: Seq[Double] = Nil): Unit = {
    val repsNote =
      if (reps.size > 1) reps.map(r => f"$r%.2f").mkString("  (reps: ", ", ", ")") else ""
    println(f"${e.name}%-34s wall=${e.wallSec}%6.2f s  jobs=${e.jobs}%3d  " +
      f"stages=${e.stages}%4d  taskTime=${e.taskTimeMs / 1000.0}%7.2f s$repsNote")
    println("   slowest jobs: " + e.jobSecs.toSeq.sortBy(-_._2).take(8)
      .map { case (id, s) => f"#$id:$s%.2f" }.mkString("  "))
    e.stageNames.groupBy(identity).toSeq.sortBy(g => (-g._2.size, g._1)).take(20)
      .foreach { case (n, g) => println(f"   ${g.size}%3d x $n") }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile queries <q1,q2,...> [sfDir] [reps] | Profile streams [sfDir]"
    require(args.nonEmpty && Set("queries", "streams").contains(args(0)), usage)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = graft.Sessions.local(cpus, appName = s"profile-${args(0)}")
    val rec = new Recorder(spark)
    try args(0) match {
      case "queries" =>
        require(args.length > 1, usage)
        val names = args(1).split(',').toSeq
        val unknown = names.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
        val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
        val reps = if (args.length > 3) args(3).toInt else 2
        names.foreach { name =>
          val runs = (1 to reps).map { _ =>
            spark.catalog.clearCache()
            rec.measure(name) {
              SparkEntry.queries(name)(spark, sfDir)
                .write.format("noop").mode("overwrite").save()
            }
          }
          report(runs.minBy(_.wallSec), runs.map(_.wallSec))
        }
      case "streams" =>
        streams(spark, if (args.length > 1) args(1) else "/root/testdata/sf0.1", rec)
    } finally {
      rec.close()
      spark.stop()
    }
  }

  /** The ten streaming scenarios; each is measured after its fixtures
    * are written. */
  private def streams(spark: SparkSession, sfDir: String, rec: Recorder): Unit = {
    import spark.implicits._
    def measure(name: String)(body: => Unit): Unit = {
      spark.catalog.clearCache()
      report(rec.measure(name)(body))
    }
    val tmp = Files.createTempDirectory("profile-streams").toString

    // ── fixtures: the sf docs split into 2 micro-batch files ──
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val docsU = docs.withColumn("url",
      concat(lit("https://ex.com/p/"), (col("doc_id") % 4000).cast("string")))
    def twoBatches(df: DataFrame, dir: String, id: String = "doc_id"): Unit = {
      df.filter(col(id) % 2 === 0).coalesce(1).write.mode("append").parquet(dir)
      df.filter(col(id) % 2 =!= 0).coalesce(1).write.mode("append").parquet(dir)
    }
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")

    // 1. jsonl ingest: the docs as JSON lines, one bad line planted
    locally {
      val src = s"$tmp/jsonl-src"
      Files.createDirectories(Paths.get(src))
      val lines = docs.toJSON.collect()
      Files.write(Paths.get(src, "b1.json"),
        (lines.take(lines.length / 2) :+ "{not json").mkString("\n").getBytes)
      Files.write(Paths.get(src, "b2.json"),
        lines.drop(lines.length / 2).mkString("\n").getBytes)
      measure("jsonlIngestStream (2 batches)") {
        Ingest.jsonlIngestStream(spark, docs.schema, src,
          s"$tmp/jsonl-good", s"$tmp/jsonl-bad", s"$tmp/jsonl-ck")
      }
    }

    // 2. partitioned CDC upsert: create+update envelopes over 5k keys
    locally {
      val rowSchema = StructType(Seq(
        StructField("id", LongType), StructField("v", StringType)))
      val src = s"$tmp/cdc-src"
      Files.createDirectories(Paths.get(src))
      def env(op: String, id: Long, lsn: Long): String =
        s"""{"payload":{"op":"$op","before":null,"after":{"id":$id,"v":"v$lsn"},""" +
          s""""source":{"lsn":$lsn},"ts_ms":${1700000000000L + lsn}}}"""
      Files.write(Paths.get(src, "b1.json"),
        (1L to 5000L).map(i => env("c", i, i)).mkString("\n").getBytes)
      Files.write(Paths.get(src, "b2.json"),
        (1L to 1000L).map(i => env("u", i * 5, 10000 + i)).mkString("\n").getBytes)
      measure("cdcUpsertStreamPartitioned (2 b.)") {
        Ingest.cdcUpsertStreamPartitioned(spark, rowSchema, "id", src,
          s"$tmp/cdc-out", s"$tmp/cdc-ck", nBuckets = 8)
      }
    }

    // 3. URL dedup ingest (first-arrived-wins, persisted norm_url index)
    locally {
      val src = s"$tmp/url-src"
      twoBatches(docsU, src)
      measure("urlDedupIngestStream (2 batches)") {
        Ingest.urlDedupIngestStream(spark, docsU.schema, src,
          s"$tmp/url-corpus", s"$tmp/url-idx", s"$tmp/url-ck")
      }
    }

    // 4. near-dup dedup ingest (minhash/LSH band index across batches)
    locally {
      val src = s"$tmp/dedup-src"
      twoBatches(docs, src)
      measure("dedupIngestStream (2 batches)") {
        Ingest.dedupIngestStream(spark, docs.schema, src,
          s"$tmp/dedup-corpus", s"$tmp/dedup-idx", s"$tmp/dedup-ck")
      }
    }

    // 5. full curate ingest (gate -> dedup -> index -> budget state)
    locally {
      val src = s"$tmp/curate-src"
      twoBatches(docs, src)
      measure("curateIngestStream (2 batches)") {
        Ingest.curateIngestStream(spark, docs.schema, src,
          s"$tmp/curate-out", s"$tmp/curate-idx", s"$tmp/curate-state",
          s"$tmp/curate-ck", budgetTokens = 100000000L)
      }
    }

    // 6. semantic decontamination stream (frozen eval vectors)
    locally {
      val src = s"$tmp/sem-src"
      twoBatches(emb, src, "vec_id")
      val eval = emb.filter(col("vec_id") < 100)
        .select((col("vec_id") + 900000).as("vec_id"), col("embedding"))
      measure("semDeconStream (2 batches)") {
        Ingest.semDeconStream(spark, emb.schema, src, s"$tmp/sem-out",
          eval, s"$tmp/sem-ck")
      }
    }

    // 7. media decontamination stream (frozen pHash index, 500 images)
    locally {
      val src = s"$tmp/mdc-src"
      val evIdx = s"$tmp/mdc-evidx"
      Multimodal.writePHashIndex(
        Multimodal.imageFixtures(spark.range(50).select(($"id" + 10000).as("doc_id"))),
        evIdx)
      val b1 = Multimodal.imageFixtures(spark.range(250).select($"id".as("doc_id")))
      val b2 = Multimodal.imageFixtures(
        spark.range(250).select(($"id" + 250).as("doc_id")))
      b1.toDF().coalesce(1).write.mode("append").parquet(src)
      b2.toDF().coalesce(1).write.mode("append").parquet(src)
      val ev = spark.read.parquet(evIdx)
      measure("mediaDeconStream (2 batches)") {
        Ingest.mediaDeconStream(spark, b1.toDF().schema, src, s"$tmp/mdc-out",
          ds => Multimodal.decontaminateImagesAgainstIndex(ds, ev),
          s"$tmp/mdc-ck")
      }
    }

    // 8. stream-state maintenance: compact a 6-partition delta dir,
    //    vacuum a 6-partition snapshot dir
    locally {
      val st = s"$tmp/maint-state"
      (0L to 5L).foreach { id =>
        docs.filter(col("doc_id") % 6 === id).select("doc_id", "n_chars")
          .write.mode("overwrite").parquet(s"$st/batch_id=$id")
      }
      measure("compactStreamState (6 parts)") {
        Ingest.compactStreamState(spark, st); ()
      }
      val sn = s"$tmp/maint-snap"
      (0L to 5L).foreach { id =>
        docs.limit(100).select("doc_id").write.mode("overwrite")
          .parquet(s"$sn/batch_id=$id")
      }
      measure("vacuumStreamSnapshots (6 parts)") {
        Ingest.vacuumStreamSnapshots(spark, sn); ()
      }
    }

    // 9. CurateMedia end-to-end (300 mixed media rows, stats + indexes)
    locally {
      val media = Multimodal.imageFixtures(
          spark.range(100).select($"id".as("doc_id")))
        .unionByName(Multimodal.audioFixtures(
          spark.range(100).select(($"id" + 1000).as("doc_id"))))
        .unionByName(Multimodal.videoFixtures(
          spark.range(100).select(($"id" + 2000).as("doc_id"))))
      measure("CurateMedia.run (300 rows, stats)") {
        val (out, st) = graft.pipelines.CurateMedia.run(media,
          indexRoot = Some(s"$tmp/cm-idx"))
        out.write.format("noop").mode("overwrite").save()
        assert(st.nonEmpty)
      }
    }
  }
}
