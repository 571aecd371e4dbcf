package graft

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one fork, one session).
  * Reliable checkpoints go to a temp dir of this JVM's own, deleted
  * when the JVM exits, and are cleaned as their frames are collected
  * (the `Sessions` setting), so test runs leave no checkpoint files. */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val checkpoints = Files.createTempDirectory("graft-test-checkpoints")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(checkpoints.toFile))
    s.sparkContext.setCheckpointDir(checkpoints.toString)
    graft.expressions.GraftFunctions.register(s)
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark
  def sf: String = TestSession.sf

  private val tmpDirs = ArrayBuffer.empty[Path]

  /** A fresh temp directory, deleted with its contents after the suite
    * together with the siblings a test derives from its name
    * (`<dir>-idx`, `<dir>_bak`, ...). */
  protected def tmp(prefix: String): String = tmpDirs.synchronized {
    val dir = Files.createTempDirectory(prefix)
    tmpDirs += dir
    dir.toString
  }

  override protected def afterAll(): Unit =
    try tmpDirs.synchronized {
      tmpDirs.foreach { d =>
        val name = d.getFileName.toString
        // the random suffix is digits: a longer-digit name is another dir
        Option(d.getParent.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(f => f.getName == name || (f.getName.startsWith(name) &&
            !f.getName.charAt(name.length).isDigit))
          .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      }
      tmpDirs.clear()
    } finally super.afterAll()
}
