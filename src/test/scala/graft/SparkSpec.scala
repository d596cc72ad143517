package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, one session). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val wh = Files.createTempDirectory("graft_wh").toFile
    org.apache.spark.sql.graftbridge.Bridge.deleteOnShutdown(wh)
    val s = Session.builder
      .config("spark.sql.warehouse.dir", wh.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` on a fresh temp dir `prefix…` and deletes the dir when
    * `body` returns or throws. */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  @volatile private var suiteDir: Path = _

  /** Each suite runs inside one [[SparkSpec.withTempDir]], so every temp
    * dir its tests make is deleted when the suite ends, also on failure.
    * Suite scope, not test scope: lazy fixtures are shared across tests. */
  override def run(testName: Option[String], args: Args): Status =
    SparkSpec.withTempDir(s"graft_spec_${suiteName}_") { dir =>
      suiteDir = dir
      val status = super.run(testName, args)
      status.waitUntilCompleted()
      status
    }

  /** A fresh dir `prefix…` under the suite's temp dir. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(suiteDir, prefix)
}
