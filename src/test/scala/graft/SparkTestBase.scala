package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (sbt runs suites in one
  * JVM; getOrCreate returns the same session). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.build("local[4]", 4)
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` on a new directory under `java.io.tmpdir` and deletes
    * the directory and everything in it afterwards, pass or fail. */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally FileUtils.deleteDirectory(dir.toFile)
  }
}
