package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (one per JVM, the mains' recipe). */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session.local(4)

  def sf0001 = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // keep the session for sibling suites (same JVM); just clear cache
    spark.catalog.clearCache()
    super.afterAll()
  }

  def tempDir(prefix: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d
  }
}
