package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one session recipe: the shared test session is `Session.local`, so
  * it carries GraftExtensions' functions and rules with no per-spec
  * set-up; and no other source file builds a session of its own. */
class SessionSpec extends SparkSuite {

  test("the shared session resolves the engine's SQL functions") {
    val r = spark.sql("""SELECT
        extract_filename_dates('s3://b/x_20200214.tif', 'month').start_datetime AS d,
        derive_item_id('s3://b/no2/x_20200214.tif', 's3://([^/]*)/(.+)\\.tif$') AS id""")
      .head()
    assert(r.getAs[java.sql.Timestamp]("d").toString == "2020-02-01 00:00:00.0")
    assert(r.getAs[String]("id") == "b-no2/x_20200214")
  }

  test("the shared session pushes an anchored rlike's prefix to the scan") {
    assert(spark.experimental.extraOptimizations.isEmpty)
    val q = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("source").rlike("^src1.*")).select(col("doc_id"))
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("StringStartsWith(source,src1)"),
      s"StartsWith not pushed to the scan:\n$physical")
  }
}

/** Guards the recipe against drift: `graft/Session.scala` is the only
  * source file that builds a SparkSession. */
class SessionRecipeGuardSpec extends AnyFunSuite {

  test("only graft/Session.scala builds a SparkSession") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val recipe = Paths.get("src/main/scala/graft/Session.scala")
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val s = Files.walk(Paths.get(root))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(sources.contains(recipe))
    val offenders = sources.filter { p: Path =>
      p != recipe && builder.findFirstIn(Files.readString(p)).nonEmpty
    }
    assert(offenders.isEmpty,
      s"build the session with graft.Session.local, not in: ${offenders.mkString(", ")}")
  }
}
