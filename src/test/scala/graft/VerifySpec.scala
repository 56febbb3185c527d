package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** `Verify.dump` with names: only those queries, in the layout
  * `tools/check_oracle.py` reads. */
class VerifySpec extends SparkSuite {

  test("a named dump writes exactly those queries and their oracle entries") {
    val out = tempDir("graft-verify")
    val names = Seq("q01_agg", "q02_selective_agg")
    val failed = Verify.dump(spark, sf0001, out.toString, names)
    assert(failed.isEmpty)
    val dirs = Files.list(out.toPath).iterator.asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet
    assert(dirs == names.toSet)
    names.foreach(n => assert(spark.read.parquet(s"$out/$n").count() > 0))
    val oracle = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readString(Paths.get(s"$out/oracle_sql.json")))
    assert(oracle.fieldNames.asScala.toSet == names.toSet)
    names.foreach(n => assert(oracle.get(n).asText == SparkEntry.oracleSql(n)))
    assert(Files.readString(Paths.get(s"$out/_failed.json")) == "{}")
  }

  test("a named dump refuses an unknown query") {
    val e = intercept[IllegalArgumentException] {
      Verify.dump(spark, sf0001, tempDir("graft-verify").toString, Seq("no_such_query"))
    }
    assert(e.getMessage.contains("no_such_query"))
  }
}
