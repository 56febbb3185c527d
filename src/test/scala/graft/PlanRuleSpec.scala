package graft

import org.apache.spark.sql.functions._

import graft.plans.RegexPrefixPushdown

/** RegexPrefixPushdown: prefix extraction, plan rewrite + pushdown to
  * the parquet scan, result equivalence, idempotency. */
class PlanRuleSpec extends SparkSuite {

  test("literal prefix extraction from anchored patterns") {
    import RegexPrefixPushdown.literalPrefix
    assert(literalPrefix("^OMI_trno2_.*\\.he5$").contains("OMI_trno2_"))
    assert(literalPrefix("^web").contains("web"))
    // top-level alternation: RLike's contains semantics make '^a|b' match
    // strings with no 'a' prefix at all — must NOT push anything
    assert(literalPrefix("^a|b").isEmpty)
    assert(literalPrefix("^ab(c|d)e").contains("ab")) // grouped alt is fine
    assert(literalPrefix("^a\\|b").contains("a")) // escaped '|' is literal
    // a quantifier makes the run's last char optional — drop it
    assert(literalPrefix("^logs?").contains("log"))
    assert(literalPrefix("^webs*").contains("web"))
    assert(literalPrefix("^ab{0,3}").contains("a"))
    assert(literalPrefix("^logs+").contains("logs")) // '+' keeps it required
    assert(literalPrefix("^s?").isEmpty) // quantified single char: nothing left
    assert(literalPrefix("unanchored").isEmpty)
    assert(literalPrefix("^.*x").isEmpty) // empty literal run
    assert(literalPrefix("^(?i)x").isEmpty) // inline flags: bail
  }

  test("anchored rlike filter gains a pushed StartsWith on the scan") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val q = docs.filter(col("source").rlike("^src1.*")).select(col("doc_id"))
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("StringStartsWith(source,src1)"),
      s"StartsWith not pushed to the scan:\n$physical")
    // same rows as java.util.regex on the driver (RLike is a find()):
    // the regex stays as the residual filter
    val re = java.util.regex.Pattern.compile("^src1.*")
    val expected = docs.select(col("doc_id"), col("source")).collect()
      .filter(r => !r.isNullAt(1) && re.matcher(r.getString(1)).find())
      .map(_.getLong(0)).sorted.toSeq
    val got = q.collect().map(_.getLong(0)).sorted.toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("registered queries push filters and prune columns at the scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // representative of the whole registered surface: a selective
    // filter+aggregate must reach the parquet reader as PushedFilters
    // and read ONLY the referenced columns — a scan that reads all 16
    // lineitem columns for a 3-column query is wrong at any scale
    // AQE wraps stages in QueryStageExec leaves that hide their subtree
    // from collect(); disable it for this plan-shape assertion
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = SparkEntry.queries("q02_selective_agg")(spark, sf0001)
      val scans = q.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }
      assert(scans.nonEmpty, "expected a parquet scan")
      val li = scans.find(_.metadata("Location").contains("lineitem"))
        .getOrElse(scans.head)
      val pushed = li.metadata("PushedFilters")
      assert(pushed != "[]" && pushed.contains("GreaterThan"),
        s"selective predicate not pushed: $pushed")
      val readSchema = li.metadata("ReadSchema")
      val allCols = Tables.lineitem(spark, sf0001).columns.length
      val readCols = readSchema.count(_ == ':')
      assert(readCols < allCols / 2,
        s"column pruning failed: read $readCols of $allCols columns: $readSchema")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("rule is idempotent (fixpoint under repeated application)") {
    import spark.implicits._
    val plan = Seq(("webcrawl-1", 1L)).toDF("source", "doc_id")
      .filter(col("source").rlike("^web.*"))
      .queryExecution.analyzed
    val once = RegexPrefixPushdown(plan)
    val twice = RegexPrefixPushdown(once)
    assert(once.toString == twice.toString, s"grew on second apply:\n$twice")
  }
}
