package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._

import graft.sources.Discovery
import graft.sources.Discovery.DiscoveryRequest
import graft.sinks.{PublishSink, SpillSink, Transfer}

/** End-to-end specs for the pipeline operators, mirroring the reference's
  * own test coverage: discovery filter/projection
  * (s3-discovery/handler.py:42-65), transfer copy + idempotence
  * (data-transfer/tests/test_handler.py:4-23), spill routing
  * (build-stac/handler.py:44-55), publish dry-run/DLQ
  * (submit-stac/handler.py:118-126).
  */
class PipelineSpec extends SparkSuite {

  private def write(dir: java.io.File, rel: String, content: String): Unit = {
    val p = Paths.get(dir.getAbsolutePath, rel)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
  }

  test("discovery lists, filters (anchored regex) and projects events") {
    val bucket = tempDir("bucket")
    write(bucket, "svi/a_housing_1.tif", "x")
    write(bucket, "svi/nested/b_housing_2.tif", "y")
    write(bucket, "svi/c_transport_1.tif", "z")
    write(bucket, "other/d_housing_9.tif", "w")

    val req = DiscoveryRequest(
      bucket = s"file:${bucket.getAbsolutePath}",
      prefix = "svi/",
      filenameRegex = Some("^(.*)_housing_(.*)$"),
      upload = true,
      extras = Map("mode" -> "test"))
    val got = Discovery.discover(spark, req).collect().sortBy(_.s3_filename)

    assert(got.length == 2)
    assert(got.forall(_.collection == "svi")) // default: prefix minus '/'
    assert(got.forall(_.upload))
    assert(got.forall(!_.cogify))
    assert(got.forall(_.extras == Map("mode" -> "test")))
    assert(got.map(_.s3_filename).forall(_.contains("_housing_")))
    assert(got.head.s3_filename.startsWith("file:/"))
  }

  test("discovery regex anchors at start like re.match") {
    val bucket = tempDir("bucket2")
    write(bucket, "pre/match_me.tif", "1")
    write(bucket, "pre/no_match_me.tif", "2")
    val req = DiscoveryRequest(s"file:${bucket.getAbsolutePath}", "pre/",
      filenameRegex = Some("pre/match"))
    val got = Discovery.discover(spark, req).collect()
    assert(got.map(_.s3_filename).mkString.contains("/match_me.tif"))
    assert(got.length == 1) // "no_match_me" contains but does not start with it
  }

  test("cogify router splits one pass into two streams") {
    val df = spark.range(10).toDF("id").withColumn("cogify", col("id") % 2 === 0)
    val (cog, plain) = Discovery.routeCogify(df)
    assert(cog.count() == 5 && plain.count() == 5)
  }

  test("transfer copies byte-identical, rewrites uri, skips on re-run") {
    import spark.implicits._
    val src = tempDir("src"); val dst = tempDir("dst")
    write(src, "test-key", "SOME BYTES")
    write(src, "skip-key", "OTHER")

    val events = Seq(
      ("coll", s"file:${src.getAbsolutePath}/test-key", true),
      ("coll", s"file:${src.getAbsolutePath}/skip-key", false)
    ).toDF("collection", "s3_filename", "upload")

    val targetRoot = s"file:${dst.getAbsolutePath}"
    assert(Transfer.copyPlan(events, targetRoot).count() == 1)
    val out = Transfer.execute(events, targetRoot).collect()

    // copied byte-identical to {collection}/{basename}
    val copied = Paths.get(dst.getAbsolutePath, "coll/test-key")
    assert(Files.exists(copied))
    assert(new String(Files.readAllBytes(copied), StandardCharsets.UTF_8) == "SOME BYTES")
    // uri rewritten only for the uploaded event
    val byUpload = out.map(r => r.getBoolean(2) -> r.getString(1)).toMap
    assert(byUpload(true) == s"$targetRoot/coll/test-key")
    assert(byUpload(false).endsWith("/skip-key"))
    // idempotence: second plan is empty (anti-join finds the key)
    assert(Transfer.copyPlan(events, targetRoot).count() == 0)
  }

  test("spill sink routes by size and resolve() inverts") {
    import spark.implicits._
    val spill = tempDir("spill")
    val small = """{"id":"small"}"""
    val big = """{"id":"big","pad":"""" + ("x" * 300) + """"}"""
    val df = Seq(small, big).toDF("item_json")

    val routed = SpillSink.route(df, "item_json", s"file:${spill.getAbsolutePath}",
      threshold = 100)
    val rows = routed.collect()
    val inline = rows.find(_.getAs[String]("stac_item") != null).get
    val ptr = rows.find(_.getAs[String]("stac_file_url") != null).get
    assert(inline.getAs[String]("stac_item") == small)
    assert(ptr.getAs[String]("stac_item") == null)
    assert(ptr.getAs[String]("stac_file_url").endsWith(".json"))

    val resolved = SpillSink.resolve(routed).select("resolved_item")
      .as[String].collect().toSet
    assert(resolved == Set(small, big))
  }

  test("spill sink: a spilled payload is named by its SHA-256; the threshold counts chars") {
    import spark.implicits._
    val spill = tempDir("spillname")
    val big = """{"id":"big","pad":"""" + ("y" * 200) + """"}"""
    val wide = "ü" * 80 // 160 UTF-8 bytes but 80 characters: inline
    val routed = SpillSink.route(Seq(big, wide).toDF("item_json"), "item_json",
      s"file:${spill.getAbsolutePath}", threshold = 100).collect()

    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(big.getBytes(StandardCharsets.UTF_8))
    val hex = String.format("%064x", new java.math.BigInteger(1, digest))
    val url = routed.find(_.getAs[String]("item_json") == big).get
      .getAs[String]("stac_file_url")
    assert(url == s"file:${spill.getAbsolutePath}/$hex.json")
    assert(new String(Files.readAllBytes(Paths.get(spill.getAbsolutePath, s"$hex.json")),
      StandardCharsets.UTF_8) == big)
    val w = routed.find(_.getAs[String]("item_json") == wide).get
    assert(w.getAs[String]("stac_item") == wide && w.getAs[String]("stac_file_url") == null)

    // one character count, behind the byte-length short circuit: a copy
    // per branch would be hoisted by subexpression elimination and run on
    // every row
    val payloads = spark.range(4).select(repeat(lit("y"), (col("id") * 99).cast("int"))
      .as("item_json"))
    val plan = SpillSink.route(payloads, "item_json",
      s"file:${spill.getAbsolutePath}", threshold = 100).queryExecution.optimizedPlan
    assert(plan.flatMap(_.expressions.flatMap(_.collect {
      case l: org.apache.spark.sql.catalyst.expressions.Length => l
    })).size == 1, plan)
  }

  test("publish sink: dry-run records all, failing posts go to DLQ") {
    import spark.implicits._
    val items = Seq("""{"id":1}""", """{"id":2}""", """BAD""").toDF("resolved_item")

    val dry = tempDir("dry")
    val dlq0 = PublishSink.publish(items, "resolved_item",
      () => new PublishSink.DryRunPoster(dry.getAbsolutePath))
    assert(dlq0.count() == 0)
    val recorded = dry.listFiles().flatMap(f =>
      scala.io.Source.fromFile(f).getLines()).toSet
    assert(recorded == Set("""{"id":1}""", """{"id":2}""", """BAD"""))

    // poster that rejects malformed items → DLQ side output
    class Picky extends PublishSink.ItemPoster {
      def post(item: String): Option[String] =
        if (item.startsWith("{")) None else Some("not json")
    }
    val dlq = PublishSink.publish(items, "resolved_item", () => new Picky)
    assert(dlq.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("BAD", "not json")))
  }
}
