package graft.tools

import com.fasterxml.jackson.databind.ObjectMapper

import graft.pipeline.Ingest
import graft.sinks.PublishSink
import graft.sources.Discovery
import graft.sources.Discovery.DiscoveryRequest

/** Bulk ingest driver (reference A21, scripts/item.py:9-23 +
  * scripts/utils.py:13-27): glob discovery-input JSON files (single
  * event or array — both normalized), run each through the composed
  * ingest pipeline.
  *
  * Usage:
  *   sbt "runMain graft.tools.InsertItems <inputGlobDir> <workDir> [pattern]"
  *
  * Input event format per FIXTURES.md §A1 (bucket/prefix/filename_regex/
  * collection/upload/datetime_range/...).
  */
object InsertItems {

  private val mapper = new ObjectMapper()

  def parseEvents(json: String): Seq[DiscoveryRequest] = {
    val root = mapper.readTree(json)
    // scripts/item.py:14-15 — single object or array, both accepted
    val nodes = if (root.isArray)
      (0 until root.size()).map(root.get)
    else Seq(root)
    nodes.map { n =>
      def opt(f: String): Option[String] =
        Option(n.get(f)).filterNot(_.isNull).map(_.asText())
      DiscoveryRequest(
        bucket = n.get("bucket").asText(),
        prefix = opt("prefix").getOrElse(""),
        filenameRegex = opt("filename_regex"),
        collection = opt("collection"),
        upload = Option(n.get("upload")).exists(_.asBoolean(false)),
        cogify = Option(n.get("cogify")).exists(_.asBoolean(false)),
        datetimeRange = opt("datetime_range"),
        idRegex = opt("id_regex"))
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: InsertItems <inputDir> <workDir> [pattern]")
    val (inputDir, workDir) = (args(0), args(1))
    val pattern = if (args.length > 2) args(2) else ""

    val spark = graft.Session.local(graft.Session.cpus)

    val files = new java.io.File(inputDir).listFiles()
      .filter(f => f.getName.endsWith(".json") && f.getName.startsWith(pattern))
      .sortBy(_.getName)
    println(s"[insert-items] ${files.length} input file(s)")

    val cfg = Ingest.IngestConfig(
      targetRoot = s"file:$workDir/target",
      spillDir = s"file:$workDir/spill",
      dryRunDir = s"$workDir/dry")

    files.foreach { f =>
      val events = parseEvents(new String(
        java.nio.file.Files.readAllBytes(f.toPath)))
      events.foreach { req =>
        val assets = Discovery.discover(spark, req).toDF()
        val (published, dlq) = Ingest.run(assets, cfg,
          () => new PublishSink.DryRunPoster(cfg.dryRunDir))
        println(s"[insert-items] ${f.getName}: published=${published.count()} " +
          s"dlq=${dlq.count()}")
      }
    }
    spark.stop()
  }
}
