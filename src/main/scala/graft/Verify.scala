package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump `names` (every registered query when empty) under `outDir`:
    * one parquet directory per query, `oracle_sql.json` restricted to
    * the dumped names, `gates.json` and `_failed.json`. Returns the
    * failures (name → message); the session stays open. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String] = Nil): Map[String, String] = {
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val selected = if (names.isEmpty) queries.keys.toSeq else names
    new java.io.File(outDir).mkdirs()
    // A query that throws must be IMPOSSIBLE to miss: round 9's three
    // analysis failures produced no dump, so the driver emitted no
    // correctness row at all and the breakage was invisible in every
    // artifact. Collect failures into a manifest written next to the dumps.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        failed(name) = msg.take(500)
      }
      // drop intermediates persisted inside queries (LSH stages) so one
      // query's cache can't pressure the next
      spark.catalog.clearCache()
    }
    def q(s: String): String = JsonUtil.quote(s)
    val keep = selected.toSet
    val json = SparkEntry.oracleSql.filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // per-query gate provenance (oracle vs named golden/spec gates) —
    // the machine-checkable form of COVERAGE.md's correctness story
    Files.writeString(Paths.get(s"$outDir/gates.json"), SparkEntry.gatesJson)
    // Always write the manifest (empty {} on a clean run) so its absence
    // vs emptiness is never ambiguous.
    val failedJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failedJson)
    failed.toMap
  }

  /** usage: Verify <sfDir> <outDir> [name…] */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [name...]")
    val spark = Session.local(Session.cpus)
    val failed = dump(spark, args(0), args(1), args.drop(2).toSeq)
    // Self-heal the committed copy too (r12: a query registered without
    // rerunning WriteGates left gates.json stale and GatesSpec red at
    // HEAD). Verify runs every round and the driver commits the working
    // tree at round end, so the heal guarantees the repo artifact can
    // never drift PAST a round boundary. Adjudicated vs the r13 advice
    // (a verify entrypoint mutating a tracked file can mask staleness):
    // the heal stays default-ON because it is the only mechanism that
    // survives a registration commit made without WriteGates, but it is
    // opt-out-able (-Dgraft.gates.heal=false) and now names the exact
    // follow-up action instead of rewriting silently.
    val repoGates = Paths.get("gates.json")
    if (Files.exists(repoGates) &&
        Files.readString(repoGates).trim != SparkEntry.gatesJson.trim) {
      if (sys.props.getOrElse("graft.gates.heal", "true") == "true") {
        Files.writeString(repoGates, SparkEntry.gatesJson + "\n")
        System.err.println(
          "[verify] WARNING: repo gates.json was STALE — refreshed in the " +
          "working tree. It is a TRACKED artifact: run `git add gates.json` " +
          "and include it in the commit that registered the new queries.")
      } else {
        System.err.println(
          "[verify] WARNING: repo gates.json is STALE (heal disabled via " +
          "-Dgraft.gates.heal=false) — GatesSpec will fail until it is " +
          "regenerated and committed.")
      }
    }
    // Exit code stays 0 — a nonzero exit could make the driver discard
    // the healthy queries' dumps too.
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries FAILED: ${failed.keys.mkString(", ")}")
    }
    spark.stop()
  }
}
