package graft

import org.apache.spark.sql.SparkSession

/** The engine's one local SparkSession recipe: every main and the test
  * suites build their session here, so the plans Verify checks against
  * the oracle are the plans Bench times and Smoke runs. */
object Session {

  /** Core count the mains run with: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) — read as long, normalized
      // back to µs timestamps in graft.Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      // hard-fail on custom-expression codegen errors instead of the
      // silent interpreted fallback
      .config("spark.sql.codegen.fallback", "false")
      // static conf: must be set at build time (bucketed-table specs)
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
