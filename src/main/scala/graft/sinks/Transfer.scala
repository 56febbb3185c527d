package graft.sinks

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** Idempotent conditional copy (reference A10,
  * lambdas/data-transfer/handler.py:18-63): events flagged `upload` are
  * copied to `{target}/{collection}/{basename}` unless the destination
  * already exists, and their `s3_filename` is rewritten to the target URI;
  * events without `upload` pass through untouched.
  *
  * Scale design: the reference's per-record `head_object` existence check
  * becomes a **left-anti join** against a one-shot listing of the target
  * (set-difference semantics — one listing instead of N HEAD requests),
  * and the copies run distributed in `foreachPartition`. Idempotence is
  * structural: a re-run's anti-join finds nothing to copy. Destinations
  * are written through [[OutputFs]], so a local target costs no `chmod`
  * process per copied file.
  */
object Transfer {

  /** Derive target key + URI columns. `basename` after the last '/'
    * (handler.py:36-42). */
  def withTargetColumns(events: DataFrame, targetRoot: String): DataFrame = {
    val base = element_at(split(col("s3_filename"), "/"), -1)
    events
      .withColumn("target_key", concat(col("collection"), lit("/"), base))
      .withColumn("target_url",
        concat(lit(targetRoot.stripSuffix("/") + "/"), col("target_key")))
  }

  /** The copy plan: events needing a copy = upload ∧ (target key absent),
    * via anti-join against the target listing.
    *
    * The listing reuses the DISTRIBUTED two-level lister
    * ([[graft.sources.Discovery.listKeys]]) — at 100 TB the target
    * bucket's keys never materialize on the driver; the anti-join side
    * stays a DataFrame Catalyst can plan (broadcast when small, shuffled
    * when not).
    */
  def copyPlan(events: DataFrame, targetRoot: String,
      overlays: Map[String, Map[String, String]] = Map.empty): DataFrame = {
    val spark = events.sparkSession
    val targetListing = graft.sources.Discovery
      .listKeys(spark, graft.sources.Discovery.DiscoveryRequest(bucket = targetRoot),
        overlays)
      .toDF("target_key", "size")
      .select("target_key")
    withTargetColumns(events, targetRoot)
      .filter(col("upload"))
      .join(targetListing, Seq("target_key"), "left_anti")
  }

  /** Execute the transfer: run the distributed copies, then return ALL
    * events with `s3_filename` rewritten for the uploaded ones
    * (handler.py:61 — rewrite happens whether or not a copy was needed).
    *
    * `overlays` is the cross-account seam (reference data-transfer/
    * handler.py:22-31 assumes an external role for the source side):
    * URI-prefix → Hadoop settings resolved independently for the source
    * and destination of each copy, so a provider bucket under role X
    * and the pipeline's own bucket under default credentials ride one
    * job ([[graft.sources.SourceConf]]).
    */
  def execute(events: DataFrame, targetRoot: String,
      overlays: Map[String, Map[String, String]] = Map.empty): DataFrame = {
    val spark = events.sparkSession
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    copyPlan(events, targetRoot, overlays)
      .select(col("s3_filename"), col("target_url"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          val src = new Path(r.getString(0))
          val dst = new Path(r.getString(1))
          val srcConf = graft.sources.SourceConf.resolve(conf.value, overlays, r.getString(0))
          val dstConf = graft.sources.SourceConf.resolve(conf.value, overlays, r.getString(1))
          val sfs = src.getFileSystem(srcConf)
          val dfs = OutputFs.get(dst, dstConf)
          FileUtil.copy(sfs, src, dfs, dst, false, true, dstConf)
        }
      }
    withTargetColumns(events, targetRoot)
      .withColumn("s3_filename",
        when(col("upload"), col("target_url")).otherwise(col("s3_filename")))
      .drop("target_key", "target_url")
  }
}
