package graft.sinks

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** Size-routed payload spill (reference A17/A18,
  * lambdas/build-stac/handler.py:44-55 and submit-stac/handler.py:96-109):
  * serialized items under the threshold travel inline (`stac_item`);
  * larger ones are written to side storage and replaced by a pointer
  * (`stac_file_url`). `resolve` is the consumer-side inverse.
  *
  * Deviation from the reference, for scale: spill filenames are the
  * sha-256 of the payload rather than `uuid4` (handler.py:51) — content
  * addressing makes retried tasks idempotent (a re-executed Spark task
  * rewrites the same object instead of orphaning a new one).
  *
  * Spill files are created through [[OutputFs]], so a local or mounted
  * (`file:`) spill directory costs no `chmod` process per file.
  */
object SpillSink {

  val DefaultThreshold: Int = 256 * 1024 // handler.py:47

  /** Route `jsonCol` into (stac_item | stac_file_url), spilling big
    * payloads to `spillDir` from the executors. */
  def route(items: DataFrame, jsonCol: String, spillDir: String,
      threshold: Int = DefaultThreshold): DataFrame = {
    val spark = items.sparkSession
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val dir = spillDir.stripSuffix("/")

    val spillUdf = udf { (json: String) =>
      val bytes = json.getBytes(StandardCharsets.UTF_8)
      val name = java.util.HexFormat.of().formatHex(
        java.security.MessageDigest.getInstance("SHA-256").digest(bytes)) + ".json"
      val p = new Path(s"$dir/$name")
      val out = OutputFs.get(p, conf.value).create(p, true)
      try out.write(bytes) finally out.close()
      s"$dir/$name"
    }

    // the threshold counts characters, like the reference's len(json);
    // characters never outnumber UTF-8 bytes, so the O(1) byte length
    // settles every payload shorter than `threshold` bytes and only the
    // rest pay the O(n) character count. The test is one column: written
    // into both branches, subexpression elimination would hoist the
    // character count out of the short circuit and run it on every row.
    val json = col(jsonCol)
    items
      .withColumn("__inline", octet_length(json) < threshold || length(json) < threshold)
      .withColumn("stac_item", when(col("__inline"), json))
      .withColumn("stac_file_url", when(!col("__inline"), spillUdf(json)))
      .drop("__inline")
  }

  /** Pointer dereference (A18): inline item wins, else fetch the spilled
    * payload; a row with neither is an error in the reference
    * (submit-stac/handler.py:106-109) — here it stays NULL for DLQ
    * routing. */
  def resolve(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val fetchUdf = udf { (url: String) =>
      val p = new Path(url)
      val fs = p.getFileSystem(conf.value)
      val in = fs.open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        StandardCharsets.UTF_8)
      finally in.close()
    }
    df.withColumn("resolved_item",
      coalesce(col("stac_item"), fetchUdf(col("stac_file_url"))))
  }
}
