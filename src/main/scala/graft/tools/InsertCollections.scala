package graft.tools

import org.apache.spark.sql.functions._

/** Collection upsert driver (reference A21,
  * scripts/collection.py:32-54: `insert-collection` POSTs collection
  * JSONs to the ingestion API's /collections). Here the sink is the
  * engine's collections catalog table: collection JSON documents are
  * validated against the typed schema and upserted (latest wins by id)
  * into a parquet catalog directory that [[graft.model.StacCollection]]
  * consumers read.
  *
  * Usage: sbt "runMain graft.tools.InsertCollections <jsonDir> <catalogDir> [pattern]"
  */
object InsertCollections {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: InsertCollections <jsonDir> <catalogDir> [pattern]")
    val (jsonDir, catalogDir) = (args(0), args(1))
    val pattern = if (args.length > 2) args(2) else ""

    val spark = graft.Session.local(graft.Session.cpus)

    val incoming = graft.model.StacCollection.load(spark, jsonDir)
      .filter(col("id").startsWith(pattern))
    val merged =
      if (new java.io.File(catalogDir.stripPrefix("file:")).exists()) {
        // upsert: incoming wins over existing by id
        val existing = spark.read.parquet(catalogDir)
        existing.join(incoming.select("id"), Seq("id"), "left_anti")
          .unionByName(incoming)
      } else incoming

    // write via temp + swap (can't overwrite a dir we're reading)
    val tmp = catalogDir.stripSuffix("/") + ".tmp"
    merged.write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(catalogDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(catalogDir), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(catalogDir))

    val n = spark.read.parquet(catalogDir).count()
    println(s"[insert-collections] catalog now holds $n collection(s)")
    spark.stop()
  }
}
