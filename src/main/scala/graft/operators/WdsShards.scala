package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.kernel.Tar

/** WebDataset-style tar shard export/import — the interchange layout
  * large multimodal training runs consume (a directory of `shard-NNNNN
  * .tar`, each a sequence of `{key}.json` + `{key}.bin` members read
  * sequentially by data loaders).
  *
  * Scale posture: shard assignment is `doc_id mod nShards` (the t17
  * deterministic-shuffle contract — no RNG, reproducible epochs), rows
  * reach their shard through ONE hash exchange, and each shard's tar is
  * STREAMED member-by-member inside its task (`Tar.writeTo` — memory
  * stays O(row), never O(shard)). Reading back is file-per-task
  * (binaryFile), the same non-splittable-container sharding WARC uses —
  * parallelism is the shard count, which is the knob a 100 TB export
  * already sizes (standard WebDataset practice: ~1 GB shards, tens of
  * thousands of files).
  *
  * Payload bytes cross exactly one exchange (into their shard) on write
  * and none on read.
  */
object WdsShards {

  /** Build tar shards in-plan: rows (doc_id LONG, meta STRING, payload
    * BINARY) → (shard INT, path STRING, tar BINARY). Each doc
    * contributes `{doc_id}.json` (meta, UTF-8) then `{doc_id}.bin`
    * members, ascending doc_id within the shard — byte-deterministic
    * (fixed tar metadata, mtime 0), so re-exports are identical. */
  def buildShards(rows: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .select(pmod(col("doc_id"), lit(nShards)).cast("int").as("shard"),
        col("doc_id"), col("meta"), col("payload"))
      .as[(Int, Long, String, Array[Byte])]
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .mapPartitions { it =>
        // rows arrive grouped by shard (sorted); stream one tar per run
        new Iterator[(Int, String, Array[Byte])] {
          private val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): (Int, String, Array[Byte]) = {
            val shard = buf.head._1
            val bos = new java.io.ByteArrayOutputStream()
            val members = new Iterator[Tar.Member] {
              private var pending: List[Tar.Member] = Nil
              def hasNext: Boolean =
                pending.nonEmpty || (buf.hasNext && buf.head._1 == shard)
              def next(): Tar.Member = pending match {
                case m :: rest => pending = rest; m
                case Nil =>
                  val (_, id, meta, payload) = buf.next()
                  pending = List(Tar.Member(s"$id.bin", payload))
                  Tar.Member(s"$id.json",
                    meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              }
            }
            Tar.writeTo(bos, members)
            (shard, f"shard-$shard%05d.tar", bos.toByteArray)
          }
        }
      }
      .toDF("shard", "path", "tar")
  }

  /** Explode shards back to members: (shard INT, doc_id LONG, ext
    * STRING, payload BINARY). The inverse of [[buildShards]] —
    * `{id}.{ext}` names parse back to (doc_id, ext). */
  def readShards(shards: DataFrame): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    shards.select(col("shard"), col("tar"))
      .as[(Int, Array[Byte])]
      .flatMap { case (shard, bytes) =>
        Tar.parse(bytes).map { m =>
          val dot = m.name.lastIndexOf('.')
          require(dot > 0, s"WebDataset member name without extension: ${m.name}")
          (shard, m.name.substring(0, dot).toLong, m.name.substring(dot + 1),
            m.bytes)
        }
      }
      .toDF("shard", "doc_id", "ext", "payload")
  }

  /** Write shard rows as real files under `dir` (the on-disk layout a
    * data loader mounts); one file per row via the Hadoop FS API
    * ([[graft.sinks.OutputFs]]). */
  def writeShardFiles(shards: DataFrame, dir: String): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      shards.sparkSession.sparkContext.hadoopConfiguration)
    shards.select(col("path"), col("tar"))
      .repartition(col("path"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val fs = graft.sinks.OutputFs.get(new org.apache.hadoop.fs.Path(dir),
          conf.value)
        it.foreach { r =>
          val out = fs.create(
            new org.apache.hadoop.fs.Path(dir, r.getString(0)), true)
          try out.write(r.getAs[Array[Byte]]("tar")) finally out.close()
        }
      }
  }

  /** Mount a shard directory back as (shard, doc_id, ext, payload) —
    * file-per-task binaryFile scan, shard id parsed from the filename. */
  def readShardFiles(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.tar").load(dir)
      .select(col("path"), col("content"))
    readShards(raw.select(
      regexp_extract(col("path"), "shard-(\\d+)\\.tar$", 1).cast("int")
        .as("shard"),
      col("content").as("tar")))
  }

  type Q = (SparkSession, String) => DataFrame

  val defs: Seq[(String, Q, Option[String])] = Seq(

    // Full write → read round trip in one plan: documents → 8 tar
    // shards → members, verified content-exact by the oracle (md5 of
    // every .bin payload and every rebuilt .json meta straight from the
    // documents table — the tar framing itself is what Spark proves;
    // byte-level grammar additionally gated in WdsSpec).
    ("t45_wds_shards", (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val rows = docs.select(col("doc_id"),
        concat(lit("{\"doc_id\":"), col("doc_id"),
          lit(",\"lang\":\""), col("lang"),
          lit("\",\"source\":\""), col("source"), lit("\"}")).as("meta"),
        col("text").cast("binary").as("payload"))
      readShards(buildShards(rows, nShards = 8))
        .select(col("shard"), col("doc_id"), col("ext"),
          length(col("payload")).cast("long").as("size"),
          md5(col("payload")).as("md5"))
        .orderBy(col("doc_id"), col("ext"))
    },
    Some("""WITH m AS (
        SELECT doc_id, 'bin' AS ext,
          CAST(strlen(text) AS BIGINT) AS size, md5(text) AS md5
        FROM documents
        UNION ALL
        SELECT doc_id, 'json' AS ext,
          CAST(strlen('{"doc_id":' || CAST(doc_id AS VARCHAR) ||
            ',"lang":"' || lang || '","source":"' || source || '"}')
            AS BIGINT) AS size,
          md5('{"doc_id":' || CAST(doc_id AS VARCHAR) ||
            ',"lang":"' || lang || '","source":"' || source || '"}') AS md5
        FROM documents)
      SELECT CAST(doc_id % 8 AS INTEGER) AS shard, doc_id, ext, size, md5
      FROM m ORDER BY doc_id, ext"""))
  )
}
