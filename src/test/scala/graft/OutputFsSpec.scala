package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.kernel.Cogify
import graft.kernel.Cogify.CogifyTask
import graft.operators.WdsShards
import graft.sinks.{OutputFs, SpillSink, Transfer}

/** The engine's per-object writers (spill, COG, shard, transfer) start no
  * process per written file on a local target, and still leave the bytes,
  * `.crc` sidecars and umask-derived modes Hadoop's LocalFileSystem does.
  * Process starts are counted by a JDK Flight Recorder recording of this
  * JVM's `jdk.ProcessStart` events.
  */
class OutputFsSpec extends SparkSuite {

  /** Commands (with their innermost graft frame) of the processes that
    * engine code started while `body` ran. Starts with no graft frame in
    * their stack (Spark's own background `rm -rf` of temporary
    * directories, say) are not the writers' and are left out. */
  private def engineProcessStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .flatMap { e =>
          Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
            .map(_.getMethod.getType.getName).find(_.startsWith("graft."))
            .map(frame => s"${e.getString("command")} (from $frame)")
        }
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  private def files(root: JPath): Seq[JPath] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  private def dirs(root: JPath): Seq[JPath] =
    Files.walk(root).iterator().asScala.filter(Files.isDirectory(_)).toSeq

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("spill, COG, shard and transfer writes start no process and keep crc + modes") {
    import spark.implicits._
    val base = tempDir("outfs").toPath
    val conf = spark.sparkContext.hadoopConfiguration
    val umask = FsPermission.getUMask(conf)

    val n = 6
    val items = (0 until n).map(i => (i, s"""{"id":$i,"pad":"${"x" * (64 + i)}"}""")) ++
      Seq((n, """{"id":"small"}"""))
    val itemsDf = items.toDF("k", "item_json").repartition(2)
    val shards = (0 until 3).map(i =>
      (f"shard-$i%05d.tar", s"shard $i".getBytes(StandardCharsets.UTF_8)))
      .toDF("path", "tar")
    val src = base.resolve("src/no2")
    Files.createDirectories(src)
    Files.write(src.resolve("a.tif"), "granule a".getBytes(StandardCharsets.UTF_8))
    val events = Seq(("no2", s"file:${src.resolve("a.tif")}", true))
      .toDF("collection", "s3_filename", "upload")
    val tasks = Seq(CogifyTask("OMDOAO3e", "s3://b/g.nc", None, upload = false)).toDS()

    var resolved: Seq[(Int, String, String)] = Nil
    var cogErrors: Seq[String] = Nil
    val started = engineProcessStarts {
      resolved = SpillSink.resolve(SpillSink.route(itemsDf, "item_json",
          s"file:${base.resolve("spill")}", threshold = 64))
        .select("k", "item_json", "resolved_item").as[(Int, String, String)]
        .collect().toSeq
      cogErrors = Cogify.run(tasks, Map.empty, s"file:${base.resolve("cog")}",
          mkReader = () => new Cogify.FakeGridReader())
        .collect().toSeq.flatMap(_.error)
      WdsShards.writeShardFiles(shards, s"file:${base.resolve("wds")}")
      Transfer.execute(events, s"file:${base.resolve("target")}")
    }
    assert(started.isEmpty, started.mkString("process starts:\n", "\n", ""))

    assert(cogErrors.isEmpty)
    assert(resolved.size == n + 1)
    resolved.foreach { case (k, json, back) => assert(back == json, s"item $k") }

    val outputs = Seq("spill", "cog", "wds", "target").map(base.resolve)
    val written = outputs.flatMap(files).filterNot(_.getFileName.toString.endsWith(".crc"))
    assert(written.size == n + 1 + 3 + 1)
    assert(new String(Files.readAllBytes(base.resolve("target/no2/a.tif")),
      StandardCharsets.UTF_8) == "granule a")
    written.foreach { f =>
      val crc = f.resolveSibling(s".${f.getFileName}.crc")
      assert(Files.exists(crc), s"no checksum sidecar for $f")
    }
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toString
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toString
    outputs.flatMap(files).foreach(f => assert(mode(f) == fileMode, f.toString))
    outputs.flatMap(dirs).foreach(d => assert(mode(d) == dirMode, d.toString))
  }

  test("OutputFs: local paths share one checksummed instance per conf; others resolve as before") {
    val conf = new Configuration()
    val local = OutputFs.get(new Path("file:/tmp/a"), conf)
    assert(local.getClass == classOf[LocalFileSystem])
    assert(local.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[OutputFs.ForkFreeRawLocalFileSystem])
    assert(OutputFs.get(new Path("/tmp/b"), conf) eq local) // default fs is file:
    assert(!(OutputFs.get(new Path("file:/tmp/a"), new Configuration()) eq local))

    conf.set("fs.graftmem.impl", classOf[RawLocalFileSystem].getName)
    val other = OutputFs.get(new Path("graftmem:/tmp/c"), conf)
    assert(other eq new Path("graftmem:/tmp/c").getFileSystem(conf))
  }

  test("OutputFs applies the umask of the conf it is given, files and directories") {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    val root = tempDir("outfs-umask").toPath
    val p = new Path(s"file:$root/d1/d2/f.bin")
    val out = OutputFs.get(p, conf).create(p, true)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(mode(Paths.get(s"$root/d1/d2/f.bin")) == "rw-r-----")
    assert(mode(Paths.get(s"$root/d1/d2/.f.bin.crc")) == "rw-r-----")
    assert(mode(Paths.get(s"$root/d1")) == "rwxr-x---")
    assert(mode(Paths.get(s"$root/d1/d2")) == "rwxr-x---")
  }
}
