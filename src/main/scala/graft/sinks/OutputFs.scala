package graft.sinks

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The FileSystem every per-object writer of the engine (spill files,
  * COGs, WebDataset shards, transfer copies) creates its outputs through.
  *
  * Without `libhadoop`, which Spark's distribution does not ship, Hadoop's
  * `RawLocalFileSystem.setPermission` forks `chmod` — once for every file
  * `create` makes and once more for its `.crc` sidecar, plus once per
  * directory `mkdirs` makes. For a path whose scheme resolves to Hadoop's
  * checksummed [[LocalFileSystem]], this returns that same class over a
  * raw layer that applies the mode in-process instead
  * ([[ForkFreeRawLocalFileSystem]]): the bytes, the `.crc` sidecars and
  * the modes Hadoop's umask rule gives are unchanged. Every other scheme
  * (s3a, hdfs, any other `fs.file.impl`) resolves through
  * `Path.getFileSystem` exactly as before. Callers create objects with
  * it, not renames: Hive's `file:` subclass differs only in `rename`.
  *
  * One instance per configuration object, so a task writing many objects
  * builds it once; the cache is bounded, since executors deserialize a
  * fresh configuration per task.
  */
object OutputFs {

  private val MaxCached = 16

  // access-ordered, keyed by identity (Configuration has no equals)
  private val cache =
    new java.util.LinkedHashMap[Configuration, FileSystem](MaxCached, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Configuration, FileSystem]): Boolean =
        size() > MaxCached
    }

  /** Resolved classes served by the fork-free instance: Hadoop's own, and
    * Hive's subclass, which Spark's distribution also registers for
    * `file:` (whichever jar the service loader reads last wins). Hive's
    * overrides only `rename`, to refuse an existing destination file. */
  private val LocalClasses = Set(classOf[LocalFileSystem].getName,
    "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem")

  def get(path: Path, conf: Configuration): FileSystem = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (!LocalClasses(FileSystem.getFileSystemClass(scheme, conf).getName))
      path.getFileSystem(conf)
    else cache.synchronized {
      var fs = cache.get(conf)
      if (fs == null) {
        fs = local(conf)
        cache.put(conf, fs)
      }
      fs
    }
  }

  // the order Hadoop's own FileSystem.createFileSystem uses: conf, then init
  private def local(conf: Configuration): FileSystem = {
    val fs = new LocalFileSystem(new ForkFreeRawLocalFileSystem)
    fs.setConf(conf)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** `RawLocalFileSystem` whose `setPermission` sets the POSIX mode bits
    * through `java.nio` rather than a `chmod` process. Without the sticky
    * bit, which has no `PosixFilePermission` and so still takes Hadoop's
    * path, `FsPermission.toString` is the nine-letter `rwxr-x---` form. */
  final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }
}
