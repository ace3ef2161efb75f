package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._

/** Hadoop's checksummed local file system, with file modes set in the
  * JVM. Without `libhadoop.so`, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process for every file it creates (each data file
  * and its `.crc`) and every directory it makes: about 256 processes
  * per crawl round of the snapshot store and the sketch blobs
  * (crawlbench crawl-deep, 4 threads). Here the same mode bits are set
  * with `Files.setPosixFilePermissions`. Everything else is Hadoop's
  * `LocalFileSystem`, so the files, their checksums and their modes are
  * the ones it writes.
  *
  * Selected for `file:` paths by [[InProcessLocalFs.options]] on the
  * store's and the sketches' own writers only; the session's Hadoop conf
  * is left as it is.
  */
final class InProcessLocalFs extends LocalFileSystem(new InProcessLocalFs.Raw)

object InProcessLocalFs {

  /** The Hadoop settings that select [[InProcessLocalFs]] for `file:`
    * paths. The cache bypass is required: `FileSystem`'s cache key is
    * scheme, authority and user, not the conf, so without it the
    * session's already-cached local FS would serve these writes.
    */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[InProcessLocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The one conf for store and sketch files: the session's Hadoop conf
    * with [[options]], minus every entry whose only sources are Hadoop's
    * shipped `*-default.xml` resources. It is a `Configuration(false)`,
    * so it loads no default resource either.
    *
    * Every store write task deserializes this conf twice (in
    * `FileFormatWriter`'s job description and in its stats tracker), and
    * each cuckoo-blob task once more, from a broadcast.
    * The full conf holds ~1,100 properties, about 113 KB serialized and
    * ~3 ms to parse back in each task; almost all of them restate a
    * default. What survives here is what a default does not give:
    * `*-site.xml` values, `spark.hadoop.*` values, programmatic sets
    * (one to a value equal to the default included) and [[options]]: 25
    * properties on a stock Spark install, 4.3 KB. Kept values are copied
    * expanded, so a `${var}` whose variable was a dropped default still
    * reads the same. A dropped key reads back unset, and Hadoop's code
    * then applies its built-in default, which is the same value for every
    * key the local file system and the parquet writer read (their files,
    * checksums and modes are byte-identical; InProcessLocalFsSpec and
    * SnapshotStoreSpec pin this). That is verified for `file:` only: an
    * HDFS or S3 client may read keys whose code default differs from its
    * `*-default.xml`.
    */
  def hadoopConf(spark: SparkSession): Configuration = {
    val session = spark.sessionState.newHadoopConfWithOptions(options)
    val conf = new Configuration(false)
    session.iterator().asScala.map(_.getKey).foreach { key =>
      val sources = Option(session.getPropertySources(key)).toSeq.flatten
      if (sources.isEmpty || !sources.forall(_.endsWith("-default.xml")))
        Option(session.get(key)).foreach(conf.set(key, _))
    }
    conf
  }

  private final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!setInProcess(pathToFile(p).toPath, permission)) super.setPermission(p, permission)
  }

  private val FileTypeMask = 0xf000 // S_IFMT
  private val DirType = 0x4000 // S_IFDIR
  private val SetIdBits = 0xc00 // S_ISUID | S_ISGID

  /** Give `file` the mode `chmod <permission>` would, without a process;
    * false when NIO cannot express that mode, so the caller takes
    * Hadoop's own path:
    *   - a sticky bit (NIO sets the nine rwx bits only);
    *   - a directory with setuid/setgid set: GNU `chmod` keeps those
    *     bits under a four-digit octal mode, while NIO's `chmod(2)`
    *     would clear them;
    *   - a file system without a `unix` attribute view.
    */
  private def setInProcess(file: java.nio.file.Path, permission: FsPermission): Boolean =
    !permission.getStickyBit && {
      val mode =
        try Some(Files.getAttribute(file, "unix:mode").asInstanceOf[Int])
        catch { case _: UnsupportedOperationException | _: IllegalArgumentException => None }
      mode.exists { m =>
        val keepsSetId = (m & FileTypeMask) == DirType && (m & SetIdBits) != 0
        !keepsSetId && { Files.setPosixFilePermissions(file, posix(permission.toShort)); true }
      }
    }

  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // declared owner r,w,x, group r,w,x, others r,w,x: mode bits 0400 down to 0001
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((bits & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }
}
