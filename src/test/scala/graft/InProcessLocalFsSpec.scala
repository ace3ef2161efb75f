package graft

import graft.frontier.UrlSeen
import graft.sources.{InProcessLocalFs, SnapshotStore}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SerializableHadoopConf

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import scala.jdk.CollectionConverters._

/** The store's local FS sets file modes in the JVM: its writes start no
  * `chmod` process, and every file, `.crc` file and directory gets the
  * mode Hadoop's own `LocalFileSystem` gives it. Its conf keeps only
  * what Hadoop's `*-default.xml` resources do not give.
  */
class InProcessLocalFsSpec extends SparkSpec {

  private def mode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path → mode of everything under `root`. */
  private def modes(root: NioPath): Map[String, Int] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root).map(p => root.relativize(p).toString -> mode(p)).toMap
    finally s.close()
  }

  private def hadoopLocalFs(conf: org.apache.hadoop.conf.Configuration): FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** The command lines of the processes `f` starts, as JFR records them. */
  private def processesStartedBy(f: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try f finally rec.stop()
    val dump = Files.createTempFile("process-start", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    } finally { rec.close(); Files.delete(dump) }
  }

  test("a store write, the cuckoo blobs, the bloom and _DONE start no chmod process") {
    val sp = spark
    import sp.implicits._
    val store = new SnapshotStore(Files.createTempDirectory("inproc-store").toString)
    val conf = InProcessLocalFs.hadoopConf(spark)
    val seen = (1L to 2000L).map(i => (s"u$i", i * 0x9E3779B97F4A7C15L)).toDF("url_canon", "url_hash")
    val binDir = s"${store.snapshotDir(0)}/cuckoo_bin"
    val started = processesStartedBy {
      store.write(seen, 0, "url_seen_delta")
      store.write(UrlSeen.updateCuckoo(spark, UrlSeen.emptyCuckooState(spark),
        seen.select("url_hash"), 1024, blobDir = Some(binDir)), 0, "cuckoo")
      UrlSeen.writeBloomFile(UrlSeen.bloomOfDelta(seen, 4096, 0.01),
        s"${store.snapshotDir(0)}/bloom.bin", conf)
      UrlSeen.finishCuckooDir(binDir, conf)
      // control: the recording sees a process this block does start
      new ProcessBuilder("true").start().waitFor()
    }
    assert(started.exists(_.endsWith("true")), s"the recording saw no process start: $started")
    val chmods = started.filter(_.contains("chmod"))
    assert(chmods.isEmpty, s"${chmods.size} chmod processes, first: ${chmods.take(3).mkString("; ")}")
    // the writes did happen, checksums included
    val blobs = modes(java.nio.file.Paths.get(binDir)).keySet
    assert(blobs.count(n => n.startsWith("bucket-") && n.endsWith(".bin")) == UrlSeen.CuckooBuckets)
    assert(blobs.count(n => n.startsWith(".bucket-") && n.endsWith(".bin.crc")) == UrlSeen.CuckooBuckets)
    assert(blobs.contains("_DONE"))
    assert(Files.exists(java.nio.file.Paths.get(store.snapshotDir(0), "bloom.bin")))
    assert(store.read(spark, 0, "url_seen_delta").count() == 2000)
    assert(store.read(spark, 0, "cuckoo").count() == UrlSeen.CuckooBuckets)
  }

  test("the store conf drops only what Hadoop's *-default.xml resources alone give") {
    def onlyDefaults(c: org.apache.hadoop.conf.Configuration, key: String): Boolean =
      Option(c.getPropertySources(key)).exists(_.forall(_.endsWith("-default.xml")))
    val runtimeKey = "spark.hadoop.graft.conf-rule.probe"
    val expandingKey = "graft.conf-rule.expanding"
    val defaultKey = "fs.permissions.umask-mode"
    val before = spark.sessionState.newHadoopConfWithOptions(InProcessLocalFs.options)
    assert(onlyDefaults(before, defaultKey) && onlyDefaults(before, "hadoop.tmp.dir"))
    spark.conf.set(runtimeKey, "v")
    // a kept value whose variable is a dropped default
    spark.conf.set(expandingKey, "${hadoop.tmp.dir}/x")
    // set programmatically to exactly its default value
    spark.conf.set(defaultKey, before.get(defaultKey))
    try {
      val session = spark.sessionState.newHadoopConfWithOptions(InProcessLocalFs.options)
      val conf = InProcessLocalFs.hadoopConf(spark)
      val keys = session.iterator().asScala.map(_.getKey).toSet
      val kept = conf.iterator().asScala.map(_.getKey).toSet
      assert(kept.subsetOf(keys))
      kept.foreach(k => assert(conf.get(k) === session.get(k), k))
      (keys -- kept).foreach(k => assert(onlyDefaults(session, k), s"$k dropped"))
      assert(!conf.get(expandingKey).contains("${") && conf.get(expandingKey).endsWith("/x"))
      assert(conf.get(runtimeKey) === "v")
      assert(conf.get(defaultKey) === before.get(defaultKey))
      InProcessLocalFs.options.foreach { case (k, v) => assert(conf.get(k) === v, k) }
      // the SparkConf's spark.hadoop.* keys (Spark's own s3a settings at least)
      val fromSparkHadoop = keys.filter(k =>
        Option(session.getPropertySources(k)).exists(_.exists(_.contains("'spark.hadoop'"))))
      assert(fromSparkHadoop.nonEmpty && fromSparkHadoop.subsetOf(kept), fromSparkHadoop)
      // what every store write task deserializes twice: a few KB, not the
      // ~110 KB of the session's conf
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(new SerializableHadoopConf(conf))
      out.close()
      assert(bytes.size <= 16 * 1024, s"${bytes.size} bytes, ${kept.size} properties")
    } finally Seq(runtimeKey, expandingKey, defaultKey).foreach(spark.conf.unset)
  }

  test("in-process modes equal Hadoop's LocalFileSystem: files, .crc files, new dirs, set modes") {
    Seq("022", "027", "077").foreach { umask =>
      val conf = InProcessLocalFs.hadoopConf(spark)
      conf.set("fs.permissions.umask-mode", umask)
      val inProcess = FileSystem.get(URI.create("file:///"), conf)
      assert(inProcess.isInstanceOf[InProcessLocalFs])
      val base = Files.createTempDirectory("mode-parity")
      def layout(fs: FileSystem, root: NioPath): Map[String, Int] = {
        val out = fs.create(new Path(s"$root/a/b/part-0.bin"), true)
        try out.write(Array[Byte](1, 2, 3)) finally out.close()
        fs.mkdirs(new Path(s"$root/a/c/d"))
        fs.create(new Path(s"$root/a/c/set.bin"), true).close()
        fs.setPermission(new Path(s"$root/a/c/set.bin"), new FsPermission("640"))
        modes(root)
      }
      val mine = layout(inProcess, base.resolve("in-process"))
      val theirs = layout(hadoopLocalFs(conf), base.resolve("hadoop"))
      assert(mine.contains("a/b/.part-0.bin.crc") && mine.contains("a/c/d"))
      assert(mine == theirs, s"umask $umask")
    }
  }

  test("a sticky-bit request and a setgid parent dir keep Hadoop's modes through the fallback") {
    val conf = InProcessLocalFs.hadoopConf(spark)
    val inProcess = FileSystem.get(URI.create("file:///"), conf)
    val dir = Files.createTempDirectory("sticky")
    inProcess.setPermission(new Path(dir.toString), new FsPermission(Integer.parseInt("1755", 8).toShort))
    assert(mode(dir) == Integer.parseInt("1755", 8))

    // a directory under a setgid parent inherits setgid, and Hadoop's
    // `chmod 0755` keeps it; NIO's chmod(2) would clear it
    val base = Files.createTempDirectory("setgid")
    def layout(fs: FileSystem, root: NioPath): Map[String, Int] = {
      Files.createDirectory(root)
      assert(new ProcessBuilder("chmod", "2775", root.toString).start().waitFor() == 0)
      fs.mkdirs(new Path(s"$root/sub/leaf"))
      fs.create(new Path(s"$root/sub/f.bin"), true).close()
      modes(root)
    }
    val mine = layout(inProcess, base.resolve("in-process"))
    assert(mine == layout(hadoopLocalFs(conf), base.resolve("hadoop")))
    assert((mine("sub") & Integer.parseInt("2000", 8)) != 0, "setgid inherited and kept")
  }
}
