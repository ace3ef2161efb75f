package graft

import org.apache.spark.sql.SparkSession

/** The one way a main builds its SparkSession. */
object Sessions {

  /** Fast scratch root: tmpfs `/dev/shm` when the host has it, else
    * `java.io.tmpdir`. Shuffle/spill files go under it, and Bench puts
    * its crawl stores here too.
    */
  val scratchDir: String =
    if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else System.getProperty("java.io.tmpdir")

  /** A fresh local session: `local[threads]`, UI off, UTC session time
    * zone, `spark.local.dir` under [[scratchDir]], WARN logging. The
    * active and default sessions are cleared first, so `getOrCreate`
    * cannot hand back an earlier session with other settings.
    */
  def local(threads: Int, shufflePartitions: Int, adaptive: Boolean): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$scratchDir/graft-spark-local")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.adaptive.enabled", adaptive)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
