package graft.pipeline

import graft.functions.AlphaSort
import graft.model.CrawlConfig
import graft.sources.{InProcessLocalFs, SnapshotStore}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The S10 surface: /health, /version and /debug re-expressed as tiny
  * DataFrames over the engine's own state (the reference exposes them
  * as HTTP routes, `api/api.go:410-414`).
  *
  *   - health: independent named checks, overall "up" iff every check
  *     is up (the alexliesenfeld/health checker model the reference
  *     embeds; per-module checks like `chromium.go:789-803`'s
  *     supervisor probe map to store/sketch/engine probes here);
  *   - version: the engine + runtime versions (`/version` returns the
  *     Gotenberg version string);
  *   - debug: `gotenberg/debug.go:12-55` DebugInfo — version, timezone,
  *     architecture, AlphanumericSort-ordered module list, and the
  *     flags echo (here: the CrawlConfig, which is the engine's flag
  *     surface).
  */
object Health {

  val EngineVersion = "graft 2.0.0"

  /** Module registry — the engine analogs of the reference's module
    * instances (chromium, libreoffice, pdf engines, webhook, api).
    */
  def modules: Seq[String] = Seq(
    "crawl-frontier", "url-seen", "politeness", "robots",
    "convert-pipeline", "span-ops", "snapshot-store",
    "datatools") ++ graft.operators.Engines.capabilities.keys.toSeq

  final case class Check(name: String, status: String, details: String)

  /** Run the health checks against a store root (None = no store
    * configured, store checks report "up" vacuously like a disabled
    * module).
    */
  def checks(spark: SparkSession, storeRoot: Option[String]): Seq[Check] = {
    val storeChecks = storeRoot match {
      case None => Seq(Check("snapshot-store", "up", "no store configured"))
      case Some(root) =>
        val store = new SnapshotStore(root)
        store.currentSnapshot match {
          case None => Seq(Check("snapshot-store", "down", s"no committed snapshot under $root"))
          case Some(id) =>
            val manifest = scala.util.Try(store.readManifest(id))
            val seen = scala.util.Try(store.readSeen(spark, id).limit(1).count())
            // the bloom is a driver-written blob file (bloom.bin). The
            // blob probe goes through the Hadoop FS API with the store's
            // conf, the one the writers use (the parquet tables and the
            // sketch blobs are written via that API; the SnapshotStore's
            // own manifest/CURRENT/_SCHEMA metadata is java.nio
            // local-path-only in this miniature, so a non-local root
            // needs the real Iceberg-runtime swap the store documents).
            val bloomOk = {
              val p = new org.apache.hadoop.fs.Path(s"${store.snapshotDir(id)}/bloom.bin")
              p.getFileSystem(InProcessLocalFs.hadoopConf(spark)).exists(p)
            }
            val sketches =
              if (store.hasTable(id, "cuckoo") && bloomOk) "up"
              else "degraded" // the exact layer still answers; a crawl cannot resume
            Seq(
              Check("snapshot-store",
                if (manifest.isSuccess) "up" else "down",
                manifest.fold(e => e.getMessage, _ => s"snapshot $id committed")),
              Check("url-seen",
                if (seen.isSuccess) "up" else "down",
                seen.fold(e => e.getMessage, n => s"seen table readable ($n+)")),
              Check("seen-sketches", sketches,
                if (sketches == "up") "bloom+cuckoo persisted" else "sketches missing; exact layer authoritative"))
        }
    }
    val engineCheck = Check("engines",
      if (graft.operators.Engines.capabilities.nonEmpty) "up" else "down",
      s"${graft.operators.Engines.capabilities.size} engines registered")
    val sparkCheck = Check("spark",
      if (!spark.sparkContext.isStopped) "up" else "down",
      s"${spark.sparkContext.master}")
    storeChecks :+ engineCheck :+ sparkCheck
  }

  /** /health: per-check rows + the aggregate verdict row (name="*"). */
  def health(spark: SparkSession, storeRoot: Option[String] = None): DataFrame = {
    import spark.implicits._
    val cs = checks(spark, storeRoot)
    val overall = if (cs.forall(_.status == "up")) "up" else "down"
    (cs :+ Check("*", overall, s"${cs.count(_.status == "up")}/${cs.size} checks up")).toDF()
  }

  /** /version. */
  def version(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((EngineVersion, spark.version, util.Properties.versionNumberString))
      .toDF("engine_version", "spark_version", "scala_version")
  }

  /** /debug: one row per DebugInfo field (+ one per flag), so the frame
    * stays schema-stable as flags evolve.
    */
  def debug(spark: SparkSession, cfg: CrawlConfig, storeRoot: Option[String] = None): DataFrame = {
    import spark.implicits._
    val base = Seq(
      "version" -> EngineVersion,
      "timezone" -> java.util.TimeZone.getDefault.getID,
      "architecture" -> System.getProperty("os.arch"),
      "modules" -> AlphaSort.sorted(modules).mkString(","),
      "store" -> storeRoot.getOrElse(""))
    // every CrawlConfig field, so the echo cannot drift from the config
    val flags = cfg.productElementNames.zip(cfg.productIterator)
      .map { case (k, v) => s"flag:$k" -> String.valueOf(v) }.toSeq
    (base ++ flags).toDF("key", "value")
  }
}
