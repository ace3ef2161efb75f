package graft

import graft.model.CrawlConfig
import graft.pipeline.{CrawlJob, Health}
import graft.sources.SyntheticWeb
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** S10: health/version/debug surfaces over engine state. */
class HealthSpec extends SparkSpec {

  test("health: all checks up over a committed crawl store; aggregate row agrees") {
    import spark.implicits._
    val universe = SyntheticWeb.Universe(numHosts = 5, pagesPerHost = 10, seed = 1L)
    val cfg = CrawlConfig(numPartitions = 2, saltsPerHost = 1,
      hostBudgetPerRound = 4, maxRounds = 1, bloomExpectedItems = 1 << 10)
    val root = Files.createTempDirectory("health-spec").toString
    CrawlJob.run(spark, universe.seedUrls(20).toDS(), SyntheticWeb.defaultRobots,
      SyntheticWeb.hostMap(universe.numHosts).toDS(), universe, cfg, root)
    val rows = Health.health(spark, Some(root)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("snapshot-store") === "up")
    assert(rows("url-seen") === "up")
    assert(rows("seen-sketches") === "up", "bloom+cuckoo must persist per round")
    assert(rows("engines") === "up" && rows("spark") === "up")
    assert(rows("*") === "up")
  }

  test("health: sharded store is up only when its shard files are committed") {
    import spark.implicits._
    val universe = SyntheticWeb.Universe(numHosts = 5, pagesPerHost = 10, seed = 2L)
    val cfg = CrawlConfig(numPartitions = 2, saltsPerHost = 1,
      hostBudgetPerRound = 4, maxRounds = 1, bloomExpectedItems = 1 << 10,
      bloomSharded = true)
    val root = Files.createTempDirectory("health-sharded").toString
    CrawlJob.run(spark, universe.seedUrls(20).toDS(), SyntheticWeb.defaultRobots,
      SyntheticWeb.hostMap(universe.numHosts).toDS(), universe, cfg, root)
    val rows = Health.health(spark, Some(root)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("seen-sketches") === "up", "committed shards = healthy sketches")
    // a sharded-flagged snapshot WITHOUT shard files (a checkpoint the
    // crawl refuses to resume) must report degraded, not up
    val store = new graft.sources.SnapshotStore(root)
    val last = store.currentSnapshot.get
    new java.io.File(store.snapshotDir(last), "cuckoo_bin").listFiles()
      .filter(_.getName.startsWith("bloom-")).foreach(_.delete())
    val rows2 = Health.health(spark, Some(root)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows2("seen-sketches") === "degraded")
  }

  test("health: missing store turns the aggregate down (one failing check suffices)") {
    val rows = Health.health(spark, Some("/nonexistent/store")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("snapshot-store") === "down")
    assert(rows("*") === "down")
  }

  test("version and debug expose engine metadata; module list is AlphanumericSort-ordered") {
    val v = Health.version(spark).collect()(0)
    assert(v.getString(0).startsWith("graft") && v.getString(1) === spark.version)
    val dbg = Health.debug(spark, CrawlConfig()).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dbg("version") === Health.EngineVersion)
    val mods = dbg("modules").split(",").toSeq
    assert(mods === graft.functions.AlphaSort.sorted(mods))
    assert(mods.contains("crawl-frontier") && mods.contains("url-seen"))
    // the flag surface echoes the config (debug.go:51-54 VisitAll analog)
    assert(dbg("flag:cuckooBuckets") === "64")
    assert(dbg("flag:softTimeoutMs") === "30000")
    assert(dbg.keys.count(_.startsWith("flag:")) >= 10)
  }

  test("debug echoes every CrawlConfig field, the checkpoint-shaping flags too") {
    val cfg = CrawlConfig(bloomSharded = true, outlinksPerDoc = 7, dedupDocs = true,
      dedupThreshold = 0.75, dedupShingleK = 5, compactEvery = 3, wapAudit = true)
    val flags = Health.debug(spark, cfg).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
      .collect { case (k, v) if k.startsWith("flag:") => k.stripPrefix("flag:") -> v }
    assert(flags.keySet === cfg.productElementNames.toSet)
    assert(flags.size === cfg.productArity)
    cfg.productElementNames.zip(cfg.productIterator).foreach { case (k, v) =>
      assert(flags(k) === v.toString, k)
    }
    assert(flags("bloomSharded") === "true" && flags("outlinksPerDoc") === "7" &&
      flags("dedupDocs") === "true" && flags("dedupThreshold") === "0.75" &&
      flags("dedupShingleK") === "5" && flags("compactEvery") === "3" &&
      flags("wapAudit") === "true")
  }
}
