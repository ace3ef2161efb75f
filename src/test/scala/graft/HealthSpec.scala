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
    // without its bloom the snapshot cannot be resumed: the sketches
    // report degraded, and one check down turns the aggregate down
    val store = new graft.sources.SnapshotStore(root)
    Files.delete(java.nio.file.Paths.get(store.snapshotDir(store.currentSnapshot.get), "bloom.bin"))
    val rows2 = Health.health(spark, Some(root)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows2("seen-sketches") === "degraded")
    assert(rows2("*") === "down")
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
    val cfg = CrawlConfig(cuckooBuckets = 16, outlinksPerDoc = 7, dedupDocs = true,
      dedupThreshold = 0.75, dedupShingleK = 5, compactEvery = 3, wapAudit = true)
    val flags = Health.debug(spark, cfg).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
      .collect { case (k, v) if k.startsWith("flag:") => k.stripPrefix("flag:") -> v }
    assert(flags.keySet === cfg.productElementNames.toSet)
    assert(flags.size === cfg.productArity)
    cfg.productElementNames.zip(cfg.productIterator).foreach { case (k, v) =>
      assert(flags(k) === v.toString, k)
    }
    assert(flags("cuckooBuckets") === "16" && flags("outlinksPerDoc") === "7" &&
      flags("dedupDocs") === "true" && flags("dedupThreshold") === "0.75" &&
      flags("dedupShingleK") === "5" && flags("compactEvery") === "3" &&
      flags("wapAudit") === "true")
  }
}
