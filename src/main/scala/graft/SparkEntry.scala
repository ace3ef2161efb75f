package graft

import graft.model.CrawlConfig
import graft.pipeline.CrawlJob
import graft.queries.{OracleSql, Queries}
import graft.sources.{SnapshotStore, SyntheticWeb}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: one full crawl round of the synthetic universe — seed →
    * robots → seen-layer → politeness → fetch → convert → snapshot —
    * returning the round-0 sorted frontier (rows > 0 smoke).
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val universe = SyntheticWeb.Universe(numHosts = 50, pagesPerHost = 200, seed = 42L)
    val cfg = CrawlConfig(numPartitions = 8, saltsPerHost = 2,
      hostBudgetPerRound = 6, maxRounds = 1)
    val root = java.nio.file.Files.createTempDirectory("graft-entry").toString
    CrawlJob.run(spark, universe.seedUrls(500).toDS(), SyntheticWeb.defaultRobots,
      SyntheticWeb.hostMap(universe.numHosts).toDS(), universe, cfg, root)
    new SnapshotStore(root).read(spark, 0, "frontier")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.toMap

  /** DuckDB oracle twins — one per query (121/121): even the sketch
    * layers share hash functions with DuckDB or inline their constants
    * into the generated SQL.
    */
  def oracleSql: Map[String, String] = OracleSql.all
}
