package graft

import graft.model.{CrawlConfig, FrontierEntry}
import graft.pipeline.CrawlJob
import graft.sources.{InProcessLocalFs, SnapshotStore, SyntheticWeb}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Iceberg-table semantics of the snapshot store beyond atomic commit
  * (which CrawlJobSpec's resume/time-travel tests cover): add-column
  * schema evolution on the delta-union read, and manifest-level file
  * pruning for round-range reads.
  */
class SnapshotStoreSpec extends SparkSpec {

  private def freshStore(): SnapshotStore =
    new SnapshotStore(Files.createTempDirectory("store-spec").toString)

  /** The schema footer inference gives a table's files, without the
    * hidden partition column — what reads saw before schemas were
    * recorded.
    */
  private def inferred(store: SnapshotStore, id: Int, table: String): StructType =
    StructType(spark.read.option("mergeSchema", "true").parquet(store.tablePath(id, table))
      .schema.filterNot(_.name == "_part"))

  /** Every table of every snapshot records exactly its inferred schema;
    * returns the number of tables checked.
    */
  private def assertRecordedSchemas(store: SnapshotStore): Int = {
    val tables = store.committedSnapshots.flatMap { id =>
      Files.list(java.nio.file.Paths.get(store.snapshotDir(id))).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isDirectory(p) && !p.getFileName.toString.startsWith("."))
        .map(p => id -> p.getFileName.toString)
        .filter { case (i, t) => store.hasTable(i, t) }
    }
    tables.foreach { case (id, t) =>
      assert(store.schema(id, t) === inferred(store, id, t), s"v$id/$t")
    }
    tables.size
  }

  /** Spark jobs started while `f` runs. */
  private def jobsDuring[A](f: => A): Int = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try f finally { ListenerBusDrain(sc); sc.removeSparkListener(listener) }
    n.get()
  }

  test("add-column schema evolution: old snapshots project null for new columns") {
    import spark.implicits._
    val store = freshStore()
    // v0 written before the `source` column existed
    store.write(Seq(("https://a/0", 10L, 0)).toDF("url_canon", "url_hash", "round_first_seen"),
      0, "url_seen_delta")
    store.commit(0, 0)
    // v1 adds `source`
    store.write(Seq(("https://a/1", 11L, 1, "sitemap"))
      .toDF("url_canon", "url_hash", "round_first_seen", "source"),
      1, "url_seen_delta")
    store.commit(1, 1)
    val seen = store.readSeen(spark, 1)
    assert(seen.columns.toSet === Set("url_canon", "url_hash", "round_first_seen", "source"))
    val rows = seen.select("url_canon", "source").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(rows("https://a/0") === None, "pre-evolution row must project null")
    assert(rows("https://a/1") === Some("sitemap"))
    // single-schema stores keep the one-scan fast path: all files from
    // both snapshots appear in one frame with the original schema
    val store2 = freshStore()
    (0 to 1).foreach { r =>
      store2.write(Seq((s"https://b/$r", r.toLong, r))
        .toDF("url_canon", "url_hash", "round_first_seen"), r, "url_seen_delta")
      store2.commit(r, r)
    }
    assert(store2.readSeen(spark, 1).count() === 2)
  }

  test("manifest-level pruning: a round-range read never opens out-of-range snapshot files") {
    import spark.implicits._
    val store = freshStore()
    (0 to 2).foreach { r =>
      store.write((0 until 5).map(i => (s"https://h/$r/$i", (r * 10 + i).toLong, r))
        .toDF("url_canon", "url_hash", "round_first_seen"), r, "url_seen_delta")
      store.commit(r, r)
    }
    val prunedDf = store.readSeen(spark, 2, rounds = Some((1, 1)))
    // the PLAN only contains v1 files — pruning happened at metadata
    // time, not as a row filter after reading all three snapshots
    val files = prunedDf.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("/v1/")), files.mkString("\n"))
    assert(prunedDf.select("round_first_seen").distinct().collect().map(_.getInt(0)).toSeq === Seq(1))
    assert(prunedDf.count() === 5)
    // unpruned read sees all rounds
    assert(store.readSeen(spark, 2).count() === 15)
    // range covering everything prunes nothing
    assert(store.readSeen(spark, 2, rounds = Some((0, 2))).count() === 15)
  }

  test("hidden partitioning: layout prunes by partition value, readers never see the column") {
    import spark.implicits._
    val store = freshStore()
    // three rounds of 20 rows each, statuses 200/300/400 by round,
    // folded into v2's `_part=<round>` dirs by relocation
    (0 to 2).foreach { r =>
      store.write((0 until 20).map(i => (s"https://h/$r/$i", 200 + r * 100, i.toLong, r))
        .toDF("url_canon", "status", "bytes", "round"), r, "fetch_log")
      store.commit(r, r)
    }
    store.relocateDeltas(baseId = 2, table = "fetch_log")
    assert(store.partitionTransform(2, "fetch_log") === Some("identity(round)"))
    // plain read: full rows, NO _part column (hidden = not schema)
    val all = store.read(spark, 2, "fetch_log")
    assert(all.columns.toSet === Set("url_canon", "status", "bytes", "round"))
    assert(all.count() === 60)
    // partition-value read: only round 1's directory enters the plan
    val only1 = store.readPartitions(spark, 2, "fetch_log", Seq("1"))
    assert(only1.columns.toSet === Set("url_canon", "status", "bytes", "round"))
    assert(only1.count() === 20)
    assert(only1.select("status").distinct().collect().map(_.getInt(0)).toSeq === Seq(300))
    val planned = only1.inputFiles
    assert(planned.nonEmpty && planned.forall(_.contains("_part=1")), planned.mkString("\n"))
    val planStr = only1.queryExecution.executedPlan.toString()
    assert(planStr.contains("PartitionFilters") && planStr.contains("_part"), planStr)
    // and the layout itself: round 1's rows live alone in their directory
    assert(spark.read.parquet(s"${store.tablePath(2, "fetch_log")}/_part=1")
      .count() === 20)
    // delta-union read across a hidden-partitioned and a plain snapshot
    store.write(Seq(("https://h/x", 500, 1L, 3)).toDF("url_canon", "status", "bytes", "round"),
      3, "fetch_log")
    store.commit(3, 3)
    val union = store.readDeltas(spark, 3, "fetch_log")
    assert(union.columns.toSet === Set("url_canon", "status", "bytes", "round"))
    assert(union.count() === 61)
    // metadata files table walks into the partition directories
    val metaFiles = store.filesTable(spark).filter(col("table") === "fetch_log")
      .collect().map(_.getString(2))
    assert(metaFiles.exists(_.contains("_part=")), metaFiles.mkString("\n"))
  }

  test("metadata tables: snapshots and files mirror the committed store") {
    import spark.implicits._
    val store = freshStore()
    (0 to 1).foreach { r =>
      store.write((0 until 3).map(i => (s"https://m/$r/$i", i.toLong, r))
        .toDF("url_canon", "url_hash", "round_first_seen"), r, "url_seen_delta")
      store.commit(r, r)
    }
    // a dangling uncommitted dir must NOT appear (crashed-round debris)
    store.write(Seq(("x", 1L, 9)).toDF("url_canon", "url_hash", "round_first_seen"),
      9, "url_seen_delta")
    val snaps = store.snapshotsTable(spark).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getBoolean(2), r.getSeq[String](3)))
    assert(snaps.map(_._1).toSeq.sorted === Seq(0, 1))
    assert(snaps.forall(_._4.contains("url_seen_delta")))
    assert(snaps.filter(_._3).map(_._1).toSeq === Seq(1), "only v1 is current")
    val files = store.filesTable(spark).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(files.map(_._1).distinct.sorted.toSeq === Seq(0, 1))
    assert(files.forall(f => f._2 === "url_seen_delta" && f._3.endsWith(".parquet") && f._4 > 0))
    // the files table is exactly what the pruned read plans over
    // (compare by filesystem path — inputFiles returns URIs)
    val plannedV1 = store.readSeen(spark, 1, rounds = Some((1, 1))).inputFiles
      .map(u => new java.net.URI(u).getPath).toSet
    val metaV1 = files.filter(_._1 == 1).map(_._3).toSet
    assert(plannedV1 === metaV1)
  }

  test("compaction + expiry: same rows, fewer snapshots, pruning survives inside the base") {
    import spark.implicits._
    val store = freshStore()
    // 6 rounds of deltas, several files each (repartition(3)); rounds
    // 4-5 carry an ADDED column (src_tag) so the second pass below
    // mixes pre- and post-evolution files in one base
    (0 to 5).foreach { r =>
      val base = (0 until 10).map(i => (s"https://h/$r/$i", (r * 100 + i).toLong, r))
        .toDF("url_canon", "url_hash", "round_first_seen")
      val delta = if (r >= 4) base.withColumn("src_tag", lit(s"crawl$r")) else base
      store.write(delta.repartition(3), r, "url_seen_delta")
      store.commit(r, r)
    }
    val before = store.readSeen(spark, 5).collect().map(_.getString(0)).toSet
    def fileNames = store.filesTable(spark).filter(col("table") === "url_seen_delta")
      .collect().map(_.getString(2).split("/").last).toSet
    val filesBefore = fileNames

    // fold rounds 0..3 into v3; v0..v2 become expirable
    store.relocateDeltas(baseId = 3, table = "url_seen_delta", roundCol = "round_first_seen")
    assert(store.compactedTables(3) === Set("url_seen_delta"))
    // rollback across a maintenance base would delete the only copy of
    // the rounds folded into it — refused
    val rbEx = intercept[IllegalArgumentException](store.rollbackTo(1))
    assert(rbEx.getMessage.contains("maintenance base"))
    // full read BEFORE expiry: identical row set (the base subsumes 0..2,
    // which must not be double-counted)
    assert(store.readSeen(spark, 5).collect().map(_.getString(0)).toSet === before)

    val expired = store.expireSnapshots()
    assert(expired === Seq(0, 1, 2))
    assert(store.committedSnapshots === Seq(3, 4, 5))
    // full read AFTER expiry: still the identical 60-row set
    val after = store.readSeen(spark, 5).collect().map(_.getString(0)).toSet
    assert(after === before)

    // round-range pruning INSIDE the compacted base: only its matching
    // `_part=` dirs are planned, plus nothing from v4/v5
    val pruned = store.readSeen(spark, 5, rounds = Some((1, 2)))
    assert(pruned.collect().map(_.getString(0)).toSet ===
      before.filter(u => u.contains("/1/") || u.contains("/2/")))
    val planned = pruned.inputFiles
    assert(planned.nonEmpty && planned.forall(f =>
      f.contains("/v3/") && (f.contains("_part=1") || f.contains("_part=2"))),
      planned.mkString("\n"))
    // a range spanning base and later deltas unions both sides
    val spanning = store.readSeen(spark, 5, rounds = Some((3, 4)))
    assert(spanning.collect().map(_.getString(0)).toSet ===
      before.filter(u => u.contains("/3/") || u.contains("/4/")))
    // the seen read of the CURRENT snapshot feeds resume — unchanged
    assert(store.readSeen(spark, 5).count() === 60)

    // CHAINED second pass into v5: v3's `_part=` dirs and the v4/v5
    // deltas all move by RENAME — every file the rounds wrote, by name,
    // no rewrite — so a pass costs O(files since the last pass)
    store.relocateDeltas(baseId = 5, table = "url_seen_delta", roundCol = "round_first_seen")
    assert(store.expireSnapshots() === Seq(3, 4))
    assert(store.readSeen(spark, 5).collect().map(_.getString(0)).toSet === before)
    assert(fileNames === filesBefore, "relocation must move, never rewrite")
    assert(store.readSeen(spark, 5, rounds = Some((1, 2)))
      .collect().map(_.getString(0)).toSet ===
      before.filter(u => u.contains("/1/") || u.contains("/2/")))

    // ADD-COLUMN EVOLUTION ACROSS THE CARRY: v5 now mixes carried
    // pre-evolution files (rounds 0-3) with the post-evolution files
    // of rounds 4-5 in one dir — footer merging must surface
    // src_tag, null for the old rounds, instead of letting one
    // arbitrary footer silently drop the column
    val evolved = store.readSeen(spark, 5)
    assert(evolved.columns.contains("src_tag"))
    assert(evolved.filter(col("round_first_seen") <= 3 && col("src_tag").isNotNull)
      .count() === 0)
    assert(evolved.filter(col("src_tag").isNotNull).count() === 20)
    assert(store.readSeen(spark, 5, rounds = Some((3, 4)))
      .filter(col("src_tag").isNotNull).count() === 10)

    // interrupted-swap debris blocks a re-run of the pass
    val debris = java.nio.file.Paths.get(store.snapshotDir(5), ".maint_url_seen_delta")
    Files.writeString(debris, "url_seen_delta")
    try {
      val r = intercept[IllegalArgumentException](
        store.relocateDeltas(baseId = 5, table = "url_seen_delta",
          roundCol = "round_first_seen"))
      assert(r.getMessage.contains("debris"))
    } finally Files.delete(debris)
  }

  test("relocation: rename-only fold preserves rows and file identity; chains across bases") {
    import spark.implicits._
    val store = freshStore()
    (0 to 3).foreach { r =>
      store.write((0 until 8).map(i => (s"d$r-$i", s"text $r $i", r))
        .toDF("doc_id", "text", "round").repartition(2), r, "output_spans")
      store.commit(r, r)
    }
    val before = store.readDeltas(spark, 3, "output_spans")
      .collect().map(_.getString(0)).toSet
    val filesBefore = store.filesTable(spark)
      .filter(col("table") === "output_spans")
      .collect().map(_.getString(2).split("/").last).toSet

    // fold 0..2 into v2 by pure rename — the DATA FILES are the same
    // files (no rewrite), just living under `_part=<round>` dirs now
    store.relocateDeltas(baseId = 2, table = "output_spans")
    assert(store.compactedTables(2) === Set("output_spans"))
    val filesAfter = store.filesTable(spark)
      .filter(col("table") === "output_spans")
      .collect().map(_.getString(2).split("/").last).toSet
    assert(filesAfter === filesBefore, "relocation must move, never rewrite")
    assert(store.readDeltas(spark, 3, "output_spans")
      .collect().map(_.getString(0)).toSet === before)
    // sources drained: the union starts at the base, expiry drops them
    assert(!store.hasTable(0, "output_spans") && !store.hasTable(1, "output_spans"))
    assert(store.expireSnapshots() === Seq(0, 1))

    // round-range pruning inside the relocated base
    val pruned = store.readDeltas(spark, 3, "output_spans", rounds = Some((1, 1)))
    assert(pruned.collect().map(_.getString(0)).toSet === before.filter(_.startsWith("d1-")))
    assert(pruned.inputFiles.forall(f => f.contains("/v2/") && f.contains("_part=1")))

    // a LATER relocation folds the partitioned v2 base + plain v3 into
    // v3 — the chained-maintenance shape of a long crawl
    store.relocateDeltas(baseId = 3, table = "output_spans")
    assert(store.expireSnapshots() === Seq(2))
    assert(store.committedSnapshots === Seq(3))
    assert(store.readDeltas(spark, 3, "output_spans")
      .collect().map(_.getString(0)).toSet === before)
    assert(store.readDeltas(spark, 3, "output_spans", rounds = Some((0, 1)))
      .collect().map(_.getString(0)).toSet ===
      before.filter(d => d.startsWith("d0-") || d.startsWith("d1-")))
  }

  test("relocation interrupted after assembly: a re-run at the same base gives the same seen set") {
    import spark.implicits._
    val store = freshStore()
    (0 to 2).foreach { r =>
      store.write((0 until 6).map(i => (s"https://c/$r/$i", (r * 10 + i).toLong, r))
        .toDF("url_canon", "url_hash", "round_first_seen").repartition(2), r, "url_seen_delta")
      store.commit(r, r)
    }
    def seenSet = store.readSeen(spark, 2).collect().map(_.toString).toSet
    val before = seenSet
    // the crash: every round's data files already moved into the
    // staging dir, nothing swapped in, no manifest rewritten
    val staging = Paths.get(store.snapshotDir(2), ".reloc_url_seen_delta")
    (0 to 2).foreach { r =>
      val part = Files.createDirectories(staging.resolve(s"_part=$r"))
      val src = Paths.get(store.tablePath(r, "url_seen_delta"))
      Files.list(src).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(f => Files.move(f, part.resolve(f.getFileName.toString)))
    }
    assert(store.maintenanceDebris(2) === Seq(".reloc_url_seen_delta"))
    assert(store.compactedTables(2).isEmpty)
    // the re-run adopts the staged files and finishes the pass
    store.relocateDeltas(baseId = 2, table = "url_seen_delta", roundCol = "round_first_seen")
    assert(store.maintenanceDebris(2).isEmpty)
    assert(store.compactedTables(2) === Set("url_seen_delta"))
    assert(seenSet === before)
    assert(store.expireSnapshots() === Seq(0, 1))
    assert(seenSet === before)
    assert(store.readSeen(spark, 2, rounds = Some((1, 1))).count() === 6)
  }

  test("crawl maintenance keeps the files the rounds wrote for the seen table and the doc index") {
    import spark.implicits._
    val universe = SyntheticWeb.Universe(numHosts = 11, pagesPerHost = 20,
      seed = 3L, outlinksPerDoc = 3, spansPerDoc = 4)
    // one round per call: each round's files are listed before a pass
    // (after rounds 1 and 3) can move them
    val cfg = CrawlConfig(numPartitions = 4, saltsPerHost = 2, hostBudgetPerRound = 4,
      maxRounds = 1, bloomExpectedItems = 1 << 12, dedupDocs = true, compactEvery = 2)
    val store = freshStore()
    val tables = Seq("url_seen_delta", "minhash_index")
    def names(dir: Path): Set[String] =
      if (!Files.isDirectory(dir)) Set.empty
      else Files.list(dir).iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
    def partNames(base: Int, t: String, round: Int): Set[String] =
      names(Paths.get(store.tablePath(base, t), s"_part=$round"))
    val written = scala.collection.mutable.Map.empty[(String, Int), Set[String]]
    (0 to 3).foreach { r =>
      CrawlJob.run(spark, universe.seedUrls(30).toDS(), SyntheticWeb.defaultRobots,
        SyntheticWeb.hostMap(universe.numHosts).toDS(), universe, cfg, store.root)
      assert(store.currentSnapshot === Some(r))
      if (r % 2 == 0) tables.foreach { t =>
        written((t, r)) = names(Paths.get(store.tablePath(r, t)))
        assert(written((t, r)).nonEmpty, s"v$r/$t")
      } else tables.foreach { t =>
        assert(store.compactedTables(r).contains(t), s"v$r/$t")
        // every earlier round's files sit, by name, in the base's
        // `_part=<round>` dir: moved, never rewritten
        written.collect { case ((`t`, q), files) => q -> files }.foreach { case (q, files) =>
          assert(partNames(r, t, q) === files, s"v$r/$t/_part=$q")
        }
        (0 to r).foreach(q => written((t, q)) = partNames(r, t, q))
        assert(written((t, r)).nonEmpty, s"v$r/$t/_part=$r")
      }
    }
    assert(store.committedSnapshots === Seq(3))
    assert(store.readSeen(spark, 3).count() === store.manifestMeta(3)("seen_total").toLong)
  }

  test("WAP: staged snapshot is invisible until publish; audit reads see it by id") {
    import spark.implicits._
    val store = freshStore()
    store.write(Seq(("https://a/0", 10L, 0)).toDF("url_canon", "url_hash", "round_first_seen"),
      0, "url_seen_delta")
    store.commit(0, 0)
    // stage v1 — fully written, manifest present, CURRENT untouched
    store.write(Seq(("https://a/1", 11L, 1)).toDF("url_canon", "url_hash", "round_first_seen"),
      1, "url_seen_delta")
    store.stage(1, 1, Map("audit" -> "pending"))
    assert(store.isStaged(1))
    assert(store.currentSnapshot === Some(0), "CURRENT must not move on stage")
    assert(store.committedSnapshots === Seq(0), "committed view excludes staged")
    assert(store.snapshotsTable(spark).count() === 1)
    // the union read is bounded by the committed view even when asked
    // past the staged id
    assert(store.readSeen(spark, 1).count() === 1)
    // the AUDITOR reads the staged snapshot explicitly
    val audit = store.read(spark, 1, "url_seen_delta")
    assert(audit.count() === 1)
    assert(audit.select("url_canon").head().getString(0) === "https://a/1")
    // publish: flag drops, CURRENT advances, rows join the union read
    store.publish(1)
    assert(!store.isStaged(1))
    assert(store.currentSnapshot === Some(1))
    assert(store.committedSnapshots === Seq(0, 1))
    assert(store.readSeen(spark, 1).count() === 2)
    assert(store.manifestMeta(1).get("audit") === Some("pending"),
      "publish keeps the staged manifest's other meta")
  }

  test("WAP: abandon deletes only staged snapshots; crash-before-publish leaves readers intact") {
    import spark.implicits._
    val store = freshStore()
    store.write(Seq(("https://b/0", 20L, 0)).toDF("url_canon", "url_hash", "round_first_seen"),
      0, "url_seen_delta")
    store.commit(0, 0)
    store.write(Seq(("https://b/1", 21L, 1)).toDF("url_canon", "url_hash", "round_first_seen"),
      1, "url_seen_delta")
    store.stage(1, 1)
    // crash model: nothing published — a fresh store handle (resume)
    // still serves the old snapshot and sees the staged one as staged
    val resumed = new SnapshotStore(store.root)
    assert(resumed.currentSnapshot === Some(0))
    assert(resumed.isStaged(1))
    assert(resumed.readSeen(spark, 1).count() === 1)
    // failed audit: abandon removes the dir; committed history refuses
    resumed.abandon(1)
    assert(!Files.exists(java.nio.file.Paths.get(resumed.snapshotDir(1))))
    intercept[IllegalArgumentException] { resumed.abandon(0) }
    assert(resumed.readSeen(spark, 0).count() === 1)
    // the id is reusable: stage again, publish this time
    resumed.write(Seq(("https://b/1b", 22L, 1)).toDF("url_canon", "url_hash", "round_first_seen"),
      1, "url_seen_delta")
    resumed.stage(1, 1)
    resumed.publish(1)
    assert(resumed.currentSnapshot === Some(1))
    assert(resumed.readSeen(spark, 1).count() === 2)
  }

  test("recorded schemas: every crawl table records its inferred schema, maintained bases too") {
    import spark.implicits._
    val universe = SyntheticWeb.Universe(numHosts = 11, pagesPerHost = 20,
      seed = 3L, outlinksPerDoc = 3, spansPerDoc = 4)
    val cfg = CrawlConfig(numPartitions = 4, saltsPerHost = 2, hostBudgetPerRound = 4,
      maxRounds = 4, bloomExpectedItems = 1 << 12, dedupDocs = true)
    def crawl(c: CrawlConfig): SnapshotStore = {
      val store = freshStore()
      CrawlJob.run(spark, universe.seedUrls(30).toDS(), SyntheticWeb.defaultRobots,
        SyntheticWeb.hostMap(universe.numHosts).toDS(), universe, c, store.root)
      store
    }
    // plain per-round deltas: frontier, output_spans, metrics, fetch_log,
    // url_seen_delta, cuckoo, pending, doc_dup_pairs, minhash_index
    val plain = crawl(cfg)
    assert(assertRecordedSchemas(plain) >= 4 * 9)
    // in-crawl maintenance: relocated hidden-partitioned bases keep a
    // recorded schema of their own
    val maintained = crawl(cfg.copy(compactEvery = 2))
    assert(maintained.compactedTables(3).contains("url_seen_delta"))
    assert(maintained.compactedTables(3).contains("output_spans"))
    assertRecordedSchemas(maintained)
  }

  test("recorded schemas: add-column evolution across chained relocations") {
    import spark.implicits._
    val store = freshStore()
    (0 to 3).foreach { r =>
      val base = Seq((s"https://e/$r", r.toLong, r)).toDF("url_canon", "url_hash", "round_first_seen")
      store.write(if (r >= 2) base.withColumn("src_tag", lit(s"t$r")) else base, r, "url_seen_delta")
      store.write(base.select(col("url_canon").as("doc_id"), col("round_first_seen").as("round")),
        r, "output_spans")
      store.commit(r, r)
    }
    assert(store.schema(1, "url_seen_delta").fieldNames.toSeq ===
      Seq("url_canon", "url_hash", "round_first_seen"))
    // fold 0..1, then 2..3 on top: the second base carries the
    // pre-evolution partitions beside the evolved rounds
    store.relocateDeltas(baseId = 1, table = "url_seen_delta", roundCol = "round_first_seen")
    store.relocateDeltas(baseId = 3, table = "url_seen_delta", roundCol = "round_first_seen")
    store.relocateDeltas(baseId = 3, table = "output_spans")
    assert(store.schema(3, "url_seen_delta").fieldNames.toSeq ===
      Seq("url_canon", "url_hash", "round_first_seen", "src_tag"))
    assertRecordedSchemas(store)
    val seen = store.readSeen(spark, 3)
    assert(seen.filter(col("src_tag").isNull).count() === 2)
    assert(store.readDeltas(spark, 3, "output_spans").count() === 4)
  }

  /** Every file and directory under `dir` → (mode, sha-256 of a file's
    * bytes), keyed by relative path with the write's job UUID cut from
    * file names (part index and partition dir remain).
    */
  private def layout(dir: Path): Map[String, (Int, String)] = {
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_ != dir).map { p =>
      val mode = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
      val sha = if (Files.isDirectory(p)) "dir" else
        java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
          .map(b => f"$b%02x").mkString
      uuid.replaceAllIn(dir.relativize(p).toString, "*") -> (mode, sha)
    }.toMap
    finally s.close()
  }

  /** `write` stages into `store` under (0, table); the reference is the
    * `DataFrameWriter` write with the session's full Hadoop conf that
    * the store made before. Same data and `.crc` bytes, same modes,
    * same rows; `_SUCCESS` and the store's `_SCHEMA` present.
    */
  private def assertSameFiles(store: SnapshotStore, table: String, reference: Path,
                              write: SnapshotStore => Unit,
                              writeReference: String => Unit): Unit = {
    write(store)
    writeReference(reference.toString)
    val mine = Paths.get(store.tablePath(0, table))
    assert(Files.exists(mine.resolve("_SUCCESS")) && Files.exists(mine.resolve("_SCHEMA")), table)
    val got = layout(mine) - "_SCHEMA"
    val want = layout(reference)
    assert(got.keys.exists(_.endsWith(".parquet")) && got.keys.exists(_.endsWith(".parquet.crc")))
    assert(got === want, table)
    val rows = store.read(spark, 0, table)
    val expected = spark.read.parquet(reference.toString).select(rows.columns.map(col): _*)
    assert(rows.collect().map(_.toString).sorted === expected.collect().map(_.toString).sorted)
  }

  test("store writes give the files DataFrameWriter gives with the session conf") {
    import spark.implicits._
    val store = freshStore()
    val refs = Files.createTempDirectory("store-ref")
    def writer(df: DataFrame) = df.write.mode(SaveMode.Overwrite).options(InProcessLocalFs.options)
    // shaped like the crawl's tables, nulls and non-nullable columns included
    val frontier = (0 until 400).map { i =>
      FrontierEntry(s"https://h${i % 7}/p$i", s"https://h${i % 7}/p$i", i * 0x9E3779B97F4A7C15L,
        s"h${i % 7}", (i % 7) * 31 + i % 2, 1.0 / (1 + i % 5), i.toLong, 2)
    }.toDS().repartition(4).cache()
    val fetchLog = (0 until 500).map { i =>
      (s"https://h${i % 9}/p$i", i.toLong * 7919, s"h${i % 9}", 3, i % 4, if (i % 11 == 0) 404 else 200,
        i * 37L, if (i % 13 == 0) "timeout" else if (i % 17 == 0) null else "", i % 3, i % 2,
        i * 3L, i % 2, if (i % 5 == 0) s"https://h${i % 9}/r$i" else "")
    }.toDF("url_canon", "url_hash", "host", "round", "partition_id", "status", "bytes", "error",
      "cookies_applied", "headers_applied", "duration_ms", "redirects", "final_url")
      .repartition(3).cache()
    val pending = (0 until 300).map(i => (s"https://h${i % 5}/q$i", 1.0 / (2 + i % 3), i * 131L))
      .toDF("url", "priority", "seq").repartition(2).cache()
    Seq(frontier.toDF(), fetchLog, pending).foreach(_.count())

    val sortedFrontier = frontier.toDF().sortWithinPartitions(col("priority").desc, col("seq"))
    assertSameFiles(store, "frontier", refs.resolve("frontier"),
      _.write(sortedFrontier, 0, "frontier"), writer(sortedFrontier).parquet)
    val sortedFetchLog = fetchLog.sortWithinPartitions("url_canon")
    assertSameFiles(store, "fetch_log", refs.resolve("fetch_log"),
      _.write(sortedFetchLog, 0, "fetch_log"), writer(sortedFetchLog).parquet)
    assertSameFiles(store, "pending", refs.resolve("pending"),
      _.write(pending.coalesce(1), 0, "pending"), writer(pending.coalesce(1)).parquet)

    // Overwrite: the same (id, table) again keeps only the second write
    store.write(pending.limit(5).coalesce(1), 0, "pending")
    assert(store.read(spark, 0, "pending").count() === 5)
    assert(layout(Paths.get(store.tablePath(0, "pending"))).keys.count(_.endsWith(".parquet")) === 1)
    Seq(frontier.toDF(), fetchLog, pending).foreach(_.unpersist())
  }

  test("readSeen over k snapshots plans without a Spark job") {
    import spark.implicits._
    val store = freshStore()
    val k = 6
    (0 until k).foreach { r =>
      store.write(Seq((s"https://j/$r", r.toLong, r)).toDF("url_canon", "url_hash", "round_first_seen"),
        r, "url_seen_delta")
      store.commit(r, r)
    }
    var seen: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { seen = store.readSeen(spark, k - 1) } === 0)
    assert(jobsDuring(store.read(spark, k - 1, "url_seen_delta")) === 0)
    assert(seen.count() === k)
  }
}
