package graft

import graft.model.CrawlConfig
import graft.pipeline.CrawlJob
import graft.sources.{SnapshotStore, SyntheticWeb}
import graft.testkit.ReferenceCrawl
import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** End-to-end crawl vs the straight-line reference model: final URL-seen
  * set, per-round canonical frontier order, and output span-sequence
  * equality (kind, text, media_ref, order) — the BASELINE.json
  * correctness gates.
  */
class CrawlJobSpec extends SparkSpec {

  private val universe = SyntheticWeb.Universe(numHosts = 23, pagesPerHost = 40,
    seed = 7L, outlinksPerDoc = 3, spansPerDoc = 5)
  private val cfg = CrawlConfig(numPartitions = 8, saltsPerHost = 2,
    hostBudgetPerRound = 4, maxRounds = 3, bloomExpectedItems = 1 << 12)
  private val robots = SyntheticWeb.defaultRobots
  private val hostMap = SyntheticWeb.hostMap(universe.numHosts)
  private val seeds = universe.seedUrls(60)

  private def runEngine(root: String): CrawlJob.CrawlSummary = {
    import spark.implicits._
    CrawlJob.run(spark, seeds.toDS(), robots, hostMap.toDS(), universe, cfg, root)
  }

  lazy val model: ReferenceCrawl.Result =
    ReferenceCrawl.run(seeds, robots, hostMap.map(h => h.host -> h.ips).toMap, universe, cfg)

  lazy val storeRoot: String = Files.createTempDirectory("crawl-spec").toString
  lazy val summary: CrawlJob.CrawlSummary = runEngine(storeRoot)

  test("final URL-seen set matches the reference model") {
    val store = new SnapshotStore(storeRoot)
    summary // force
    val last = store.currentSnapshot.get
    val engineSeen = store.readSeen(spark, last)
      .select("url_canon", "round_first_seen")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(engineSeen === model.seen)
  }

  test("per-round frontier canonical order matches the reference model") {
    summary
    val store = new SnapshotStore(storeRoot)
    model.rounds.foreach { rt =>
      val engineOrder = store.read(spark, rt.round, "frontier")
        .orderBy(col("host_hash"), col("priority").desc, col("seq"), col("url_canon"))
        .select("url_canon").collect().map(_.getString(0)).toSeq
      assert(engineOrder === rt.admittedOrdered, s"round ${rt.round}")
    }
  }

  test("output spans satisfy span-sequence equality vs the model") {
    summary
    val store = new SnapshotStore(storeRoot)
    model.rounds.foreach { rt =>
      val engineDocs = store.read(spark, rt.round, "output_spans")
        .selectExpr("doc_id",
          "transform(spans, s -> struct(s.kind, s.text, s.media_ref, s.offset)) as spans")
        .collect()
        .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (s.getString(0), s.getString(1), s.getString(2), s.getInt(3))))
        .toMap
      val modelDocs = rt.fetchedDocs.map { case (id, d) =>
        id -> d.spans.map(s => (s.kind, s.text, s.media_ref, s.offset))
      }
      assert(engineDocs.keySet === modelDocs.keySet, s"round ${rt.round} doc ids")
      modelDocs.foreach { case (id, spans) =>
        assert(engineDocs(id) === spans, s"round ${rt.round} doc $id")
      }
    }
  }

  test("crawl is resumable from the committed snapshot") {
    summary
    val store = new SnapshotStore(storeRoot)
    val before = store.currentSnapshot.get
    // continue for 1 more round from the checkpoint
    import spark.implicits._
    val more = CrawlJob.run(spark, seeds.toDS(), robots, hostMap.toDS(), universe,
      cfg.copy(maxRounds = 1), storeRoot)
    val after = store.currentSnapshot.get
    assert(after === before + 1)
    // model run for 4 rounds total must agree with the resumed engine
    val model4 = ReferenceCrawl.run(seeds, robots,
      hostMap.map(h => h.host -> h.ips).toMap, universe, cfg.copy(maxRounds = 4))
    val engineSeen = store.readSeen(spark, after)
      .select("url_canon", "round_first_seen")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(engineSeen === model4.seen)
    assert(more.rounds.nonEmpty)
  }

  test("resume fails fast on a checkpoint missing any piece the crawl writes") {
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-pieces").toString
    CrawlJob.run(spark, seeds.toDS(), robots, hostMap.toDS(), universe,
      cfg.copy(maxRounds = 2), root)
    val store = new SnapshotStore(root)
    // `break` takes one piece away from the checkpoint's dir and returns
    // what puts it back
    def failsFast(piece: String)(break: Path => () => Unit): Unit = {
      val ckpt = store.currentSnapshot.get
      val committed = store.committedSnapshots
      val restore = break(Paths.get(store.snapshotDir(ckpt)))
      try {
        val ex = intercept[IllegalArgumentException] {
          CrawlJob.run(spark, seeds.toDS(), robots, hostMap.toDS(), universe,
            cfg.copy(maxRounds = 1), root)
        }
        assert(ex.getMessage.contains(s"snapshot v$ckpt"), s"$piece: ${ex.getMessage}")
        assert(ex.getMessage.contains(piece), s"$piece: ${ex.getMessage}")
        assert(store.currentSnapshot === Some(ckpt), piece)
        assert(store.committedSnapshots === committed, piece)
        assert(!Files.exists(Paths.get(store.snapshotDir(ckpt + 1))), piece)
      } finally restore()
    }
    def moveAside(paths: Seq[Path]): () => Unit = {
      assert(paths.nonEmpty && paths.forall(Files.exists(_)), paths)
      val aside = Files.createTempDirectory("crawl-piece-aside")
      val moved = paths.map(p => p -> Files.move(p, aside.resolve(p.getFileName)))
      () => moved.foreach { case (p, a) => Files.move(a, p) }
    }
    // adds a manifest key the crawl no longer writes nor reads
    def withMetaKey(mf: Path, key: String, value: String): () => Unit = {
      val manifest = Files.readString(mf)
      Files.writeString(mf, manifest.replace("\"meta\": {", s"\"meta\": {\"$key\": \"$value\", "))
      assert(Files.readString(mf).contains(s"\"$key\": \"$value\""), mf)
      () => Files.writeString(mf, manifest)
    }
    failsFast("bloom.bin")(d => moveAside(Seq(d.resolve("bloom.bin"))))
    // a checkpoint of the removed sharded-bloom mode: flagged, no
    // bloom.bin. The flag changes nothing; the missing bloom fails it.
    failsFast("bloom.bin") { d =>
      val unflag = withMetaKey(d.resolve("MANIFEST.json"), "bloom_sharded", "true")
      val putBack = moveAside(Seq(d.resolve("bloom.bin")))
      () => { putBack(); unflag() }
    }
    failsFast("cuckoo table")(d => moveAside(Seq(d.resolve("cuckoo"))))
    Seq("cuckoo_buckets", "bloom_capacity", "bloom_fpp", "seen_total")
      .foreach { key =>
        failsFast(s"manifest key $key") { d =>
          val mf = d.resolve("MANIFEST.json")
          val manifest = Files.readString(mf)
          Files.writeString(mf, manifest.replace(s"\"$key\"", s"\"${key}_removed\""))
          () => Files.writeString(mf, manifest)
        }
      }
    // restored, the checkpoint resumes, with the broadcast-mode flag
    // older checkpoints carry too
    withMetaKey(Paths.get(store.snapshotDir(1), "MANIFEST.json"), "bloom_sharded", "false")
    CrawlJob.run(spark, seeds.toDS(), robots, hostMap.toDS(), universe,
      cfg.copy(maxRounds = 1), root)
    assert(store.currentSnapshot === Some(2))
  }

  test("resume reads its state without a Spark job (seen_total comes from the manifest)") {
    summary
    val sc = spark.sparkContext
    ListenerBusDrain(sc) // earlier jobs' events must not reach the listener
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    import spark.implicits._
    val resumed =
      try CrawlJob.run(spark, seeds.toDS(), robots, hostMap.toDS(), universe,
        cfg.copy(maxRounds = 0), storeRoot) // the resume prologue only
      finally { ListenerBusDrain(sc); sc.removeSparkListener(listener) }
    val store = new SnapshotStore(storeRoot)
    assert(resumed.seenTotal ===
      store.manifestMeta(store.currentSnapshot.get)("seen_total").toLong)
    assert(jobs.get === 0, s"${jobs.get} Spark jobs before round work")
  }

  test("resume adopts the checkpoint's cuckoo bucket count (manifest wins over cfg)") {
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-buckets").toString
    CrawlJob.run(spark, seeds.toDS(), robots, hostMap.toDS(), universe,
      cfg.copy(maxRounds = 2, cuckooBuckets = 16), root)
    // resume with a DIFFERENT configured bucket count: the persisted
    // value must win — otherwise seen hashes would read the wrong
    // bucket-N.bin, the sketch "no" would lie, and seen URLs would be
    // re-admitted (duplicate crawl + duplicate seen rows)
    CrawlJob.run(spark, seeds.toDS(), robots, hostMap.toDS(), universe,
      cfg.copy(maxRounds = 2, cuckooBuckets = 64), root)
    val store = new SnapshotStore(root)
    val last = store.currentSnapshot.get
    assert(store.manifestMeta(last)("cuckoo_buckets") === "16")
    val model4 = ReferenceCrawl.run(seeds, robots,
      hostMap.map(h => h.host -> h.ips).toMap, universe, cfg.copy(maxRounds = 4))
    val engineSeen = store.readSeen(spark, last)
      .select("url_canon", "round_first_seen")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(engineSeen === model4.seen)
  }

  test("snapshot time travel: older committed rounds stay readable after later commits") {
    summary
    val store = new SnapshotStore(storeRoot)
    val last = store.currentSnapshot.get
    assert(last >= 1)
    // round-0 seen is a strict subset of the latest seen
    val seen0 = store.readSeen(spark, 0).select("url_canon")
      .collect().map(_.getString(0)).toSet
    val seenN = store.readSeen(spark, last).select("url_canon")
      .collect().map(_.getString(0)).toSet
    assert(seen0.subsetOf(seenN) && seen0.size < seenN.size)
    // manifests exist per committed snapshot
    (0 to last).foreach { r => assert(store.readManifest(r).contains("\"round\"")) }
  }

  test("in-crawl snapshot maintenance (compactEvery) preserves the seen set and resume") {
    // same crawl with the opt-in compact+expire stage firing mid-run
    // (after round 1: (1+1) % 2 == 0) must land on the reference model's
    // seen set, with the subsumed snapshots actually gone from disk.
    val root = Files.createTempDirectory("crawl-compact").toString
    import spark.implicits._
    CrawlJob.run(spark, seeds.toDS(), robots, hostMap.toDS(), universe,
      cfg.copy(compactEvery = 2), root)
    val store = new SnapshotStore(root)
    val last = store.currentSnapshot.get
    val engineSeen = store.readSeen(spark, last)
      .select("url_canon", "round_first_seen")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(engineSeen === model.seen)
    // round-1 compaction expired v0; the base and everything after survive
    assert(!Files.exists(java.nio.file.Paths.get(store.snapshotDir(0))))
    assert(store.compactedTables(1).contains("url_seen_delta"))
    // expiry is Iceberg-faithful: the HISTORY tables survive it in full.
    // output spans were relocated (rename-only) into the base, so the
    // cumulative corpus equals the model's fetched docs across rounds,
    // and per-URL lineage keeps one fetch_log row per fetched URL
    assert(store.compactedTables(1).contains("output_spans"))
    val engineDocs = store.readDeltas(spark, last, "output_spans")
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(engineDocs === model.rounds.flatMap(_.fetchedDocs.keys).toSet)
    val logged = store.readDeltas(spark, last, "fetch_log")
      .select("url_canon").collect().map(_.getString(0)).toSet
    assert(logged === model.rounds.flatMap(_.admittedOrdered).toSet)
    // resume FROM a maintained checkpoint: 1 more round, model agreement
    CrawlJob.run(spark, seeds.toDS(), robots, hostMap.toDS(), universe,
      cfg.copy(maxRounds = 1, compactEvery = 2), root)
    val model4 = ReferenceCrawl.run(seeds, robots,
      hostMap.map(h => h.host -> h.ips).toMap, universe, cfg.copy(maxRounds = 4))
    val resumedSeen = store.readSeen(spark, store.currentSnapshot.get)
      .select("url_canon", "round_first_seen")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(resumedSeen === model4.seen)
  }

  test("resume fails fast on interrupted-maintenance debris (rows parked in dot-dirs)") {
    summary
    val store = new SnapshotStore(storeRoot)
    val cur = store.currentSnapshot.get
    val debris = java.nio.file.Paths.get(store.snapshotDir(cur), ".reloc_output_spans")
    Files.createDirectories(debris)
    try {
      import spark.implicits._
      val ex = intercept[IllegalArgumentException] {
        CrawlJob.run(spark, seeds.toDS(), robots, hostMap.toDS(), universe,
          cfg.copy(maxRounds = 1), storeRoot)
      }
      assert(ex.getMessage.contains(".reloc_output_spans"))
    } finally Files.delete(debris)
  }

  test("rollback_to_snapshot: resume replays deterministically from the rolled-back checkpoint") {
    val root = Files.createTempDirectory("crawl-rollback").toString
    import spark.implicits._
    CrawlJob.run(spark, seeds.toDS(), robots, hostMap.toDS(), universe, cfg, root)
    val store = new SnapshotStore(root)
    def seenMap(id: Int) = store.readSeen(spark, id)
      .select("url_canon", "round_first_seen")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val seenBefore = seenMap(2)
    store.rollbackTo(1)
    assert(store.currentSnapshot === Some(1))
    // the rolled-over snapshot is gone (its id will be recommitted)
    assert(!Files.exists(java.nio.file.Paths.get(store.snapshotDir(2))))
    assert(seenMap(1) === model.rounds.take(2)
      .flatMap(_.admittedOrdered).distinct
      .map(u => u -> model.seen(u)).toMap)
    // resume ONE round from the rolled-back checkpoint: round 2 is
    // recomputed, and determinism makes it bit-equal to the first run
    CrawlJob.run(spark, seeds.toDS(), robots, hostMap.toDS(), universe,
      cfg.copy(maxRounds = 1), root)
    assert(store.currentSnapshot === Some(2))
    assert(seenMap(2) === seenBefore)
    assert(seenMap(2) === model.seen)
  }

  test("hot-host politeness budget is honored per round") {
    summary
    val store = new SnapshotStore(storeRoot)
    (0 until math.min(cfg.maxRounds, store.currentSnapshot.get + 1)).foreach { r =>
      if (store.hasTable(r, "frontier")) {
        val perHost = store.read(spark, r, "frontier")
          .groupBy("host").count().collect()
        perHost.foreach { row =>
          assert(row.getLong(1) <= cfg.hostBudgetPerRound,
            s"round $r host ${row.getString(0)} over budget")
        }
      }
    }
  }

  test("WAP-gated rounds produce the same crawl as plain commits; no staged leftovers") {
    import spark.implicits._
    summary // baseline run (plain commits) forced
    val wapRoot = Files.createTempDirectory("crawl-wap").toString
    val wapSummary = CrawlJob.run(spark, seeds.toDS(), robots, hostMap.toDS(),
      universe, cfg.copy(wapAudit = true), wapRoot)
    assert(wapSummary.rounds.map(r => (r.round, r.admitted, r.fetched, r.seenTotal)) ===
      summary.rounds.map(r => (r.round, r.admitted, r.fetched, r.seenTotal)))
    // fixed expectations, not the shared baseline store — the resume
    // test extends storeRoot past cfg.maxRounds when the suite runs in
    // full, so its CURRENT is order-dependent
    val store = new SnapshotStore(wapRoot)
    assert(store.currentSnapshot === Some(cfg.maxRounds - 1))
    assert(store.committedSnapshots === (0 until cfg.maxRounds))
    assert(store.committedSnapshots.forall(id => !store.isStaged(id)),
      "every published round must have dropped the staged flag")
    val last = store.currentSnapshot.get
    val wapSeen = store.readSeen(spark, last)
      .select("url_canon", "round_first_seen")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(wapSeen === model.seen)
    // the audit gate actually bites: a staged snapshot whose delta is
    // tampered with must be abandoned, not published
    val store2root = Files.createTempDirectory("crawl-wap-tamper").toString
    val store2 = new SnapshotStore(store2root)
    store2.write(Seq(("https://t/0", 1L, 0)).toDF("url_canon", "url_hash", "round_first_seen"),
      0, "url_seen_delta")
    store2.commit(0, 0)
    store2.write(Seq((null.asInstanceOf[String], 2L, 1))
      .toDF("url_canon", "url_hash", "round_first_seen"), 1, "url_seen_delta")
    store2.stage(1, 1)
    val badRows = store2.read(spark, 1, "url_seen_delta")
      .filter(col("url_canon").isNull).count()
    assert(badRows === 1L)
    store2.abandon(1)
    assert(store2.currentSnapshot === Some(0))
  }

  /** A 4-round crawl into a fresh store under a listener: its rounds,
    * the store, and each round's job descriptions. A round's jobs start
    * after the previous round's commit (the state reload after a commit
    * belongs to the next round) and by its own.
    */
  private def crawlJobs(c: CrawlConfig, adaptive: Boolean = true)
      : (Seq[CrawlJob.RoundStats], SnapshotStore, Seq[Seq[String]]) = {
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-jobs").toString
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(e.time -> String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", adaptive.toString)
    val t0 = System.currentTimeMillis()
    sc.addSparkListener(listener)
    val rounds =
      try CrawlJob.run(spark, seeds.toDS(), robots, hostMap.toDS(), universe,
        c.copy(maxRounds = 4), root).rounds
      finally {
        ListenerBusDrain(sc); sc.removeSparkListener(listener)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
      }
    assert(rounds.size === 4)
    val store = new SnapshotStore(root)
    val commits = rounds.map(r => Files.getLastModifiedTime(
      java.nio.file.Paths.get(store.snapshotDir(r.round), "MANIFEST.json")).toMillis)
    val jobs = (t0 +: commits).sliding(2).toSeq.map { case Seq(a, b) =>
      starts.asScala.toSeq.collect { case (t, label) if t > a && t <= b => label }
    }
    (rounds, store, jobs)
  }

  test("every round >= 1 runs the same number of Spark jobs (no reload job per snapshot)") {
    val jobs = crawlJobs(cfg)._3.map(_.size)
    info(s"jobs per round: ${jobs.mkString(", ")}")
    assert(jobs.tail.distinct.size === 1, s"jobs per round: ${jobs.mkString(", ")}")
  }

  test("without AQE a round runs at most 8 jobs, and small tables write one file") {
    val (rounds, store, jobs) = crawlJobs(cfg, adaptive = false)
    info(s"jobs per round: ${jobs.map(_.size).mkString(", ")}")
    jobs.zipWithIndex.foreach { case (js, r) =>
      assert(js.size <= 8, s"round $r ran ${js.size} jobs: ${js.mkString(", ")}")
    }
    // a table of a few hundred rows is one write task, so one data file
    for (st <- rounds; t <- Seq("url_seen_delta", "fetch_log", "pending")) {
      val files = new java.io.File(store.tablePath(st.round, t)).list()
        .filter(f => f.startsWith("part-") && f.endsWith(".parquet"))
      assert(files.length === 1, s"round ${st.round} $t: ${files.mkString(", ")}")
    }
  }

  test("bloom.bin is the same from the admitted hashes and from the distributed merge") {
    // at bloomCollectThreshold = 1 every round's admitted hashes overflow
    // the collector, so the bloom merges a delta bloom built by a job
    val (collected, collectedStore, collectedJobs) = crawlJobs(cfg)
    val (merged, mergedStore, mergedJobs) = crawlJobs(cfg.copy(bloomCollectThreshold = 1L))
    assert(collectedJobs.forall(!_.contains("bloom-update")), "the admitted hashes need no job")
    assert(mergedJobs.forall(_.contains("bloom-update")), "every round merges by a job")
    val model4 = ReferenceCrawl.run(seeds, robots,
      hostMap.map(h => h.host -> h.ips).toMap, universe, cfg.copy(maxRounds = 4))
    Seq(collectedStore, mergedStore).foreach { store =>
      val engineSeen = store.readSeen(spark, 3)
        .select("url_canon", "round_first_seen")
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(engineSeen === model4.seen, store.root)
      model4.rounds.foreach { rt =>
        val order = store.read(spark, rt.round, "frontier")
          .orderBy(col("host_hash"), col("priority").desc, col("seq"), col("url_canon"))
          .select("url_canon").collect().map(_.getString(0)).toSeq
        assert(order === rt.admittedOrdered, s"${store.root} round ${rt.round}")
      }
    }
    assert(collected.map(_.admitted) === merged.map(_.admitted))
    collected.foreach { st =>
      def bloom(store: SnapshotStore) =
        Files.readAllBytes(Paths.get(store.snapshotDir(st.round), "bloom.bin"))
      assert(bloom(collectedStore).sameElements(bloom(mergedStore)), s"round ${st.round}")
    }
  }

  test("metrics rows equal a per-partition recount over the round's fetch_log") {
    summary
    val store = new SnapshotStore(storeRoot)
    store.committedSnapshots.foreach { r =>
      val log = store.read(spark, r, "fetch_log")
      val byPartition = log.select("partition_id", "url_canon", "status", "bytes", "error",
        "redirects").collect().groupBy(_.getInt(0))
      // HLL++ registers do not depend on row order, so the estimate is
      // the aggregate's own
      val origins = log.groupBy("partition_id").agg(approx_count_distinct("host", 0.05))
        .collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
      val metrics = store.read(spark, r, "metrics").collect()
        .map(m => m.getAs[Int]("partition_id") -> m).toMap
      assert(metrics.keySet === byPartition.keySet, s"round $r partitions")
      byPartition.foreach { case (pid, rows) =>
        val m = metrics(pid)
        val at = s"round $r partition $pid"
        val bytes = rows.map(_.getLong(3))
        assert(m.getAs[Int]("round") === r, at)
        assert(m.getAs[Long]("urls_fetched") === rows.length.toLong, at)
        assert(m.getAs[Long]("urls_converted") ===
          rows.count(x => x.getString(4) == "" && x.getInt(2) == 200).toLong, at)
        assert(m.getAs[Long]("bytes_total") === bytes.sum, at)
        assert(m.getAs[Long]("failed_count") === rows.count(_.getString(4).nonEmpty).toLong, at)
        assert(m.getAs[Long]("redirects_total") === rows.map(_.getInt(5).toLong).sum, at)
        assert(m.getAs[Long]("heaviest_bytes") === bytes.max, at)
        assert(rows.filter(_.getLong(3) == bytes.max).map(_.getString(1))
          .contains(m.getAs[String]("heaviest_url")), at)
        assert(m.getAs[Long]("unique_origins") === origins(pid), at)
      }
    }
  }

  test("a repeated crawl compiles almost no code: the crawl's classes fit the codegen cache") {
    import spark.implicits._
    // Spark's codegen cache keeps 100 classes (least recently used out);
    // a crawl whose classes outgrow it recompiles all of them on the
    // next crawl in the same JVM
    def crawl(): Unit = CrawlJob.run(spark, seeds.toDS(), robots, hostMap.toDS(), universe,
      cfg.copy(maxRounds = 4), Files.createTempDirectory("crawl-codegen").toString)
    crawl()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    crawl()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    info(s"the second identical crawl compiled $compiled classes")
    assert(compiled <= 12, s"the second identical crawl compiled $compiled classes")
  }
}
