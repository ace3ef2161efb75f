package graft.pipeline

import graft.datatools.Dedup
import graft.datatools.Observations.observedOrRecount
import graft.frontier.{Politeness, RobotsFilter, UrlSeen}
import graft.functions.UrlFunctions
import graft.model._
import graft.operators.SpanOps
import graft.sources.{InProcessLocalFs, SnapshotStore, SyntheticWeb}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** The crawl archetype end-to-end (SURVEY.md §3.1 re-expressed):
  *
  *   pending URLs → canonicalize+hash → robots broadcast join (F1) →
  *   in-batch dedup → URL-seen layer (bloom → cuckoo → exact anti-join) →
  *   salted host-hash repartition + per-host token-bucket admission →
  *   sorted frontier snapshot → synthetic fetch → span decomposition +
  *   conversion chain → output spans + per-partition lineage metrics →
  *   outlinks feed the next round; every round commits an atomic
  *   snapshot so the job resumes from the last committed round.
  *
  * Physical-plan budget per round (scale discipline):
  *   - A FIXED number of Spark jobs per round, the same at every round
  *     ≥ 1 (CrawlJobSpec pins it). Without AQE that is eight: one per
  *     table write and the robots broadcast. Nothing is collected by a
  *     job of its own: the metrics ride the fetch (each partition
  *     reports its row into an accumulator as its rows stream out) and
  *     the bloom delta rides the admission (the admitted tail adds its
  *     url_hashes to a bounded accumulator); a missing report costs one
  *     recount job, and a delta past `bloomCollectThreshold` one merge
  *     job. The state reload after a commit runs none: snapshot tables
  *     carry their schema (SnapshotStore `_SCHEMA`), so no read infers
  *     one from footers. Inference there cost one job per snapshot
  *     read, so round r paid r+4 reload jobs and a crawl O(r²) jobs
  *     over its life.
  *   - Jobs fan out as soon as their inputs exist: after the frontier
  *     write (which materializes the admissions) the seen-delta write,
  *     the bloom update and the cuckoo write start on the io pool and
  *     run beside the fetch + spans write; the metrics, fetch-log and
  *     pending writes start when the spans write has materialized the
  *     fetch. A round is CPU-bound, so overlapping jobs fill the cores.
  *   - As few write tasks as a table's rows need. `url_seen_delta`,
  *     `fetch_log`, `pending`, `metrics` and (under `dedupDocs`)
  *     `minhash_index` are written from cached frames, `coalesce`d
  *     (narrow, no recomputation) to
  *     ceil(rows / [[RowsPerWriteTask]]) tasks, at most numPartitions:
  *     each write task pays a fixed cost (~17 ms of task time measured
  *     at 4 threads) however few rows it writes. The
  *     `frontier`, `output_spans` and `cuckoo` writes keep their
  *     partitions: their job also computes the admission, the fetch +
  *     convert or the cuckoo fold, which a coalesce would serialize.
  *   - Generated code shared by every round, and few enough classes to
  *     fit Spark's default codegen cache (`spark.sql.codegen.cache.
  *     maxEntries` = 100) with margin: ~70 entries for a 4-round crawl,
  *     counting the driver-side and the task-side compile of each class
  *     (CrawlJobSpec pins a repeated crawl's compiles). Hence no
  *     per-round literals in plans (see [[roundValue]]), cold-start plans
  *     shaped like the steady state's, one anti-join in the seen
  *     layer, per-partition metrics without an aggregation plan, and the
  *     cuckoo fold on RDDs. A crawl whose classes outgrow the cache
  *     evicts them in LRU order and recompiles them all on the next
  *     crawl in the same JVM: ~19% of steady-state executor CPU.
  *   - ONE full shuffle: the politeness repartition by salted host-hash.
  *     Admission, the sorted frontier write, the fetch and the
  *     output-span write all stay in those partitions — no re-shuffle
  *     of the heavy span payloads.
  *   - The seen layer probes the bloom and the cuckoo blobs map-side,
  *     then ONE conditional left-anti join against the exact table drops
  *     the double-maybe rows it holds.
  *   - Robots rules and host map are broadcast; the bloom is ONE
  *     driver-held filter maintained by O(delta) inserts per round (the
  *     north star mandates a broadcast bloom); cuckoo blobs live in a
  *     persisted bucket table updated executor-side with the round's
  *     delta — sketch bytes never funnel through the driver.
  *   - Counters ride on three single-pass aggregations (robots verdict,
  *     admission flag, fetch stats) — no repeated count() jobs, no
  *     recomputation of unpersisted lineage.
  *   - No process per file. Every file and directory a round writes
  *     (seven parquet tables and their commit dirs, 64 cuckoo blobs, the
  *     bloom, `_DONE`, each file with a `.crc`) goes through
  *     [[InProcessLocalFs]]. Without `libhadoop.so`, Hadoop's own local
  *     FS forks `chmod` for each of them: ~256 processes a steady round
  *     of crawlbench's crawl-deep at 4 threads (527 forks by the host's
  *     counter), and 0.19 s of its 0.45 s write barrier. In-process, the
  *     crawl's JVM still starts 2–3 a round, each an `rm -rf` of an
  *     `ArtifactManager` dir: `persist()` (`CacheManager.cacheQuery`)
  *     clones the session state, and each clone's `ArtifactManager`
  *     registers a Cleaner that forks that `rm` once the clone is
  *     unreachable.
  */
object CrawlJob {

  final case class PendingUrl(url: String, priority: Double, seq: Long)

  final case class FetchedRow(
      url_canon: String, url_hash: Long, host: String, round: Int,
      partition_id: Int, status: Int, bytes: Long, error: String,
      outlinks: Seq[String], doc_id: String, spans: Seq[DocSpan],
      cookies_applied: Int = 0, headers_applied: Int = 0, duration_ms: Long = 0L,
      redirects: Int = 0, final_url: String = "")

  final case class RoundStats(
      round: Int, candidates: Long, robotsDenied: Long, newUrls: Long,
      admitted: Long, deferred: Long, fetched: Long, failed: Long,
      outlinks: Long, seenTotal: Long)

  final case class CrawlSummary(rounds: Seq[RoundStats], seenTotal: Long, wallMs: Long)

  /** One row of the per-round `metrics` table (`outlinks_total` feeds
    * [[RoundStats]] and is not written).
    */
  final case class PartitionMetrics(
      partition_id: Int, round: Int, urls_fetched: Long, urls_converted: Long,
      bytes_total: Long, failed_count: Long, unique_origins: Long,
      heaviest_url: String, heaviest_bytes: Long, outlinks_total: Long,
      redirects_total: Long)

  /** A fetch partition's lineage metrics, built row by row as the fetch
    * emits them. All rows of a fetch partition carry that partition's
    * id, so each (partition_id, round) group IS one partition — no
    * shuffle, no aggregation plan. The columns keep the aggregate
    * semantics they had as a `groupBy`: `unique_origins` is
    * `approx_count_distinct`'s HLL++ estimate (same helper, same 0.05
    * relative error; its registers do not depend on row order),
    * `heaviest_url` is `max_by`'s first row with the largest `bytes`,
    * and a null error counts as neither converted nor failed.
    */
  private final class MetricsBuilder {
    private val hll = new HyperLogLogPlusPlusHelper(0.05)
    private val registers = new GenericInternalRow(Array.fill[Any](hll.numWords)(0L))
    private var partitionId, round = -1
    private var heaviestUrl: String = null
    private var fetched, converted, bytes, failed, heaviestBytes, outlinks, redirects = 0L

    def add(r: FetchedRow): Unit = {
      if (fetched == 0) { partitionId = r.partition_id; round = r.round }
      fetched += 1
      if (r.error != null) {
        if (r.error.nonEmpty) failed += 1
        else if (r.status == 200) converted += 1
      }
      bytes += r.bytes
      if (r.host != null) hll.update(registers, 0, UTF8String.fromString(r.host), StringType)
      if (fetched == 1 || r.bytes > heaviestBytes) {
        heaviestUrl = r.url_canon; heaviestBytes = r.bytes
      }
      if (r.outlinks != null) outlinks += r.outlinks.size
      redirects += r.redirects
    }

    /** None for a partition without rows. */
    def result: Option[PartitionMetrics] =
      if (fetched == 0) None
      else Some(PartitionMetrics(partitionId, round, fetched, converted, bytes, failed,
        hll.query(registers, 0), heaviestUrl, heaviestBytes, outlinks, redirects))
  }

  /** Rows per task of a small table's write: the tables whose input is
    * a cached frame are `coalesce`d to [[writeTasks]] tasks. A write
    * task has a fixed cost of its own (deserializing the store's
    * Hadoop conf twice, opening and committing its parquet file),
    * whatever it writes.
    *
    * Measured by a scratch probe (`Sessions.local(4, 4, AQE off)`, a
    * cached 13-column frame shaped like `fetch_log`, `SnapshotStore.
    * write` of `coalesce(k)`, median of the last 10 of 15; 4-CPU host).
    * Summed task time and wall time, 1 task vs 4:
    *   - 1,000 rows: 14.5 vs 66 ms task, 33 vs 35 ms wall;
    *   - 2¹⁴ rows: 30 vs 74 ms task, 46 vs 37 ms wall;
    *   - 2¹⁶ rows: 62 vs 135 ms task, 76 vs 54 ms wall;
    *   - 2¹⁸ rows: 198 vs 287 ms task, 210 vs 96 ms wall.
    * So a task costs ~17 ms fixed and a row ~0.70 µs. Half a table's row
    * work equals one task's fixed cost at ~2¹⁵·⁶ rows: below that a
    * second task buys at most a few ms of wall time and costs a core's
    * worth of fixed work that the round's concurrent jobs need. With the
    * session's full Hadoop conf a task cost ~27 ms fixed (same probe,
    * same host: 24 vs 107 ms task at 1,000 rows), a break-even of ~2¹⁶·²
    * rows; the bound stays at 2¹⁶.
    */
  private[pipeline] val RowsPerWriteTask: Long = 1L << 16

  /** ceil(rows / [[RowsPerWriteTask]]), clamped to [1, numPartitions]. */
  private def writeTasks(rows: Long, cfg: CrawlConfig): Int =
    math.min(cfg.numPartitions.toLong,
      math.max(1L, (rows + RowsPerWriteTask - 1) / RowsPerWriteTask)).toInt

  /** The round as a Column that generated code does not inline. Spark
    * writes integer literals into the generated classes, so `lit(round)`
    * gives every round its own classes, and a crawl's classes outgrow
    * the session's codegen cache (100 entries by default), which then
    * recompiles them on every crawl. A UDF is never constant-folded:
    * its value reaches the code through the references array, and all
    * rounds share one class.
    */
  private def roundValue(round: Int): Column = udf(() => round).apply()

  /** The manifest keys every committed round writes and a resume needs. */
  private val CheckpointKeys =
    Seq("cuckoo_buckets", "bloom_capacity", "bloom_fpp", "seen_total")

  def run(
      spark: SparkSession,
      seeds: Dataset[SeedUrl],
      robots: Seq[RobotsRule],
      hostMap: Dataset[HostIps],
      universe: SyntheticWeb.Universe,
      cfg: CrawlConfig,
      storeRoot: String,
      convertOptions: ConvertPipeline.Options = ConvertPipeline.Options()
  ): CrawlSummary = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val store = new SnapshotStore(storeRoot)

    // cold-start seen set as an empty RDD-backed frame, not an empty
    // local relation: the optimizer prunes the anti-join against a
    // relation it knows is empty, which would give round 0 a frontier
    // plan — and generated classes — of its own
    val emptySeen = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      Seq.empty[SeenUrl].toDF().schema)

    // ---- resume from the last committed snapshot (north rule) ----
    // A checkpoint is exactly what a round commits: the seen deltas, the
    // `cuckoo` table and its blob dir, the bloom (`bloom.bin`) and the
    // manifest's [[CheckpointKeys]]. Resume reads that and nothing else.
    // A missing sketch fails fast: rebuilt from nothing (or from one
    // round's delta) it would answer "definitely new" for historical
    // URLs and the crawl would re-admit them.
    val startRound = store.currentSnapshot.map(_ + 1).getOrElse(0)
    val hadoopConf = InProcessLocalFs.hadoopConf(spark)
    val resumeMeta: Map[String, String] =
      store.currentSnapshot.map(store.manifestMeta).getOrElse(Map.empty)
    store.currentSnapshot.foreach { c =>
      def need(present: Boolean, piece: String): Unit =
        require(present, s"snapshot v$c has no $piece: it is not a checkpoint this crawl " +
          "writes, so it cannot be resumed")
      // a crash MID-MAINTENANCE leaves staging/backup dot-dirs whose rows
      // are invisible to readers — crawling over them would corrupt the
      // seen/corpus invariants silently. Fail fast; the dot-dirs preserve
      // every byte for repair.
      val debris = store.maintenanceDebris(c)
      require(debris.isEmpty,
        s"snapshot v$c has interrupted-maintenance debris (${debris.mkString(", ")}): " +
          "repair (or remove after inspection) before resuming the crawl")
      CheckpointKeys.foreach(k => need(resumeMeta.contains(k), s"manifest key $k"))
      if (resumeMeta("seen_total").toLong > 0) {
        need(store.hasTable(c, "cuckoo"), "cuckoo table")
        val bloomBin = new org.apache.hadoop.fs.Path(s"${store.snapshotDir(c)}/bloom.bin")
        need(bloomBin.getFileSystem(hadoopConf).exists(bloomBin), "bloom.bin")
      }
    }
    // Sketch geometry is a property of the CHECKPOINT, not the
    // caller: resuming with a different cfg.cuckooBuckets would hash
    // url_hash to the wrong bucket-N.bin, turn cuckoo "no"s into lies
    // and re-admit seen URLs — so the committed values always win.
    val cuckooBuckets: Int =
      resumeMeta.get("cuckoo_buckets").map(_.toInt).getOrElse(cfg.cuckooBuckets)
    val bloomCapacity: Long =
      resumeMeta.get("bloom_capacity").map(_.toLong).getOrElse(cfg.bloomExpectedItems)
    val bloomFpp: Double = resumeMeta.get("bloom_fpp").map(_.toDouble).getOrElse(cfg.bloomFpp)
    // same pinning for the doc-dedup shingle width: resuming with a
    // different k would band fresh signatures against incomparable
    // stored ones — the checkpoint's value wins
    val dedupShingleK: Int =
      resumeMeta.get("dedup_k").map(_.toInt).getOrElse(cfg.dedupShingleK)
    // and the threshold: a mid-crawl switch would break the invariant
    // that the union of per-round doc_dup_pairs equals one batch LSH
    // run over all docs (CrawlDedupSpec/FIXTURES.md)
    val dedupThreshold: Double =
      resumeMeta.get("dedup_threshold").map(_.toDouble).getOrElse(cfg.dedupThreshold)
    var seenCount: Long = resumeMeta.get("seen_total").map(_.toLong).getOrElse(0L)
    var seen: DataFrame =
      store.currentSnapshot
        .filter(store.hasTable(_, "url_seen_delta"))
        .map(c => store.readSeen(spark, c)).getOrElse(emptySeen)
    var pending: Dataset[PendingUrl] =
      if (startRound == 0) seeds.toDF().as[PendingUrl]
      else store.readOrEmpty(spark, store.currentSnapshot,
        "pending", Seq.empty[PendingUrl].toDF()).as[PendingUrl]

    // ---- incremental seen-sketch state (maintenance is O(round delta);
    //      nothing ever rebuilds from the seen union) ----
    // bloom: driver-held running filter; capacity fixed at creation so
    // per-round delta blooms stay merge-compatible. Persisted as a raw
    // blob file written FROM THE DRIVER (<snapshot>/bloom.bin +
    // capacity/fpp in the manifest): the filter lives on the driver, so
    // a one-row LocalRelation write would serialize the full filter
    // bytes into a task closure (the "task of very large size" warning)
    // and pay a Spark job for what is a single driver-side stream copy.
    // An absent bloom.bin passed the guard above only with nothing seen.
    val bloom = store.currentSnapshot
      .flatMap(c => UrlSeen.readBloomFile(s"${store.snapshotDir(c)}/bloom.bin", hadoopConf))
      .getOrElse(UrlSeen.emptyBloom(bloomCapacity, bloomFpp))
    var bloomBc = spark.sparkContext.broadcast(bloom)

    // cuckoo: persisted (bucket, filter_bytes) parquet table (canonical,
    // resume source) + per-bucket raw blob FILES under
    // <snapshot>/cuckoo_bin (the lookup path: executors read their
    // bucket straight from storage — puffin-style sketch files).
    val perBucketCapacity = math.max(1024L, bloomCapacity / cuckooBuckets)
    var cuckoo: DataFrame = store.currentSnapshot.filter(store.hasTable(_, "cuckoo"))
      .map(c => store.read(spark, c, "cuckoo")).getOrElse(UrlSeen.emptyCuckooState(spark))
    var cuckooDir: Option[String] = store.currentSnapshot
      .map(c => s"${store.snapshotDir(c)}/cuckoo_bin")

    val stats = scala.collection.mutable.ArrayBuffer.empty[RoundStats]
    var round = startRound
    var continue = true

    // The round's output tables (spans aside) are independent jobs over
    // cached frames — submit them CONCURRENTLY so their fixed costs
    // (driver-side planning, job scheduling, parquet commit) overlap
    // instead of summing. ~10 serial job submissions per round was the
    // Amdahl fixed term that capped measured N→4N scaling efficiency.
    // rejection handler runs the task INLINE instead of aborting: every
    // job is awaited before the pool shuts down, so anything submitted
    // during shutdown is a completion callback racing the final await —
    // cheap, and correct to run on the submitting thread (parasitic
    // semantics) rather than printed as a scary stack trace or dropped.
    val ioPool = new java.util.concurrent.ThreadPoolExecutor(6, 6,
      0L, java.util.concurrent.TimeUnit.MILLISECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      (r: Runnable) => { val t = new Thread(r, "graft-round-io"); t.setDaemon(true); t },
      (r: Runnable, _: java.util.concurrent.ThreadPoolExecutor) => r.run())
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(ioPool)
    def job[A](label: String)(f: => A): scala.concurrent.Future[A] =
      scala.concurrent.Future {
        SparkSession.setActiveSession(spark)
        // thread-local: names this job's stages for the UI + profilers
        spark.sparkContext.setJobDescription(label)
        f
      }
    def await[A](f: scala.concurrent.Future[A]): A =
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
    // main-thread jobs: the label is restored to the caller's afterwards,
    // or it would name every later main-thread job (the state reload,
    // the next round's jobs) to listeners keyed by these labels
    def labelled[A](label: String)(f: => A): A = {
      val sc = spark.sparkContext
      val caller = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(label)
      try f finally sc.setJobDescription(caller)
    }

    try {
    while (continue && round < startRound + cfg.maxRounds) {
      // 0. clear any dangling v<round> dir — a crashed attempt or an
      //    interrupted rollback may have left tables this attempt won't
      //    overwrite, and commit manifests every dir it finds
      store.clearStaged(round)

      // 1. canonicalize + hash via the native codegen expression — the
      //    single-pass parser inside WholeStageCodegen (no scalar UDF, no
      //    regex stack; UrlExprParitySpec pins equality with both twins)
      val withCanon = pending.toDF()
        .withColumn("url_canon", graft.functions.UrlExprs.canonicalize(col("url")))
        .withColumn("url_hash", UrlFunctions.urlHashCol(col("url_canon")))

      // 2. robots / allow-deny / IP-class admission (broadcast join).
      // Counters ride the pipeline via observe() — no separate job.
      val robotsObs = new org.apache.spark.sql.Observation(s"robots-$round")
      // not persisted: the chain below it is materialized by exactly one
      // action (the frontier write; everything downstream reads the
      // admissions cache), so caching 10^6+ rows here is a pure write
      val decidedRaw = RobotsFilter.decide(spark, withCanon, "url_canon", robots, hostMap, assumeNormalized = true)
      val decided = decidedRaw
        .observe(robotsObs,
          count(lit(1)).as("total"),
          sum(when(col("robots_verdict") =!= "ok", 1L).otherwise(0L)).as("denied"))
      val allowed = decided.filter(col("robots_verdict") === "ok")

      // 3. in-batch dedup: one row per url_canon — best priority, first
      //    seq. Keyed on url_canon ALONE (url_hash is functionally
      //    dependent) so this exchange is REUSED by the exact anti-join
      //    downstream — one shuffle, not two.
      val dedup = allowed.groupBy("url_canon")
        .agg(max("url_hash").as("url_hash"),
          max("priority").as("priority"), min("seq").as("seq"))

      // 4. URL-seen layer (running bloom → persisted cuckoo → exact
      //    anti-join); both sketches were maintained incrementally at the
      //    end of the previous round — nothing is rebuilt here
      val newUrls = UrlSeen.filterNew(spark, dedup, seen, UrlSeen.BroadcastBloom(bloomBc),
        cuckooDir, cuckooBuckets)

      // 5. frontier entries with salted host hash (codegen Column twin).
      // `url` always equals `url_canon` at this point, so it rides the
      // round's ONE full shuffle as an empty string (~35% of the
      // entry's string bytes) and is restored after admission — shuffle
      // bytes are the memory traffic that inflates task time at high
      // parallelism.
      val frontier = newUrls
        .withColumn("host", graft.functions.UrlExprs.host(col("url_canon")))
        .withColumn("host_hash",
          UrlFunctions.hostSaltCol(col("host"), col("url_hash"), cfg.saltsPerHost))
        .withColumn("round", roundValue(round))
        .withColumn("url", lit(""))
        .select("url", "url_canon", "url_hash", "host", "host_hash", "priority", "seq", "round")
        .as[FrontierEntry]

      // 6. politeness admission — THE full shuffle of the round.
      // Admission counters and the admitted url_hashes come from
      // accumulators filled by the result stage of the cache-
      // materializing first action (the frontier write), read once
      // right after it.
      val admAcc = spark.sparkContext.longAccumulator(s"admitted-$round")
      val defAcc = spark.sparkContext.longAccumulator(s"deferred-$round")
      val hashAcc = new Politeness.HashCollector(cfg.bloomCollectThreshold)
      spark.sparkContext.register(hashAcc, s"admitted-hashes-$round")
      val admissions = Politeness.admit(spark, frontier, cfg, Some((admAcc, defAcc)),
        Some(hashAcc)).persist()
      // columnar split (no per-row Admission object churn): the typed
      // view is only re-materialized where the fetch genuinely needs
      // FrontierEntry objects
      val admitted = admissions.toDF().filter(col("admitted"))
        .select("entry.*").as[FrontierEntry]

      // 7. sorted frontier snapshot — already partitioned by host_hash
      //    from the admission shuffle; sort within, no re-shuffle.
      //    `url` (blanked for the shuffle) is restored for the table.
      labelled("frontier-write")(store.write(admitted.toDF()
        .withColumn("url", col("url_canon"))
        .sortWithinPartitions(col("priority").desc, col("seq"), col("url_canon")),
        round, "frontier"))
      // the metrics go missing when EVERY row of the round is filtered
      // out downstream (an all-denied or all-seen round); both counters
      // are then recounted by one tiny job over the pre-observe frame
      lazy val robotsRecount = decidedRaw.agg(count(lit(1)),
        coalesce(sum(when(col("robots_verdict") =!= "ok", 1L).otherwise(0L)), lit(0L))).head()
      val candidateCount = observedOrRecount(robotsObs, "total")(robotsRecount.getLong(0))
      val deniedCount = observedOrRecount(robotsObs, "denied")(robotsRecount.getLong(1))
      val admittedCount = admAcc.value.longValue()
      val deferredCount = defAcc.value.longValue()
      // None past bloomCollectThreshold; a count other than admittedCount
      // (a recomputed partition added twice) also takes the merge below
      val admittedHashes = hashAcc.value.filter(_.length == admittedCount)

      // ---- every job from here on reads the cached admissions or the
      //      cached fetch; the io-pool jobs are awaited together before
      //      the commit ----

      // 8. seen ∪ admitted — DELTA write only (O(new), the Iceberg
      //    append): readers union url_seen_delta across snapshots.
      //    Both sketches fold in ONLY this round's delta. These three
      //    jobs need only the admissions and driver state, so they start
      //    now and run beside the fetch:
      //      - bloom: insert the admitted hashes the admission collected
      //        (no job), or a distributed OR-merge past
      //        bloomCollectThreshold; then re-broadcast + a driver-side
      //        blob-file write
      //      - cuckoo: executor-side cogroup of delta hashes with the
      //        persisted blobs; bytes never visit the driver
      val newSeen = admitted.toDF().select(col("url_canon"), col("url_hash"),
        col("round").as("round_first_seen"))
      val seenFut = job("seen-write")(store.write(
        newSeen.coalesce(writeTasks(admittedCount, cfg)), round, "url_seen_delta"))

      val bloomFut = job("bloom-update") {
        if (admittedCount > 0) {
          admittedHashes match {
            case Some(hashes) => hashes.foreach(bloom.putLong)
            case None =>
              bloom.mergeInPlace(UrlSeen.bloomOfDelta(newSeen, bloomCapacity, bloomFpp))
          }
          // unpersist (not destroy): cached lineage from this round may
          // still reference the old broadcast; a re-fetch would resend
          // the mutated bloom, which only ADDS keys — extra maybe-seen
          // rows are re-confirmed by the exact layer, never dropped
          val oldBc = bloomBc
          bloomBc = spark.sparkContext.broadcast(bloom)
          oldBc.unpersist(blocking = false)
        }
        UrlSeen.writeBloomFile(bloom, s"${store.snapshotDir(round)}/bloom.bin", hadoopConf)
      }

      val cuckooFut = job("cuckoo-write") {
        // ONE job feeds both layouts: the fused cogroup writes each
        // bucket's blob file as it computes the bytes, and the action
        // that drives it is the canonical parquet write (resume source).
        // `_DONE` marks the blob dir only after that action succeeds.
        val binDir = s"${store.snapshotDir(round)}/cuckoo_bin"
        store.write(UrlSeen.updateCuckoo(spark, cuckoo,
          newSeen.select("url_hash"), perBucketCapacity, cuckooBuckets,
          blobDir = Some(binDir)), round, "cuckoo")
        UrlSeen.finishCuckooDir(binDir, hadoopConf)
      }

      // 9. fetch + decompose + convert (narrow, partition-local). Each
      //    partition's lineage metrics are built as its rows stream out
      //    and reported by partition id once it is exhausted; `None`
      //    marks an empty partition.
      val uni = universe
      val opts = convertOptions
      val hardTimeoutMs = cfg.softTimeoutMs + 5000L // api/api.go:511 grace
      val metricsAcc =
        spark.sparkContext.collectionAccumulator[(Int, Option[PartitionMetrics])](s"metrics-$round")
      val fetched = admitted.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val metrics = new MetricsBuilder
        val rows = it.map { e =>
          val f = uni.fetch(e)
          if (f.error.nonEmpty)
            FetchedRow(f.url_canon, f.url_hash, f.host, round, pid, f.status,
              f.bytes, f.error, Nil, f.url_canon, Nil,
              duration_ms = f.duration_ms, redirects = f.redirects, final_url = f.final_url)
          else if (f.duration_ms > hardTimeoutMs)
            // per-row deadline budget: a hung fetch routes to the error
            // channel (ErrFiltered-style classification) instead of
            // occupying the slot — outlinks are NOT followed, matching
            // the reference's cancelled-context semantics
            FetchedRow(f.url_canon, f.url_hash, f.host, round, pid, f.status,
              f.bytes, s"deadline: fetch exceeded hard timeout (${hardTimeoutMs}ms)",
              Nil, f.url_canon, Nil,
              f.cookies_applied, f.headers_applied, f.duration_ms,
              f.redirects, f.final_url)
          else if (f.status == 301 || f.status == 302)
            // redirect: no content to convert; the Location target rides
            // outlinks so next round's FULL admission stack re-validates
            // the hop (robots/IP-class — the outbound.go:356-392 posture)
            // and the seen layer extinguishes cycles
            FetchedRow(f.url_canon, f.url_hash, f.host, round, pid, f.status,
              f.bytes, "", f.outlinks, f.url_canon, Nil,
              f.cookies_applied, f.headers_applied, f.duration_ms,
              f.redirects, f.final_url)
          else {
            val conv = ConvertPipeline(f.doc, opts)
            if (conv.isError)
              FetchedRow(f.url_canon, f.url_hash, f.host, round, pid, f.status,
                f.bytes, conv.error, f.outlinks, f.url_canon, Nil,
                f.cookies_applied, f.headers_applied, f.duration_ms,
                f.redirects, f.final_url)
            else {
              val out = if (conv.docs.length == 1) conv.docs.head
                else SpanOps.merge(conv.docs, f.url_canon)
              FetchedRow(f.url_canon, f.url_hash, f.host, round, pid, f.status,
                f.bytes, "", f.outlinks, out.doc_id, out.spans,
                f.cookies_applied, f.headers_applied, f.duration_ms,
                f.redirects, f.final_url)
            }
          }
        }
        rows.map { r => metrics.add(r); r } ++
          Iterator.single(()).flatMap { _ => metricsAcc.add(pid -> metrics.result); Iterator.empty }
      }.persist()

      // 10. outputs: spans snapshot (sorted in-partition, no re-shuffle
      //     of the heavy payload). The first action over the fetch: its
      //     result tasks compute every fetch partition, and Spark merges
      //     their metrics reports before the action returns.
      labelled("spans-write")(store.write(
        fetched.filter(r => r.error.isEmpty && r.status == 200)
          .select($"doc_id", $"spans", $"round")
          .sortWithinPartitions("doc_id"),
        round, "output_spans"))

      // per-partition lineage metrics: the reports, when every fetch
      // partition made one; else one recount job over the cached fetch
      // with the same builder — an absent metric is recounted, never 0.
      // Keyed by partition id: a recomputed partition reports the same
      // value again.
      val reported = metricsAcc.value.asScala.toMap
      val metricRows: Seq[PartitionMetrics] =
        if (reported.size == fetched.queryExecution.toRdd.getNumPartitions)
          reported.values.flatten.toSeq.sortBy(_.partition_id)
        else labelled("metrics")(fetched.mapPartitions { it =>
          val metrics = new MetricsBuilder
          it.foreach(metrics.add)
          metrics.result.iterator
        }.collect().toSeq)
      val fetchedCount = metricRows.map(_.urls_fetched).sum
      val convertedCount = metricRows.map(_.urls_converted).sum
      val failedCount = metricRows.map(_.failed_count).sum
      val outlinkCount = metricRows.map(_.outlinks_total).sum
      val metricsFut = job("metrics")(store.write(metricRows.toDF().drop("outlinks_total")
        .coalesce(writeTasks(metricRows.size, cfg)), round, "metrics"))

      // per-URL lineage (FIXTURES.md fetch_log): slim projection of the
      // cached fetch frame — status/bytes/error per URL, no spans; one
      // row per admitted URL
      val fetchLogFut = job("fetch-log-write")(store.write(
        fetched.toDF().select("url_canon", "url_hash", "host", "round",
          "partition_id", "status", "bytes", "error",
          "cookies_applied", "headers_applied", "duration_ms",
          "redirects", "final_url").coalesce(writeTasks(admittedCount, cfg)),
        round, "fetch_log"))

      // 10b. OPT-IN incremental doc near-dup: this round's converted
      // docs dedup against the ACCUMULATED minhash_index (delta-append
      // like url_seen_delta) — prior rounds' signatures are read from
      // the store, never recomputed, and prior rounds' span text is
      // fetched only for verified-candidate doc ids (left-semi inside
      // minhashIncrementalPairs). Two per-round delta outputs:
      // doc_dup_pairs and this round's minhash_index rows. The seen
      // layer guarantees each doc_id is fetched in exactly one round,
      // so delta ids are disjoint from the index by construction.
      val dedupFut: scala.concurrent.Future[Any] =
        if (!cfg.dedupDocs) scala.concurrent.Future.successful(())
        else job("doc-dedup") {
          def docText(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
            expr("array_join(transform(spans, s -> s.text), ' ')").as("text"))
          val docsRound = docText(fetched.toDF()
            .filter(col("error") === "" && col("status") === 200))
          val havePrior = (0 until round).exists(store.hasTable(_, "minhash_index"))
          val (corpus, index) =
            if (havePrior)
              (docText(store.readDeltas(spark, round - 1, "output_spans")),
                store.readDeltas(spark, round - 1, "minhash_index"))
            else
              (docsRound.limit(0),
                Dedup.minhashIndex(docsRound.limit(0), k = dedupShingleK, seed = cfg.seed))
          val (pairs, deltaIndex, caches) = Dedup.minhashIncrementalPairsWithCaches(
            docsRound, corpus, index,
            k = dedupShingleK, threshold = dedupThreshold, seed = cfg.seed)
          store.write(pairs.withColumn("round", roundValue(round)), round, "doc_dup_pairs")
          // `round` is the column cfg.compactEvery maintenance partitions
          // the index by; at most one row per converted doc, so the
          // index writes as few files as the other small tables
          store.write(deltaIndex.withColumn("round", roundValue(round))
            .coalesce(writeTasks(convertedCount, cfg)), round, "minhash_index")
          // release the stage's caches — a long crawl must not
          // accumulate per-round cached frames (the admissions/fetched
          // discipline of the main loop)
          caches.foreach(_.unpersist())
        }

      // 11. next pending = deferred ∪ outlinks of this round — fully
      // columnar (codegen posexplode + hash; no PendingUrl object per
      // outlink). `hash()` IS UrlFunctions.murmur3 (Murmur3_x86_32,
      // seed 42, UTF-8 bytes), so seq values are bit-identical to the
      // reference model's — DeterminismSpec/CrawlJobSpec pin it.
      val outlinks = fetched.toDF()
        .select(col("url_canon"), col("round"),
          posexplode(col("outlinks")).as(Seq("i", "url")))
        .select(col("url"),
          (lit(1.0) / (col("round") + lit(2))).as("priority"),
          hash(concat(col("url_canon"), lit("#"), col("i").cast("string")))
            .cast("long").bitwiseAND(lit(Long.MaxValue)).as("seq"))
      val pendingNext = admissions.toDF().filter(!col("admitted"))
        .select(col("entry.url_canon").as("url"), col("entry.priority").as("priority"),
          col("entry.seq").as("seq"))
        .unionByName(outlinks)
      val pendingFut = job("pending-write")(store.write(
        pendingNext.coalesce(writeTasks(deferredCount + outlinkCount, cfg)), round, "pending"))

      // barrier: everything staged under v<round> must exist before the
      // atomic commit makes the snapshot visible
      Seq(seenFut, bloomFut, cuckooFut, metricsFut, fetchLogFut, pendingFut, dedupFut)
        .foreach(await)

      // 12. atomic commit → resumable checkpoint. With cfg.wapAudit the
      // commit splits into Iceberg's write–audit–publish: stage the
      // snapshot (CURRENT untouched — readers and a crashed/resumed run
      // still see the last good round), audit the staged seen delta by
      // explicit id, and publish only on a pass; a failure abandons the
      // staged dir and fails the round with durable state intact.
      val commitMeta = Map(
        "admitted" -> admittedCount.toString,
        "seen_total" -> (seenCount + admittedCount).toString,
        "cuckoo_buckets" -> cuckooBuckets.toString,
        "bloom_capacity" -> bloomCapacity.toString,
        "bloom_fpp" -> bloomFpp.toString) ++
        (if (cfg.dedupDocs) Map(
          "dedup_k" -> dedupShingleK.toString,
          "dedup_threshold" -> dedupThreshold.toString) else Map.empty)
      if (cfg.wapAudit) {
        store.stage(round, round, commitMeta)
        // structural audit over the STAGED snapshot: the seen delta must
        // carry exactly the admitted rows, every row canonical and
        // stamped with this round — one count-shaped aggregate
        val audited =
          if (!store.hasTable(round, "url_seen_delta")) (0L, 0L)
          else labelled("wap-audit") {
            val r = store.read(spark, round, "url_seen_delta").agg(
              count(lit(1)),
              coalesce(sum(when(col("url_canon").isNull ||
                col("round_first_seen") =!= roundValue(round), 1L).otherwise(0L)), lit(0L))).head()
            (r.getLong(0), r.getLong(1))
          }
        if (audited._1 != admittedCount || audited._2 != 0L) {
          store.abandon(round)
          throw new IllegalStateException(
            s"WAP audit failed for round $round: delta rows ${audited._1} " +
              s"(expected $admittedCount), bad rows ${audited._2}; " +
              "snapshot abandoned, CURRENT unchanged")
        }
        store.publish(round)
      } else store.commit(round, round, commitMeta)

      stats += RoundStats(round, candidateCount, deniedCount,
        admittedCount + deferredCount, admittedCount, deferredCount,
        fetchedCount, failedCount, outlinkCount, seenCount + admittedCount)
      seenCount += admittedCount

      // 12b. OPT-IN snapshot maintenance (Iceberg rewrite_data_files +
      // expire_snapshots): fold the cross-round delta tables into the
      // snapshot just committed and delete the subsumed ones. Runs
      // AFTER the commit (the checkpoint is durable either way) and
      // BEFORE the state reload below, so the reloaded frames plan over
      // the post-maintenance file set — never over paths expiry removed.
      // Every fold is a RENAME-only relocation and runs no Spark job:
      // maintenance never rewrites a table, and expiry never deletes
      // live rows.
      if (cfg.compactEvery > 0 && (round + 1) % cfg.compactEvery == 0) {
        // a table may exist only in EARLIER snapshots (an empty round,
        // or dedupDocs toggled off after indexed rounds) — the guard
        // must scan the whole history or expiry would strand live rows
        def anywhere(t: String) = (0 to round).exists(store.hasTable(_, t))
        Seq("url_seen_delta" -> "round_first_seen", "minhash_index" -> "round",
          "output_spans" -> "round", "fetch_log" -> "round",
          "doc_dup_pairs" -> "round", "metrics" -> "round")
          .filter(t => anywhere(t._1))
          .foreach { case (t, roundCol) => store.relocateDeltas(round, t, roundCol) }
        store.expireSnapshots()
      }

      // reload state from the committed snapshot (truncates lineage —
      // the equivalent of Iceberg snapshot isolation between rounds)
      seen = store.readSeen(spark, round)
      pending = store.read(spark, round, "pending").as[PendingUrl]
      cuckoo = store.read(spark, round, "cuckoo")
      cuckooDir = Some(s"${store.snapshotDir(round)}/cuckoo_bin")

      admissions.unpersist(); fetched.unpersist()

      continue = admittedCount > 0
      round += 1
    }
    } finally ioPool.shutdown()

    CrawlSummary(stats.toSeq, seenCount, (System.nanoTime() - t0) / 1000000L)
  }
}
