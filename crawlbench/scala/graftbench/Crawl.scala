package graftbench

import graft.model.CrawlConfig
import graft.pipeline.CrawlJob
import graft.sources.{SnapshotStore, SyntheticWeb}
import graft.testkit.ReferenceCrawl
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{col, input_file_name, regexp_extract}

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The crawl workload (crawl-deep): many small rounds over a small
  * closed graph. After the first round most candidates are links to
  * pages already seen, so the URL-seen layer (bloom → cuckoo → exact
  * anti-join) does real work, and the per-round fixed costs (job
  * submission, the six concurrent writes, commit, state reload, bloom
  * re-broadcast) are a large share of each round. Each timed operation
  * is one `CrawlJob.run` into a fresh snapshot store; its rounds are the
  * operations counted in `attempted`.
  */
object Crawl {

  final case class Spec(universe: SyntheticWeb.Universe, cfg: CrawlConfig, seeds: Int)

  /** Politeness partitions follow the thread count: one task per thread,
    * the rule graft.Bench applies at local[32].
    */
  def spec(seed: Long, tiny: Boolean, threads: Int): Spec = {
    val (hosts, pages, seeds, rounds) = if (tiny) (40, 50, 200, 3) else (60, 100, 1500, 4)
    Spec(SyntheticWeb.Universe(numHosts = hosts, pagesPerHost = pages, seed = seed, outlinksPerDoc = 4),
      CrawlConfig(numPartitions = threads, saltsPerHost = 4, hostBudgetPerRound = 64, maxRounds = rounds,
        bloomExpectedItems = 4096), seeds)
  }

  /** One timed crawl: store, summary, wall time and round commit times
    * (`error` is set when the call threw).
    */
  final case class Run(i: Int, root: String, summary: CrawlJob.CrawlSummary, wallS: Double,
                       startUs: Long, commitUs: Seq[Long], error: String = "") {
    def roundWalls: Seq[Double] =
      (startUs +: commitUs).sliding(2).collect { case Seq(a, b) => (b - a) / 1e6 }.toSeq
    def fetched: Long = summary.rounds.map(_.fetched).sum
  }

  private def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sp = spec(ctx.seed, ctx.tiny, ctx.threads)
    val robots = SyntheticWeb.defaultRobots

    // inputs: the seed list and the synthetic DNS table, materialized
    var cached: Seq[Dataset[_]] = Nil
    val (seeds, hostMap) = ctx.inputs(3) { _ =>
      cached.foreach(_.unpersist(blocking = true))
      val s = sp.universe.seedUrlsDS(spark, sp.seeds.toLong, partitions = 8).persist()
      val h = SyntheticWeb.hostMapDS(spark, sp.universe.numHosts, partitions = 8).persist()
      s.count(); h.count()
      cached = Seq(s, h)
      (s, h)
    }

    val stores = ctx.dir("stores")
    var n = 0
    def crawl(traced: Boolean, cfg: CrawlConfig = sp.cfg): Run = {
      val root = Paths.get(stores, s"crawl-$n").toString
      n += 1
      spark.sparkContext.setJobDescription("bench:crawl")
      val startUs = nowUs
      val t0 = System.nanoTime()
      def call() = CrawlJob.run(spark, seeds, robots, hostMap, sp.universe, cfg, root)
      val outcome =
        try Right(if (traced) ctx.spans("crawl.run", s"crawl=${n - 1}")(call()) else call())
        catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      outcome match {
        case Left(err) => Run(n - 1, root, CrawlJob.CrawlSummary(Nil, 0L, 0L), wall, startUs, Nil, err)
        case Right(summary) =>
          val store = new SnapshotStore(root)
          val commits = summary.rounds.map { r =>
            Files.getLastModifiedTime(Paths.get(store.snapshotDir(r.round), "MANIFEST.json")).to(TimeUnit.MICROSECONDS)
          }
          Run(n - 1, root, summary, wall, startUs, commits)
      }
    }

    // warm-up: the first two rounds run every layer, the seen tiers too
    val warm = ctx.warmup(crawl(traced = false, sp.cfg.copy(maxRounds = 2)))
    deleteTree(Paths.get(warm.root))

    val (plain, traced) = ctx.window(ctx.seconds)(crawl(_))
    val runs = plain ++ traced

    // ---- output checks, outside every timed region ----
    val ref = ReferenceCrawl.run(sp.universe.seedUrls(sp.seeds), robots,
      SyntheticWeb.hostMap(sp.universe.numHosts).map(h => h.host -> h.ips).toMap, sp.universe, sp.cfg)
    val ops = runs.flatMap(r =>
      if (r.error.nonEmpty) Seq(Op(s"crawl${r.i}", r.wallS, ok = false, r.error)) else check(ctx, sp, r, ref))
    val done = runs.filter(_.error.isEmpty)
    require(done.nonEmpty, s"every timed crawl failed: ${runs.head.error}")

    val roundWalls = done.flatMap(_.roundWalls)
    val report = Map(
      "urls_per_s" -> (done.map(_.fetched).sum / done.map(_.wallS).sum, "1/s"),
      "round_s_p50" -> (Stats.median(roundWalls), "s"),
      "store_bytes_per_url" -> (Stats.median(done.map(r => dirBytes(Paths.get(r.root)).toDouble / r.fetched)), "B"))

    val (layers, problems) =
      if (!ctx.trace) (Map.empty[String, Double], Seq.empty[String])
      else if (traced.exists(_.error.nonEmpty)) (Map.empty[String, Double], Seq("the traced crawl failed"))
      else {
        val last = traced.last
        val replay = Replay.run(ctx, sp, seeds, hostMap, last.root, last.summary.rounds,
          ctx.dir("replay"))
        val overhead = Stats.median(traced.flatMap(_.roundWalls)) / Stats.median(plain.flatMap(_.roundWalls)) - 1
        (pipelineLayers(ctx, traced, ctx.listener.snapshot, ctx.tracedGcS) ++ replay.metrics ++
          storeBytes(last) + ("trace.overhead_frac" -> overhead), replay.problems)
      }
    Outcome(ops, roundWalls, report, layers, problems)
  }

  /** Checks one crawl against its invariants and the reference model;
    * returns one operation per round (plus one if the crawl was short).
    * Each table is read back for all rounds in one job.
    */
  private def check(ctx: Ctx, sp: Spec, run: Run, ref: ReferenceCrawl.Result): Seq[Op] = {
    val store = new SnapshotStore(run.root)
    val rounds = run.summary.rounds.map(_.round)
    def readAll(table: String, cols: String*) = ctx.spark.read
      .parquet(rounds.map(store.tablePath(_, table)): _*)
      .select((regexp_extract(input_file_name(), "/v(\\d+)/", 1).cast("int") +: cols.map(col)): _*)
      .collect().groupBy(_.getInt(0))
    val frontiers = readAll("frontier", "host_hash", "priority", "seq", "url_canon", "host")
    val deltas = readAll("url_seen_delta", "url_canon", "round_first_seen")
    val seenBefore = mutable.HashSet.empty[String]
    val refSeenByRound = ref.seen.groupBy(_._2).map { case (r, m) => r -> m.keySet }
    val walls = run.roundWalls
    val ops = run.summary.rounds.zipWithIndex.map { case (st, i) =>
      val r = st.round
      val why = mutable.ArrayBuffer.empty[String]
      if (st.fetched != st.admitted) why += s"fetched ${st.fetched} != admitted ${st.admitted}"
      if (st.newUrls != st.admitted + st.deferred)
        why += s"newUrls ${st.newUrls} != admitted+deferred ${st.admitted + st.deferred}"
      // ReferenceCrawl's canonical order: (host_hash, -priority, seq, url_canon)
      val frontier = frontiers.getOrElse(r, Array.empty)
        .sortBy(x => (x.getInt(1), -x.getDouble(2), x.getLong(3), x.getString(4)))
      val order = frontier.map(_.getString(4)).toSeq
      if (!ref.rounds.find(_.round == r).exists(_.admittedOrdered == order))
        why += "admitted order differs from ReferenceCrawl"
      val perHost = frontier.groupBy(_.getString(5)).map(_._2.length)
      if (perHost.nonEmpty && perHost.max > sp.cfg.hostBudgetPerRound)
        why += s"a host got ${perHost.max} admissions (budget ${sp.cfg.hostBudgetPerRound})"
      val delta = deltas.getOrElse(r, Array.empty)
      val urls = delta.map(_.getString(1))
      if (urls.distinct.length != urls.length || urls.exists(seenBefore)) why += "url_seen_delta repeats a URL"
      if (delta.exists(_.getInt(2) != r)) why += "url_seen_delta row stamped with another round"
      if (urls.toSet != refSeenByRound.getOrElse(r, Set.empty)) why += "seen delta differs from ReferenceCrawl"
      seenBefore ++= urls
      Op(s"crawl${run.i}/round$r", walls(i), why.isEmpty, why.mkString("; "))
    }
    if (run.summary.rounds.size == ref.rounds.size) ops
    else ops :+ Op(s"crawl${run.i}/rounds", 0.0, ok = false,
      s"${run.summary.rounds.size} rounds committed, ReferenceCrawl ran ${ref.rounds.size}")
  }

  private val Labels = Seq("frontier-write", "spans-write", "metrics", "fetch-log-write",
    "seen-write", "bloom-update", "cuckoo-write", "pending-write")
  private val FanOut = Labels.drop(2).toSet

  /** pipeline.* from the listener: jobs are assigned to rounds by the
    * rounds' commit times.
    */
  private def pipelineLayers(ctx: Ctx, runs: Seq[Run], jobs: Seq[JobRec], gcS: Double): Map[String, Double] = {
    val bounds = runs.flatMap { r =>
      val edges = (r.startUs +: r.commitUs).map(_ / 1000.0)
      edges.sliding(2).collect { case Seq(a, b) => (a, b) }
    }
    val rounds = bounds.size.max(1)
    def inRound(j: JobRec) = bounds.indexWhere { case (a, b) => j.startMs >= a && j.startMs <= b }
    val crawlJobs = jobs.filter(inRound(_) >= 0)
    val wall = runs.map(_.wallS).sum
    val taskS = crawlJobs.map(_.taskMs).sum / 1e3
    val barrier = crawlJobs.groupBy(inRound).values.map { js =>
      val spansEnd = js.filter(_.label == "spans-write").map(_.endMs).maxOption
      val fanEnd = js.filter(j => FanOut(j.label)).map(_.endMs).maxOption
      (for (s <- spansEnd; f <- fanEnd) yield math.max(0L, f - s) / 1e3).getOrElse(0.0)
    }.sum
    val perLabel = Labels.flatMap { l =>
      val js = crawlJobs.filter(_.label == l)
      Seq(s"pipeline.job.$l.wall_s" -> js.map(_.wallS).sum / rounds,
        s"pipeline.job.$l.task_s" -> js.map(_.taskMs).sum / 1e3 / rounds,
        s"pipeline.job.$l.shuffle_mb" -> js.map(_.shuffleWriteBytes).sum / 1e6 / rounds)
    }
    val writes = StoreTables.map { case (t, l) =>
      s"sources.store.write_s.$t" -> crawlJobs.filter(_.label == l).map(_.wallS).sum / rounds
    }
    Map(
      "pipeline.slot_util" -> (if (wall > 0) taskS / (wall * ctx.threads) else 0.0),
      "pipeline.jobs_per_round" -> crawlJobs.size.toDouble / rounds,
      "pipeline.barrier_wait_s" -> barrier / rounds,
      "pipeline.gc_s" -> gcS / rounds) ++ perLabel ++ writes
  }

  /** The snapshot tables a round writes, each with the label of the
    * CrawlJob job that writes it. The spans-write job is the first action
    * on the round's fetched rows, so its time includes fetch + convert.
    */
  val StoreTables = Seq("frontier" -> "frontier-write", "output_spans" -> "spans-write",
    "metrics" -> "metrics", "fetch_log" -> "fetch-log-write", "url_seen_delta" -> "seen-write",
    "cuckoo" -> "cuckoo-write", "pending" -> "pending-write")

  /** Committed bytes per table and round of one crawl's store. */
  private def storeBytes(run: Run): Map[String, Double] = {
    val store = new SnapshotStore(run.root)
    val rounds = run.summary.rounds.size.max(1)
    StoreTables.map { case (t, _) =>
      s"sources.store.bytes.$t" -> run.summary.rounds.map(r =>
        dirBytes(Paths.get(store.tablePath(r.round, t)))).sum.toDouble / rounds
    }.toMap
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  /** Bytes of the data files under `p` (Spark's `.crc` and `_SUCCESS`
    * markers excluded).
    */
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && {
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }).map(Files.size).sum
      finally s.close()
    }
}
