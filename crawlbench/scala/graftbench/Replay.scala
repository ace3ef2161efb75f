package graftbench

import graft.frontier.{CuckooFilter, Politeness, RobotsFilter, UrlSeen}
import graft.functions.{UrlExprs, UrlFunctions}
import graft.model.{FrontierEntry, HostIps, SeedUrl, SeenUrl}
import graft.operators.SpanOps
import graft.pipeline.{ConvertPipeline, CrawlJob}
import graft.pipeline.CrawlJob.FetchedRow
import graft.sources.{SnapshotStore, SyntheticWeb}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Layer replay of a committed crawl. Round r is rebuilt from snapshot
  * r−1 by calling each layer's public function in turn, each inside its
  * own span and materialized before the next starts, so a span's
  * duration is that layer's time on this round's input. The sketch
  * updates take the branches `CrawlJob` takes (collect or merge for the
  * bloom, blob files for the cuckoo) and write into a replay snapshot.
  * The replayed round must reproduce the committed `frontier` of round r
  * exactly, and the committed counters, fetch log, `bloom.bin` and
  * cuckoo blobs; any difference is reported as a problem and fails the
  * traced run. The snapshot table writes are not replayed: their times
  * come from the listener's record of the traced crawl's own jobs.
  *
  * Code that is `CrawlJob`'s own, not a public function, is restated
  * here: the in-batch dedup before `UrlSeen.filterNew`, the projection
  * of new URLs to frontier entries before `Politeness.admit`, and the
  * per-row fetch + convert around `Universe.fetch` and `ConvertPipeline`
  * (`fetchRow`). The checks above catch a difference between these and
  * the program.
  *
  * The seen-tier counts are computed from outside: the round's
  * candidates are classified against the persisted `bloom.bin` and
  * `cuckoo_bin` blobs of snapshot r−1, read back through the public
  * `UrlSeen` / `CuckooFilter` readers.
  */
object Replay {

  final case class Out(metrics: Map[String, Double], problems: Seq[String])

  private val FrontierCols = Seq("url", "url_canon", "url_hash", "host", "host_hash", "priority", "seq", "round")

  def run(ctx: Ctx, sp: Crawl.Spec, seeds: Dataset[SeedUrl], hostMap: Dataset[HostIps],
          root: String, rounds: Seq[CrawlJob.RoundStats], replayRoot: String): Out = {
    val spark = ctx.spark
    import spark.implicits._
    val cfg = sp.cfg
    val store = new SnapshotStore(root)
    val out = new SnapshotStore(replayRoot)
    val hconf = spark.sessionState.newHadoopConf()
    val robots = SyntheticWeb.defaultRobots
    val problems = mutable.ArrayBuffer.empty[String]
    val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var skews = Vector.empty[Double]
    spark.sparkContext.setJobDescription("bench:replay")

    rounds.foreach { st =>
      val r = st.round
      val key = s"round=$r"
      def layer[A](name: String)(f: => A): A = ctx.spans(name, key)(f)
      def expect(what: String, got: Any, want: Any): Unit =
        if (got != want) problems += s"round $r: replayed $what $got, committed $want"
      val cached = mutable.ArrayBuffer.empty[Dataset[_]]
      def keep[A <: Dataset[_]](d: A): A = { d.persist(); cached += d; d }

      ctx.spans("replay.round", key) {
        val meta = store.manifestMeta(r)
        val capacity = meta("bloom_capacity").toLong
        val fpp = meta("bloom_fpp").toDouble
        val buckets = meta("cuckoo_buckets").toInt
        val prevDir = if (r == 0) None else Some(store.snapshotDir(r - 1))

        // ---- state of snapshot r−1 ----
        val pending: DataFrame =
          if (r == 0) seeds.toDF().select("url", "priority", "seq")
          else store.read(spark, r - 1, "pending")
        val seenPrev: DataFrame =
          if (r == 0) Seq.empty[SeenUrl].toDF()
          else layer("sources.store.read_seen") {
            val s = keep(store.readSeen(spark, r - 1)); s.count(); s
          }
        val bloomPrev = prevDir match {
          case None => UrlSeen.emptyBloom(capacity, fpp)
          case Some(d) => UrlSeen.readBloomFile(s"$d/bloom.bin", hconf).get
        }
        val cuckooDir = prevDir.map(d => s"$d/cuckoo_bin")
          .filter(d => Files.exists(Paths.get(d, "_DONE")))

        // ---- functions: canonicalize + hash ----
        val canon = layer("functions.canonicalize") {
          val d = keep(pending
            .withColumn("url_canon", UrlExprs.canonicalize(col("url")))
            .withColumn("url_hash", UrlFunctions.urlHashCol(col("url_canon"))))
          sums("functions.canonicalize.rows") += d.count()
          d
        }

        // ---- frontier: robots ----
        val decided = layer("frontier.robots") {
          val d = keep(RobotsFilter.decide(spark, canon, "url_canon", robots, hostMap, assumeNormalized = true))
          d.count(); d
        }
        val candidates = canon.count()
        val denied = decided.filter(col("robots_verdict") =!= "ok").count()
        expect("candidates", candidates, st.candidates)
        expect("robots denials", denied, st.robotsDenied)
        sums("candidates") += candidates
        sums("denied") += denied

        // ---- frontier: in-batch dedup + URL-seen layer ----
        val dedup = layer("frontier.dedup") {
          val d = keep(decided.filter(col("robots_verdict") === "ok").groupBy("url_canon")
            .agg(max("url_hash").as("url_hash"), max("priority").as("priority"), min("seq").as("seq")))
          d.count(); d
        }
        val bloomBc = spark.sparkContext.broadcast(bloomPrev)
        val fresh = layer("frontier.seen") {
          val d = keep(UrlSeen.filterNew(spark, dedup, seenPrev, UrlSeen.BroadcastBloom(bloomBc), cuckooDir, buckets))
          d.count(); d
        }
        val freshCount = fresh.count()
        expect("new URLs", freshCount, st.newUrls)
        seenTiers(r, dedup, seenPrev, bloomPrev, cuckooDir, buckets, freshCount, sums, problems)

        // ---- frontier: politeness admission ----
        val entries = fresh
          .withColumn("host", UrlExprs.host(col("url_canon")))
          .withColumn("host_hash", UrlFunctions.hostSaltCol(col("host"), col("url_hash"), cfg.saltsPerHost))
          .withColumn("round", lit(r))
          .withColumn("url", lit(""))
          .select(FrontierCols.map(col): _*)
          .as[FrontierEntry]
        val (admissions, perPartition) = layer("frontier.politeness") {
          val a = keep(Politeness.admit(spark, entries, cfg))
          val counts = a.mapPartitions { it =>
            var ad = 0L; var de = 0L
            it.foreach(x => if (x.admitted) ad += 1 else de += 1)
            Iterator((TaskContext.getPartitionId(), ad, de))
          }.collect()
          (a, counts)
        }
        val admittedN = perPartition.map(_._2).sum
        val deferredN = perPartition.map(_._3).sum
        expect("admitted", admittedN, st.admitted)
        expect("deferred", deferredN, st.deferred)
        sums("admitted") += admittedN
        sums("deferred") += deferredN
        val perPart = perPartition.map(_._2.toDouble).toSeq
        skews :+= (if (perPart.isEmpty) 0.0 else perPart.max / math.max(1.0, Stats.median(perPart)))

        val admitted = keep(admissions.toDF().filter(col("admitted")).select("entry.*")
          .withColumn("url", col("url_canon")).select(FrontierCols.map(col): _*))
        val order = Seq(col("host_hash"), col("priority").desc, col("seq"), col("url_canon"))
        val mine = admitted.orderBy(order: _*).collect().toSeq
        val committed = store.read(spark, r, "frontier").select(FrontierCols.map(col): _*)
          .orderBy(order: _*).collect().toSeq
        if (mine != committed)
          problems += s"round $r: replayed frontier (${mine.size} rows) differs from the committed one (${committed.size} rows)"

        // ---- sources: fetch + convert ----
        val uni = sp.universe
        val hardTimeoutMs = cfg.softTimeoutMs + 5000L
        val fetched = layer("sources.fetch_convert") {
          val d = keep(admitted.as[FrontierEntry].mapPartitions { it =>
            val pid = TaskContext.getPartitionId()
            it.map(e => fetchRow(uni, e, r, pid, hardTimeoutMs))
          })
          d.count(); d
        }
        val fetchedN = fetched.count()
        val failedN = fetched.filter(_.error.nonEmpty).count()
        expect("fetched", fetchedN, st.fetched)
        expect("failed fetches", failedN, st.failed)
        sums("fetched") += fetchedN
        sums("fetch_failed") += failedN

        // fetch + convert must give the committed fetch log, URL by URL
        def fetchLog(df: DataFrame) = df.select("url_canon", "status", "error").collect().map(_.toString).sorted.toSeq
        if (fetchLog(fetched.toDF()) != fetchLog(store.read(spark, r, "fetch_log")))
          problems += s"round $r: replayed fetch + convert differs from the committed fetch_log"

        // ---- frontier: sketch maintenance, on CrawlJob's branches ----
        // bloom: collect + insert for a delta up to bloomCollectThreshold,
        // distributed OR-merge above it; then re-broadcast and blob write
        val newSeen = admitted.select(col("url_canon"), col("url_hash"), col("round").as("round_first_seen"))
        val bloomNext = UrlSeen.bloomFromBytes(UrlSeen.bloomToBytes(bloomPrev))
        val replayDir = out.snapshotDir(r)
        layer("frontier.sketch.bloom_update") {
          if (admittedN > 0) {
            if (admittedN <= cfg.bloomCollectThreshold)
              newSeen.select("url_hash").as[Long].collect().foreach(bloomNext.putLong)
            else bloomNext.mergeInPlace(UrlSeen.bloomOfDelta(newSeen, capacity, fpp))
            spark.sparkContext.broadcast(bloomNext).destroy()
          }
          UrlSeen.writeBloomFile(bloomNext, s"$replayDir/bloom.bin", hconf)
        }
        def bloomBytes(d: String) = UrlSeen.readBloomFile(s"$d/bloom.bin", hconf).map(UrlSeen.bloomToBytes)
        if (!bloomBytes(replayDir).exists(b => bloomBytes(store.snapshotDir(r)).exists(_.sameElements(b))))
          problems += s"round $r: replayed bloom.bin differs from the committed one"

        // cuckoo: one job computes each bucket's filter, writes its blob
        // file and the canonical parquet table; `_DONE` marks the blobs
        val cuckooPrev = if (r == 0) UrlSeen.emptyCuckooState(spark) else store.read(spark, r - 1, "cuckoo")
        val binDir = s"$replayDir/cuckoo_bin"
        layer("frontier.sketch.cuckoo_update") {
          out.write(UrlSeen.updateCuckoo(spark, cuckooPrev, newSeen.select("url_hash"),
            math.max(1024L, capacity / buckets), buckets, blobDir = Some(binDir)), r, "cuckoo")
          UrlSeen.finishCuckooDir(binDir, hconf)
        }
        val committedBin = Paths.get(store.snapshotDir(r), "cuckoo_bin")
        val differing = (0 until buckets).count { b =>
          val (mine, theirs) = (Paths.get(binDir, s"bucket-$b.bin"), committedBin.resolve(s"bucket-$b.bin"))
          Files.exists(mine) != Files.exists(theirs) ||
            (Files.exists(mine) && !Files.readAllBytes(mine).sameElements(Files.readAllBytes(theirs)))
        }
        if (differing > 0) problems += s"round $r: $differing replayed cuckoo blobs differ from the committed ones"

        // ---- sources: commit ----
        layer("sources.store.commit")(out.commit(r, r, meta))

        bloomBc.destroy()
        cached.foreach(_.unpersist(blocking = false))
      }
    }

    val n = rounds.size.max(1).toDouble
    def perRound(span: String) = ctx.spans.total(span) / n
    def frac(a: String, b: String) = if (sums(b) > 0) sums(a) / sums(b) else 0.0
    val metrics = Map(
      "functions.canonicalize.s" -> perRound("functions.canonicalize"),
      "functions.canonicalize.rows" -> sums("functions.canonicalize.rows") / n,
      "frontier.robots.s" -> perRound("frontier.robots"),
      "frontier.robots.denied_frac" -> frac("denied", "candidates"),
      "frontier.seen.s" -> perRound("frontier.seen"),
      "frontier.seen.rows_in" -> sums("seen.rows_in") / n,
      "frontier.seen.bloom_new_frac" -> frac("seen.bloom_new", "seen.rows_in"),
      "frontier.seen.cuckoo_new_frac" -> frac("seen.cuckoo_new", "seen.rows_in"),
      "frontier.seen.exact_dup_frac" -> frac("seen.exact_dup", "seen.rows_in"),
      "frontier.seen.bloom_fpp_observed" -> frac("seen.bloom_fp", "seen.truly_new"),
      "frontier.seen.bloom_fpp_configured" -> sp.cfg.bloomFpp,
      "frontier.politeness.s" -> perRound("frontier.politeness"),
      "frontier.politeness.admitted" -> sums("admitted") / n,
      "frontier.politeness.deferred" -> sums("deferred") / n,
      "frontier.politeness.skew" -> (if (skews.isEmpty) 0.0 else skews.sum / skews.size),
      "frontier.sketch.bloom_update_s" -> perRound("frontier.sketch.bloom_update"),
      "frontier.sketch.cuckoo_update_s" -> perRound("frontier.sketch.cuckoo_update"),
      "sources.fetch_convert.s" -> perRound("sources.fetch_convert"),
      "sources.fetch_convert.rows" -> sums("fetched") / n,
      "sources.fetch_convert.error_frac" -> frac("fetch_failed", "fetched"),
      "sources.store.commit_s" -> perRound("sources.store.commit"),
      "sources.store.read_seen_s" -> perRound("sources.store.read_seen"))
    spark.sparkContext.setJobDescription(null)
    Out(metrics, problems.toSeq)
  }

  /** Classifies the round's deduplicated candidates tier by tier against
    * the persisted sketches of snapshot r−1 and the exact seen set.
    */
  private def seenTiers(r: Int, dedup: DataFrame, seenPrev: DataFrame,
                        bloom: org.apache.spark.util.sketch.BloomFilter, cuckooDir: Option[String],
                        buckets: Int, freshCount: Long, sums: mutable.Map[String, Double],
                        problems: mutable.Buffer[String]): Unit = {
    val seen = seenPrev.select("url_canon").collect().map(_.getString(0)).toSet
    val cuckoos: Map[Int, CuckooFilter] = cuckooDir.toSeq.flatMap { d =>
      (0 until buckets).flatMap { b =>
        val p = Paths.get(d, s"bucket-$b.bin")
        if (Files.exists(p)) Some(b -> CuckooFilter.fromBytes(Files.readAllBytes(p))) else None
      }
    }.toMap
    var rowsIn, bloomNew, cuckooNew, exactDup, exactNew, trulyNew, bloomFp, missed = 0L
    dedup.select("url_canon", "url_hash").collect().foreach { row =>
      val u = row.getString(0)
      val h = row.getLong(1)
      val isSeen = seen(u)
      val bloomMaybe = bloom.mightContainLong(h)
      val cuckooMaybe = cuckooDir.isEmpty ||
        cuckoos.get(UrlSeen.cuckooBucket(h, buckets)).forall(_.mightContain(h))
      rowsIn += 1
      if (!isSeen) { trulyNew += 1; if (bloomMaybe) bloomFp += 1 }
      if (!bloomMaybe) { bloomNew += 1; if (isSeen) missed += 1 }
      else if (!cuckooMaybe) { cuckooNew += 1; if (isSeen) missed += 1 }
      else if (isSeen) exactDup += 1
      else exactNew += 1
    }
    if (bloomNew + cuckooNew + exactNew != freshCount)
      problems += s"round $r: seen tiers give ${bloomNew + cuckooNew + exactNew} new URLs, filterNew gave $freshCount"
    if (missed > 0) problems += s"round $r: $missed seen URLs passed a sketch as new"
    sums("seen.rows_in") += rowsIn
    sums("seen.bloom_new") += bloomNew
    sums("seen.cuckoo_new") += cuckooNew
    sums("seen.exact_dup") += exactDup
    sums("seen.truly_new") += trulyNew
    sums("seen.bloom_fp") += bloomFp
  }

  /** Fetch + convert of one admitted entry, as a crawl round does it. */
  private def fetchRow(uni: SyntheticWeb.Universe, e: FrontierEntry, round: Int, pid: Int,
                       hardTimeoutMs: Long): FetchedRow = {
    val f = uni.fetch(e)
    def row(error: String, outlinks: Seq[String], docId: String, spans: Seq[graft.model.DocSpan]) =
      FetchedRow(f.url_canon, f.url_hash, f.host, round, pid, f.status, f.bytes, error, outlinks,
        docId, spans, f.cookies_applied, f.headers_applied, f.duration_ms, f.redirects, f.final_url)
    if (f.error.nonEmpty)
      FetchedRow(f.url_canon, f.url_hash, f.host, round, pid, f.status, f.bytes, f.error, Nil,
        f.url_canon, Nil, duration_ms = f.duration_ms, redirects = f.redirects, final_url = f.final_url)
    else if (f.duration_ms > hardTimeoutMs)
      row(s"deadline: fetch exceeded hard timeout (${hardTimeoutMs}ms)", Nil, f.url_canon, Nil)
    else if (f.status == 301 || f.status == 302) row("", f.outlinks, f.url_canon, Nil)
    else {
      val conv = ConvertPipeline(f.doc, ConvertPipeline.Options())
      if (conv.isError) row(conv.error, f.outlinks, f.url_canon, Nil)
      else {
        val d = if (conv.docs.length == 1) conv.docs.head else SpanOps.merge(conv.docs, f.url_canon)
        row("", f.outlinks, d.doc_id, d.spans)
      }
    }
  }
}
