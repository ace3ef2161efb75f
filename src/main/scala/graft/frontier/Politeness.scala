package graft.frontier

import graft.model.{CrawlConfig, FrontierEntry}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.{AccumulatorV2, LongAccumulator}

import scala.collection.mutable

/** Per-host politeness scheduler — the Spark re-expression of the
  * reference's supervisor admission machinery:
  *
  *   - per-process concurrency semaphore ≤ 6
  *     (`pkg/gotenberg/supervisor.go:113,156,451-469`, Chromium default &
  *     hard max `chromium/chromium.go:454,668`) → per-HOST token budget
  *     per round;
  *   - queue cap with rejection (`supervisor.go:302-317`) → per-partition
  *     intake cap; over-cap rows are deferred, not dropped;
  *   - restart-after-N budget reset (`supervisor.go:539-602`) → budgets
  *     reset each round.
  *
  * Physical plan: one shuffle — `repartition(P, host_hash)` where
  * host_hash already carries the skew salt (`UrlFunctions.hostSalt`). A
  * hot host is split across `saltsPerHost` partitions while its GLOBAL
  * budget is divided deterministically across salts (quota_i =
  * B/k + (i < B%k)), so the per-host rate limit holds regardless of
  * partition layout (SURVEY.md §7.4 hot-host risk).
  *
  * Admission inside a partition is a per-host min-heap bounded at the
  * host's quota (the "per-partition min-heap priority queue" of the
  * north rule): a row displaces the heap minimum when its
  * (priority DESC, seq ASC) rank is better. O(n log quota), no full
  * sort, deterministic — a pure function of the partition's rows, which
  * are themselves a pure function of the data (hash partitioning), never
  * of task scheduling. This is what keeps crawl order identical between
  * local[8] and local[32]. (Sole exception: the maxQueuePerPartition
  * overload valve — see the note inside `admit`.)
  */
object Politeness {

  /** Ordering of crawl preference: higher priority first, then lower
    * seq, then url. Hand-written compare — `Ordering.by` on a tuple
    * allocates a fresh Tuple3 (plus boxing) for EVERY comparison, and
    * the admission heaps compare O(n log quota) times per partition on
    * the round's single full shuffle; tuple churn there was measurable
    * memory-bandwidth pressure at high thread counts.
    */
  private val preference: Ordering[FrontierEntry] = new Ordering[FrontierEntry] {
    override def compare(a: FrontierEntry, b: FrontierEntry): Int = {
      val p = java.lang.Double.compare(b.priority, a.priority) // higher first
      if (p != 0) return p
      val s = java.lang.Long.compare(a.seq, b.seq)
      if (s != 0) return s
      a.url_canon.compareTo(b.url_canon)
    }
  }

  final case class Admission(entry: FrontierEntry, admitted: Boolean)

  /** The admitted rows' `url_hash`es, up to `cap` of them; past the cap
    * it keeps only that it overflowed, and `value` is None. A growable
    * `long[]`, so `value` can be read any number of times.
    */
  final class HashCollector(cap: Long) extends AccumulatorV2[Long, Option[Array[Long]]] {
    private var hashes = Array.emptyLongArray
    private var n = 0
    private var overflowed = false
    override def isZero: Boolean = n == 0 && !overflowed
    override def copy(): HashCollector = { val c = new HashCollector(cap); c.merge(this); c }
    override def reset(): Unit = { hashes = Array.emptyLongArray; n = 0; overflowed = false }
    private def overflow(): Unit = { overflowed = true; hashes = Array.emptyLongArray; n = 0 }
    override def add(h: Long): Unit =
      if (overflowed) ()
      else if (n >= cap) overflow()
      else {
        if (n == hashes.length) hashes = java.util.Arrays.copyOf(hashes, math.max(16, 2 * n))
        hashes(n) = h; n += 1
      }
    override def merge(other: AccumulatorV2[Long, Option[Array[Long]]]): Unit = other match {
      case o: HashCollector =>
        if (o.overflowed) overflow()
        var i = 0
        while (i < o.n && !overflowed) { add(o.hashes(i)); i += 1 }
    }
    override def value: Option[Array[Long]] =
      if (overflowed) None else Some(java.util.Arrays.copyOf(hashes, n))
  }

  /** Split `frontier` into (admitted, deferred) per the politeness budget.
    *
    * `counters` (admitted, deferred) and `admittedHashes` are filled by
    * the admitted tail of each partition. When the admission runs in the
    * result stage of an action (the crawl's frontier write, the first
    * action over the persisted result), Spark merges each partition's
    * updates exactly once, from its one successful task, before the
    * action returns; so they are exact when read right then. A later
    * recompute of a lost cached partition adds again, and updates made
    * in a shuffle map stage can be applied more than once. The crawl
    * reads them once, right after its frontier write: the admitted count
    * feeds the manifest's `seen_total`, the WAP audit's expected row
    * count and the stop test, and the hashes go into the bloom only when
    * they number exactly that count (else the bloom merges the delta
    * from the admitted rows themselves).
    */
  def admit(
      spark: SparkSession,
      frontier: Dataset[FrontierEntry],
      cfg: CrawlConfig,
      counters: Option[(LongAccumulator, LongAccumulator)] = None,
      admittedHashes: Option[HashCollector] = None
  ): Dataset[Admission] = {
    import spark.implicits._

    val salts = math.max(1, cfg.saltsPerHost)
    val budget = cfg.hostBudgetPerRound

    frontier
      .repartition(cfg.numPartitions, col("host_hash"))
      .mapPartitions { it =>
        // per (host, saltIdx) bounded heap of the best quota_i entries;
        // heap root = worst kept entry (reverse preference). Deferred
        // rows STREAM out as they lose — only the heaps (Σ quotas) stay
        // in memory, never the frontier tail (10^10-scale discipline).
        //
        // maxQueuePerPartition bounds total HEAP OCCUPANCY (Σ heap
        // sizes), never intake order: at the cap, heaps stop GROWING but
        // displacement inside a full heap still runs, so each full heap
        // keeps its true per-host best regardless of row arrival order.
        // The valve is an overload guard (supervisor.go:302-317 queue
        // rejection): the admitted COUNT at the cap is deterministic;
        // WHICH hosts own the un-grown slots when it binds mid-stream
        // depends on shuffle arrival order — acceptable for a last-
        // resort memory bound that never binds at configured sizes.
        val heaps = mutable.Map.empty[(String, Int), mutable.PriorityQueue[FrontierEntry]]
        var occupancy = 0L
        var deferredCount = 0L
        val deferred: Iterator[Admission] = it.flatMap { e =>
          val saltIdx = Math.floorMod(e.url_hash, salts.toLong).toInt
          val quota = budget / salts + (if (saltIdx < budget % salts) 1 else 0)
          val loser: Option[FrontierEntry] =
            if (quota == 0) Some(e)
            else {
              val heap = heaps.getOrElseUpdate((e.host, saltIdx),
                mutable.PriorityQueue.empty(preference)) // max-heap = worst-first root
              if (heap.size < quota) {
                if (occupancy < cfg.maxQueuePerPartition) {
                  heap.enqueue(e); occupancy += 1; None
                } else Some(e) // cap bound: no growth
              } else if (preference.lt(e, heap.head)) {
                val out = heap.dequeue(); heap.enqueue(e); Some(out)
              } else Some(e)
            }
          deferredCount += loser.size
          loser.map(Admission(_, admitted = false))
        }
        // admitted emits AFTER the input is exhausted (lazy tail)
        val admitted: Iterator[Admission] = Iterator.single(()).flatMap { _ =>
          counters.foreach { case (adm, dfr) =>
            adm.add(heaps.valuesIterator.map(_.size.toLong).sum)
            dfr.add(deferredCount)
          }
          admittedHashes.foreach { acc =>
            heaps.valuesIterator.foreach(_.foreach(e => acc.add(e.url_hash)))
          }
          heaps.valuesIterator.flatMap(_.iterator).map(Admission(_, admitted = true))
        }
        deferred ++ admitted
      }
  }
}
