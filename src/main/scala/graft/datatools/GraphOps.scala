package graft.datatools

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Distributed graph primitives the crawl + dedup pipelines need at
  * 100 TB: connected components over near-dup pair sets (the
  * "keep one document per duplicate cluster" endgame of every dedup
  * family in [[Dedup]]) and bounded BFS over the link graph (frontier
  * prioritization by seed distance — the crawl-scheduling counterpart
  * of the reference enumerating linked sub-resources per route,
  * `pkg/modules/chromium/chromium.go` link/asset discovery).
  *
  * Scale design: both are iterative DataFrame jobs whose per-iteration
  * work is one or two key-partitioned shuffles. Two loops finish on the
  * driver instead when their edge set is small: [[connectedComponents]]
  * (at most [[DriverFinishEdges]] rows, solved by a union-find) and
  * [[hits]] (at most [[HitsDriverEdges]] rows, the same fixed-point
  * rounds over arrays). Each bound is a constant, so big inputs never
  * funnel to the driver. Components uses
  * min-label propagation WITH pointer
  * jumping (label(v) ← min over {label(v)} ∪ {label(u): u~v} ∪
  * {label(label(v))}), the Hash-to-Min family of Rastogi et al.
  * (ICDE'13) — pointer jumping contracts label chains so convergence is
  * O(log diameter) rounds, not O(diameter); near-dup clusters are
  * almost-cliques, so in practice 2-3 rounds. Every iteration's result
  * is persisted and materialized (the change count is the loop guard),
  * and the previous iteration is unpersisted — lineage stays one round
  * deep, which is what lets the loop run at 10¹⁰ edges without stack
  * or DAG blowup.
  *
  * Determinism: the fixpoint is unique (every node labeled with its
  * component's minimum id), so the answer is independent of iteration
  * count, partitioning, scheduling and of whether the driver or the
  * loop answers — oracle-safe.
  */
object GraphOps {

  /** The largest edge set [[connectedComponents]] solves on the driver.
    * The answer is a local frame, so its rows sit in every downstream
    * plan, and the optimizer's cost grows with them. Measured with a
    * 3 GB driver, `local[4]`, AQE on, over [[neardupClusters]]' plan
    * run to a count, driver path vs the loop (median of 3):
    *   - 2¹⁴ edges: 0.36 vs 0.72 s (random graph, long ids), 0.59 vs
    *     0.91 s (matching, 64-char string ids); optimization 50–74 ms;
    *     driver heap peak ≤ 0.4 GB, garbage included;
    *   - 2¹⁶ edges: 1.00 vs 1.15 s and 1.96 vs 2.09 s — about even;
    *   - 2¹⁸ edges: 3.95 vs 2.13 s and 7.38 vs 5.07 s — the loop wins,
    *     with 0.7–1.5 s of optimization and a 1.3 GB heap peak.
    * So the bound sits at the largest measured size where the driver
    * still wins.
    */
  val DriverFinishEdges: Int = 1 << 14

  /** (id, cluster_id) for every node appearing in `pairs`;
    * cluster_id = the component's minimum node id, in the order
    * Spark's `min` uses for the id type. Integral and (binary-
    * collation) string ids finish on the driver; string ids compare
    * as UTF-8 bytes, which is also DuckDB's order. Other orderable
    * types run the distributed loop to convergence.
    *
    * Job shape: the normalized edge set is collected with
    * `limit(DriverFinishEdges + 1)`; when it fits, a driver union-find
    * (the smaller root wins, so each root is its component's min)
    * answers with a local frame and no loop runs. Otherwise Hash-to-Min
    * runs to convergence, one eager checkpoint per round, whose job
    * also observes the changed-label count.
    *
    * @param pairs one row per undirected edge; self-loops and
    *              duplicate/reversed edges are tolerated (normalized
    *              away).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
                          maxIter: Int = 50): DataFrame =
    connectedComponents(pairs, aCol, bCol, maxIter, DriverFinishEdges)

  /** [[connectedComponents]] with the driver-finish bound as a
    * parameter: 0 always runs the distributed loop.
    */
  private[graft] def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                                         maxIter: Int, finishEdges: Int): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    require(finishEdges >= 0 && finishEdges < Int.MaxValue,
      s"finishEdges must be in [0, Int.MaxValue), got $finishEdges")
    val spark = pairs.sparkSession
    // one row per undirected edge, u < v, self-loops dropped
    val und = pairs.filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"), greatest(col(aCol), col(bCol)).as("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val idType = und.schema("u").dataType
    val small = for (rows <- driverEdges(und, finishEdges); order <- driverOrder(idType))
      yield driverComponents(rows, order)
    if (small.isDefined) {
      und.unpersist()
      return spark.createDataFrame(small.get.map { case (a, b) => Row(a, b) }.asJava,
        StructType(Seq(StructField("id", idType, nullable = false),
          StructField("cluster_id", idType, nullable = false))))
    }
    // symmetric edge list (u ~ v both ways) — the one shuffle key the
    // whole loop re-uses is `v` (the join side)
    val edges = und.unionByName(und.select(col("v").as("u"), col("u").as("v")))
    // localCheckpoint (eager), not just persist: each loop round must
    // TRUNCATE the logical plan, or analysis cost grows exponentially
    // with iterations (the classic iterative-DataFrame trap — a persist
    // caches rows but keeps the nested plan). On a real cluster swap in
    // a reliable checkpoint dir if executor loss mid-loop matters; the
    // loop is restartable from any round's labels either way.
    // EAGER, deliberately: the lazy-init fold (see [[fixedRounds]]) was
    // A/B-measured here and showed NO benefit within host noise — round
    // 1 references labels THREE times (neighbor join, cand, jump), so
    // concurrent stages contend on the lazily materializing seed
    // shuffle; the single-reference loops keep the fold, this one pays
    // the init job for a deterministic round 1.
    var labels = edges.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
      .localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (changed > 0) {
      iter += 1
      require(iter <= maxIter,
        s"connectedComponents did not converge in $maxIter iterations")
      // 1. neighbor propagation: the best label among my neighbors
      val nbrMin = edges.join(labels, edges("v") === labels("id"))
        .groupBy(col("u")).agg(min(col("lbl")).as("nmin"))
      val cand = labels.join(nbrMin, labels("id") === nbrMin("u"), "left")
        .select(labels("id"), least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl1"),
          col("lbl").as("old"))
      // 2. pointer jumping: follow my (new) label to ITS label — chains
      //    of stale labels collapse a level per round
      val jump = labels.select(col("id").as("jid"), col("lbl").as("jlbl"))
      // the convergence guard rides as an OBSERVED metric on the same
      // plan, so the eager checkpoint's materialization job delivers
      // both the labels AND the changed-count — one job per round, not
      // a checkpoint job plus a count job (guide §1.2: fewer passes;
      // measured ~0.1 s/round of pure scheduling at sf0.1)
      val obs = org.apache.spark.sql.Observation()
      val next = cand.join(jump, cand("lbl1") === jump("jid"), "left")
        .select(col("id"), least(col("lbl1"), coalesce(col("jlbl"), col("lbl1"))).as("lbl"),
          col("old"))
        .observe(obs, sum(when(col("lbl") =!= col("old"), 1L).otherwise(0L)).as("changed"))
        .localCheckpoint(true) // eager: next is materialized here
      // a metric AQE pruned is recounted over the checkpointed rows
      changed = Observations.observedOrRecount(obs, "changed")(
        next.filter(col("lbl") =!= col("old")).count())
      // next's lineage is truncated, so the previous round's checkpoint
      // blocks are dead — release them or an R-round run pins R copies
      // of the node set
      Checkpoints.release(labels)
      labels = next.select("id", "lbl")
    }
    und.unpersist()
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }

  /** The order Spark's `min` uses for `idType`, on the external values
    * `collect` returns — for the id types the driver finish supports.
    */
  private def driverOrder(idType: DataType): Option[Ordering[Any]] = idType match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(Ordering.by((v: Any) => v.asInstanceOf[Number].longValue()))
    case StringType => // the default UTF8_BINARY collation only
      Some(Ordering.by((v: Any) => UTF8String.fromString(v.asInstanceOf[String])))
    case _ => None
  }

  /** The two-column rows of `edges`, for a driver finish: Some when
    * both columns share an id type [[driverOrder]] supports, `edges`
    * holds at most `bound` rows and no endpoint is null. One collect of
    * at most `bound + 1` rows, so an oversized input costs a bounded
    * read; an unsupported type or `bound` 0 costs none.
    */
  private def driverEdges(edges: DataFrame, bound: Int): Option[Array[Row]] = {
    val Array(a, b) = edges.schema.fields.map(_.dataType)
    if (bound == 0 || a != b || driverOrder(a).isEmpty) return None
    val rows = edges.limit(bound + 1).collect()
    if (rows.length > bound || rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
    else Some(rows)
  }

  /** Every endpoint of the (u, v) `rows` paired with its component's
    * minimum, by an iterative union-find on the driver.
    */
  private def driverComponents(rows: Array[Row], order: Ordering[Any]): Seq[(Any, Any)] = {
    // indices in id order, so "the smaller root wins" is an int compare
    val ids = rows.flatMap(r => Array(r.get(0), r.get(1))).distinct.sorted(order)
    val index = new java.util.HashMap[Any, Int](ids.length * 2)
    ids.indices.foreach(i => index.put(ids(i), i))
    val parent = Array.tabulate(ids.length)(identity)
    // path halving: iterative, so a long chain cannot overflow the stack
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    rows.foreach { r =>
      val a = find(index.get(r.get(0)))
      val b = find(index.get(r.get(1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    ids.indices.map(i => (ids(i), ids(find(i))))
  }

  /** Cluster assignment + size for every document that near-dup-pairs
    * with anything: (id, cluster_id, cluster_size). The canonical
    * keeper of a cluster is the row with id = cluster_id — an exact
    * anti-join of the corpus against `id != cluster_id` rows is the
    * post-dedup sweep.
    */
  def neardupClusters(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
    val sizes = comp.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, Seq("cluster_id"))
      .select(col("id"), col("cluster_id"), col("cluster_size"))
  }

  /** Link-authority scores over a directed graph: PageRank with a
    * fixed iteration count in FIXED-POINT INTEGER arithmetic, so the
    * result is bit-exact across engines, partitionings and summation
    * orders — float PageRank sums contributions in nondeterministic
    * order and can never hash-match an oracle; integer addition is
    * associative-commutative, and floor division is pinned identically
    * in Spark (`DIV`) and ANSI SQL (`//`).
    *
    * rank₀(v) = scale; per iteration
    * rank'(v) = (scale · (100 − d))/100 + (d · Σ_{u→v} rank(u)/outdeg(u))/100
    * with all divisions floor (non-negative operands, so floor =
    * truncate). Dangling-node mass is dropped (deterministic; the
    * standard crawl-priority use ranks RELATIVE authority, where the
    * uniform redistribution term only shifts all scores).
    *
    * Overflow bound: Σ ranks ≤ |V| · scale never grows (mass is only
    * lost), so any node's contribution sum ≤ |V| · scale and the
    * d·Σ multiply needs |V| · scale · d < 2⁶³ — at scale = 10⁶,
    * d = 85 that is |V| < 10¹¹ nodes: safe past the 10¹⁰-frontier
    * target with a 10× margin.
    *
    * Runs [[authority]] with w = 1 on every edge row: parallel edges
    * and self-loops stay separate rows, and (rank·1) div out_w is
    * rank div outdeg bit for bit.
    */
  def linkAuthority(edges: DataFrame, iters: Int = 3, dampingPct: Int = 85,
                    scale: Long = 1000000L,
                    srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    authority(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"), lit(1L).as("w")),
      seeds = None, iters, dampingPct, scale)

  /** The fixed-point power iteration behind [[linkAuthority]],
    * [[weightedAuthority]] and [[trustRank]] over weighted edge rows
    * `we` = (src, dst, w): share = (rank·w) div out_w(src). The teleport
    * (rank₀ = scale, then `base` each round) covers every node, or only
    * the `seeds` (distinct `id`s). Plan: out_w is joined onto `we` ONCE
    * (persisted, keyed by src, the key every round's rank join reuses);
    * each [[fixedRounds]] round is one edges⋈ranks join + one dst-keyed
    * partial-agg sum + one left join back to the node set.
    */
  private def authority(we: DataFrame, seeds: Option[DataFrame], iters: Int,
                        dampingPct: Int, scale: Long): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val ids = we.select(col("src").as("id"))
      .unionByName(we.select(col("dst").as("id"))).distinct()
    val nodes = seeds.fold(ids)(s =>
        ids.join(s.withColumn("is_seed", lit(true)), Seq("id"), "left")
          .select(col("id"), coalesce(col("is_seed"), lit(false)).as("is_seed")))
      .localCheckpoint(false)
    def teleport(v: Long): Column =
      if (seeds.isEmpty) lit(v) else when(col("is_seed"), v).otherwise(0L)
    val outw = we.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    val eW = we.join(outw, "src").persist(StorageLevel.MEMORY_AND_DISK)
    val base = scale * (100 - dampingPct) / 100
    val rank0 = nodes.select(col("id"), teleport(scale).as("rank"))
    val ranks = fixedRounds(nodes, rank0, iters) { ranks =>
      val contrib = eW.join(ranks, eW("src") === ranks("id"))
        .select(col("dst"), expr("(rank * w) DIV outw").as("share"))
        .groupBy(col("dst")).agg(sum(col("share")).as("m"))
      nodes.join(contrib, nodes("id") === contrib("dst"), "left")
        .select(col("id"),
          (teleport(base) + expr(s"(bigint($dampingPct) * coalesce(m, bigint(0))) DIV 100"))
            .as("rank"))
    }
    eW.unpersist()
    ranks
  }

  /** `iters` rounds of `step` from `init`. Each round is checkpointed
    * EAGERLY, which truncates its lineage (see [[connectedComponents]]);
    * the superseded round is released once the next is materialized,
    * and `nodes` after the last. The lazily checkpointed `nodes` and
    * `init` over it materialize inside round 1's job.
    */
  private def fixedRounds(nodes: DataFrame, init: DataFrame, iters: Int)
                         (step: DataFrame => DataFrame): DataFrame = {
    val out = (1 to iters).foldLeft(init) { (prev, i) =>
      val next = step(prev).localCheckpoint(true)
      if (i > 1) Checkpoints.release(prev) // round 1's input is init, not a checkpoint
      next
    }
    Checkpoints.release(nodes)
    out
  }

  /** WEIGHTED authority over a COARSENED graph — the host-level (or
    * domain-level) PageRank a crawler actually budgets by: page edges
    * are first collapsed to their quotient graph (the caller maps ids
    * to groups; parallel edges become ONE weighted edge, self-loops —
    * intra-host links — drop), then rank flows along edges
    * PROPORTIONALLY to weight: share(e) = (rank·w_e) div out_w(src).
    * Runs [[authority]] on the collapsed (src, dst, w = count) rows.
    *
    * Scale shape (100 TB): the collapse is the whole point — a 10¹¹-
    * edge page graph quotients to a ~10⁷-host graph in ONE (src,dst)
    * aggregation, and every PR round thereafter joins host-sized
    * frames. Iterating on the page graph and aggregating ranks after
    * would cost 10⁴× more per round for the same host signal.
    * Overflow bound: Σrank ≈ |hosts|·scale ≤ 10¹³ and rank·w ≤
    * Σrank·w_max — within int64 for any realistic host fanout.
    */
  def weightedAuthority(edges: DataFrame, iters: Int = 3, dampingPct: Int = 85,
                        scale: Long = 1000000L,
                        srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val we = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    authority(we, seeds = None, iters, dampingPct, scale)
  }

  /** Largest-remainder (Hamilton) apportionment of an integer crawl
    * budget across hosts proportional to a score column — the step that
    * turns [[weightedAuthority]]'s host signal into per-host fetch
    * quotas the politeness layer can enforce. Exactly `budget` units
    * are allocated (Σalloc = budget by construction): every host gets
    * `floor(score·budget / Σscore)`, and the leftover seats go to the
    * largest fractional remainders (ties to the smaller id — the
    * deterministic, oracle-replayable tie-break). Σscore = 0 degrades
    * to uniform demand (every score treated as 1) so the contract
    * holds even when the upstream signal is all-zero.
    *
    * Scale shape: two scalar aggregates (Σscore, Σbase — broadcast
    * back, the q113 pattern) + one projection; the only non-map step is
    * the remainder-rank window, which runs over the HOST-count-sized
    * frame — bounded by |hosts|, never page-count-sized (same argument
    * as q113's class-histogram window). All arithmetic is integer
    * (`DIV`/`%` on positive operands ≡ DuckDB `//`/`%`), so the
    * allocation replays bit-for-bit in the oracle.
    */
  def budgetApportion(scores: DataFrame, budget: Long,
                      idCol: String = "id", scoreCol: String = "rank"): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    val s = scores.select(col(idCol).as("id"),
      col(scoreCol).cast("long").as("score"))
    // Σscore = 0 (e.g. trustRank output where nothing is seed-reachable)
    // would make every DIV/% null under non-ANSI division and silently
    // allocate NOTHING — degrade to UNIFORM demand instead (every score
    // treated as 1), which keeps the Σalloc = budget contract.
    val tot = s.agg(coalesce(sum("score"), lit(0L)).as("total"),
      count(lit(1)).as("n"))
    val base = s.crossJoin(broadcast(tot))
      .withColumn("__score", when(col("total") === 0, lit(1L)).otherwise(col("score")))
      .withColumn("__total", when(col("total") === 0, col("n")).otherwise(col("total")))
      .withColumn("base", expr(s"(__score * $budget) DIV __total"))
      .withColumn("rem", expr(s"(__score * $budget) % __total"))
    val seats = base.agg((lit(budget) - sum("base")).as("extra_seats"))
    val byRemainder = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("id").asc)
    base.crossJoin(broadcast(seats))
      .withColumn("rk", row_number().over(byRemainder))
      .select(col("id"), col("score"), col("base"),
        when(col("rk") <= col("extra_seats"), 1L).otherwise(0L).as("extra"))
      .withColumn("alloc", col("base") + col("extra"))
  }

  /** TrustRank (Gyöngyi et al., VLDB'04): [[linkAuthority]] with the
    * teleport restricted to a TRUSTED SEED SET — trust flows out from
    * hand-verified pages, so link-spam clusters that sustain ordinary
    * PageRank among themselves (no seed in-path) decay to zero. The
    * spam-demotion half of a production frontier's priority score.
    *
    * Runs [[authority]] with w = 1 on every edge row and the teleport
    * on the seeds (the [[linkAuthority]] overflow bound holds):
    * r₀ = scale on seeds / 0 elsewhere;
    * rᵢ = (seed ? base : 0) + d·Σ_inlinks(rᵢ₋₁ div outdeg) div 100.
    *
    * @param seeds one column of trusted node ids (whitelist); rows not
    *              in the graph are ignored
    * @return (id, trust) — ppm fixed point
    */
  def trustRank(edges: DataFrame, seeds: DataFrame, iters: Int = 3,
                dampingPct: Int = 85, scale: Long = 1000000L,
                srcCol: String = "src", dstCol: String = "dst",
                seedCol: String = "id"): DataFrame = {
    val we = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"), lit(1L).as("w"))
    val s = seeds.select(col(seedCol).as("id")).distinct()
    authority(we, Some(s), iters, dampingPct, scale).select(col("id"), col("rank").as("trust"))
  }

  /** Minimum seed-distance (bounded BFS) over a directed link graph:
    * (id, depth) for every node reachable from `seeds` within
    * `maxDepth` hops — depth 0 = the seeds themselves. Level-
    * synchronous: each level is one join edges-on-src plus one
    * anti-join against the visited set, the textbook frontier
    * expansion a crawl scheduler runs to prioritize shallow URLs.
    */
  def bfsDepths(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
                srcCol: String = "src", dstCol: String = "dst",
                idCol: String = "id"): DataFrame = {
    // The emptiness guard rides as an OBSERVED metric on the frontier
    // checkpoint's own materialization job — two actions per level
    // (frontier checkpoint, visited-union checkpoint) instead of three
    // (the isEmpty job is gone; guide §1.2: fewer passes). The
    // union-of-unions lineage still truncates eagerly per level and
    // superseded checkpoints release immediately, so ≤ 2 block sets are
    // ever live (the GraphOpsSpec hygiene pin).
    // lazy: the seed level materializes inside level 1's frontier-
    // checkpoint job instead of paying a dedicated init job
    var visited = seeds.select(col(idCol).as("id")).distinct()
      .select(col("id"), lit(0).as("depth"))
      .localCheckpoint(false)
    var frontier = visited
    var d = 0
    while (d < maxDepth) {
      d += 1
      val obs = org.apache.spark.sql.Observation()
      val next = frontier.join(edges, frontier("id") === edges(srcCol))
        .select(col(dstCol).as("id")).distinct()
        .join(visited, Seq("id"), "left_anti") // left-anti ⇒ depth = MIN distance
        .select(col("id"), lit(d).as("depth"))
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint(true)
      val n = Observations.observedOrRecount(obs, "n")(next.count())
      // the previous level's frontier checkpoint is superseded (its
      // rows live on in `visited`); at d = 1 frontier IS visited — keep
      if (frontier ne visited) Checkpoints.release(frontier)
      if (n == 0L) { Checkpoints.release(next); return visited }
      val prev = visited
      visited = visited.unionByName(next).localCheckpoint(true)
      Checkpoints.release(prev)
      frontier = next
    }
    if (frontier ne visited) Checkpoints.release(frontier)
    visited
  }

  /** Per-node TRIANGLE COUNTS over an undirected simple graph — the
    * classic link-spam / community signal (a crawl node whose
    * neighborhood closes many triangles is a tightly-linked cluster,
    * e.g. a link farm; one that closes none is a broadcast hub).
    *
    * Algorithm: degree-ordered edge orientation (Schank & Wagner 2005;
    * the MapReduce form is Suri & Vassilvitskii, WWW'11 "Counting
    * triangles and the curse of the last reducer"). Each undirected
    * edge is oriented from its lower-(degree, id) endpoint to the
    * higher; wedges are generated only at the LOW end, so a hub of
    * degree d contributes O(√m)-bounded out-degree wedges instead of
    * d² — the whole point at web scale, where degree follows a power
    * law and id-ordered orientation would hand one reducer the entire
    * hub neighborhood. Total work O(m^{3/2}) worst case, three
    * key-partitioned shuffles (degrees, wedge self-join, closing-edge
    * join), no collect.
    *
    * Each triangle is emitted exactly once (its endpoints appear in
    * strict rank order), then exploded to its three corners for the
    * per-node count — so the result is orientation-independent and an
    * id-ordered SQL replay (the oracle) matches bit-exactly.
    *
    * @param edges (src, dst); self-loops, duplicates, and reversed
    *              duplicates are tolerated (normalized away).
    * @return (id, n_tri) for every node in at least one triangle.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // canonical undirected simple edges: u < v, one row per edge
    val e = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient each edge from its lower-(deg, id) endpoint; carry the
    // head's rank so the wedge join can order the two out-neighbors
    val oriented = e
      .join(deg.select(col("id").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("u")).otherwise(col("v")).as("src"),
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("v")).otherwise(col("u")).as("dst"),
        greatest(col("du"), col("dv")).as("ddst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // wedges at the low-rank center: out-neighbor pairs in rank order,
    // so the closing edge (a → b), if present, is oriented the same way
    val x = oriented.select(col("src"), col("dst").as("a"), col("ddst").as("da"))
    val y = oriented.select(col("src"), col("dst").as("b"), col("ddst").as("db"))
    val wedges = x.join(y, Seq("src"))
      .filter(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")))
    val triangles = wedges
      .join(oriented.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b"))
      .select(col("src").as("c1"), col("a").as("c2"), col("b").as("c3"))
    val out = triangles
      .select(explode(array(col("c1"), col("c2"), col("c3"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    val materialized = out.localCheckpoint(true) // e/oriented consumed here
    e.unpersist()
    oriented.unpersist()
    materialized
  }

  /** The largest edge set [[hits]] solves on the driver. Measured with
    * a 3 GB driver, `local[4]`, AQE on, over a random multigraph of m
    * edges on m/4 nodes, `hits(…)` ordered and collected, loop vs
    * driver path (median of 7, alternating; equal answers at every
    * size):
    *   - 2¹⁴ edges: 0.61 vs 0.09 s (24 vs 5 jobs);
    *   - 2¹⁶ edges: 0.56 vs 0.11 s;
    *   - 2¹⁷ edges: 0.69 vs 0.15 s; driver heap peak 0.35–0.39 GB,
    *     garbage included (the loop's: 1.1 GB);
    *   - 2¹⁸ edges: 1.06 vs 0.26 s; driver heap peak 0.52–0.60 GB;
    *   - 2¹⁹ edges: 1.56 vs 0.48 s.
    * The driver wins at every size, so the bound is set by driver heap:
    * 2¹⁷ keeps the peak within [[DriverFinishEdges]]' 0.4 GB. An edge
    * set over the bound costs 2 more jobs and ~0.06 s before the loop
    * (2¹⁸ edges: 1.16 vs 1.10 s).
    */
  val HitsDriverEdges: Int = 1 << 17

  /** HITS hub/authority scores (Kleinberg '99) over a directed link
    * graph — the complement of [[linkAuthority]]'s PageRank: a HUB is
    * a page that links to many good authorities (a directory/sitemap),
    * an AUTHORITY is a page linked from many good hubs. A crawl
    * scheduler uses hubs to find frontier pages whose outlinks are
    * worth expanding; a corpus curator uses authorities as a quality
    * prior. FIXED-POINT integer arithmetic (the [[linkAuthority]]
    * convention: ppm scale, floor division, sum-normalization each
    * half-step) so any engine replays the iterations bit-exactly.
    *
    * Per iteration: auth_raw(i) = Σ_{j→i} hub(j), normalized to
    * auth(i) = auth_raw(i)·scale div Σ auth_raw; then hub_raw(j) =
    * Σ_{j→i} auth(i), normalized the same way. Overflow bound: the
    * normalize multiply needs Σraw·scale < 2⁶³; after round 1 each
    * vector sums to ≤ scale, so Σraw ≤ scale·max_outdeg — holds for
    * max degree < 9·10⁶ at scale 10⁶ (round 1's h₀ = scale·n bound:
    * |E| < 9·10⁶; lower `scale` for denser graphs).
    *
    * Scale shape: the projected edges are collected with
    * `limit(HitsDriverEdges + 1)`; when they fit, have no null endpoint
    * and share an integral or default-collation string id type, the
    * rounds run on the driver over int-indexed arrays (the same `Long`
    * arithmetic, so the same answer and the same overflow failures)
    * and a local frame answers, with no job but the collect. See
    * [[HitsDriverEdges]] for the measured bound and heap peak.
    * Otherwise each half-step is one edges⋈scores equi-join + one
    * key-partial-agg sum, materialized by ONE eager localCheckpoint
    * whose job also observes the raw vector's total (recounted over
    * the checkpointed rows only when AQE drops the metric); the
    * normalized vector is a projection over that checkpoint, with the
    * total folded in as a literal — no total action, no cross join,
    * no window. Nodes absent from a scores frame behave EXACTLY as
    * score 0 — they contribute nothing to any raw sum and nothing to
    * the normalization total — so the intermediate vectors carry only
    * the raw agg's keys and the nodes left-join that restores zero
    * rows runs ONCE on the final output, not per half-step. Each
    * superseded checkpoint is released as soon as the next one has
    * read it. A null endpoint is no node, as in the SQL twin: its edge
    * carries no score through a join on it, and no row has a null id.
    *
    * @return (id, hub_ppm, auth_ppm) one row per node
    */
  def hits(edges: DataFrame, iters: Int = 3, scale: Long = 1000000L,
           srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    hits(edges, iters, scale, srcCol, dstCol, HitsDriverEdges)

  /** [[hits]] with the driver-finish bound as a parameter: 0 always
    * runs the distributed loop.
    */
  private[graft] def hits(edges: DataFrame, iters: Int, scale: Long, srcCol: String,
                          dstCol: String, finishEdges: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale >= 1, s"scale must be >= 1, got $scale")
    require(finishEdges >= 0 && finishEdges < Int.MaxValue,
      s"finishEdges must be in [0, Int.MaxValue), got $finishEdges")
    val projected = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val small = driverEdges(projected, finishEdges)
    if (small.isDefined) {
      val idType = projected.schema("src").dataType
      return edges.sparkSession.createDataFrame(driverHits(small.get, iters, scale).asJava,
        StructType(Seq(StructField("id", idType, nullable = false),
          StructField("hub_ppm", LongType, nullable = false),
          StructField("auth_ppm", LongType, nullable = false))))
    }
    val e = projected.persist(StorageLevel.MEMORY_AND_DISK)
    // one normalized half-step: the raw (id, raw) vector checkpointed
    // with its total observed, floor-normalized to total = scale
    def normalized(raw: DataFrame): DataFrame = {
      val obs = org.apache.spark.sql.Observation()
      val ck = raw.observe(obs, sum(col("raw")).as("total")).localCheckpoint(true)
      val total = Observations.observedOrRecount(obs, "total")(
        ck.agg(coalesce(sum(col("raw")), lit(0L))).head().getLong(0))
      ck.select(col("id"), expr(s"raw * ${scale}L DIV ${math.max(total, 1L)}L").as("s"))
    }
    def halfStep(scores: DataFrame, joinOn: String, outKey: String): DataFrame =
      normalized(e.join(scores, e(joinOn) === scores("id"))
        .groupBy(col(outKey).as("id")).agg(sum(col("s")).as("raw")))
    var hub: DataFrame = null
    var auth: DataFrame = null
    (1 to iters).foreach { i =>
      // round 1's hub₀ is `scale` on EVERY node, so its half-step
      // degenerates to a per-dst edge count (sum of hub₀(src) over in-
      // edges = scale·indeg) — one exchange, no join, hub₀ never built.
      // `count(src)`: the join drops an edge with a null src, and every
      // dst keeps its key (raw 0 if all its in-edges have a null src)
      val a =
        if (i == 1)
          normalized(e.groupBy(col("dst").as("id")).agg((count(col("src")) * scale).as("raw")))
        else halfStep(hub, joinOn = "src", outKey = "dst")
      // `a` is materialized: the previous round's vectors are dead
      if (hub != null) { Checkpoints.release(hub); Checkpoints.release(auth) }
      hub = halfStep(a, joinOn = "dst", outKey = "src")
      auth = a
    }
    // restore zero-score nodes ONCE, with no separate node-set frame:
    // round 1's auth keys are ALL dst nodes (every dst has in-degree
    // ≥ 1 by construction), so inductively every auth covers every dst
    // and every hub every src — the FULL OUTER join of the two final
    // vectors is exactly src ∪ dst, and a node missing from one side
    // is a zero score on that side. A null endpoint is no node: its
    // half-step key still counts toward that half-step's total, as the
    // SQL twin's `sum(raw)` does, but it gets no output row.
    val out = hub.select(col("id"), col("s").as("hub_ppm"))
      .join(auth.select(col("id"), col("s").as("auth_ppm")), Seq("id"), "full_outer")
      .filter(col("id").isNotNull)
      .select(col("id"),
        coalesce(col("hub_ppm"), lit(0L)).as("hub_ppm"),
        coalesce(col("auth_ppm"), lit(0L)).as("auth_ppm"))
      .localCheckpoint(true)
    Checkpoints.release(hub); Checkpoints.release(auth)
    e.unpersist()
    out
  }

  /** [[hits]]' rounds on the driver over the (src, dst) `rows`, as
    * int-indexed arrays: (id, hub, auth) for every endpoint. The loop's
    * `Long` arithmetic, overflow included: exact adds and multiplies
    * throw where ANSI Spark does, and `/` truncates as `DIV` does for
    * these non-negative operands. A node outside a half-step's key set
    * has raw 0, which is the loop's "absent = score 0".
    */
  private def driverHits(rows: Array[Row], iters: Int, scale: Long): Seq[Row] = {
    val index = new java.util.HashMap[Any, Int](rows.length * 2)
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def at(id: Any): Int = index.computeIfAbsent(id, _ => { ids += id; ids.length - 1 })
    val src = rows.map(r => at(r.get(0)))
    val dst = rows.map(r => at(r.get(1)))
    // raw(to(k)) = Σ in(from(k)) over the edges k, floor-normalized to
    // total = scale; round 1's sum of hub₀ = scale is the loop's
    // scale·indeg, and overflows exactly when that product does
    def halfStep(in: Array[Long], from: Array[Int], to: Array[Int]): Array[Long] = {
      val raw = new Array[Long](ids.length)
      var k = 0
      while (k < from.length) { raw(to(k)) = Math.addExact(raw(to(k)), in(from(k))); k += 1 }
      val total = math.max(raw.foldLeft(0L)(Math.addExact), 1L)
      raw.map(r => Math.multiplyExact(r, scale) / total)
    }
    var hub = Array.fill(ids.length)(scale)
    var auth = Array.emptyLongArray
    (1 to iters).foreach { _ =>
      auth = halfStep(hub, src, dst)
      hub = halfStep(auth, dst, src)
    }
    ids.indices.map(i => Row(ids(i), hub(i), auth(i)))
  }

  /** Co-citation similarity (Small 1973) — the "related pages" signal:
    * targets (a, b) are related when many of the SAME sources link to
    * both; `shared` = |{s : s→a ∧ s→b}|. PageRank/HITS rank single
    * pages; co-citation produces PAIRS — what a crawler uses to expand
    * "more like this seed" and a curator to group mirrors that near-dup
    * text sketches miss (same topic, different words).
    *
    * Skew is structural here: a source of out-degree d emits C(d, 2)
    * pairs, so one 10⁵-outlink navigation hub alone would generate
    * 5·10⁹ rows. The standard practice IS the fix: sources past
    * `maxOutDeg` carry no topical signal (they cite everything) and
    * are dropped, bounding pair fan-out at C(maxOutDeg, 2) per source.
    *
    * Plan shape: ONE exchange on src (collect_set folds the per-source
    * neighbor list map-side), the ordered-pair fan-out as a zero-
    * exchange lambda projection over the ≤ maxOutDeg-long arrays, one
    * partial-agg'd exchange on the pair key, and a TakeOrdered top-k —
    * no self-join, nothing sorted at pair cardinality.
    *
    * @return top `k` rows (a, b, shared) by (shared desc, a, b), pairs
    *         with `shared` ≥ `minShared`, a < b
    */
  def coCitation(edges: DataFrame, maxOutDeg: Int = 64, minShared: Int = 2,
                 k: Int = 100, srcCol: String = "src",
                 dstCol: String = "dst"): DataFrame = {
    require(maxOutDeg >= 2 && minShared >= 1 && k >= 1)
    edges.filter(col(srcCol) =!= col(dstCol))
      .groupBy(col(srcCol).as("src"))
      .agg(sort_array(collect_set(col(dstCol))).as("ds"))
      .filter(size(col("ds")).between(2, maxOutDeg))
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1),
          |            y -> named_struct('a', x, 'b', y))))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .orderBy(col("shared").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Per-source link-spam signals (Fetterly et al. 2004, "Spam, damn
    * spam, and statistics"): the degree-statistics profile a crawl
    * uses to demote link farms BEFORE rank computation —
    *
    *   - `recip_ppm`   reciprocal-link fraction: link exchanges manufacture
    *                   a→b ∧ b→a pairs that organic linking rarely produces
    *   - `self_loops`  self-citations (within-site padding)
    *   - `out_in_ppm`  out/in imbalance: farms cite heavily, nobody cites back
    *
    * Plan shape: ONE distinct pass over the edge list (exchange on the
    * edge key), reused (persisted) by all four aggregates; the
    * reciprocal test is a self-equi-join of the distinct edge set on
    * the REVERSED key — edge-keyed, no fan-out, no cartesian. All
    * per-node aggregates are partial-agg shuffles on node ids. 100-TB
    * safe: nothing exceeds edge cardinality, ratios are floor-div ppm.
    *
    * @return (id, outdeg, indeg, n_recip, self_loops, recip_ppm,
    *         out_in_ppm) for every node with outdeg ≥ 1, by id
    */
  def linkSpamSignals(edges: DataFrame, srcCol: String = "src",
                      dstCol: String = "dst"): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val d = e.filter(col("src") =!= col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val out = d.groupBy(col("src").as("id")).agg(count(lit(1)).as("outdeg"))
    val in = d.groupBy(col("dst").as("id")).agg(count(lit(1)).as("indeg"))
    val recip = d.join(
        d.select(col("dst").as("src"), col("src").as("dst")), Seq("src", "dst"))
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("n_recip"))
    val selfs = e.filter(col("src") === col("dst"))
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("self_loops"))
    val res = out
      .join(in, Seq("id"), "left")
      .join(recip, Seq("id"), "left")
      .join(selfs, Seq("id"), "left")
      .select(col("id"), col("outdeg"),
        coalesce(col("indeg"), lit(0L)).as("indeg"),
        coalesce(col("n_recip"), lit(0L)).as("n_recip"),
        coalesce(col("self_loops"), lit(0L)).as("self_loops"))
      .withColumn("recip_ppm", expr("n_recip * 1000000 DIV outdeg"))
      .withColumn("out_in_ppm", expr("outdeg * 1000000 DIV (indeg + 1)"))
      .orderBy("id")
    res
  }

  /** Label-propagation communities (Raghavan et al. 2007) over an
    * undirected view of the link graph: every node starts as its own
    * label; each synchronous round it adopts the MOST FREQUENT label
    * among its neighbors (ties → the smallest label, so every round is
    * deterministic and engine-replayable; isolated nodes keep their
    * own). Where [[connectedComponents]] answers "reachable at all",
    * LPA answers "densely linked together" — the mirror-site /
    * link-farm / topic-community detector a crawl's host graph feeds.
    *
    * Scale shape (per round, run by [[fixedRounds]]): ONE equi-join of
    * the undirected edge list against the label frame + ONE
    * (node, label) partial-agg count + the struct-min argmax re-agg —
    * no windows, no sorts. The undirected edge list is built once
    * (distinct, self-loops dropped) and persisted across rounds. Rounds are fixed (`iters`), not
    * run-to-convergence: synchronous LPA can 2-cycle, and a fixed
    * round count is what an engine-independent oracle can replay.
    *
    * @return (id, label) after `iters` rounds
    */
  def labelPropagation(edges: DataFrame, iters: Int = 3,
                       srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // undirected neighbor list: both directions, self-loops dropped
    val ne = e.filter(col("src") =!= col("dst"))
    val nbrs = ne.select(col("src").as("a"), col("dst").as("b"))
      .unionByName(ne.select(col("dst").as("a"), col("src").as("b")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(false)
    val label0 = nodes.select(col("id"), col("id").as("label"))
    val labels = fixedRounds(nodes, label0, iters) { labels =>
      val counted = nbrs.join(labels, nbrs("b") === labels("id"))
        .groupBy(col("a"), col("label")).agg(count(lit(1)).as("cnt"))
      // argmax by (cnt desc, label asc) as a struct-min partial agg —
      // the q79/kmeans lexicographic-min idiom, no window
      val won = counted.groupBy(col("a"))
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
          .getField("l").as("new_label"))
      nodes.join(won, nodes("id") === won("a"), "left")
        .select(col("id"), coalesce(col("new_label"), col("id")).as("label"))
    }
    nbrs.unpersist()
    labels
  }

  /** Anchor-text aggregation — the classic web-search signal: for each
    * link TARGET, the top-k anchor terms pointing at it, by citation
    * count (ties → lexicographically smaller term; rank ties are
    * therefore unique). Search engines weight anchor text above body
    * text (Brin & Page '98 §2.2); a crawl-derived corpus keeps it as
    * per-target metadata.
    *
    * Scale shape: one (dst, term) count aggregation (map-side
    * combine), then the per-target top-k as a bounded typed
    * [[Aggregator]] over the AGGREGATED frame — each map task ships at
    * most k (term, cnt) pairs per target, and nothing is ever sorted
    * at corpus cardinality. The row_number-window formulation would
    * shuffle AND sort every distinct (dst, term) pair; this ships
    * O(k · targets).
    *
    * @param anchors one row per link occurrence: (dst, term)
    * @return (dst, term, cnt, rank) — rank 1..k per target,
    *         ordered (cnt desc, term asc)
    */
  def anchorTopK(anchors: DataFrame, k: Int,
                 dstCol: String = "dst", termCol: String = "term"): DataFrame = {
    val counted = anchors
      .groupBy(col(dstCol).as("dst"), col(termCol).as("term"))
      .agg(count(lit(1)).as("cnt"))
    val top = udaf(new TopKByCount(k), Encoders.product[(String, Long)])
    counted.groupBy(col("dst"))
      .agg(top(col("term"), col("cnt")).as("b"))
      .select(col("dst"), posexplode(expr(
        "zip_with(b.terms, b.cnts, (t, c) -> struct(t AS term, c AS cnt))")))
      .select(col("dst"), (col("pos") + 1).cast("int").as("rank"),
        col("col.term").as("term"), col("col.cnt").as("cnt"))
  }

  /** (term, cnt) buffer kept sorted by (cnt desc, term asc), capped at
    * k — parallel Seqs for an Encoders.product-friendly buffer (the
    * [[Curation.MinKByHash]] convention). Insertion is commutative +
    * idempotent-merge-safe: partial aggregation and shuffle order
    * cannot change the answer, because input (term, cnt) pairs are
    * DISTINCT per group (the upstream count agg guarantees it).
    */
  final case class TopCntBuf(terms: Seq[String], cnts: Seq[Long])

  final class TopKByCount(k: Int)
      extends Aggregator[(String, Long), TopCntBuf, TopCntBuf] {
    require(k >= 1, "k must be >= 1")

    override def zero: TopCntBuf = TopCntBuf(Vector.empty, Vector.empty)

    // true when (t1, c1) outranks (t2, c2)
    private def lt(t1: String, c1: Long, t2: String, c2: Long): Boolean =
      c1 > c2 || (c1 == c2 && t1.compareTo(t2) < 0)

    private def insert(b: TopCntBuf, term: String, cnt: Long): TopCntBuf = {
      val n = b.terms.size
      if (n == k && !lt(term, cnt, b.terms(n - 1), b.cnts(n - 1))) return b
      var i = 0
      while (i < n && lt(b.terms(i), b.cnts(i), term, cnt)) i += 1
      TopCntBuf(
        ((b.terms.take(i) :+ term) ++ b.terms.drop(i)).take(k),
        ((b.cnts.take(i) :+ cnt) ++ b.cnts.drop(i)).take(k))
    }

    override def reduce(b: TopCntBuf, e: (String, Long)): TopCntBuf =
      insert(b, e._1, e._2)

    override def merge(a: TopCntBuf, b: TopCntBuf): TopCntBuf =
      b.terms.indices.foldLeft(a)((acc, i) => insert(acc, b.terms(i), b.cnts(i)))

    override def finish(b: TopCntBuf): TopCntBuf = b

    override def bufferEncoder: Encoder[TopCntBuf] = Encoders.product[TopCntBuf]
    override def outputEncoder: Encoder[TopCntBuf] = Encoders.product[TopCntBuf]
  }
}
