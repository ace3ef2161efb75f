package graft.tools

import graft.datatools.GraphOps
import org.apache.spark.sql.functions._

/** Iterative-tier scale soak (round-4 VERDICT item 6): run the two
  * graph loops the crawl itself depends on — [[GraphOps
  * .connectedComponents]] (near-dup clustering / leakage splits) and
  * [[GraphOps.linkAuthority]] (frontier priority) — on a synthetic
  * graph ~10³× the sf0.1 fixtures (default 10⁸ edges, |V| = |E|/2)
  * and report PER-ROUND wall times, so "per-round cost stays flat and
  * lineage does not grow across rounds" is measured, not asserted
  * from the plan shape. Results land in BASELINE.md §iter-soak.
  *
  * Usage: `SPARK_DRIVER_MEM=64g sbt "runMain graft.tools.IterSoak
  * [edges] [prIters]"`. The graph is a seeded xxhash64 multigraph
  * (uniform degree ≈ 2 in / 2 out, one giant component — the
  * pointer-jumping worst-ish case of long random chains collapsing in
  * O(log d) rounds). Emits one summary JSON line (`ITER_SOAK {...}`)
  * plus per-round lines on stderr as they finish.
  */
object IterSoak {

  def main(args: Array[String]): Unit = {
    val edges = args.headOption.map(_.toLong).getOrElse(100000000L)
    val prIters = args.lift(1).map(_.toInt).getOrElse(4)
    val nodes = math.max(edges / 2, 1L)
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, shufflePartitions = 128, adaptive = true)

    // seeded uniform multigraph: two independent xxhash64 draws per
    // edge id (constant salts, not wall-clock — reruns are identical)
    def graph = spark.range(edges).select(
      pmod(xxhash64(col("id"), lit(1)), lit(nodes)).as("src"),
      pmod(xxhash64(col("id"), lit(2)), lit(nodes)).as("dst"))

    def timedRounds(run: (Int => Unit) => Long): (Long, Seq[Double], Double) = {
      val rounds = scala.collection.mutable.ArrayBuffer.empty[Double]
      var last = System.nanoTime()
      val t0 = last
      val result = run { i =>
        val now = System.nanoTime()
        rounds += (now - last) / 1e9
        System.err.println(f"[soak] round $i: ${(now - last) / 1e9}%.1f s")
        last = now
      }
      (result, rounds.toSeq, (System.nanoTime() - t0) / 1e9)
    }

    // --- connectedComponents: rounds until convergence ---
    val (ccNodes, ccRounds, ccTotal) = timedRounds { hook =>
      val labels = GraphOps.connectedComponents(
        graph.toDF().withColumnRenamed("src", "id_a").withColumnRenamed("dst", "id_b"),
        onRound = hook)
      val n = labels.count()
      graft.datatools.Checkpoints.release(labels)
      n
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

    // --- linkAuthority: fixed prIters rounds ---
    val (prSum, prRounds, prTotal) = timedRounds { hook =>
      val ranks = GraphOps.linkAuthority(graph, iters = prIters, onRound = hook)
      // 1-row checksum forces nothing extra (ranks is checkpointed)
      val s = ranks.agg(sum(col("rank"))).head().getLong(0)
      graft.datatools.Checkpoints.release(ranks)
      s
    }
    val leaked = spark.sparkContext.getPersistentRDDs.size
    def arr(xs: Seq[Double]) = xs.map(x => f"$x%.1f").mkString("[", ",", "]")
    println(
      f"""ITER_SOAK {"edges":$edges,"nodes":$nodes,"cc_rounds":${ccRounds.size},"cc_round_sec":${arr(ccRounds)},"cc_total_sec":$ccTotal%.1f,"cc_labeled_nodes":$ccNodes,"pr_iters":$prIters,"pr_round_sec":${arr(prRounds)},"pr_total_sec":$prTotal%.1f,"pr_rank_checksum":$prSum,"live_rdds_after_release":$leaked}""")
    spark.stop()
  }
}
