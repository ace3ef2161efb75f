package graft

import graft.datatools.{Dedup, GraphOps}
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic sampling harness over a ScalaCheck Gen (the
    * scalatestplus bridge is not in the offline cache) — the
    * ScalarsSpec pattern, fewer samples since each spins Spark jobs.
    */

  /** Brute-force union-find for the oracle side of the property. */
  private def bruteComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      if (a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connectedComponents labels every node with its component min (two components + chain)") {
    // component A: {1,2,3} clique-ish; component B: a 6-node chain
    // (exercises pointer jumping: naive propagation needs 5 rounds)
    val pairs = Seq((2L, 1L), (3L, 2L), (10L, 11L), (11L, 12L), (12L, 13L),
      (13L, 14L), (14L, 15L)).toDF("id_a", "id_b")
    val got = GraphOps.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L, 15L -> 10L))
  }

  test("connectedComponents tolerates duplicate, reversed and self edges") {
    val pairs = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = GraphOps.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    // a pure self-loop node has no real edge — it carries no pair
    // obligation, so it simply labels itself if present at all
    assert(got.getOrElse(1L, -1L) === 1L && got.getOrElse(2L, -1L) === 1L)
    assert(got.getOrElse(4L, -1L) === 4L && got.getOrElse(5L, -1L) === 4L)
    assert(!got.contains(3L))
  }

  /** Driver-finish bounds that reach each path: 0 runs the distributed
    * loop to convergence, the default answers on the driver.
    */
  private val finishBounds = Seq(0, GraphOps.DriverFinishEdges)

  private def components(pairs: DataFrame, bound: Int) =
    GraphOps.connectedComponents(pairs, "id_a", "id_b", 50, bound)

  /** Whether a driver finish answered: its frame is a local relation,
    * the loop's a checkpoint.
    */
  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("property: components equal brute-force union-find on random graphs") {
    val edgeGen = Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 25L), Gen.choose(0L, 25L)))
    sample(edgeGen, 8) { es =>
      val real = es.filter { case (a, b) => a != b }
      if (real.nonEmpty) {
        val want = bruteComponents(real)
        finishBounds.foreach { bound =>
          val got = components(real.toDF("id_a", "id_b"), bound)
            .as[(Long, Long)].collect().toMap
          assert(got === want, s"bound $bound, edges: $real")
        }
      }
    }
  }

  test("connectedComponents: string ids take Spark's min, UTF-8 byte order, on every path") {
    // U+FF21 sorts before U+1F600 in UTF-8 bytes (EF… < F0…) but after
    // it in UTF-16 code units (FF21 > D83D), so String.compareTo would
    // pick the wrong keeper
    val (fullA, smile) = ("\uFF21x", "\uD83D\uDE00")
    assert(Seq(smile, fullA).toDF("s").select(min("s")).as[String].head() === fullA)
    val pairs = Seq((smile, fullA), ("ü", "ß"), ("ß", "é"), ("z", "e"),
      ("k", "m"), ("m", "l")).toDF("id_a", "id_b")
    val want = Map(fullA -> fullA, smile -> fullA, "ß" -> "ß", "é" -> "ß", "ü" -> "ß",
      "e" -> "e", "z" -> "e", "k" -> "k", "l" -> "k", "m" -> "k")
    finishBounds.foreach { bound =>
      assert(components(pairs, bound).as[(String, String)].collect().toMap === want,
        s"bound $bound")
    }
  }

  test("connectedComponents: a 200,000-node path finishes on the driver without recursion") {
    val n = 200000L
    val path = spark.range(n - 1).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val got = components(path, n.toInt) // a bound past the default, so the path fits
    // the driver path answers with a local frame; the loop's is checkpointed
    assert(got.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val (rows, lo, hi) = got.agg(count(lit(1)), min("cluster_id"), max("cluster_id"))
      .as[(Long, Long, Long)].head()
    assert((rows, lo, hi) === ((n, 0L, 0L)))
  }

  test("neardupClusters sizes count members per component") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val got = GraphOps.neardupClusters(pairs).as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(got === Array((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (7L, 7L, 2L), (8L, 7L, 2L)))
  }

  test("neardupClusters over real SimHash pairs: every pair lands in one cluster, keeper is min") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = Dedup.simhashPairs(docs, maxDist = 6).persist()
    val clusters = GraphOps.neardupClusters(pairs).persist()
    val byId = clusters.select("id", "cluster_id").as[(Long, Long)].collect().toMap
    val ps = pairs.select("id_a", "id_b").as[(Long, Long)].collect()
    assert(ps.nonEmpty)
    ps.foreach { case (a, b) => assert(byId(a) === byId(b)) }
    // cluster_id is a member and the minimum member
    val members = byId.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    members.foreach { case (cid, ms) => assert(ms.min === cid) }
    pairs.unpersist(); clusters.unpersist()
  }

  /** Brute-force fixed-point integer PageRank — the same arithmetic
    * contract (scale 10⁶, damping 85/100, floor division, dangling
    * mass dropped) in straight-line Scala.
    */
  private def brutePagerank(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = nodes.map(_ -> 1000000L).toMap
    (1 to iters).foreach { _ =>
      val m = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (u, v) => m(v) += r(u) / outdeg(u) }
      r = nodes.map(n => n -> (150000L + 85L * m(n) / 100L)).toMap
    }
    r
  }

  test("linkAuthority: hub collects authority, dangling mass drops deterministically") {
    // star into 1 plus a dangling sink 5: 1 has in-degree 3
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (1L, 5L)).toDF("src", "dst")
    val got = GraphOps.linkAuthority(edges, iters = 3).as[(Long, Long)].collect().toMap
    assert(got === brutePagerank(Seq((2L, 1L), (3L, 1L), (4L, 1L), (1L, 5L)), 3))
    // hub and its downstream sink both outrank the source leaves (the
    // sink lags the hub by one iteration, so after the hub's burst
    // decays the sink can transiently exceed it — parity above is the
    // real contract, this is just shape)
    assert(got(1L) > got(2L) && got(5L) > got(2L))
    assert(got(2L) === 150000L && got(2L) === got(3L) && got(3L) === got(4L))
  }

  test("property: linkAuthority equals brute-force integer PageRank on random multigraphs") {
    val edgeGen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 12L), Gen.choose(0L, 12L)))
    sample(edgeGen, 6) { es =>
      if (es.nonEmpty) {
        val got = GraphOps.linkAuthority(es.toDF("src", "dst"), iters = 3)
          .as[(Long, Long)].collect().toMap
        assert(got === brutePagerank(es, 3), s"edges: $es")
      }
    }
  }

  /** [[finishBounds]] for [[GraphOps.hits]]: the loop, and the driver finish. */
  private val hitsBounds = Seq(0, GraphOps.HitsDriverEdges)

  private def hitsAt(edges: DataFrame, iters: Int, bound: Int, scale: Long = 1000000L) =
    GraphOps.hits(edges, iters, scale, "src", "dst", bound)

  private def hitsMap[A](edges: DataFrame, iters: Int, bound: Int): Map[A, (Long, Long)] =
    hitsAt(edges, iters, bound).collect()
      .map(r => r.getAs[A](0) -> (r.getLong(1), r.getLong(2))).toMap

  /** Brute-force HITS: the fixed-point integer iteration straight from
    * the scaladoc — sum-normalize (floor div to total = scale) after
    * each half-step; nodes outside a half-step's key set score 0.
    */
  private def bruteHits[A](edges: Seq[(A, A)], iters: Int,
                           scale: Long = 1000000L): Map[A, (Long, Long)] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var hub = nodes.map(_ -> scale).toMap
    var auth = Map.empty[A, Long]
    (1 to iters).foreach { _ =>
      val rawA = edges.groupBy(_._2).view
        .mapValues(_.map(e => hub.getOrElse(e._1, 0L)).sum).toMap
      val tA = math.max(rawA.values.sum, 1L)
      auth = rawA.view.mapValues(r => r * scale / tA).toMap
      val rawH = edges.groupBy(_._1).view
        .mapValues(_.map(e => auth.getOrElse(e._2, 0L)).sum).toMap
      val tH = math.max(rawH.values.sum, 1L)
      hub = rawH.view.mapValues(r => r * scale / tH).toMap
    }
    nodes.map(n => n -> (hub.getOrElse(n, 0L), auth.getOrElse(n, 0L))).toMap
  }

  test("hits: directory hub out-scores leaves; authorities collect hub mass") {
    // 1 links to {2,3,4}; 4 also links back to 1 — 1 is the hub, 2-4
    // (and 1, via 4) are authorities
    val es = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 1L))
    hitsBounds.foreach { bound =>
      val got = hitsMap[Long](es.toDF("src", "dst"), 3, bound)
      assert(got === bruteHits(es, 3), s"bound $bound")
      assert(got(1L)._1 > got(2L)._1, "hub 1 must out-score leaf 2")
      assert(got(2L)._2 > 0L && got(2L)._1 === 0L, "pure leaf: authority only")
    }
  }

  test("hits over an empty edge frame returns no rows") {
    // on the loop (bound 0) every stage materializes empty, so AQE
    // drops the observed totals and the normalization must recount them
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    hitsBounds.foreach { bound =>
      assert(hitsAt(none, 2, bound).collect().isEmpty, s"bound $bound")
    }
  }

  test("graph loops fail fast on bad parameters") {
    val es = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException](GraphOps.hits(es, iters = 0))
    intercept[IllegalArgumentException](GraphOps.hits(es, scale = 0L))
    intercept[IllegalArgumentException](
      GraphOps.connectedComponents(es.toDF("id_a", "id_b"), maxIter = 0))
  }

  test("property: hits equals brute-force integer HITS on random multigraphs") {
    val edgeGen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 12L), Gen.choose(0L, 12L)))
    sample(edgeGen, 6) { es =>
      if (es.nonEmpty) {
        val want = bruteHits(es, 3)
        hitsBounds.foreach { bound =>
          val got = hitsMap[Long](es.toDF("src", "dst"), 3, bound)
          assert(got === want, s"bound $bound, edges: $es")
        }
      }
    }
  }

  test("hits: string ids, non-ASCII included, give the same answer at both bounds") {
    val es = Seq(("\uFF21x", "\uD83D\uDE00"), ("ü", "ß"), ("ß", "\uFF21x"), ("ü", "\uD83D\uDE00"),
      ("e", "ü"), ("ß", "ß"), ("e", "ß"))
    val want = bruteHits(es, 3)
    hitsBounds.foreach { bound =>
      assert(hitsMap[String](es.toDF("src", "dst"), 3, bound) === want, s"bound $bound")
    }
    assert(isLocal(hitsAt(es.toDF("src", "dst"), 3, GraphOps.HitsDriverEdges)),
      "string ids finish on the driver")
  }

  test("hits: null endpoints and mixed Int/Long ids take the loop at the default bound") {
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val withNulls = Seq((Some(1L), Some(2L)), (None, Some(2L)), (Some(2L), None),
      (Some(3L), Some(1L)), (Some(1L), Some(3L))).toDF("src", "dst")
    val mixed = Seq((1, 2L), (2, 3L), (3, 1L), (1, 3L)).toDF("src", "dst")
    Seq(withNulls, mixed).foreach { es =>
      val got = hitsAt(es, 3, GraphOps.HitsDriverEdges)
      assert(!isLocal(got), s"the loop answers for ${es.schema.simpleString}")
      assert(rows(got) === rows(hitsAt(es, 3, 0)), es.schema.simpleString)
    }
    // Spark widens the Int ids to the Long dst's type in the joins
    assert(hitsMap[Long](mixed, 3, GraphOps.HitsDriverEdges) ===
      bruteHits(Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)), 3))
  }

  test("hits: an edge with a null src gives no in-degree and no null-id row") {
    // the SQL twin (OracleSql q91's CTEs) over these edges, 1 round:
    // its auth join on src drops (null, 2); its hub total still counts
    // the null src's group, and its node join drops the null id
    val es = Seq((Some(1L), 2L), (Some(1L), 3L), (None, 2L), (Some(2L), 3L)).toDF("src", "dst")
    hitsBounds.foreach { bound =>
      val got = hitsAt(es, 1, bound).collect().map(r => r.get(0) -> (r.getLong(1), r.getLong(2)))
      assert(got.toMap === Map(1L -> (500000L, 0L), 2L -> (333333L, 333333L),
        3L -> (0L, 666666L)), s"bound $bound")
      assert(got.length === 3, s"bound $bound")
    }
  }

  test("hits: an overflowing scale throws ArithmeticException at both bounds") {
    // in-degree 2 at scale Long.MaxValue / 2: round 1's raw authority
    // scale·indeg overflows a Long
    val es = Seq((1L, 3L), (2L, 3L)).toDF("src", "dst")
    hitsBounds.foreach { bound =>
      val thrown = intercept[Throwable](hitsAt(es, 1, bound, Long.MaxValue / 2).collect())
      val chain = Iterator.iterate(thrown)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(_.isInstanceOf[ArithmeticException]), s"bound $bound: $thrown")
    }
  }

  /** Brute-force TrustRank: brutePagerank with base mass only on seeds. */
  private def bruteTrust(edges: Seq[(Long, Long)], seeds: Set[Long],
                         iters: Int): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val inGraphSeeds = nodes.toSet & seeds
    var r = nodes.map(n => n -> (if (inGraphSeeds(n)) 1000000L else 0L)).toMap
    (1 to iters).foreach { _ =>
      val m = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (u, v) => m(v) += r(u) / outdeg(u) }
      r = nodes.map(n =>
        n -> ((if (inGraphSeeds(n)) 150000L else 0L) + 85L * m(n) / 100L)).toMap
    }
    r
  }

  test("trustRank: trust flows from seeds only; spam cliques without seed in-path decay to 0") {
    // seed 1 links into a chain; {10, 11} is a 2-clique with no seed path
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 10L))
    val got = GraphOps.trustRank(edges.toDF("src", "dst"),
        Seq(1L).toDF("id"), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === bruteTrust(edges, Set(1L), 3))
    assert(got(10L) === 0L && got(11L) === 0L) // the isolated clique gets nothing
    assert(got(1L) > 0L && got(2L) > 0L && got(3L) > 0L)
  }

  test("property: trustRank equals brute force; seeds outside the graph are ignored") {
    val gen = for {
      es <- Gen.listOfN(25, Gen.zip(Gen.choose(0L, 10L), Gen.choose(0L, 10L)))
      seeds <- Gen.listOf(Gen.choose(0L, 14L)) // some ids not in the graph
    } yield (es, seeds)
    sample(gen, 6) { case (es, seeds) =>
      if (es.nonEmpty) {
        val got = GraphOps.trustRank(es.toDF("src", "dst"),
            seeds.toDF("id"), iters = 3)
          .as[(Long, Long)].collect().toMap
        assert(got === bruteTrust(es, seeds.toSet, 3), s"edges=$es seeds=$seeds")
      }
    }
  }

  /** Brute-force link-spam signals over the distinct simple digraph. */
  private def bruteSpam(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Long, Long, Long, Long)] = {
    val d = edges.filter(e => e._1 != e._2).distinct.toSet
    val out = d.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val in = d.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val selfs = edges.filter(e => e._1 == e._2).groupBy(_._1)
      .view.mapValues(_.size.toLong).toMap
    out.map { case (id, o) =>
      val i = in.getOrElse(id, 0L)
      val rec = d.count { case (s, t) => s == id && d((t, s)) }.toLong
      val sl = selfs.getOrElse(id, 0L)
      id -> (o, i, rec, sl, rec * 1000000L / o, o * 1000000L / (i + 1L))
    }
  }

  test("linkSpamSignals: reciprocal exchange flagged, organic chain clean, self-loops counted") {
    // 1↔2 is a link exchange; 3→4→5 organic; 6→6 self-loop (6→7 gives it outdeg)
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 5L), (6L, 6L), (6L, 7L))
    val got = GraphOps.linkSpamSignals(edges.toDF("src", "dst"))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got === bruteSpam(edges))
    assert(got(1L)._5 === 1000000L) // 100% reciprocal
    assert(got(3L)._3 === 0L)       // no reciprocation on the chain
    assert(got(6L)._4 === 1L)       // self-loop counted, excluded from degrees
  }

  test("property: linkSpamSignals equals brute force on random multigraphs") {
    val gen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 8L), Gen.choose(0L, 8L)))
    sample(gen, 6) { es =>
      val got = GraphOps.linkSpamSignals(es.toDF("src", "dst"))
        .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
      assert(got === bruteSpam(es), s"edges=$es")
    }
  }

  private def bruteBfs(edges: Seq[(Long, Long)], seeds: Set[Long], maxDepth: Int): Map[Long, Int] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val dist = scala.collection.mutable.Map(seeds.toSeq.map(_ -> 0): _*)
    var frontier = seeds
    var d = 0
    while (d < maxDepth && frontier.nonEmpty) {
      d += 1
      val next = frontier.flatMap(u => adj.getOrElse(u, Nil))
        .filterNot(dist.contains)
      next.foreach(v => dist(v) = d)
      frontier = next
    }
    dist.toMap
  }

  test("bfsDepths: min distance within the depth bound, early exit on exhausted frontier") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (9L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L, 9L).toDF("id")
    // node 3 is depth 1 via seed 9, not depth 2 via seed 1
    val got = GraphOps.bfsDepths(edges, seeds, maxDepth = 2).as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 9L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
    // frontier exhausts before maxDepth: whole chain found, no extras
    val all = GraphOps.bfsDepths(edges, seeds, maxDepth = 99).as[(Long, Int)].collect().toMap
    assert(all === Map(1L -> 0, 9L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3))
  }

  test("property: bfsDepths equals brute-force BFS on random digraphs") {
    val edgeGen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L)))
    sample(edgeGen, 6) { es =>
      if (es.nonEmpty) {
        val got = GraphOps.bfsDepths(es.toDF("src", "dst"), Seq(0L, 1L).toDF("id"), maxDepth = 3)
          .as[(Long, Int)].collect().toMap
        assert(got === bruteBfs(es, Set(0L, 1L), 3), s"edges: $es")
      }
    }
  }

  test("triangleCounts matches brute-force enumeration (random multigraphs)") {
    val gen = for {
      n <- Gen.choose(0, 80)
      edges <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 14L), Gen.choose(0L, 14L)))
    } yield edges
    sample(gen, 15, 17L) { edges =>
      // brute force over the canonical simple graph
      val simple = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
      val nodes = simple.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val expect = nodes.map { v =>
        v -> (for {
          a <- nodes; b <- nodes
          if a < b && a != v && b != v
          if simple(((math.min(a, v), math.max(a, v)))) &&
            simple((math.min(b, v), math.max(b, v))) && simple((a, b))
        } yield 1).size.toLong
      }.filter(_._2 > 0).toMap
      val got = GraphOps.triangleCounts(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expect)
    }
  }

  test("triangleCounts: a clique of n nodes gives (n-1)(n-2)/2 per node") {
    val n = 7
    val edges = (for { a <- 0 until n; b <- 0 until n if a != b }
      yield (a.toLong, b.toLong)).toDF("src", "dst") // both directions + dupes
    val got = GraphOps.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val per = ((n - 1) * (n - 2) / 2).toLong
    assert(got === (0 until n).map(i => i.toLong -> per).toMap)
  }

  test("iterative loops release superseded checkpoint blocks (≤1 live RDD per call)") {
    // a multi-round input for each loop: without the per-round release
    // an R-round run leaves R persistent RDDs behind (localCheckpoint
    // blocks are invisible to Dataset.unpersist, only freed on driver
    // GC) — the returned frame's own checkpoint is the one allowed
    // survivor
    def live(): Int = spark.sparkContext.getPersistentRDDs.size
    val chain = (1L to 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    finishBounds.foreach { bound =>
      val before = live()
      components(chain, bound).collect()
      assert(live() - before <= 1, s"connectedComponents leaked checkpoints at bound $bound")
    }
    val links = chain.toDF("src", "dst")
    Seq[(String, () => DataFrame)](
      "linkAuthority" -> (() => GraphOps.linkAuthority(links, iters = 4)),
      "weightedAuthority" -> (() => GraphOps.weightedAuthority(links, iters = 4)),
      "trustRank" -> (() => GraphOps.trustRank(links, Seq(1L).toDF("id"), iters = 4)),
      "labelPropagation" -> (() => GraphOps.labelPropagation(links, iters = 4))
    ).foreach { case (name, run) =>
      val before = live()
      run().collect()
      assert(live() - before <= 1, s"$name leaked checkpoints")
    }
    val b3 = live()
    GraphOps.bfsDepths(chain.toDF("src", "dst"), Seq(1L).toDF("id"), maxDepth = 8).collect()
    assert(live() - b3 <= 1, "bfsDepths leaked checkpoints")
    hitsBounds.foreach { bound =>
      val before = live()
      hitsAt(chain.toDF("src", "dst"), 4, bound).collect()
      assert(live() - before <= 1, s"hits leaked checkpoints at bound $bound")
    }
  }

  test("observedOrRecount: a metric AQE pruned is recounted, a present one is read") {
    import graft.datatools.Observations.observedOrRecount
    val rows = (1L to 100L).toDF("x")
    def observedJob(keep: Column): Observation = {
      val obs = Observation()
      // every observed row may be filtered out before the shuffle: its
      // stage then materializes empty and AQE re-plans the query
      // without the CollectMetrics node
      rows.observe(obs, count(lit(1)).as("n"), sum(when(col("x") > 1000L, 1L)).as("big"))
        .filter(keep).groupBy("x").count().collect()
      obs
    }
    val pruned = observedJob(col("x") < 0L)
    assert(pruned.get.isEmpty, s"the metrics survived: ${pruned.get}")
    assert(observedOrRecount(pruned, "n")(rows.count()) === 100L)
    // a present metric is read, never recounted; a sum over rows it
    // never counted (null) is 0
    val present = observedJob(col("x") > 50L)
    def noRecount: Long = fail("recounted a present metric")
    assert(observedOrRecount(present, "n")(noRecount) === 100L)
    assert(observedOrRecount(present, "big")(noRecount) === 0L)
  }

  // ---- anchorTopK ----

  /** Brute-force twin: count (dst, term) pairs, per dst order by
    * (cnt desc, term asc), keep k with rank 1..k.
    */
  private def bruteAnchors(rows: Seq[(Long, String)], k: Int)
      : Seq[(Long, Int, String, Long)] =
    rows.groupBy(identity).map { case ((d, t), xs) => (d, t, xs.size.toLong) }
      .toSeq.groupBy(_._1).toSeq.flatMap { case (d, xs) =>
        xs.sortBy { case (_, t, c) => (-c, t) }.take(k).zipWithIndex
          .map { case ((_, t, c), i) => (d, i + 1, t, c) }
      }.sortBy { case (d, r, _, _) => (d, r) }

  test("anchorTopK ranks by count desc then term asc, capped at k") {
    val anchors = (Seq.fill(4)(1L -> "shop") ++ Seq.fill(4)(1L -> "home") ++
      Seq.fill(2)(1L -> "blog") ++ Seq(1L -> "faq") ++
      Seq(2L -> "solo")).toDF("dst", "term")
    val got = GraphOps.anchorTopK(anchors, k = 3)
      .orderBy("dst", "rank").as[(Long, Int, String, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 1, "home", 4L), (1L, 2, "shop", 4L), (1L, 3, "blog", 2L),
      (2L, 1, "solo", 1L)))
  }

  test("anchorTopK matches brute force on random anchor multisets") {
    val terms = Seq("a", "b", "c", "d", "e", "f")
    val gen = for {
      n <- Gen.choose(0, 60)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(1L, 5L), Gen.oneOf(terms)))
      k <- Gen.oneOf(1, 2, 4)
    } yield (rows, k)
    sample(gen, 12, 89L) { case (rows, k) =>
      val got = GraphOps.anchorTopK(rows.toDF("dst", "term"), k = k)
        .orderBy("dst", "rank").as[(Long, Int, String, Long)].collect().toSeq
      assert(got === bruteAnchors(rows, k), s"k=$k rows=$rows")
    }
  }

  // ---- coCitation ----

  test("coCitation matches brute force (degree cap, min shared, top-k order)") {
    val gen = for {
      n <- Gen.choose(0, 200)
      edges <- Gen.listOfN(n, Gen.zip(Gen.choose(1L, 15L), Gen.choose(1L, 12L)))
      cap <- Gen.oneOf(2, 3, 8)
      k <- Gen.oneOf(5, 50)
    } yield (edges, cap, k)
    sample(gen, 10, 13L) { case (edges, cap, k) =>
      val got = GraphOps.coCitation(edges.toDF("src", "dst"),
        maxOutDeg = cap, minShared = 2, k = k)
        .as[(Long, Long, Long)].collect().toSeq
      val sets = edges.filter(e => e._1 != e._2).groupBy(_._1)
        .view.mapValues(_.map(_._2).distinct.sorted)
        .filter { case (_, ds) => ds.size >= 2 && ds.size <= cap }
      val cnt = scala.collection.mutable.Map.empty[(Long, Long), Long]
      sets.foreach { case (_, ds) =>
        for (i <- ds.indices; j <- i + 1 until ds.size) {
          val key = (ds(i), ds(j))
          cnt(key) = cnt.getOrElse(key, 0L) + 1
        }
      }
      val expect = cnt.toSeq.collect { case ((a, b), s) if s >= 2 => (a, b, s) }
        .sortBy { case (a, b, s) => (-s, a, b) }.take(k)
      assert(got === expect, s"cap=$cap k=$k edges=$edges")
    }
  }

  // ---- labelPropagation ----

  /** Straight-line synchronous LPA: mode of neighbor labels, ties to
    * the smallest label, isolated nodes keep their own.
    */
  private def bruteLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, (e._2, e._1))).distinct
    val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var lab = nodes.map(n => n -> n).toMap
    (1 to iters).foreach { _ =>
      lab = nodes.map { n =>
        nbrs.get(n) match {
          case None => n -> lab(n)
          case Some(ns) =>
            val byLabel = ns.map(lab).groupBy(identity)
              .map { case (l, xs) => (l, xs.size) }
            n -> byLabel.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }.toMap
    }
    lab
  }

  test("labelPropagation: two cliques with a bridge converge to per-clique labels") {
    // cliques {1,2,3} and {10,11,12}, one bridge 3-10
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("src", "dst")
    val got = GraphOps.labelPropagation(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    // the left clique settles on label 1 by round 2; the right clique
    // is uniformly labeled (the bridge drags 3's label through it) —
    // exact values pinned by the straight-line model
    assert(got(1L) === 1L && got(2L) === 1L && got(3L) === 1L)
    assert(Set(got(10L), got(11L), got(12L)).size === 1)
    assert(got === bruteLpa(Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)), 3))
  }

  test("labelPropagation matches the straight-line model on random graphs") {
    val gen = for {
      n <- Gen.choose(0, 60)
      edges <- Gen.listOfN(n, Gen.zip(Gen.choose(1L, 14L), Gen.choose(1L, 14L)))
      iters <- Gen.oneOf(1, 2, 3)
    } yield (edges, iters)
    sample(gen, 10, 71L) { case (edges, iters) =>
      val got = GraphOps.labelPropagation(edges.toDF("src", "dst"), iters)
        .as[(Long, Long)].collect().toMap
      assert(got === bruteLpa(edges, iters), s"iters=$iters edges=$edges")
    }
  }

  test("labelPropagation: self-loop-only node keeps its own label") {
    val edges = Seq((5L, 5L), (1L, 2L)).toDF("src", "dst")
    val got = GraphOps.labelPropagation(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got(5L) === 5L)
    // the isolated pair is the textbook synchronous-LPA 2-cycle: after
    // an EVEN round count each is back to its own label (this is why
    // the operator runs a FIXED round count the oracle can replay,
    // rather than "until converged")
    assert(got(1L) === 1L && got(2L) === 2L)
  }

  /** Brute weighted PageRank over the collapsed quotient graph —
    * parallel edges → weight, self-loops dropped, share = r·w / outw.
    */
  private def bruteWeightedPagerank(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val we = edges.filter(e => e._1 != e._2)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nodes = we.keys.flatMap(e => Seq(e._1, e._2)).toSeq.distinct
    val outw = we.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    var r = nodes.map(_ -> 1000000L).toMap
    (1 to iters).foreach { _ =>
      val m = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      we.foreach { case ((u, v), w) => m(v) += r(u) * w / outw(u) }
      r = nodes.map(n => n -> (150000L + 85L * m(n) / 100L)).toMap
    }
    r
  }

  test("weightedAuthority: multiplicity weights the flow, self-loops drop") {
    // A sends 2/3 of its mass to B (double edge) and 1/3 to C; B sends
    // all to C; C's self-loop contributes nothing
    val edges = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 3L), (3L, 3L))
      .toDF("src", "dst")
    val got = GraphOps.weightedAuthority(edges, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(
      1L -> 150000L,                             // no inlinks
      2L -> (150000L + 85L * (2000000L / 3) / 100L),  // 716666
      3L -> (150000L + 85L * (1000000L / 3 + 1000000L) / 100L))) // 1283333
    assert(got(2L) === 716666L && got(3L) === 1283333L)
  }

  test("property: weightedAuthority equals brute weighted PageRank on random multigraphs") {
    val edgeGen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 12L), Gen.choose(0L, 12L)))
    sample(edgeGen, 6) { es =>
      if (es.exists(e => e._1 != e._2)) {
        val got = GraphOps.weightedAuthority(es.toDF("src", "dst"), iters = 3)
          .as[(Long, Long)].collect().toMap
        assert(got === bruteWeightedPagerank(es, 3), s"edges: $es")
      }
    }
  }

  test("budgetApportion: exact budget, brute-force Hamilton parity, monotone in score") {
    val rows = Seq((1L, 7L), (2L, 3L), (3L, 13L), (4L, 1L), (5L, 13L), (6L, 25L))
    val budget = 100L
    val out = GraphOps.budgetApportion(rows.toDF("id", "rank"), budget)
      .orderBy("id").collect()
    assert(out.map(_.getAs[Long]("alloc")).sum === budget)
    // brute-force largest remainder with the same (rem DESC, id) tie-break
    val tot = rows.map(_._2).sum
    val base = rows.map { case (id, s) => (id, s, s * budget / tot, s * budget % tot) }
    val seats = (budget - base.map(_._3).sum).toInt
    val extraIds = base.sortBy { case (id, _, _, rem) => (-rem, id) }
      .take(seats).map(_._1).toSet
    base.foreach { case (id, _, b, _) =>
      val got = out.find(_.getLong(0) == id).get
      assert(got.getAs[Long]("base") === b, s"base for $id")
      assert(got.getAs[Long]("alloc") === b + (if (extraIds(id)) 1L else 0L),
        s"alloc for $id")
    }
    // Hamilton at a FIXED budget is monotone: a higher score never
    // receives a smaller allocation (equal base forces rem ordering)
    val byScore = out.map(r => (r.getAs[Long]("score"), r.getAs[Long]("alloc")))
    for ((s1, a1) <- byScore; (s2, a2) <- byScore if s1 > s2)
      assert(a1 >= a2, s"monotonicity: score $s1 alloc $a1 vs score $s2 alloc $a2")
  }

  test("budgetApportion: all-zero scores degrade to uniform demand, Σalloc = budget") {
    // e.g. trustRank output where nothing is seed-reachable — a naive
    // (score · budget) DIV Σscore would be NULL under non-ANSI division
    // and silently allocate nothing
    val rows = (1L to 5L).map(id => (id, 0L))
    val out = GraphOps.budgetApportion(rows.toDF("id", "rank"), budget = 12L)
      .orderBy("id").collect()
    assert(out.map(_.getAs[Long]("alloc")).sum === 12L)
    // uniform: base 12 DIV 5 = 2 each, remainder 2 to the smallest ids
    assert(out.map(_.getAs[Long]("alloc")).toSeq === Seq(3L, 3L, 2L, 2L, 2L))
  }

  test("property: budgetApportion sums to budget and matches brute force on random scores") {
    val gen = Gen.listOfN(8, Gen.choose(1L, 50L))
    (1 to 6).foreach { round =>
      val scores = gen(Gen.Parameters.default.withSize(10),
        org.scalacheck.rng.Seed(4200L + round)).get
      val budget = 37L + 13L * round
      val rows = scores.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val out = GraphOps.budgetApportion(rows.toDF("id", "rank"), budget)
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("alloc")).toMap
      assert(out.values.sum === budget, s"round $round total")
      val tot = rows.map(_._2).sum
      val base = rows.map { case (id, s) => (id, s * budget / tot, s * budget % tot) }
      val seats = (budget - base.map(_._2).sum).toInt
      val extraIds = base.sortBy { case (id, _, rem) => (-rem, id) }
        .take(seats).map(_._1).toSet
      base.foreach { case (id, b, _) =>
        assert(out(id) === b + (if (extraIds(id)) 1L else 0L), s"round $round id $id") }
    }
  }
}
