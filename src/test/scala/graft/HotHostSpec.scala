package graft

import graft.functions.UrlFunctions
import graft.model.{Bookmark, CrawlConfig, FrontierEntry}
import graft.frontier.Politeness
import graft.operators.SpanOps
import org.scalatest.funsuite.AnyFunSuite

/** The FIXTURES.md `hot-host` case: 10^5 URLs on one host plus a tail
  * of singleton hosts — the salted partitioning must spread the hot
  * host while its GLOBAL budget holds; plus the T11 bookmark tree
  * round-trip.
  */
class HotHostSpec extends SparkSpec {

  test("hot host: global budget holds, salts spread the load, singletons unaffected") {
    import spark.implicits._
    val salts = 4
    val cfg = CrawlConfig(numPartitions = 16, saltsPerHost = salts, hostBudgetPerRound = 6)
    val hot = (0 until 50000).map { i =>
      val u = s"https://mega.test/p/$i"
      val h = UrlFunctions.urlHash(u)
      FrontierEntry(u, u, h, "mega.test", UrlFunctions.hostSalt("mega.test", h, salts),
        priority = (i % 100) / 100.0, seq = i.toLong, round = 0)
    }
    val tail = (0 until 500).map { i =>
      val u = s"https://tail$i.test/p/0"
      val h = UrlFunctions.urlHash(u)
      FrontierEntry(u, u, h, s"tail$i.test", UrlFunctions.hostSalt(s"tail$i.test", h, salts),
        priority = 0.5, seq = 100000L + i, round = 0)
    }
    val admissions = Politeness.admit(spark, (hot ++ tail).toDS(), cfg)
    val admitted = admissions.filter(_.admitted).map(_.entry).collect()
    // global per-host budget despite the salt split
    val megaAdmitted = admitted.filter(_.host == "mega.test")
    assert(megaAdmitted.length <= cfg.hostBudgetPerRound)
    assert(megaAdmitted.length >= cfg.hostBudgetPerRound - salts + 1) // quota rounding slack
    // every singleton host admitted exactly once
    assert(admitted.count(_.host != "mega.test") === 500)
    // the hot host's URLs spread over `salts` distinct salt buckets
    val saltBuckets = hot.map(e => Math.floorMod(e.url_hash, salts.toLong)).distinct
    assert(saltBuckets.length === salts)
    // admitted winners are the per-salt-bucket best by (priority desc, seq)
    megaAdmitted.groupBy(e => Math.floorMod(e.url_hash, salts.toLong)).foreach {
      case (saltIdx, winners) =>
        val bucket = hot.filter(e => Math.floorMod(e.url_hash, salts.toLong) == saltIdx)
        val quota = cfg.hostBudgetPerRound / salts +
          (if (saltIdx < cfg.hostBudgetPerRound % salts) 1 else 0)
        val expect = bucket.sortBy(e => (-e.priority, e.seq, e.url_canon)).take(quota)
          .map(_.url_canon).toSet
        assert(winners.map(_.url_canon).toSet === expect, s"salt $saltIdx")
    }
  }

  test("admit collects the admitted url_hashes, up to a cap") {
    import spark.implicits._
    val cfg = CrawlConfig(numPartitions = 4, saltsPerHost = 2, hostBudgetPerRound = 3)
    val entries = (0 until 400).map { i =>
      val host = s"h${i % 40}.test"
      val u = s"https://$host/p/$i"
      val h = UrlFunctions.urlHash(u)
      FrontierEntry(u, u, h, host, UrlFunctions.hostSalt(host, h, 2),
        priority = (i % 7) / 7.0, seq = i.toLong, round = 0)
    }.toDS()
    def admitted(cap: Long): (Seq[Long], Option[Array[Long]]) = {
      val acc = new Politeness.HashCollector(cap)
      spark.sparkContext.register(acc)
      val hashes = Politeness.admit(spark, entries, cfg, admittedHashes = Some(acc))
        .filter(_.admitted).map(_.entry.url_hash).collect().toSeq
      (hashes, acc.value)
    }
    val (hashes, collected) = admitted(1000L)
    assert(hashes.size === 40 * cfg.hostBudgetPerRound)
    assert(collected.map(_.toSeq.sorted) === Some(hashes.sorted))
    // readable again: `value` copies, it does not hand out its buffer
    val acc = new Politeness.HashCollector(1000L)
    hashes.foreach(acc.add)
    assert(acc.value.map(_.toSeq) === acc.value.map(_.toSeq))
    // past the cap only the overflow is kept, in a task or by a merge
    assert(admitted(hashes.size - 1L)._2 === None)
    val (a, b) = (new Politeness.HashCollector(3L), new Politeness.HashCollector(3L))
    Seq(1L, 2L).foreach(a.add); Seq(3L, 4L).foreach(b.add)
    a.merge(b)
    assert(a.value === None && !a.isZero)
    a.reset()
    assert(a.isZero && a.value.map(_.toSeq) === Some(Seq.empty))
  }

  test("O4: per-partition queue cap defers the overflow (supervisor.go:302-317)") {
    import spark.implicits._
    val cfg = CrawlConfig(numPartitions = 1, saltsPerHost = 1,
      hostBudgetPerRound = 1000, maxQueuePerPartition = 100)
    val entries = (0 until 500).map { i =>
      val u = s"https://h$i.test/p"
      val h = UrlFunctions.urlHash(u)
      FrontierEntry(u, u, h, s"h$i.test", 0, 1.0, i.toLong, 0)
    }
    val adm = Politeness.admit(spark, entries.toDS(), cfg).collect()
    assert(adm.count(_.admitted) === 100)
    assert(adm.count(!_.admitted) === 400)
  }

  test("T11: bookmark tree flattens and reconstructs exactly; merge shifts nested pages") {
    val tree = Seq(
      Bookmark("Part I", 1, Seq(
        Bookmark("Chapter 1", 1, Seq(Bookmark("Section 1.1", 2))),
        Bookmark("Chapter 2", 3))),
      Bookmark("Part II", 4, Seq(Bookmark("Chapter 3", 5))))
    val doc = SpanOps.writeBookmarks(
      graft.model.Doc("d", (0 until 5).map(i => graft.model.DocSpan("page", s"P${i + 1}", "", i))),
      tree)
    assert(SpanOps.readBookmarks(doc) === tree)
    // merge with a 2-page doc in front shifts every nested page by 2
    val front = graft.model.Doc("1_front.pdf",
      (0 until 2).map(i => graft.model.DocSpan("page", s"F${i + 1}", "", i)))
    val merged = SpanOps.merge(Seq(doc.copy(doc_id = "2_body.pdf"), front), "out")
    val shifted = SpanOps.readBookmarks(merged)
    def pages(t: Seq[Bookmark]): Seq[Int] = t.flatMap(b => b.page +: pages(b.children))
    assert(pages(shifted) === pages(tree).map(_ + 2))
    // nesting depth structure preserved
    assert(shifted.map(_.children.length) === tree.map(_.children.length))
  }
}
