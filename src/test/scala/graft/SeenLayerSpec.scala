package graft

import graft.frontier.{CuckooFilter, UrlSeen}
import graft.model.SeenUrl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** URL-seen layer: cuckoo filter invariants + the bloom→cuckoo→exact
  * discipline (a sketch may only say "definitely new", never drop).
  */
class SeenLayerSpec extends SparkSpec {

  /** The running bloom over `seen`, broadcast — as the crawl builds it. */
  private def broadcastBloom(seen: DataFrame, capacity: Long): UrlSeen.BroadcastBloom =
    UrlSeen.BroadcastBloom(spark.sparkContext.broadcast(UrlSeen.bloomOfDelta(seen, capacity, 0.03)))

  /** `seen`'s cuckoo blobs written into `dir` the way a crawl round
    * writes them: the fused update driven by an action, then `_DONE`.
    */
  private def writeCuckooBlobs(seen: DataFrame, dir: String): Unit = {
    UrlSeen.updateCuckoo(spark, UrlSeen.emptyCuckooState(spark), seen.select("url_hash"),
      1024, blobDir = Some(dir)).count()
    UrlSeen.finishCuckooDir(dir, spark.sessionState.newHadoopConf())
  }

  test("cuckoo filter: no false negatives, deletes work, serde round-trips") {
    val cf = CuckooFilter.create(10000)
    val keys = (0L until 8000L).map(k => k * 2654435761L + 17)
    val inserted = keys.filter(cf.insert)
    assert(inserted.length === keys.length, "all inserts fit below load cap")
    inserted.foreach(k => assert(cf.mightContain(k), s"false negative for $k"))
    // false positive rate sane for absent keys
    val absent = (100000L until 110000L).map(k => k * 2654435761L + 17)
    val fp = absent.count(cf.mightContain).toDouble / absent.length
    assert(fp < 0.05, s"fp rate $fp")
    // serde
    val back = CuckooFilter.fromBytes(cf.toBytes)
    inserted.take(100).foreach(k => assert(back.mightContain(k)))
    // delete removes
    assert(back.delete(inserted.head))
    // deterministic bytes for same insert sequence
    val cf2 = CuckooFilter.create(10000)
    keys.foreach(cf2.insert)
    assert(java.util.Arrays.equals(cf.toBytes, cf2.toBytes))
  }

  test("cuckoo filter: saturation degrades to all-maybe (no false negatives ever)") {
    // tiny capacity → guaranteed insert failures
    val cf = CuckooFilter.create(16)
    val keys = (0L until 5000L).map(k => k * 2654435761L + 17)
    keys.foreach(cf.insert)
    assert(cf.saturated, "tiny filter must saturate under 5000 inserts")
    // EVERY inserted key still answers maybe — including any whose
    // fingerprint was orphaned by a failed eviction loop
    keys.foreach(k => assert(cf.mightContain(k)))
    // saturation survives serde
    assert(CuckooFilter.fromBytes(cf.toBytes).saturated)
    assert(CuckooFilter.fromBytes(cf.toBytes).mightContain(123456789L))
  }

  test("cuckoo blob: the pre-saturation layout's length is rejected, never misparsed") {
    val cf = CuckooFilter.create(1000)
    val keys = (0L until 500L).map(k => k * 0x9E3779B97F4A7CL + 3)
    keys.foreach(cf.insert)
    val cur = cf.toBytes
    keys.foreach(k => assert(CuckooFilter.fromBytes(cur).mightContain(k)))
    // the pre-saturation layout was header(20B) + table, no flag byte:
    // its length is rejected like any other wrong length, never misparsed
    Seq(cur.take(20) ++ cur.drop(21), cur ++ Array[Byte](0)).foreach { bad =>
      val e = intercept[IllegalArgumentException](CuckooFilter.fromBytes(bad))
      assert(e.getMessage.contains(s"length ${bad.length}"), e.getMessage)
    }
  }

  test("updateCuckoo: two incremental deltas == one full build (bytes-equal)") {
    import spark.implicits._
    val h = (0 until 2000).map(i => graft.functions.UrlFunctions.urlHash(s"https://h/$i"))
    val all = h.toDF("url_hash")
    val d1 = h.take(1200).toDF("url_hash")
    val d2 = h.drop(1200).toDF("url_hash")
    val full = UrlSeen.updateCuckoo(spark, UrlSeen.emptyCuckooState(spark), all, 1024)
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    val once = UrlSeen.updateCuckoo(spark, UrlSeen.emptyCuckooState(spark), d1, 1024)
    val twice = UrlSeen.updateCuckoo(spark, once, d2, 1024)
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(twice.keySet === full.keySet)
    // contents: every inserted key answers maybe in the incremental state
    val filters = twice.map { case (b, bytes) => b -> CuckooFilter.fromBytes(bytes) }
    h.foreach { k =>
      val b = UrlSeen.cuckooBucket(k)
      assert(filters(b).mightContain(k), s"missing $k in bucket $b")
    }
  }

  test("filterNew's exact anti-join never broadcasts the seen side (no driver funnel)") {
    import spark.implicits._
    val seen = (0 until 100).map(i => SeenUrl(s"https://h/$i", graft.functions.UrlFunctions.urlHash(s"https://h/$i"), 0)).toDF()
    val candidates = (0 until 200).map { i =>
      val u = s"https://h/$i"
      (u, graft.functions.UrlFunctions.urlHash(u), 1.0, i.toLong)
    }.toDF("url_canon", "url_hash", "priority", "seq")
    val out = UrlSeen.filterNew(spark, candidates, seen, broadcastBloom(seen, 1000), None)
    val plan = out.queryExecution.executedPlan.toString()
    // a tiny seen table is exactly when Catalyst would broadcast — i.e.
    // collect the whole seen set through the driver each round
    assert(!plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("bloomOfDelta builds at most MaxDeltaPartials full-capacity partials") {
    // each partial is a FULL-capacity filter (merge geometry), so the
    // upstream partition count multiplies the treeReduce traffic: a
    // 10^9-capacity crawl's partials are ~1.2 GB EACH. A wide delta
    // must be coalesced before the per-partition build.
    import spark.implicits._
    val delta = (1L to 50000L).toDF("url_hash").repartition(64)
    assert(UrlSeen.boundedDeltaRdd(delta).getNumPartitions <= UrlSeen.MaxDeltaPartials)
    // and the bounded build still has no false negatives
    val bf = UrlSeen.bloomOfDelta(delta, 100000, 0.01)
    (1L to 50000L by 997L).foreach(h => assert(bf.mightContainLong(h)))
    // a narrow delta keeps its (smaller) partition count
    val narrow = (1L to 100L).toDF("url_hash").repartition(2)
    assert(UrlSeen.boundedDeltaRdd(narrow).getNumPartitions <= 2)
  }

  test("bloomOfDelta merges into the running bloom past Spark's aggregate numBits clamp") {
    // regression: df.stat.bloomFilter clamps the bit array at
    // spark.sql.optimizer.runtime.bloomFilter.maxNumBits (2^26), so an
    // 8M-item fpp-0.01 delta bloom (76.7M optimal bits) built that way
    // has a different geometry than BloomFilter.create and mergeInPlace
    // throws IncompatibleMergeException mid-crawl. bloomOfDelta must
    // keep the exact (expectedItems, fpp) geometry at any capacity.
    import spark.implicits._
    val cap = 8000000L
    val running = UrlSeen.emptyBloom(cap, 0.01)
    val delta = (1L to 5000L).toDF("url_hash")
    val deltaBloom = UrlSeen.bloomOfDelta(delta, cap, 0.01)
    running.mergeInPlace(deltaBloom) // throws before the fix
    (1L to 5000L).foreach(h => assert(running.mightContainLong(h)))
  }

  test("filterNew: exactly the unseen urls survive, under all sketch layers") {
    import spark.implicits._
    val seen = (0 until 500).map(i => SeenUrl(s"https://h/$i", graft.functions.UrlFunctions.urlHash(s"https://h/$i"), 0)).toDF()
    val candidates = (250 until 900).map { i =>
      val u = s"https://h/$i"
      (u, graft.functions.UrlFunctions.urlHash(u), 1.0, i.toLong)
    }.toDF("url_canon", "url_hash", "priority", "seq")
    val bloom = broadcastBloom(seen, 10000)
    val dir = java.nio.file.Files.createTempDirectory("cuckoo-bin").toString
    writeCuckooBlobs(seen, dir)
    assert(UrlSeen.cuckooFilesReady(dir))
    val out = UrlSeen.filterNew(spark, candidates, seen, bloom, Some(dir))
      .select("url_canon").as[String].collect().toSet
    assert(out === (500 until 900).map(i => s"https://h/$i").toSet)
    // and without a cuckoo layer (cold start path)
    val out2 = UrlSeen.filterNew(spark, candidates, seen, bloom, None)
      .select("url_canon").as[String].collect().toSet
    assert(out2 === out)
    // a dir without _DONE is ignored (half-written round)
    val out3 = UrlSeen.filterNew(spark, candidates, seen, bloom,
      Some(java.nio.file.Files.createTempDirectory("cuckoo-empty").toString))
      .select("url_canon").as[String].collect().toSet
    assert(out3 === out)
  }
}
