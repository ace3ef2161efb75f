package graft.frontier

import graft.sources.InProcessLocalFs
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SerializableHadoopConf, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter

/** URL-seen dedup layer (north rule): broadcast bloom → partitioned
  * cuckoo filters → exact left-anti join. The reference has no seen set
  * (it is request-driven); this is the engine-side left-anti join of
  * SURVEY.md §2.5, with the false-positive discipline of §7.4: a sketch
  * "maybe-seen" is NEVER trusted to drop a URL — only the exact layer
  * drops. A sketch "no" IS trusted to pass a URL: the bloom has no false
  * negatives by construction, and the cuckoo layer degrades itself to
  * all-maybe the moment an insert fails ([[CuckooFilter.saturated]]), so
  * its "no" stays authoritative.
  *
  * Layering + maintenance (everything is O(round delta); nothing
  * rebuilds from the seen union, and no sketch bytes cross the driver
  * except the bloom, which the north star mandates as a broadcast: ~1.2
  * GB at its 10⁹-item ceiling, fpp 0.01 — see BASELINE.md's sizing):
  *   - the BLOOM is a driver-held running filter sized once for the
  *     crawl's expected total; each round only the round's NEW urls are
  *     inserted (a distributed delta-bloom OR-merge, or a direct insert
  *     of collected hashes when the delta is small) and the result is
  *     re-broadcast. It clears the vast majority of genuinely-new URLs
  *     without any shuffle.
  *   - the CUCKOO layer is a persisted (bucket, filter_bytes) table,
  *     partitioned by `pmod(url_hash, buckets)`. Per round it is updated
  *     by cogrouping ONLY the delta's hashes with the existing blobs —
  *     executor-side, O(delta) inserts. Lookups cogroup the bloom's
  *     maybe-seen residue with the blobs on the same bucket key, so each
  *     task deserializes exactly its bucket's filter once; blobs move
  *     executor→executor, never through the driver.
  *   - the EXACT seen table (per-round deltas, union-read) confirms the
  *     residue via one conditional left-anti join — only rows both
  *     sketches call "maybe" can match it and be dropped.
  *
  * Every sketch file (the bloom, the cuckoo blobs, `_DONE`) is
  * written through the Hadoop FS API with [[InProcessLocalFs.hadoopConf]],
  * the snapshot store's own conf: on `file:` roots the blobs get their
  * modes without a `chmod` process each.
  */
object UrlSeen {

  /** Fixed sketch partitioning — independent of cluster size so the
    * filter contents are replay-stable. 64 buckets bound the lookup
    * cogroup's parallelism; a 1000-executor deployment would raise this
    * (it is a parameter everywhere below) to O(4×executors).
    */
  val CuckooBuckets = 64

  def cuckooBucket(urlHash: Long, buckets: Int = CuckooBuckets): Int =
    Math.floorMod(urlHash, buckets.toLong).toInt

  /** The store's Hadoop conf ([[InProcessLocalFs.hadoopConf]]: the
    * session's spark.hadoop.* — s3a creds, endpoints — plus the in-process
    * local FS, without what Hadoop's defaults give) for executor-side FS
    * calls; a bare `new Configuration()` would silently drop them.
    * Broadcast once per call: captured in a task closure, it would be
    * deserialized by every task.
    */
  private def broadcastHadoopConf(spark: SparkSession): Broadcast[SerializableHadoopConf] =
    spark.sparkContext.broadcast(new SerializableHadoopConf(InProcessLocalFs.hadoopConf(spark)))

  // ---------------------------------------------------------------------
  // Bloom layer — driver-held, incrementally maintained.
  // ---------------------------------------------------------------------

  /** Empty bloom sized for the crawl's expected TOTAL (merge-compatible
    * delta blooms must use the same parameters — see [[bloomOfDelta]]).
    */
  def emptyBloom(expectedItems: Long, fpp: Double): BloomFilter =
    BloomFilter.create(math.max(expectedItems, 1024), fpp)

  /** Per-partition partial filters are FULL-capacity (merge geometry),
    * so their count is the multiplier on the reduce traffic: at the
    * 10⁹-item broadcast ceiling each partial is ~1.2 GB, and an
    * unbounded upstream partition count (a wide delta arrives with
    * hundreds of partitions) would push partials × 1.2 GB through
    * treeReduce. The delta is coalesced (no shuffle) to at most this
    * many build partitions first — bounded reduce bytes at any width,
    * still parallel enough to hide the insert cost.
    */
  val MaxDeltaPartials = 8

  /** The delta's url_hash rows, coalesced to ≤ [[MaxDeltaPartials]]
    * partitions for partial-filter building (public for SeenLayerSpec's
    * partial-count regression).
    */
  def boundedDeltaRdd(delta: DataFrame): org.apache.spark.rdd.RDD[Long] = {
    val spark = delta.sparkSession
    import spark.implicits._
    val rdd = delta.select("url_hash").as[Long].rdd
    if (rdd.getNumPartitions > MaxDeltaPartials) rdd.coalesce(MaxDeltaPartials) else rdd
  }

  /** Distributed bloom over a delta's `url_hash` column, parameterized
    * identically to the running bloom so `mergeInPlace` accepts it.
    * Cost: O(delta) inserts + a fixed-size bit-array OR-reduction.
    *
    * NOT `df.stat.bloomFilter`: its BloomFilterAggregate clamps the bit
    * array at `spark.sql.optimizer.runtime.bloomFilter.maxNumBits`
    * (2^26 by default), so past ~7M expected items at fpp 0.01 the
    * aggregated filter silently gets a SMALLER bit size than
    * `BloomFilter.create` with the same parameters and `mergeInPlace`
    * throws IncompatibleMergeException. Per-partition filters built on
    * the executors + a treeReduce OR keep the exact (expectedItems,
    * fpp) geometry at any size; merge work stays off the driver until
    * the final reduced filter returns.
    */
  def bloomOfDelta(delta: DataFrame, expectedItems: Long, fpp: Double): BloomFilter = {
    val cap = math.max(expectedItems, 1024)
    val partials = boundedDeltaRdd(delta).mapPartitions { it =>
      val b = BloomFilter.create(cap, fpp) // created executor-side, not shipped in the closure
      it.foreach(b.putLong)
      Iterator.single(b)
    }
    if (partials.getNumPartitions == 0) emptyBloom(cap, fpp)
    else partials.treeReduce((a, b) => { a.mergeInPlace(b); a })
  }

  def bloomToBytes(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  def bloomFromBytes(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  /** Persist the running bloom as ONE raw blob file, written from the
    * driver (tmp + rename; Hadoop FS API, so file:///hdfs/s3a all
    * work; pass [[InProcessLocalFs.hadoopConf]]). The bloom is
    * DRIVER-held state — round-tripping it through a one-row
    * LocalRelation write would serialize the full filter (megabytes at
    * real capacities) into a task closure and pay a Spark job, just to
    * move bytes the driver already has onto storage.
    */
  def writeBloomFile(bf: BloomFilter, path: String,
                     conf: org.apache.hadoop.conf.Configuration): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val tmp = new Path(path + ".tmp")
    val out = fs.create(tmp, true)
    try bf.writeTo(out) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"bloom blob rename failed: $tmp -> $p")
  }

  def readBloomFile(path: String,
                    conf: org.apache.hadoop.conf.Configuration): Option[BloomFilter] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(BloomFilter.readFrom(in)) finally in.close()
    }
  }

  // ---------------------------------------------------------------------
  // Cuckoo layer — persisted (bucket, filter_bytes) state, delta updates.
  // ---------------------------------------------------------------------

  /** Empty cuckoo state (cold start). */
  def emptyCuckooState(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, Array[Byte])].toDF("bucket", "filter_bytes")
  }

  private val CuckooSchema = StructType(Seq(
    StructField("bucket", IntegerType, nullable = false),
    StructField("filter_bytes", BinaryType)))

  /** Fold a round's delta (`url_hash` column) into the cuckoo state.
    * Cogroup on the bucket key: each task loads at most one blob,
    * inserts only the NEW keys (sorted → deterministic filter bytes for
    * a given round sequence), and emits the updated blob. Buckets with
    * no delta pass through untouched. `perBucketCapacity` only applies
    * when a bucket's filter is first created; an over-full bucket
    * saturates (degrades to all-maybe) instead of corrupting.
    *
    * The cogroup runs on the frames' internal-row RDDs, not as a typed
    * Dataset `groupByKey`/`cogroup`: the typed plan generated ~24
    * classes (key appenders, sorts, object (de)serializers) for two
    * columns of opaque bytes and longs, a quarter of Spark's default
    * codegen cache.
    */
  def updateCuckoo(
      spark: SparkSession,
      prev: DataFrame,
      delta: DataFrame,
      perBucketCapacity: Long,
      buckets: Int = CuckooBuckets,
      blobDir: Option[String] = None
  ): DataFrame = {
    val hconf = blobDir.map(_ => broadcastHadoopConf(spark))
    val deltaKeyed = delta.select(col("url_hash").cast("long")).queryExecution.toRdd
      .map { r => val h = r.getLong(0); (cuckooBucket(h, buckets), h) }
    val prevKeyed = prev.select(col("bucket").cast("int"), col("filter_bytes"))
      .queryExecution.toRdd.map(r => (r.getInt(0), r.getBinary(1)))
    val partitioner = new org.apache.spark.HashPartitioner(
      spark.sessionState.conf.numShufflePartitions)
    val updated = deltaKeyed.cogroup(prevKeyed, partitioner).map { case (bucket, (newKeys, prevRows)) =>
      val prevBytes = prevRows.headOption
      val keys = newKeys.toArray
      java.util.Arrays.sort(keys) // deterministic filter bytes per delta set
      val bytes =
        if (keys.isEmpty && prevBytes.isDefined)
          prevBytes.get // untouched bucket: bytes pass through
        else {
          val cf = prevBytes.map(CuckooFilter.fromBytes)
            .getOrElse(CuckooFilter.create(math.max(1024L, perBucketCapacity)))
          keys.foreach(cf.insert) // insert failure self-saturates
          cf.toBytes
        }
      // fused blob write: the SAME pass that computes the bucket's bytes
      // writes its blob file (idempotent: deterministic bytes + tmp +
      // rename), so the cuckoo layer costs ONE job per round instead of
      // a persist + parquet write + foreachPartition triple
      blobDir.foreach(dir => writeBlobFile(dir, bucket, bytes, hconf.get.value.value))
      Row(bucket, bytes)
    }
    spark.createDataFrame(updated, CuckooSchema)
  }

  /** One raw blob file per bucket — the Iceberg-puffin-style sketch
    * layout: executors write their buckets directly to storage, and
    * lookup tasks read the bucket they need directly from storage.
    * Sketch bytes move executor↔storage only — never through the
    * driver, and never through a shuffle of the candidate rows. Uses
    * the Hadoop FS API so the same code serves file://, hdfs:// and
    * s3a:// roots; the conf is the broadcast [[InProcessLocalFs.hadoopConf]],
    * so a `file:` blob and its `.crc` get their modes without starting a
    * process. Idempotent under task retry: bytes are deterministic and
    * the visible file appears only via delete-then-rename.
    */
  private def writeBlobFile(dir: String, bucket: Int, bytes: Array[Byte],
                            conf: org.apache.hadoop.conf.Configuration): Unit = {
    import org.apache.hadoop.fs.Path
    val name = s"bucket-$bucket.bin"
    val p = new Path(s"$dir/$name")
    val fs = p.getFileSystem(conf)
    // attempt-unique tmp name: under speculative execution or a stage
    // retry, two attempts of the same cogroup task can run concurrently;
    // a shared `.name.tmp` would interleave their writes into one torn
    // file before rename. Each attempt writing (and renaming) its own
    // fully-written tmp keeps the delete-then-rename idempotent.
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(tc => s"attempt-${tc.taskAttemptId()}")
      .getOrElse(s"driver-${Thread.currentThread().getId}")
    val tmp = new Path(s"$dir/.$name.$attempt.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"sketch blob rename failed: $tmp -> $p")
  }

  /** Mark a blob dir complete (write `_DONE`) — call AFTER the action
    * that ran the fused [[updateCuckoo]] with `blobDir` succeeded.
    */
  def finishCuckooDir(dir: String, conf: org.apache.hadoop.conf.Configuration): Unit = {
    val done = new org.apache.hadoop.fs.Path(s"$dir/_DONE")
    done.getFileSystem(conf).create(done, true).close()
  }

  /** Whether [[finishCuckooDir]] marked `dir` complete; probed with the
    * active session's store conf, the one its writer used.
    */
  def cuckooFilesReady(dir: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$dir/_DONE")
    p.getFileSystem(InProcessLocalFs.hadoopConf(SparkSession.active)).exists(p)
  }

  /** First seen layer: the running bloom, broadcast (the north rule). */
  final case class BroadcastBloom(bc: Broadcast[BloomFilter])

  /** Filter `candidates` down to never-seen rows.
    *
    * `candidates` must carry exactly (url_canon, url_hash, priority,
    * seq). `seen` is the exact table; `cuckooDir` points at the blob
    * files [[updateCuckoo]] wrote with its `blobDir` and
    * [[finishCuckooDir]] marked done (None or not-ready ⇒ the exact join
    * decides everything the bloom flags).
    *
    * The cuckoo check is MAP-SIDE: each executor lazily reads the
    * bucket blobs it needs straight from storage (once per executor per
    * round, via [[CuckooFileCache]]) — no shuffle of the dup-heavy
    * bloom residue, no driver bytes. A bucket-cogroup lookup was
    * measured first and rejected: at steady state most of the residue
    * is TRUE duplicates, and shuffling them to meet the blobs cost more
    * than the anti-join it was saving.
    */
  def filterNew(
      spark: SparkSession,
      candidates: DataFrame,
      seen: DataFrame,
      bloom: BroadcastBloom,
      cuckooDir: Option[String],
      buckets: Int = CuckooBuckets
  ): DataFrame = {
    val bc = bloom.bc
    val mightContain = udf { (h: Long) => bc.value.mightContainLong(h) }

    // no blob dir yet (cold start) → every row stays maybe-seen. Still
    // the same UDF: a constant would give the cold-start round a plan
    // (and generated classes) of its own.
    val blobs = cuckooDir.filter(cuckooFilesReady).map(dir => (dir, broadcastHadoopConf(spark)))
    val cuckooMaybe = udf { (h: Long) =>
      blobs.forall { case (dir, conf) =>
        CuckooFileCache.get(dir, cuckooBucket(h, buckets), conf.value.value) match {
          case Some(cf) => cf.mightContain(h)
          case None => true // missing blob → exact join decides
        }
      }
    }

    // a row needs the exact check only when BOTH sketches say maybe
    // (`&&` short-circuits: the cuckoo probes only the bloom's maybe
    // residue). ONE conditional left-anti join then drops exactly the
    // double-maybe rows the seen table holds: a row the sketches
    // cleared fails the join's `maybe_seen` conjunct, so it never
    // matches and passes. One plan instead of a three-way union of
    // sketch tiers, each of which re-ran the upstream dedup (and, under
    // AQE, the whole frontier lineage below it).
    //
    // The seen side is explicitly hinted away from a broadcast:
    // Catalyst's size estimate would happily broadcast a small seen
    // table — i.e. collect the WHOLE seen set through the driver every
    // round, the exact funnel this layer exists to avoid (at 10^10 it's
    // fatal; here it was measured as ~3-5 s/round of driver-serial
    // time). shuffle_hash keeps both sides distributed, and the
    // candidates' partitioning from the upstream url_canon dedup serves
    // the join as is.
    candidates
      .select(col("url_canon"), col("url_hash").cast("long"),
        col("priority").cast("double"), col("seq").cast("long"))
      .withColumn("maybe_seen", mightContain(col("url_hash")) && cuckooMaybe(col("url_hash")))
      .join(seen.select(col("url_canon").as("seen_url")).hint("shuffle_hash"),
        col("url_canon") === col("seen_url") && col("maybe_seen"), "left_anti")
      .drop("maybe_seen")
  }

}

/** Executor-local blob-file cache: one storage read per (dir, bucket)
  * per executor JVM. Dirs are immutable once `_DONE` exists (each round
  * writes a NEW dir), so entries never go stale — but they DO go dead:
  * a finished round's dir is never read again, so the cache keeps only
  * the two most recent dirs (current + previous), evicting older ones.
  * Without eviction a long crawl would pin ~64×filter-size bytes per
  * round on every executor.
  */
object CuckooFileCache {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Option[CuckooFilter]]()
  private val recentDirs = new java.util.concurrent.ConcurrentLinkedDeque[String]()

  private def touch(dir: String): Unit = {
    if (!recentDirs.contains(dir)) {
      recentDirs.addFirst(dir)
      while (recentDirs.size > 2) {
        val evicted = recentDirs.pollLast()
        if (evicted != null) cache.keySet.removeIf(_._1 == evicted)
      }
    }
  }

  def get(dir: String, bucket: Int, conf: org.apache.hadoop.conf.Configuration)
      : Option[CuckooFilter] = {
    touch(dir)
    cache.computeIfAbsent((dir, bucket), { case (d, b) =>
      val p = new org.apache.hadoop.fs.Path(s"$d/bucket-$b.bin")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          val len = fs.getFileStatus(p).getLen.toInt
          val bytes = new Array[Byte](len)
          in.readFully(bytes)
          Some(CuckooFilter.fromBytes(bytes))
        } finally in.close()
      }
    })
  }
  def clear(): Unit = { cache.clear(); recentDirs.clear() }
}
