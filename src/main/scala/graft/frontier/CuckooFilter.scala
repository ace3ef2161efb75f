package graft.frontier

/** Serializable cuckoo filter over 64-bit keys — the partitioned
  * URL-seen sketch layer required by the north rule (SURVEY.md §2.5:
  * "partitioned cuckoo filter + broadcast bloom per north_rule, with
  * exact anti-join fallback").
  *
  * Standard design (Fan et al., "Cuckoo Filter: Practically Better Than
  * Bloom", CoNEXT'14): 4-way buckets of 16-bit fingerprints, partial-key
  * cuckoo hashing with `i2 = i1 XOR hash(fp)`, bounded eviction kicks.
  * No false negatives; lookups of inserted keys always hit; supports
  * delete (bloom does not). Eviction "randomness" is a deterministic
  * xorshift seeded by the item hash so filter contents are a pure
  * function of the inserted multiset order — replay-stable across runs.
  *
  * One filter per seen-set hash bucket; serialized into the snapshot as
  * a (bucket, bytes) row so a resumed job reloads the layer without
  * rebuilding (north rule: resumable from checkpoint).
  */
final class CuckooFilter private (
    val numBuckets: Int, // power of two
    val table: Array[Short],
    private var count: Long,
    private var kicksSeed: Long,
    private var _saturated: Boolean = false
) extends Serializable {

  import CuckooFilter._

  def size: Long = count

  /** True once any insert has failed. A failed eviction loop orphans the
    * last evicted fingerprint (a previously-inserted key loses its slot),
    * so a saturated filter can no longer promise "no false negatives".
    * [[mightContain]] therefore answers "maybe" for EVERYTHING once
    * saturated — the bucket degrades to the exact anti-join instead of
    * silently re-admitting seen URLs.
    */
  def saturated: Boolean = _saturated

  private def bucketIndex(h: Long): Int = (h & (numBuckets - 1)).toInt

  private def fingerprint(h: Long): Short = {
    var fp = ((h >>> 32) & 0xffff).toInt
    if (fp == 0) fp = 1 // 0 marks an empty slot
    fp.toShort
  }

  private def altIndex(i: Int, fp: Short): Int =
    (i ^ bucketIndex(mix(fp.toLong & 0xffffL))) & (numBuckets - 1)

  private def insertAt(i: Int, fp: Short): Boolean = {
    val base = i * SlotsPerBucket
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(base + s) == 0) { table(base + s) = fp; return true }
      s += 1
    }
    false
  }

  /** Insert; false when the filter is saturated. A failed insert flips
    * [[saturated]] permanently, after which lookups answer "maybe" for
    * every key — so a failed insert only weakens the sketch to a no-op,
    * never correctness (the exact anti-join decides all maybe rows).
    */
  def insert(key: Long): Boolean = {
    if (_saturated) return false // fail fast: filter already degraded to all-maybe
    val h = mix(key)
    val fp0 = fingerprint(h)
    val i1 = bucketIndex(h)
    val i2 = altIndex(i1, fp0)
    if (insertAt(i1, fp0) || insertAt(i2, fp0)) { count += 1; return true }
    // bounded eviction loop; deterministic slot choice
    var i = if (((h >>> 17) & 1L) == 0L) i1 else i2
    var fp = fp0
    var kicks = 0
    var rng = mix(h ^ kicksSeed)
    while (kicks < MaxKicks) {
      val slot = (rng & (SlotsPerBucket - 1)).toInt
      rng = mix(rng)
      val base = i * SlotsPerBucket
      val evicted = table(base + slot)
      table(base + slot) = fp
      fp = evicted
      i = altIndex(i, fp)
      if (insertAt(i, fp)) { count += 1; kicksSeed = rng; return true }
      kicks += 1
    }
    kicksSeed = rng
    _saturated = true // the orphaned `fp` lost its slot → no-false-negative promise is void
    false
  }

  def mightContain(key: Long): Boolean = {
    if (_saturated) return true
    val h = mix(key)
    val fp = fingerprint(h)
    val i1 = bucketIndex(h)
    val i2 = altIndex(i1, fp)
    containsAt(i1, fp) || containsAt(i2, fp)
  }

  private def containsAt(i: Int, fp: Short): Boolean = {
    val base = i * SlotsPerBucket
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(base + s) == fp) return true
      s += 1
    }
    false
  }

  def delete(key: Long): Boolean = {
    val h = mix(key)
    val fp = fingerprint(h)
    def del(i: Int): Boolean = {
      val base = i * SlotsPerBucket
      var s = 0
      while (s < SlotsPerBucket) {
        if (table(base + s) == fp) { table(base + s) = 0; count -= 1; return true }
        s += 1
      }
      false
    }
    del(bucketIndex(h)) || del(altIndex(bucketIndex(h), fp))
  }

  def merge(other: CuckooFilter): CuckooFilter = {
    require(other.numBuckets == numBuckets, "cannot merge filters of different capacity")
    val out = new CuckooFilter(numBuckets, table.clone(), count, kicksSeed,
      _saturated || other._saturated)
    var i = 0
    while (i < other.table.length) {
      val fp = other.table(i)
      if (fp != 0) {
        // re-insert by fingerprint at its home bucket; a double miss
        // would drop the fingerprint, so it saturates instead (all-maybe)
        val home = i / SlotsPerBucket
        if (!out.insertAt(home, fp) && !out.insertAt(out.altIndex(home, fp), fp))
          out._saturated = true
        out.count += 1
      }
      i += 1
    }
    out
  }

  def toBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 8 + 4 + 1 + table.length * 2)
    bb.putLong(count).putLong(kicksSeed).putInt(numBuckets)
    bb.put(if (_saturated) 1.toByte else 0.toByte)
    table.foreach(bb.putShort)
    bb.array()
  }
}

object CuckooFilter {
  val SlotsPerBucket = 4
  val MaxKicks = 500

  /** splitmix64 finalizer — deterministic, well-mixed. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def create(expectedItems: Long): CuckooFilter = {
    // 4 slots/bucket at ~95% load
    val needed = math.max(16L, (expectedItems / (SlotsPerBucket * 0.95)).toLong + 1)
    val numBuckets = java.lang.Long.highestOneBit(needed * 2 - 1).toInt.max(16)
    new CuckooFilter(numBuckets, new Array[Short](numBuckets * SlotsPerBucket), 0L, 0x5bd1e995L)
  }

  /** Parses the blob `toBytes` writes: a 20-byte header, a saturated
    * flag byte and 2 bytes per slot. Any other length is rejected.
    */
  def fromBytes(bytes: Array[Byte]): CuckooFilter = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val count = bb.getLong
    val kicksSeed = bb.getLong
    val numBuckets = bb.getInt
    val slots = numBuckets * SlotsPerBucket
    require(bytes.length == 21 + 2 * slots,
      s"cuckoo blob length ${bytes.length} does not match numBuckets=$numBuckets")
    val saturated = bb.get() != 0
    val table = new Array[Short](slots)
    var i = 0
    while (i < table.length) { table(i) = bb.getShort; i += 1 }
    new CuckooFilter(numBuckets, table, count, kicksSeed, saturated)
  }
}
