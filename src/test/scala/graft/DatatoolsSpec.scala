package graft

import graft.datatools.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalacheck.Gen

/** Training-data operators on planted fixtures: LSH recall against
  * exact ground truth, ANN baselines, text analysis, media plumbing.
  */
class DatatoolsSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    // 20 disjoint-vocabulary docs + 5 planted near-dup pairs (one token
    // swapped) — only the planted pairs share any bigram
    val base = (0 until 20).map { i =>
      val words = (0 until 30).map(j => s"d${i}w$j")
      (i.toLong, words.mkString(" "))
    }
    val dups = (0 until 5).map { i =>
      val (id, text) = base(i)
      val toks = text.split(" "); toks(15) = "CHANGED"
      (100L + id, toks.mkString(" "))
    }
    (base ++ dups).toDF("doc_id", "text")
  }

  test("exact dedup groups identical normalized texts") {
    import spark.implicits._
    val withDup = docs.union(Seq((999L, docs.orderBy("doc_id").first().getString(1) + "  "))
      .toDF("doc_id", "text")) // trailing whitespace normalizes away
    val out = Dedup.exact(withDup)
    assert(out.agg(sum("n_dups")).first().getLong(0) === 26L)
    assert(out.filter(col("n_dups") === 2).count() === 1L)
  }

  test("minhash LSH finds exactly the exact-Jaccard pair set (planted near-dups)") {
    val exact = Dedup.ngramJaccardPairs(docs, k = 2, threshold = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size === 5, s"expected 5 planted pairs, got $exact")
    val lsh = Dedup.minhashLshPairs(docs, k = 2, threshold = 0.7, bands = 16, rowsPerBand = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact)
  }

  test("simhash: planted near-dups within hamming radius, unrelated docs far") {
    import spark.implicits._
    // simhash needs long docs for a small edit to stay within radius:
    // 200 tokens, 1 changed → E[hamming] ≈ 64·P(bitsum=0) ≈ 3.6
    val base = (0 until 15).map { i =>
      (i.toLong, (0 until 200).map(j => s"s${i}t$j").mkString(" "))
    }
    val dups = (0 until 5).map { i =>
      val toks = base(i)._2.split(" "); toks(77) = "CHANGED"
      (100L + i, toks.mkString(" "))
    }
    val longDocs = (base ++ dups).toDF("doc_id", "text")
    val planted = (0 until 5).map(i => (i.toLong, 100L + i)).toSet
    val pairs = Dedup.simhashPairs(longDocs, maxDist = 12)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 4×16-bit banding is a recall/cost trade: a pair whose diff bits
    // land in all four bands is missed by design, so assert recall ≥ 4/5
    // (cross-engine equivalence of the full operator is q26's oracle)
    assert((planted & pairs).size >= 4, s"missing planted pairs: ${planted -- pairs}")
    assert(pairs.forall(p => planted.contains(p) || p._1 >= 100 || p._2 >= 100 ||
      math.abs(p._1 - p._2) < 200), "no wild false pairs beyond sketch tolerance")
    // scala-side simhash sanity: identical text → distance 0
    assert(Dedup.simhash64("a b c") === Dedup.simhash64("a  b   c"))
    assert(java.lang.Long.bitCount(
      Dedup.simhash64("a b c d e f g h") ^ Dedup.simhash64("a b c d e f g CHANGED")) <= 16)
  }

  test("simhash banding parameterized: guarantees, occupancy, multi-probe recall") {
    import spark.implicits._
    val base = (0 until 15).map { i =>
      (i.toLong, (0 until 200).map(j => s"s${i}t$j").mkString(" "))
    }
    val dups = (0 until 5).map { i =>
      val toks = base(i)._2.split(" "); toks(77) = "CHANGED"
      (100L + i, toks.mkString(" "))
    }
    val longDocs = (base ++ dups).toDF("doc_id", "text")
    val planted = (0 until 5).map(i => (i.toLong, 100L + i)).toSet
    def pairSet(bands: Int, bits: Int, probe: Int) =
      Dedup.simhashPairs(longDocs, maxDist = 12, bands = bands,
          bitsPerBand = bits, probeRadius = probe)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 8×8: pigeonhole guarantees every hamming ≤ 7 pair; our planted
    // edits sit ≤ 12, so recall can still trade — but every pair the
    // default 4×16 finds at d ≤ 7 must also be found
    val p8 = pairSet(8, 8, 0)
    val sigs = longDocs.select(col("doc_id"),
      udf(Dedup.simhash64 _).apply(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    planted.filter { case (a, b) =>
      java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= 7
    }.foreach(p => assert(p8.contains(p), s"8x8 must find guaranteed pair $p"))
    // multi-probe on 2×32-bit bands (the sparse-bucket 10⁹+ layout):
    // radius 1 guarantees hamming ≤ 3; check those planted pairs appear
    val p2probe = pairSet(2, 32, 1)
    planted.filter { case (a, b) =>
      java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= 3
    }.foreach(p => assert(p2probe.contains(p), s"2x32+probe must find $p"))
    // radius 2 widens the guarantee to hamming ≤ 5 (529 probes per
    // band) and can only ADD candidates over radius 1
    val p2probe2 = pairSet(2, 32, 2)
    assert(p2probe.subsetOf(p2probe2), "radius-2 candidates must cover radius-1")
    planted.filter { case (a, b) =>
      java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= 5
    }.foreach(p => assert(p2probe2.contains(p), s"2x32 radius-2 must find $p"))
    // occupancy property: banding emits exactly `bands` rows per doc and
    // every bucket fits in bitsPerBand bits (the saturation math in the
    // scaladoc depends on this bucket-space size)
    for ((bands, bits) <- Seq((4, 16), (8, 8), (2, 32))) {
      val mask = if (bits == 64) -1L else (1L << bits) - 1
      val banded = longDocs.select(col("doc_id"),
          udf(Dedup.simhash64 _).apply(col("text")).as("sig"))
        .select(col("doc_id"), posexplode(array((0 until bands).map(b =>
          shiftrightunsigned(col("sig"), b * bits).bitwiseAND(lit(mask))): _*))
          .as(Seq("band", "bucket")))
      val rows = banded.groupBy("doc_id").count().select("count").as[Long].collect()
      assert(rows.forall(_ === bands.toLong))
      val buckets = banded.select("bucket").as[Long].collect()
      assert(buckets.forall(b => (b & ~mask) == 0L), s"bucket overflow at $bands x $bits")
    }
  }

  test("hyperplane signature expression == inlined Column stack (bucket parity)") {
    import spark.implicits._
    val dim = 64
    val vecs = (0 until 200).map { i =>
      (i.toLong, (0 until dim).map { d =>
        // deterministic, sign-varied doubles incl. exact zeros
        val m = graft.frontier.CuckooFilter.mix(i * 131L + d)
        if (m % 7 == 0) 0.0 else (m % 1000L).toDouble / 499.5 - 1.0
      })
    }.toDF("id", "v").withColumn("vd", col("v").cast("array<double>"))
    for (t <- 0 until 3) {
      val signs = Dedup.hyperplaneSigns(dim, 8, Dedup.tableSeed(42L, t))
      val rows = vecs.select(
        graft.functions.HyperplaneExprs.signatureCol(col("vd"), signs).as("expr"),
        Dedup.hyperplaneSignature(col("vd"), dim, 8, Dedup.tableSeed(42L, t)).as("twin"))
        .collect()
      rows.foreach(r => assert(r.getString(0) === r.getString(1), s"table $t"))
    }
  }

  test("hyperplane signature: null elements and short vectors take the twin's all-'0' bucket") {
    import spark.implicits._
    val dim = 8
    val signs = Dedup.hyperplaneSigns(dim, 4, 42L)
    // the Column-stack twin null-propagates any null element through
    // every plane's dot product, and when(null > 0, ...) lands on '0';
    // a vector shorter than dim reads missing elements as null the same
    // way — the native expression must match instead of treating nulls
    // as 0.0 or throwing ArrayIndexOutOfBounds
    val rows = Seq(
      ("ok", Seq[java.lang.Double](1.0, -2.0, 3.0, -4.0, 5.0, -6.0, 7.0, -8.0)),
      ("with_null", Seq[java.lang.Double](1.0, -2.0, null, -4.0, 5.0, -6.0, 7.0, -8.0)),
      ("short", Seq[java.lang.Double](1.0, -2.0, 3.0)),
      ("empty", Seq.empty[java.lang.Double])
    ).toDF("label", "vd")
      .select(col("label"),
        graft.functions.HyperplaneExprs.signatureCol(col("vd"), signs).as("sig"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("with_null") === "0000")
    assert(rows("short") === "0000")
    assert(rows("empty") === "0000")
    val okVec = Seq(1.0, -2.0, 3.0, -4.0, 5.0, -6.0, 7.0, -8.0)
    val okExpected = signs.map { s =>
      val dot = (0 until dim).foldLeft(0.0)((acc, d) => acc + okVec(d) * s(d))
      if (dot > 0) '1' else '0'
    }.mkString
    assert(rows("ok") === okExpected)
  }

  test("nearest-centroid expression == explode-join window argmax (assignment parity)") {
    import spark.implicits._
    val dim = 8
    val vecs = (0 until 120).map { i =>
      (i.toLong, (0 until dim).map(d => math.sin(i * 13 + d * 7)))
    }.toDF("corpus_id", "cv").withColumn("cv", col("cv").cast("array<double>"))
    // 5 centroids, one DUPLICATED under a different id: every vector
    // ties exactly on round(csim,6) for that pair and must resolve to
    // the SMALLER cid, like row_number over (csim DESC, cid ASC)
    val baseCents = (0 until 4).map(c => (c * 10L, (0 until dim).map(d => math.cos(c * 31 + d))))
    val cents = baseCents :+ (99L, baseCents.head._2)
    val centsDf = cents.toDF("cid", "centroid")
      .withColumn("centroid", col("centroid").cast("array<double>"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("corpus_id").orderBy(col("csim").desc, col("cid"))
    val expected = vecs.join(broadcast(centsDf))
      .withColumn("csim", round(Dedup.cosine(col("cv"), col("centroid")), 6))
      .withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select("corpus_id", "cid")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = vecs.withColumn("list_id",
      graft.functions.NearestCentroidExprs.nearestCol(col("cv"), cents, dim))
      .select("corpus_id", "list_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    // the duplicated centroid (cid 99) must never win a tie against cid 0
    assert(!got.values.exists(_ == 99L))
    assert(got.values.exists(_ == 0L))
  }

  test("embedding near-dup LSH: planted duplicate vectors found with cosine 1.0") {
    import spark.implicits._
    val vecs = (0 until 50).map { i =>
      val v = (0 until 16).map(d => math.sin(i * 17 + d).toFloat).toArray
      (i.toLong, v)
    }
    val dups = (0 until 3).map(i => (200L + i, vecs(i)._2.map(x => x * 1.0001f)))
    val emb = (vecs ++ dups).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(emb, dim = 16, threshold = 0.999, numPlanes = 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0 until 3).map(i => (i.toLong, 200L + i)).toSet.subsetOf(pairs))
  }

  test("IVF top-k: probing all lists equals brute force; partial probe trades recall") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Similarity.ivfTopK(emb, queries, k = 5, nList = 8, nProbe = 8)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === brute, "nProbe = nList must equal brute force")
    val partial = Similarity.ivfTopK(emb, queries, k = 5, nList = 8, nProbe = 4)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & partial).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall at half probe $recall")
    // float32-compressed lists + exact re-rank: half the scanned bytes
    // per probed list (4 B vs 8 B per dim) must not cost recall vs the
    // uncompressed IVF at the same (nList, nProbe) — the re-rank window
    // recovers any quantization-induced ordering slips
    val f32 = Similarity.ivfTopKF32(emb, queries, k = 5, nList = 8, nProbe = 4, rerank = 20)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallF32 = (brute & f32).size.toDouble / brute.size
    assert(recallF32 >= recall, s"compressed recall $recallF32 < uncompressed $recall")
    // and at full probe the two-phase pipeline is EXACT (re-rank on full
    // precision): identical to brute force
    val f32full = Similarity.ivfTopKF32(emb, queries, k = 5, nList = 8, nProbe = 8, rerank = 20)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(f32full === brute, "nProbe = nList + exact re-rank must equal brute force")
    // SQ8 (8 bits/dim, ~8× smaller payload than float64): the coarser
    // quantization must still not cost recall vs uncompressed IVF —
    // the re-rank window absorbs its larger ordering slips too
    val sq8 = Similarity.ivfTopKSQ8(emb, queries, k = 5, nList = 8, nProbe = 4, rerank = 20)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallSq8 = (brute & sq8).size.toDouble / brute.size
    assert(recallSq8 >= recall, s"SQ8 recall $recallSq8 < uncompressed $recall")
    val sq8full = Similarity.ivfTopKSQ8(emb, queries, k = 5, nList = 8, nProbe = 8, rerank = 20)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sq8full === brute, "SQ8 at full probe + exact re-rank must equal brute force")
  }

  test("IVF probe-budget audit: recall monotone in probes, exact at full budget") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val rows = Similarity.ivfProbeAudit(emb, k = 5, nList = 8,
        probes = Seq(1, 4, 8), nQueries = 5)
      .orderBy("n_probe").collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(1, 4, 8))
    val recalls = rows.map(_.getLong(4))
    // wider probe budgets only ever ADD candidates: recall is monotone,
    // scanned strictly grows, and probing every list IS brute force
    assert(recalls.sliding(2).forall(w => w(0) <= w(1)),
      s"recall not monotone: ${recalls.toSeq}")
    val scanned = rows.map(_.getLong(2))
    assert(scanned.sliding(2).forall(w => w(0) < w(1)),
      s"scanned not growing: ${scanned.toSeq}")
    assert(recalls.last === 1000000L, "nProbe = nList must have recall 1")
    val n = emb.count(); val nTruth = rows.head.getLong(1)
    assert(nTruth === 5L * 5) // 5 queries × top-5
    assert(scanned.last === 5L * (n - 1), "full budget scans the corpus per query")
    // empty corpus: a zero audit row per budget, not a driver crash
    val empty = Similarity.ivfProbeAudit(emb.filter(col("vec_id") < 0),
      k = 5, nList = 8, probes = Seq(1, 8), nQueries = 5).collect()
    assert(empty.map(r => (r.getInt(0), r.getLong(1), r.getLong(4))).toSeq ===
      Seq((1, 0L, 0L), (8, 0L, 0L)))
  }

  test("char stats: integer Simpson concentration, empty/degenerate pinned") {
    import spark.implicits._
    import graft.functions.CharStatsExprs.charStatsCol
    val df = Seq("aaaa", "ab", "", "abab", "the quick brown fox")
      .toDF("text")
      .select(charStatsCol(col("text")).as("cs"))
      .select(col("cs.n_chars"), col("cs.distinct_chars"), col("cs.simpson_ppm"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got(0) === ((4L, 1L, 1000000L)))        // single-symbol flood
    assert(got(1) === ((2L, 2L, 500000L)))          // two symbols, uniform
    assert(got(2) === ((0L, 0L, 1000000L)))         // empty pinned degenerate
    assert(got(3) === ((4L, 2L, 500000L)))          // Σc² independent of order
    // natural text sits far below flood concentration
    assert(got(4)._3 < 200000L)
    // null propagates (UnaryExpression null semantics)
    val withNull = Seq[(java.lang.Long, String)]((1L, "x"), (2L, null))
      .toDF("id", "text")
      .select(col("id"), charStatsCol(col("text")).as("cs"))
      .orderBy("id").collect()
    assert(!withNull(0).isNullAt(1) && withNull(1).isNullAt(1))
  }

  test("charStats counts CODE POINTS, not UTF-8 bytes (ADVICE r4)") {
    import spark.implicits._
    import graft.functions.CharStatsExprs.charStatsCol
    val texts = Seq(
      "αβαβ", // Greek alpha-beta twice: 2-byte points above the array range
      "aé",                  // e-acute: 2-byte encoding of a < 256 point
      "😀😀") // grinning-face emoji: one 4-byte point, twice
    val got = texts.toDF("text")
      .select(charStatsCol(col("text")).as("cs"))
      .select(col("cs.n_chars"), col("cs.distinct_chars"), col("cs.simpson_ppm"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got(0) === ((4L, 2L, 500000L)), "byte counting would say (8, 2)")
    assert(got(1) === ((2L, 2L, 500000L)), "byte counting would say (3, 3)")
    assert(got(2) === ((2L, 1L, 1000000L)), "byte counting would say (8, 4)")
  }

  test("charStats: Σc²·10⁶ past the signed-64 bound takes the exact BigInt path") {
    import graft.functions.CharStatsExprs.charStats
    import org.apache.spark.unsafe.types.UTF8String
    // 4M + 4M chars: ss = 2·(4·10⁶)² = 3.2·10¹³ > Long.Max/10⁶ — the
    // naive multiply would go negative (the ADVICE finding); the exact
    // Simpson here is 1/2
    val big = UTF8String.fromString("a" * 4000000 + "b" * 4000000)
    val r = charStats(big)
    assert(r.getLong(0) === 8000000L && r.getLong(1) === 2L)
    assert(r.getLong(2) === 500000L, "must not overflow negative")
  }

  test("IVF-PQ: coarse reconstruction, recall recovered by a wider re-rank window") {
    // PQ's training-free codebook (32 md5-sampled codewords per 16-dim
    // subspace) is deliberately coarse on these unstructured synthetic
    // embeddings — PQ's worst case. What the tier must deliver is the
    // SHAPE: codes in lists (64× payload reduction at the production
    // 8×256 layout), approximate scan on the reconstruction, and a
    // re-rank window that buys back recall monotonically. Measured on
    // this data: rerank=20 → 0.2, rerank=200 → 0.92.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def pqRecall(rerank: Int): Double = {
      val got = Similarity.ivfTopKPQ(emb, queries, k = 5, nList = 8, nProbe = 8,
        rerank = rerank, m = 4, numCodes = 32)
        .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute & got).size.toDouble / brute.size
    }
    val narrow = pqRecall(20)
    val wide = pqRecall(200)
    assert(wide >= 0.85, s"PQ recall at rerank=200 is $wide")
    assert(wide > narrow, s"wider re-rank must recover recall ($narrow -> $wide)")
  }

  test("PQ round-trip expression: reconstruction parity, null and short-vector semantics") {
    import spark.implicits._
    val m = 2; val subDim = 3; val numCodes = 2
    // codebook[s][j]: subspace 0 codes {(0,0,0),(1,1,1)}, subspace 1 {(2,2,2),(9,9,9)}
    val codebook: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(0.0, 0.0, 0.0), Seq(1.0, 1.0, 1.0)),
      Seq(Seq(2.0, 2.0, 2.0), Seq(9.0, 9.0, 9.0)))
    val rows = Seq(
      (1L, Seq(0.1, 0.0, 0.2, 2.5, 2.0, 2.1)), // → code 0, code 0
      (2L, Seq(0.9, 1.2, 1.0, 8.0, 9.5, 9.0)), // → code 1, code 1
      (3L, Seq(0.5, 0.5, 0.5, 5.5, 5.5, 5.5))) // exact ties → SMALLEST index both
    val df = rows.toDF("id", "v").withColumn("v", col("v").cast("array<double>"))
    val got = df.withColumn("rt", graft.functions.PqExprs.roundTripCol(col("v"), codebook))
      .select("id", "rt").collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got(1L) === Seq(0.0, 0.0, 0.0, 2.0, 2.0, 2.0))
    assert(got(2L) === Seq(1.0, 1.0, 1.0, 9.0, 9.0, 9.0))
    assert(got(3L) === Seq(0.0, 0.0, 0.0, 2.0, 2.0, 2.0), "ties must pick the smallest codeword index")
    // a short vector (< m·subDim) and a null element both yield null
    val degenerate = Seq((1L, Seq[java.lang.Double](1.0, 2.0)),
      (2L, Seq[java.lang.Double](0.1, null, 0.2, 2.5, 2.0, 2.1)))
      .toDF("id", "v").withColumn("v", col("v").cast("array<double>"))
      .withColumn("rt", graft.functions.PqExprs.roundTripCol(col("v"), codebook))
    assert(degenerate.filter(col("rt").isNotNull).count() === 0)
  }

  test("language ID classifies planted multilingual snippets") {
    import spark.implicits._
    // (the driver corpus's lang column is synthetic — its text is the
    // same English word-salad for every label — so accuracy is asserted
    // on real-language snippets; cross-engine equivalence of the
    // predictor over the corpus is q29's oracle)
    val samples = Seq(
      ("en", "the cat and the dog sat on the mat and looked out of the window"),
      ("de", "der hund und die katze sitzen auf der matte und schauen aus die tür"),
      ("fr", "le chien et la chatte sont sur le tapis et la porte est ouverte"),
      ("es", "el perro y los gatos están en la alfombra y el sol brilla para los dos"),
      ("zh", "这只猫是在垫子上的，狗也是在门口的，太阳是在天上的")).toDF("lang", "text")
    val out = samples.withColumn("pred", TextAnalysis.langId(col("text")))
    assert(out.filter(col("pred") =!= col("lang")).count() === 0)
  }

  test("rolling fingerprint is whitespace-robust and content-sensitive") {
    val a = TextAnalysis.rollingFingerprint("the quick brown fox jumps over the lazy dog")
    val b = TextAnalysis.rollingFingerprint("the  quick brown   fox jumps over the lazy dog")
    val c = TextAnalysis.rollingFingerprint("the quick brown cat jumps over the lazy dog")
    assert(a === b)
    assert(a !== c)
  }

  test("multimodal: stubbed decode keeps real schema/batch plumbing") {
    import spark.implicits._
    val refs = (0 until 40).map(i => s"media://$i").toDF("media_ref")
    val meta = Multimodal.withMediaMeta(spark, refs)
    assert(meta.count() === 40)
    val byCodec = meta.groupBy("codec").count().collect().map(r => r.getString(0)).toSet
    assert(byCodec.subsetOf(Set("png", "jpeg", "wav", "mp4")))
    // codec magic round-trips through the binary payload
    val m = meta.filter(col("codec") === "png").head()
    assert(Multimodal.codecOf(Multimodal.syntheticBytes(m.media_ref)) === "png")
    // frame sampling only for video; resize keeps aspect ratio
    val frames = Multimodal.sampleFrames(meta, stride = 10)
    assert(frames.count() > 0)
    val resized = Multimodal.resizeMeta(meta, maxDim = 128)
    assert(resized.filter(col("new_width") > 128 || col("new_height") > 128).count() === 0)
  }

  // ---- repetitionSignals ----

  private def round6d(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def bruteRepetition(text: String): (Double, Double) = {
    val l = text.trim.split("\\s+").toSeq
    val nl = l.mkString(" ").length.toDouble
    if (nl == 0) return (0.0, 0.0)
    def counts(n: Int): Map[String, Int] =
      if (l.size < n) Map.empty
      else l.sliding(n).map(_.mkString(" ")).toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val top2 = counts(2).map { case (g, c) => c.toLong * g.length }.foldLeft(0L)(math.max)
    val dup3 = counts(3).collect { case (g, c) if c > 1 => c.toLong * g.length }.sum
    (round6d(top2 / nl), round6d(dup3 / nl))
  }

  test("repetitionSignals: planted repeats, blank and short docs") {
    import spark.implicits._
    val rows = Seq(
      1L -> "spam spam spam spam",          // top2 = 3×len("spam spam")=27 / 19
      2L -> "a b c a b c a b c x",          // dup3: "a b c"×3=15, "b c a"×2=10, "c a b"×2=10
      3L -> "all unique tokens here now",   // no repeats: top2 = 1×max-2gram-len
      4L -> "  ",                           // blank → zeros
      5L -> "one")                          // 1 token → no 2-grams → 0
    val got = TextAnalysis.repetitionSignals(rows.toDF("doc_id", "text"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    rows.foreach { case (id, text) =>
      assert(got(id) === bruteRepetition(text), s"doc $id: '$text'")
    }
    assert(got(1L)._1 === round6d(27.0 / 19))
    assert(got(2L)._2 === round6d(35.0 / 19))
    assert(got(4L) === ((0.0, 0.0)))
    assert(got(5L) === ((0.0, 0.0)))
  }

  // ---- scrubPii ----

  test("scrubPii: typed placeholders, counts, pattern-disjointness edge cases") {
    import spark.implicits._
    val rows = Seq(
      1L -> "mail a.b-c%d@sub.example.org and x@y.io end",
      2L -> "hosts 10.0.0.1 192.168.255.254 not 1.2.3 or 1234.5.6.7",
      3L -> "card 4111222233334444 short 123456789012 long 12345678901234567890",
      4L -> "mixed u@e.com at 8.8.8.8 pays 4000123456789012",
      5L -> "nothing to scrub here")
    val got = TextAnalysis.scrubPii(rows.toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4), r._5)).toMap
    assert(got(1L)._1 === ((2L, 0L, 0L)))
    assert(got(1L)._2 === "mail <EMAIL> and <EMAIL> end")
    // 1.2.3 (three runs) and 1234.5.6.7 (4-digit octet still matches
    // [0-9]{1,3}? no: 1234 can't match {1,3} with \b) stay unscrubbed
    assert(got(2L)._1 === ((0L, 2L, 0L)))
    assert(got(2L)._2 === "hosts <IP> <IP> not 1.2.3 or 1234.5.6.7")
    // 12 digits too short, 20 too long for the 13-19 card window
    assert(got(3L)._1 === ((0L, 0L, 1L)))
    assert(got(3L)._2 === "card <CARD> short 123456789012 long 12345678901234567890")
    assert(got(4L)._1 === ((1L, 1L, 1L)))
    assert(got(4L)._2 === "mixed <EMAIL> at <IP> pays <CARD>")
    assert(got(5L)._1 === ((0L, 0L, 0L)))
    assert(got(5L)._2 === "nothing to scrub here")
  }

  test("datatools projections run unchanged over a document stream (PII scrub)") {
    // scrubPii is a pure per-row projection, so the SAME operator that
    // runs over the batch corpus runs over readStream with no
    // watermark and Append mode — the streaming-ingest shape of the
    // redaction pass
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = graft.datatools.TextAnalysis.scrubPii(input.toDS().toDF("doc_id", "text"))
    val query = out.writeStream.format("memory").queryName("scrub_stream")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(1L -> "mail a@b.io from 10.0.0.1", 2L -> "clean")
      query.processAllAvailable()
      input.addData(3L -> "card 4111222233334444")
      query.processAllAvailable()
      val rows = spark.table("scrub_stream").as[(Long, Long, Long, Long, String)]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4), r._5)).toMap
      assert(rows(1L) === (((1L, 1L, 0L), "mail <EMAIL> from <IP>")))
      assert(rows(2L) === (((0L, 0L, 0L), "clean")))
      assert(rows(3L) === (((0L, 0L, 1L), "card <CARD>")))
    } finally query.stop()
  }

  test("property: repetitionSignals equals brute force on word soup") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val words = Vector("aa", "b", "ccc", "dd", "e")
    val docs = (1L to 40L).map { id =>
      id -> Seq.fill(rnd.nextInt(25))(words(rnd.nextInt(words.size))).mkString(" ")
    }
    val got = TextAnalysis.repetitionSignals(docs.toDF("doc_id", "text"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    docs.foreach { case (id, text) =>
      assert(got(id) === bruteRepetition(text), s"doc $id: '$text'")
    }
  }

  test("containment: full inclusion found where same-threshold Jaccard misses") {
    import spark.implicits._
    val short = (0 until 8).map(j => s"s$j").mkString(" ")
    val long = ((0 until 40).map(j => s"l$j") ++ (0 until 8).map(j => s"s$j")).mkString(" ")
    val other = (0 until 30).map(j => s"o$j").mkString(" ")
    val df = Seq((1L, short), (2L, long), (3L, other)).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(df, n = 4, threshold = 0.8, maxDf = 50).collect()
    assert(out.length === 1)
    assert(out(0).getLong(0) === 1L && out(0).getLong(1) === 2L)
    assert(out(0).getDouble(2) === 1.0) // every 4-gram of the short doc is in the long one
    // resemblance at the same threshold misses the inclusion entirely
    assert(Dedup.ngramJaccardPairs(df, k = 4, threshold = 0.8).count() === 0L)
  }

  /** Brute force with the operator's exact definition: distinct 4-gram
    * strings, drop grams in > maxDf docs, containment over what's left.
    */
  private def bruteContainment(docs: Seq[(Long, String)], n: Int, maxDf: Int,
                               threshold: Double): Set[(Long, Long, Double)] = {
    val gramSets = docs.flatMap { case (id, t) =>
      val toks = t.trim.split("\\s+").toSeq
      if (t.trim.isEmpty || toks.size < n) None
      else Some(id -> toks.sliding(n).map(_.mkString(" ")).toSet)
    }.toMap
    val df = gramSets.values.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
    val rare = gramSets.map { case (id, gs) => id -> gs.filter(g => df(g) <= maxDf) }
      .filter(_._2.nonEmpty)
    (for {
      (a, ga) <- rare.toSeq; (b, gb) <- rare.toSeq if a < b
      inter = ga.intersect(gb).size
      c = BigDecimal(inter.toDouble / math.min(ga.size, gb.size))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if inter > 0 && c >= threshold
    } yield (a, b, c)).toSet
  }

  test("property: containmentPairs equals brute force, df cap exercised") {
    import spark.implicits._
    val gen = for {
      nDocs <- org.scalacheck.Gen.choose(2, 7)
      docs <- org.scalacheck.Gen.listOfN(nDocs, org.scalacheck.Gen.choose(0, 14).flatMap(len =>
        org.scalacheck.Gen.listOfN(len, org.scalacheck.Gen.oneOf("a", "b", "c")).map(_.mkString(" "))))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    var seed = org.scalacheck.rng.Seed(7L)
    (0 until 20).foreach { _ =>
      gen.apply(org.scalacheck.Gen.Parameters.default, seed).foreach { docs =>
        // tiny alphabet: shared grams everywhere, and maxDf = 3 actually bites
        val expect = bruteContainment(docs, n = 2, maxDf = 3, threshold = 0.5)
        val got = Dedup.containmentPairs(docs.toDF("doc_id", "text"),
            n = 2, threshold = 0.5, maxDf = 3)
          .as[(Long, Long, Double)].collect().toSet
        assert(got === expect, s"docs=$docs")
      }
      seed = seed.next
    }
  }

  test("classifier score expression: parity with per-token reference, edge tokens") {
    import spark.implicits._
    val texts = Seq(
      "hello world", "  padded  both  ", "", "   ",
      "\u0001ctrl glued", "\u00a0nbsp stays glued", "a a a b",
      "tabs\tand\nnewlines\u000bvt\ffeed\rcr", "\u00dcn\u00efc\u00f8de t\u00f8kens")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = df.withColumn("cf", graft.functions.MinHashExprs.classifierScoreCol(col("text")))
      .select(col("doc_id"), col("cf.n_terms"), col("cf.score"))
      .as[(Long, Long, Long)].collect().map { case (id, n, sc) => id -> ((n, sc)) }.toMap
    def ref(t: String): (Long, Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val toks = t.split("[ \\t\\n\\u000B\\f\\r]+").filter(_.nonEmpty)
      val score = toks.map { tok =>
        val d = md.digest(tok.getBytes("UTF-8"))
        val h = java.nio.ByteBuffer.wrap(d, 8, 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
        val f = h & 0xffffL
        ((f * 2654435761L) >> 13) % 17L - 8L
      }.sum
      (toks.length.toLong, score)
    }
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) === ref(t), s"text='$t'")
    }
  }

  // ---- kmeansAssign ----

  test("integer division truncates toward zero in Spark DIV (the kmeans centroid-update contract)") {
    import spark.implicits._
    // Scala / and DuckDB // both give -3 for -7/2; the kmeans oracle
    // relies on Spark DIV agreeing on negative coordinate sums
    val r = Seq((-7L, 2L), (7L, 2L), (-7L, -2L), (7L, -2L)).toDF("a", "b")
      .selectExpr("a DIV b").as[Long].collect().toSeq
    assert(r === Seq(-3L, 3L, 3L, -3L))
    assert(-7L / 2L === -3L)
  }

  test("kmeansAssign matches brute-force fixed-point Lloyd iterations") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 60)
      dim <- Gen.oneOf(2, 5)
      vecs <- Gen.listOfN(n, Gen.listOfN(dim, Gen.choose(-999, 999).map(_ / 1000.0f)))
      k <- Gen.oneOf(1, 2, 4)
      iters <- Gen.oneOf(0, 1, 3)
      parts <- Gen.oneOf(1, 3)
    } yield (vecs.zipWithIndex.map { case (v, i) => (i.toLong * 3, v) }, k, iters, parts)
    sample(gen, 12, 23L) { case (rows, k0, iters, parts) =>
      val k = math.min(k0, rows.size)
      val scale = 1000000L
      val ints = rows.map { case (id, v) =>
        id -> v.map(x => math.floor(x.toDouble * scale + 0.5).toLong).toArray
      }.sortBy(_._1)
      val dim = ints.head._2.length
      var cents = ints.take(k).map(_._2.clone()).toArray
      def assignAll(): Seq[(Long, Int, Long)] = ints.map { case (id, v) =>
        val (d, j) = cents.zipWithIndex.map { case (c, j) =>
          (v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, j)
        }.minBy(identity)
        (id, j, d)
      }
      (0 until iters).foreach { _ =>
        val byC = assignAll().groupBy(_._2)
        val next = cents.map(_.clone())
        byC.foreach { case (j, as) =>
          val members = as.map(a => ints.find(_._1 == a._1).get._2)
          next(j) = Array.tabulate(dim)(d => members.map(_(d)).sum / members.size)
        }
        cents = next
      }
      val expect = assignAll().toSet
      val got = Similarity.kmeansAssign(
          rows.toDF("vec_id", "embedding").repartition(parts), k, iters)
        .as[(Long, Int, Long)].collect().toSet
      assert(got === expect, s"k=$k iters=$iters")
    }
  }

  // ---- setResemblance (host-mirror detection) ----

  test("setResemblance flags planted mirror hosts and scores exact Jaccard") {
    import spark.implicits._
    // hosts a/b share 20 of 22 distinct paths (J = 20/22 ≈ 0.909);
    // host c is disjoint; host d equals a exactly (J = 1)
    val rows =
      (0 until 20).map(i => ("a", s"/p/$i")) ++ Seq(("a", "/only-a")) ++
      (0 until 20).map(i => ("b", s"/p/$i")) ++ Seq(("b", "/only-b")) ++
      (0 until 20).map(i => ("c", s"/q/$i")) ++
      (0 until 20).map(i => ("d", s"/p/$i")) ++ Seq(("d", "/only-a"))
    val out = Dedup.setResemblance(rows.toDF("host", "path"), "host", "path",
        slots = 12, bands = 3, tauPpm = 950000L)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    assert(out.contains(("a", "d")) && out(("a", "d")) === ((21L, 1000000L, true)))
    // a/b pass the band filter with high probability at J≈0.9 and the
    // verify scores the exact intersection, below the mirror bar
    out.get(("a", "b")).foreach { case (inter, ppm, mirror) =>
      assert(inter === 20L && ppm === 20L * 1000000L / 22L && !mirror)
    }
    // no candidate may pair the disjoint host: the exact verify kills it
    assert(!out.keys.exists { case (x, y) => x == "c" || y == "c" })
  }

  test("setResemblance dedups element multiplicity before sketching") {
    import spark.implicits._
    // same path listed 5x must count once — signatures and n are
    // set-semantics, so a repeat-heavy host still mirrors its twin
    val rows = (0 until 10).flatMap(i => Seq.fill(5)(("x", s"/p/$i"))) ++
      (0 until 10).map(i => ("y", s"/p/$i"))
    val out = Dedup.setResemblance(rows.toDF("h", "p"), "h", "p").collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(2) === 10L && r.getLong(3) === 10L &&
      r.getLong(4) === 10L && r.getBoolean(6))
  }

  // ---- cdcChunkDedup ----

  test("cdc chunking: identical docs are fully duplicated after the first") {
    import spark.implicits._
    val text = (0 until 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, text), (2L, text), (3L, "zz " + text))
      .toDF("doc_id", "text")
    val out = Dedup.cdcChunkDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // doc 1 owns every first occurrence; doc 2 is a bit-exact copy so
    // every chunk is a dup and dedup_ppm = 10^6
    assert(out(1L)._2 === 0L)
    assert(out(2L)._1 === out(1L)._1 && out(2L)._2 === out(2L)._1 &&
      out(2L)._4 === 1000000L)
    // doc 3's prefix insertion shifts only chunks whose window touches
    // the 3-char prefix — boundaries are content-defined, so chunks
    // after the first shared boundary keep their identity and dedup
    assert(out(3L)._2 >= out(3L)._1 - 2 && out(3L)._2 >= 1L)
  }

  test("cdc chunks partition each doc: lengths sum to doc length") {
    import spark.implicits._
    val docs = Seq((1L, "short"), (2L, ""),
      (3L, (0 until 60).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    // replay the operator's own boundary rule to get total chunk chars:
    // dup_chars <= n_chars always, and a doc shorter than the window is
    // one chunk
    val out = Dedup.cdcChunkDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(out(1L)._1 === 1L) // < window ⇒ single chunk
    assert(out(2L)._1 === 0L) // empty ⇒ no chunks, ppm 0
    assert(out(3L)._1 >= 2L)  // long doc ⇒ content boundaries fired
  }

  // ---- simhashBandingAudit ----

  test("simhashBandingAudit: identical docs are truth AND candidates at every banding") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "totally different words here")).toDF("doc_id", "text")
    val got = Dedup.simhashBandingAudit(docs, maxDist = 0,
        configs = Seq((1, 64), (8, 8)))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // 1×64 banding = full-signature equality: exactly the identical pair,
    // perfect recall AND precision at maxDist 0
    assert(got((1, 64)) === ((1L, 1L, 1L, 1000000L, 1000000L)))
    // any banding catches a hamming-0 pair (all slices equal)
    val (t8, c8, tp8, r8, _) = got((8, 8))
    assert(t8 === 1L && tp8 === 1L && r8 === 1000000L && c8 >= 1L)
  }

  // ---- repeatedWindowSpans ----

  test("repeatedWindowSpans merges overlapping/adjacent repeats into maximal spans") {
    import spark.implicits._
    // 'p q' repeats at doc1 pos {0,2} (adjacent → ONE span covering all
    // 4 tokens) and doc2 pos {0,3} (disjoint → TWO spans); 'z z' and
    // the short/empty docs have no repeated window at all
    val docs = Seq(
      (1L, "p q p q r"), (2L, "p q x p q"), (3L, "z z"),
      (4L, ""), (5L, "solo")).toDF("doc_id", "text")
    val got = Dedup.repeatedWindowSpans(docs, windowTokens = 2, minCount = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 5L, 2L, 1L, 4L, 800000L),
      (2L, 5L, 2L, 2L, 4L, 800000L),
      (3L, 2L, 0L, 0L, 0L, 0L),
      (4L, 0L, 0L, 0L, 0L, 0L),
      (5L, 1L, 0L, 0L, 0L, 0L)))
  }

  test("repeatedWindowSpans counts in-doc self-repetition as duplication") {
    import spark.implicits._
    // the same window twice INSIDE one doc is a corpus-wide count of 2
    val docs = Seq((1L, "a b c a b c a b")).toDF("doc_id", "text")
    val got = Dedup.repeatedWindowSpans(docs, windowTokens = 3, minCount = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    // windows: abc@0 bca@1 cab@2 abc@3 bca@4 cab@5 — ALL repeat; one
    // island [0, 8) covers the whole doc
    assert(got === ((1L, 8L, 6L, 1L, 8L, 1000000L)))
  }

  test("simhashBandingAudit: nested bandings are monotone in candidates and recall") {
    import spark.implicits._
    // a 16-bit slice match implies both 8-bit halves match, so the
    // candidate set can only GROW as bands split: 2×32 ⊆ 4×16 ⊆ 8×8
    val docs = (1L to 14L)
      .map(i => (i, s"shared prefix tokens for all docs variant ${i % 4} tail $i"))
      .toDF("doc_id", "text")
    val rows = Dedup.simhashBandingAudit(docs, maxDist = 8)
      .orderBy("bands")
      .collect().map(r => (r.getLong(3), r.getLong(4))) // (n_candidates, tp)
    assert(rows.sliding(2).forall { case Array((c1, t1), (c2, t2)) =>
      c1 <= c2 && t1 <= t2 })
  }

  // ---- minhashBandingAudit ----

  test("minhashBandingAudit matches a brute-force reference; candidacy nests with band count") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docsSeq = Seq(
      (1L, base),
      (2L, base + " tail"),
      (3L, "completely different words here entirely unrelated token stream"),
      (4L, base),
      (5L, "another separate document with its own vocabulary set"))
    val configs = Seq((2, 6), (3, 4), (6, 2))
    val out = Dedup.minhashBandingAudit(docsSeq.toDF("doc_id", "text"),
        slots = 12, configs = configs, tauPpm = 500000L)
      .orderBy("bands").collect()

    // brute force with the same scalar md5-48 slot construction
    def shingleSet(t: String): Seq[String] = {
      val toks = t.toLowerCase.trim.split("\\s+").toSeq
      if (toks.length < 2) Seq.empty
      else toks.sliding(2).map(_.mkString(" ")).toSeq.distinct
    }
    def slotSig(sh: Seq[String]): IndexedSeq[Long] =
      (0 until 12).map(i => sh.map(x =>
        graft.functions.MinHashExprs.md5Low48(UTF8String.fromString(s"$i:$x"))).min)
    val sets = docsSeq.map { case (id, t) => id -> shingleSet(t) }.toMap
    val sigs = sets.map { case (id, sh) => id -> slotSig(sh) }
    val pairs = for {
      a <- docsSeq.map(_._1); b <- docsSeq.map(_._1) if a < b
    } yield {
      val (sa, sb) = (sets(a).toSet, sets(b).toSet)
      val inter = (sa & sb).size.toLong
      val jppm = inter * 1000000L / (sa.size + sb.size - inter)
      (a, b, jppm)
    }
    def cand(a: Long, b: Long, bands: Int, r: Int): Boolean =
      (0 until bands).exists(bd =>
        (bd * r until (bd + 1) * r).forall(i => sigs(a)(i) == sigs(b)(i)))
    configs.zipWithIndex.foreach { case ((bands, r), idx) =>
      val row = out(idx)
      assert(row.getInt(0) === bands)
      val nTruth = pairs.count(_._3 >= 500000L).toLong
      val nCand = pairs.count(p => cand(p._1, p._2, bands, r)).toLong
      val tp = pairs.count(p => p._3 >= 500000L && cand(p._1, p._2, bands, r)).toLong
      assert(row.getAs[Long]("n_truth") === nTruth, s"n_truth at $bands x $r")
      assert(row.getAs[Long]("n_candidates") === nCand, s"n_candidates at $bands x $r")
      assert(row.getAs[Long]("tp") === tp, s"tp at $bands x $r")
    }
    // finer bandings (shorter rows) can only ADD candidates: a matching
    // 4-slot band implies both of its 2-slot sub-bands match
    val cands = out.map(_.getAs[Long]("n_candidates"))
    assert(cands(0) <= cands(1) && cands(1) <= cands(2))
    // the exact dup (1,4) is truth AND candidate under every config
    assert(out.forall(_.getAs[Long]("tp") >= 1L))
  }

  test("minhashBandingAudit rejects tauPpm = 0 (split truth fold needs inter >= 1 on truths)") {
    import spark.implicits._
    // the r06 split aggregation counts truth/tp over the intersection
    // frame only, which is exact iff jppm >= tauPpm implies inter >= 1
    // — i.e. tauPpm > 0; the contract is enforced, not silently wrong
    val docs = Seq((1L, "a b c"), (2L, "x y z")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashBandingAudit(docs, slots = 12,
        configs = Seq((2, 6)), tauPpm = 0L).collect()
    }
    assert(e.getMessage.contains("tauPpm"))
  }

  // ---- image aHash near-dup ----

  test("image near-dup: banded pairs equal brute force over the decode stub; groups separate") {
    import spark.implicits._
    val refs = (0 until 120).map(i => s"img://g${i % 10}/v${i % 3}")
    val feats = Multimodal.withImageFeatures(spark, refs.toDF("media_ref"))
    val out = Multimodal.imageNearDup(feats).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    // brute force: 8x8 banding guarantees recall at hamming <= 7
    val sig = refs.distinct.map(r =>
      r -> Multimodal.imageFeatStub(r, Array.emptyByteArray).ahash).toMap
    val ks = sig.keys.toSeq.sorted
    val brute = (for {
      a <- ks; b <- ks if a < b
      hd = java.lang.Long.bitCount(sig(a) ^ sig(b)) if hd <= 7
    } yield (a, b, hd)).toSet
    assert(out === brute)
    assert(brute.nonEmpty, "variant re-encodes should land within hamming 7")
    // near-dup pairs only ever form within one image group
    def group(r: String): String = r.stripPrefix("img://").takeWhile(_ != '/')
    brute.foreach { case (a, b, _) => assert(group(a) === group(b)) }
  }

  // ---- hyperplaneBandingAudit ----

  test("hyperplaneBandingAudit matches a brute-force reference on jittered vectors") {
    import spark.implicits._
    val dim = 8
    val vecs: Seq[(Long, Array[Double])] = (0 until 20).map { i =>
      val base = (0 until dim).map(d => math.sin((i / 2) * 7.0 + d))
      val v = if (i % 2 == 1) base.map(_ + 0.01 * (i % 5)) else base
      (i.toLong, v.toArray)
    }
    val configs = Seq((2, 4), (4, 2))
    val out = Dedup.hyperplaneBandingAudit(vecs.toDF("vec_id", "embedding"),
        dim = dim, configs = configs, tau = 0.8)
      .orderBy("tables").collect()
    // brute force with the exact expression semantics: left-to-right
    // dot per plane, '1' iff > 0; cosine = dot / (sqrt(nx)*sqrt(ny))
    def sig(v: Array[Double], signs: Seq[Seq[Double]]): String =
      signs.map { plane =>
        var dot = 0.0; var d = 0
        while (d < dim) { dot += v(d) * plane(d); d += 1 }
        if (dot > 0) "1" else "0"
      }.mkString
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < dim) { dot += a(i) * b(i); nx += a(i) * a(i); ny += b(i) * b(i); i += 1 }
      BigDecimal(dot / (math.sqrt(nx) * math.sqrt(ny)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val sigsByCfg = configs.zipWithIndex.map { case ((tbls, planes), ci) =>
      vecs.map { case (id, v) =>
        id -> (0 until tbls).map(t => sig(v,
          Dedup.hyperplaneSigns(dim, planes, Dedup.tableSeed(42L, ci * 16 + t))))
      }.toMap
    }
    val byId = vecs.toMap
    val pairs = for { a <- vecs.map(_._1); b <- vecs.map(_._1) if a < b } yield (a, b)
    configs.zipWithIndex.foreach { case ((tbls, planes), ci) =>
      val row = out(ci)
      assert(row.getInt(0) === tbls && row.getInt(1) === planes)
      val truth = pairs.count { case (a, b) => cos6(byId(a), byId(b)) >= 0.8 }.toLong
      val cand = pairs.count { case (a, b) =>
        (0 until tbls).exists(t => sigsByCfg(ci)(a)(t) == sigsByCfg(ci)(b)(t)) }.toLong
      val tp = pairs.count { case (a, b) =>
        cos6(byId(a), byId(b)) >= 0.8 &&
          (0 until tbls).exists(t => sigsByCfg(ci)(a)(t) == sigsByCfg(ci)(b)(t)) }.toLong
      assert(row.getAs[Long]("n_truth") === truth, s"n_truth at $tbls x $planes")
      assert(row.getAs[Long]("n_candidates") === cand, s"n_candidates at $tbls x $planes")
      assert(row.getAs[Long]("tp") === tp, s"tp at $tbls x $planes")
    }
    // jittered even/odd twins must put SOME pairs in truth
    assert(out.head.getAs[Long]("n_truth") > 0L)
  }
}
