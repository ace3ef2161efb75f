package graft.datatools

import graft.functions.UrlFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (100 TB): no O(n²) anywhere —
  *   - exact: hash-groupBy (one shuffle on the fingerprint);
  *   - n-gram Jaccard: shingle inverted index self-join with a
  *     document-frequency cap on shingles (hot-shingle skew defused by
  *     dropping shingles that appear in > dfCap docs — standard
  *     suffix-array-free candidate generation);
  *   - MinHash LSH: signature → bands → bucket groupBy; pairs only form
  *     inside a bucket;
  *   - SimHash: 16-bit band blocking on the 64-bit signature;
  *   - embedding near-dup: hyperplane-LSH bucketing, pairs within bucket.
  * Every candidate pair is verified exactly before being reported
  * (LSH/sketches generate candidates, never verdicts — same discipline
  * as the URL-seen bloom layer).
  */
object Dedup {

  /** Word shingles (k-grams of tokens): distinct in first-occurrence
    * order over the whitespace-normalized text. One-pass UDF — the
    * equivalent transform/sequence/slice higher-order expression tree
    * is interpreted per element and benchmarks 10-14× slower.
    *
    * Tokenization trims ONLY regex-`\s` whitespace (space-only trim
    * after the `\s+` collapse) — canonical semantics shared with the
    * native [[graft.functions.MinHashExprs]] expressions AND the DuckDB
    * oracle (`trim(regexp_replace(..., '\s+', ' ', 'g'))`; DuckDB trim
    * strips spaces only). `String.trim`, which the earlier twin used,
    * would also strip C0 control chars ≤ U+0020 (e.g. ``) that
    * none of the other two engines strip — MinHashParitySpec pins the
    * control-char cases.
    */
  def shingles(text: Column, k: Int): Column = {
    val f = udf { (t: String) =>
      var norm = WsRun.matcher(t.toLowerCase).replaceAll(" ")
      if (norm.startsWith(" ")) norm = norm.substring(1)
      if (norm.endsWith(" ")) norm = norm.substring(0, norm.length - 1)
      val toks = norm.split(" ")
      val out = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + k <= toks.length) {
        if (k == 1) out.add(toks(i))
        else {
          val sb = new StringBuilder(toks(i))
          var j = 1
          while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
          out.add(sb.toString)
        }
        i += 1
      }
      out.toArray(new Array[String](out.size)): Seq[String]
    }
    f(text)
  }

  /** Exact dedup: group identical normalized texts; emit one keeper
    * (min doc_id) + the duplicate count. One shuffle on md5.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(TextAnalysis.fingerprintMd5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_dups"))

  /** Exact n-gram Jaccard pairs ≥ threshold via a PREFIX-FILTERED
    * shingle inverted index (AllPairs/PPJoin family, Bayardo et al.
    * WWW'07 / Xiao et al. WWW'08): order every document's shingles by a
    * global (df ASC, shingle) rank and index only its first
    * `|s| - ⌈t·|s|⌉ + 1` shingles — two sets with Jaccard ≥ t MUST
    * collide inside those prefixes, so candidate generation shrinks by
    * ~(1-t)² while the result stays EXACT (every candidate pair is
    * verified on the full sets). This is what keeps the exact baseline
    * usable when word-salad corpora make every common shingle a hot
    * key.
    *
    * `dfCap` is an APPROXIMATION knob, off by default: capping drops
    * shingles that appear in more than dfCap docs from the index, which
    * can miss a qualifying pair whose shared prefix shingles are all
    * hot (degenerate corpora made of everywhere-shingles). Leave it at
    * the default for exact results; set it only as an adversarial-skew
    * escape hatch, accepting the documented recall loss.
    */
  def ngramJaccardPairs(docs: DataFrame, k: Int, threshold: Double,
                        dfCap: Int = Int.MaxValue,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // small-file sources arrive as one partition; shingle construction
    // is the heavy narrow stage, so spread it first. Shingles come from
    // the native codegen expression (byte-level, no per-shingle String);
    // MinHashParitySpec pins it to the UDF twin.
    val withSh = docs.repartition(col(idCol)).select(col(idCol).as("id"),
      graft.functions.MinHashExprs.shinglesCol(col(textCol), k).as("sh"))
      .withColumn("set_size", size(col("sh")))
      .filter(col("set_size") > 0)
      .persist()
    val exploded = withSh.select(col("id"), col("set_size"), explode(col("sh")).as("shingle"))
    val dfCounts = exploded.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
    // global prefix order: rarest shingles first (df ASC, shingle) —
    // both documents of any qualifying pair agree on this ranking
    val ranked = exploded.join(dfCounts, "shingle")
      .withColumn("rank_in_doc", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("shingle"))))
      .withColumn("prefix_len",
        col("set_size") - ceil(col("set_size") * threshold).cast("int") + 1)
      .filter(col("rank_in_doc") <= col("prefix_len"))
      .select("id", "shingle")
    val candidates = ranked.as("a").join(ranked.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    verifyJaccard(candidates, withSh.select(col("id"), col("sh")), threshold)
  }

  /** CONTAINMENT near-dup pairs — Broder's other similarity: c(A,B) =
    * |A∩B| / min(|A|,|B|). Resemblance (Jaccard, [[ngramJaccardPairs]])
    * misses the quote-inclusion case — a long doc that swallows a short
    * doc whole scores low Jaccard but containment ≈ 1 — which is
    * exactly the duplication mode of aggregator/boilerplate pages.
    * Gram universe: distinct md5 fingerprints of `n`-token sliding
    * windows, RESTRICTED to grams appearing in ≤ `maxDf` docs — the cap
    * is part of the operator's definition (boilerplate n-grams carried
    * by thousands of docs should not drive containment) and what bounds
    * the candidate join's fanout at ≤ maxDf²/2 pairs per gram.
    *
    * Scale shape: grams are md5-fingerprinted BEFORE any shuffle (the
    * q54 convention — 32 hex chars move, never text); the df filter and
    * the self-join share one exchange on the gram key; pair counts are
    * a partial agg on (id_a, id_b); set sizes join back as two ints.
    * Text is read exactly once, in the gram projection.
    *
    * The df-capped gram table is `persist()`ed (three consumers: the
    * size agg and both self-join sides) and rides under the returned
    * lazy frame; callers release it after consuming the result
    * (`spark.catalog.clearCache()`, as Verify/Bench do per query).
    */
  def containmentPairs(docs: DataFrame, n: Int = 4, threshold: Double = 0.8,
                       maxDf: Int = 50, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(n >= 1 && maxDf >= 2 && threshold > 0.0)
    val spark = docs.sparkSession
    import spark.implicits._
    val grams = docs
      .select(col(idCol).as("id"), split(trim(col(textCol)), "\\s+").as("l"))
      .filter(trim(col(textCol)) =!= "" && size(col("l")) >= n)
      .select(col("id"), explode(array_distinct(expr(
        s"transform(sequence(0, size(l) - $n), i -> md5(concat_ws(' ', slice(l, i + 1, $n))))"))).as("f"))
    // POSTING-LIST form: ONE exchange on the gram key collapses the
    // stream into bounded per-gram id lists (the q81 [[InvertedIndex
    // .TopKPostings]] aggregator at cap maxDf + 1: ≤ maxDf + 1 ids ever
    // leave a map task per gram, and a df ≤ maxDf gram retains its
    // COMPLETE ascending id list, since tf is uniformly 1 and the
    // aggregator's (tf desc, id asc) order degenerates to id asc). The
    // ordered-pair fan-out is an in-row lambda over the ≤ maxDf-long
    // arrays (the coCitation shape). The former shape shuffled the
    // gram stream three times — df agg, cap join, self-equi-join —
    // and computed the gram projection twice (guide §2.4: remove
    // shuffles outright).
    val posts = grams
      .select(col("f").as("token"), col("id").as("doc_id"), lit(1L).as("tf"))
      .as[InvertedIndex.Posting]
      .groupByKey(_.token)
      .agg(new InvertedIndex.TopKPostings(maxDf + 1).toColumn.name("b"))
      .select(col("b.df").as("df"), col("b.ids").as("ids"))
      .filter(col("df") <= maxDf)
      .persist()
    val sizes = posts.select(explode(col("ids")).as("id"))
      .groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = posts.filter(size(col("ids")) >= 2)
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids) - i - 1),
          |            y -> named_struct('a', x, 'b', y))))""".stripMargin)).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("containment", round(col("inter").cast("double") /
        least(col("sz_a"), col("sz_b")).cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** EXACT repeated-substring spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * pass): every `windowTokens`-token window is fingerprinted; a
    * window whose fingerprint occurs ≥ `minCount` times CORPUS-WIDE
    * (same doc or not — self-repetition is duplication too) marks its
    * token interval [pos, pos+L) as repeated; per doc, overlapping and
    * adjacent marked intervals merge into MAXIMAL repeated spans
    * (gaps-and-islands over the position order). Any repeat of length
    * ≥ L tokens contains a repeated L-window at every offset, so the
    * merged spans are exactly the ≥L-token repeated regions — the
    * suffix-array result, without the suffix array.
    *
    * Scale shape (100 TB): windows ≈ token count, so the fingerprint
    * count is one wordcount-shaped shuffle of 8-byte keys (md5-48, not
    * the window text); only REPEATED windows (a small fraction of a
    * healthy corpus) flow into the per-doc island pass, whose sort is
    * per-doc-sized. Nothing is quadratic; the doc bodies are read once.
    */
  def repeatedWindowSpans(docs: DataFrame, windowTokens: Int = 8, minCount: Int = 2,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(windowTokens >= 1 && minCount >= 2,
      "need windowTokens >= 1 and minCount >= 2")
    val L = windowTokens
    val base = docs.select(col(idCol).as("id"),
        filter(split(trim(col(textCol)), "\\s+"), x => x =!= "").as("l"))
      .select(col("id"), col("l"), size(col("l")).cast("long").as("n_tokens"))
    val wins = base.filter(col("n_tokens") >= L)
      .select(col("id"),
        posexplode(transform(sequence(lit(0), size(col("l")) - L),
          i => graft.functions.MinHashExprs.md5Low48Col(
            concat_ws(" ", slice(col("l"), i + 1, lit(L))))))
          .as(Seq("pos", "fp")))
    val repeatedFps = wins.groupBy("fp").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount).select("fp")
    val marked = wins.join(repeatedFps, Seq("fp")).select("id", "pos")
    // gaps-and-islands: a window starts a new span iff its start lies
    // beyond every earlier window's end (running max over pos order)
    val w = Window.partitionBy("id").orderBy("pos")
    val islands = marked
      .withColumn("prev_end", max(col("pos") + L)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_new",
        when(col("pos") > coalesce(col("prev_end"), lit(-1L)), 1L).otherwise(0L))
      .withColumn("island", sum(col("is_new")).over(w))
      .groupBy(col("id"), col("island"))
      .agg(count(lit(1)).as("win_cnt"),
        (max(col("pos")) + L - min(col("pos"))).cast("long").as("span_len"))
    val perDoc = islands.groupBy("id").agg(
      sum(col("win_cnt")).as("repeated_windows"),
      count(lit(1)).as("n_spans"),
      sum(col("span_len")).as("repeated_tokens"))
    base.select(col("id"), col("n_tokens"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(col("repeated_windows"), lit(0L)).as("repeated_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("repeated_tokens"), lit(0L)).as("repeated_tokens"))
      .withColumn("repeated_ppm",
        expr("CASE WHEN n_tokens > 0 THEN (repeated_tokens * 1000000) DIV n_tokens ELSE 0 END"))
  }

  /** Exact-Jaccard verification of candidate pairs, with a SIZE
    * prefilter so the heavy shingle arrays only ship for pairs that can
    * possibly qualify: J(A,B) ≤ min/max, so `min ≥ t·max` is necessary.
    * The size join moves two ints per pair; the array join that follows
    * only sees the survivors.
    */
  /** Exact-Jaccard verification of candidate pairs against shingle
    * sets. `presized = true` skips the size-bound prefilter for callers
    * that already applied it on index metadata (the incremental path) —
    * the bound can never change the result, only save the heavy joins.
    */
  private def verifyJaccard(candidates: DataFrame, sets: DataFrame, threshold: Double,
                            presized: Boolean = false): DataFrame = {
    val sized = if (presized) candidates.select("id_a", "id_b") else {
      val sizes = sets.select(col("id"), size(col("sh")).as("sz"))
      candidates
        .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
          lit(threshold) * greatest(col("sz_a"), col("sz_b")))
        .select("id_a", "id_b")
    }
    sized
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // -----------------------------------------------------------------
  // MinHash + LSH
  // -----------------------------------------------------------------
  // 2^31-1: with 32-bit murmur inputs reduced mod p, a*h+b stays well
  // under 2^63 (ANSI mode would reject a 2^61 prime's overflow).
  private val MersennePrime = (1L << 31) - 1

  /** Deterministic permutation parameters (a_i, b_i) seeded. */
  def permutations(num: Int, seed: Long): Seq[(Long, Long)] =
    (0 until num).map { i =>
      val a = math.abs(graft.frontier.CuckooFilter.mix(seed + 2L * i)) % (MersennePrime - 1) + 1
      val b = math.abs(graft.frontier.CuckooFilter.mix(seed + 2L * i + 1)) % MersennePrime
      (a, b)
    }

  /** MinHash signature in one fused pass: murmur3 each shingle (exact
    * Spark-hash parity via UrlFunctions.murmur3), then all permutation
    * minima together. The expression-tree version (64 interpreted
    * `aggregate` folds over the shingle array) costs ~10× more; the
    * sketch is verified against exact Jaccard, so the oracle contract
    * is untouched.
    */
  def minhashSignature(shArr: Column, perms: Seq[(Long, Long)]): Column = {
    val pArr = perms.toArray
    val sig = udf { (sh: Seq[String]) =>
      val mins = Array.fill(pArr.length)(Long.MaxValue)
      sh.foreach { s =>
        val h = Math.floorMod(UrlFunctions.murmur3(s).toLong, MersennePrime)
        var i = 0
        while (i < pArr.length) {
          val (a, b) = pArr(i)
          val v = Math.floorMod(h * a + b, MersennePrime)
          if (v < mins(i)) mins(i) = v
          i += 1
        }
        ()
      }
      mins
    }
    sig(shArr)
  }

  /** (id, band, bucket) rows from (id, sig): band b's bucket is the
    * hash of the signature slice [b·r+1, b·r+r], salted by the band
    * index so identical slices in different bands never collide.
    */
  private def bandBuckets(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * rowsPerBand + lit(1), lit(rowsPerBand)), b))).as(Seq("band", "bucket")))
      .select("id", "band", "bucket")

  /** MinHash LSH near-dup pairs, exact-Jaccard-verified.
    * numHashes = bands × rowsPerBand.
    */
  def minhashLshPairs(docs: DataFrame, k: Int, threshold: Double,
                      bands: Int = 16, rowsPerBand: Int = 4, seed: Long = 42L,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val perms = permutations(bands * rowsPerBand, seed)
    // sh (for the exact verify) and sig both come from native codegen
    // expressions — one fused byte-level pass each, no UDF serde, no
    // per-shingle String churn (MinHashParitySpec pins both to the UDF
    // twins the q25 oracle was originally hashed against)
    val withSig = docs.repartition(col(idCol))
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("sh", graft.functions.MinHashExprs.shinglesCol(col("text"), k))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", graft.functions.MinHashExprs.signatureCol(col("text"), k, perms))
      .select("id", "sh", "sig")
      .persist()
    // band buckets: (band_idx, hash(slice of sig)) → ids
    val banded = bandBuckets(withSig.select("id", "sig"), bands, rowsPerBand)
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    // exact verification (sketches propose, exactness disposes), sizes
    // prefiltered so shingle arrays only ship for plausible pairs
    verifyJaccard(candidates, withSig.select(col("id"), col("sh")), threshold)
  }

  /** MinHash signature index rows — (id, sz, sig): the persisted state
    * an INCREMENTAL pipeline carries between snapshots, ~8 + 8·numHashes
    * bytes per doc (≈0.1% of a 500 KB document). Text and shingles stay
    * in the corpus table; the index alone drives candidate generation
    * AND the size prefilter, so corpus text is fetched only for
    * candidate ids ([[minhashIncrementalPairs]]).
    */
  def minhashIndex(docs: DataFrame, k: Int,
                   bands: Int = 16, rowsPerBand: Int = 4, seed: Long = 42L,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val perms = permutations(bands * rowsPerBand, seed)
    docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("sz", size(graft.functions.MinHashExprs.shinglesCol(col("text"), k)))
      .filter(col("sz") > 0)
      .withColumn("sig", graft.functions.MinHashExprs.signatureCol(col("text"), k, perms))
      .select("id", "sz", "sig")
  }

  /** INCREMENTAL MinHash near-dup: all near-dup pairs with at least one
    * side in `delta`, against a corpus represented by its signature
    * index — corpus signatures are never recomputed. This is the shape
    * a 100-TB training pipeline actually runs: each crawl snapshot's
    * new batch dedups against the accumulated corpus by reading the
    * ~1000×-smaller index table (see the SnapshotStore round-trip in
    * IncrementalDedupSpec), then appends its own [[minhashIndex]] rows
    * for the next batch.
    *
    * Scale path, in order: (1) delta signatures computed fresh (one
    * codegen pass over the small batch); (2) candidates form only
    * inside (band, bucket) groups between delta and index ∪ delta —
    * same banding as [[minhashLshPairs]], so the captured pair set is
    * the full-LSH one restricted to delta-involving pairs; (3) the
    * Jaccard size bound runs on index metadata BEFORE any corpus text
    * moves; (4) exact verification re-shingles only candidate corpus
    * docs (left-semi pushdown on the corpus table).
    *
    * `delta` ids must be disjoint from index ids (it is the new batch).
    */
  def minhashIncrementalPairs(delta: DataFrame, corpus: DataFrame, index: DataFrame,
                              k: Int, threshold: Double,
                              bands: Int = 16, rowsPerBand: Int = 4, seed: Long = 42L,
                              idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    minhashIncrementalPairsWithCaches(delta, corpus, index, k, threshold,
      bands, rowsPerBand, seed, idCol, textCol) match { case (pairs, _, _) => pairs }

  /** As [[minhashIncrementalPairs]], additionally returning (2) the
    * delta's own [[minhashIndex]] rows — computed from the cached
    * signature pass, so callers appending the index (the per-round
    * crawl stage) don't re-run it — and (3) the frames it cached
    * (delta signatures, plausible candidates) so loop-style callers
    * can unpersist them after materializing both results; one-shot
    * queries may drop the handles (session LRU reclaims them, the
    * [[minhashLshPairs]] pattern).
    */
  def minhashIncrementalPairsWithCaches(
      delta: DataFrame, corpus: DataFrame, index: DataFrame,
      k: Int, threshold: Double,
      bands: Int = 16, rowsPerBand: Int = 4, seed: Long = 42L,
      idCol: String = "doc_id", textCol: String = "text")
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    val perms = permutations(bands * rowsPerBand, seed)
    val deltaSig = delta.repartition(col(idCol))
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("sh", graft.functions.MinHashExprs.shinglesCol(col("text"), k))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", graft.functions.MinHashExprs.signatureCol(col("text"), k, perms))
      .persist()
    val deltaBanded = bandBuckets(deltaSig.select("id", "sig"), bands, rowsPerBand)
    val allBanded = bandBuckets(index.select("id", "sig"), bands, rowsPerBand)
      .unionByName(deltaBanded)
    // normalized pairs (id_a < id_b); a delta×delta collision arrives
    // once from each side — distinct collapses it
    val candidates = deltaBanded.as("d").join(allBanded.as("o"),
        col("d.band") === col("o.band") && col("d.bucket") === col("o.bucket") &&
          col("d.id") =!= col("o.id"))
      .select(least(col("d.id"), col("o.id")).as("id_a"),
        greatest(col("d.id"), col("o.id")).as("id_b")).distinct()
    // size plausibility from index metadata + delta sizes — kills the
    // bulk of false candidates without touching corpus text
    val sizes = index.select(col("id"), col("sz"))
      .unionByName(deltaSig.select(col("id"), size(col("sh")).as("sz")))
    // persisted: referenced by the candidate-id fetch AND the verify
    // joins — without the cache the banding joins re-run per reference
    // (candidate sets are sketch-bounded, so the cache is tiny)
    val plausible = candidates
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")))
      .select("id_a", "id_b")
      .persist()
    // corpus text only for surviving candidate ids (left-semi pushdown
    // at the parquet scan; at 100 TB this is the difference between
    // reading the corpus and reading a few thousand rows of it)
    val candIds = plausible
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val corpusSh = corpus.select(col(idCol).as("id"), col(textCol).as("text"))
      .join(candIds, Seq("id"), "left_semi")
      .withColumn("sh", graft.functions.MinHashExprs.shinglesCol(col("text"), k))
      .select("id", "sh")
    // presized: the Jaccard size bound already ran on index metadata
    // above — re-deriving it from the re-shingled sets would pay two
    // extra joins for a filter that cannot fire again
    (verifyJaccard(plausible, corpusSh.unionByName(deltaSig.select("id", "sh")), threshold,
      presized = true),
      deltaSig.select(col("id"), size(col("sh")).as("sz"), col("sig")),
      Seq(deltaSig, plausible))
  }

  // -----------------------------------------------------------------
  // SimHash
  // -----------------------------------------------------------------

  /** 64-bit SimHash of the token multiset. Token hash is
    * [[TextAnalysis.md5Lower64]] (= DuckDB `md5_number_lower`) so the
    * whole signature — and therefore the banding and hamming joins —
    * has an exact ANSI-SQL oracle twin (q26).
    */
  private val WsRun = java.util.regex.Pattern.compile("\\s+")

  def simhash64(text: String): Long = {
    // single-pass tokenizer, same token list as the spec's
    // lowercase → collapse-whitespace → trim → split(" ") → nonEmpty
    val toks = WsRun.split(text.toLowerCase).filter(_.nonEmpty)
    if (toks.isEmpty) return 0L
    val acc = new Array[Int](64)
    toks.foreach { t =>
      val h = TextAnalysis.md5Lower64(t)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) acc(bit) += 1 else acc(bit) -= 1
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (acc(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  /** SimHash near-dup pairs: band blocking on the 64-bit signature,
    * hamming ≤ maxDist verified via bit_count(xor).
    *
    * Banding is PARAMETERIZED (`bands` × `bitsPerBand` ≤ 64 bits): the
    * round-2 default 4×16 guarantees recall only for hamming ≤ 3 and
    * its 65 536 buckets saturate around 10⁹ docs (~15k docs/bucket →
    * ~10⁸ candidate pairs per bucket family). At larger corpora either
    * widen the bands (fewer, bigger buckets per band is WRONG —
    * fewer BITS means fewer buckets; you want MORE bits per band, e.g.
    * 2×32, so buckets stay sparse) and recover recall with
    * `probeRadius ∈ {1, 2}` (each doc also probes every ≤radius-bit
    * flip of its band value — pigeonhole guarantees recall for hamming
    * ≤ bands·(probeRadius+1)−1, so 2×32 radius-2 covers hamming ≤ 5),
    * or raise `bands` when the distance budget needs it (8×8 guarantees
    * hamming ≤ 7 with no probing). Candidates only ever form inside
    * (band, bucket) groups.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3,
                   bands: Int = 4, bitsPerBand: Int = 16, probeRadius: Int = 0,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // native codegen signature (fused tokenize+md5+fold; the scalar-UDF
    // twin [[simhash64]] it replaced stays as the parity anchor the
    // q26/q37 oracles were verified against — MinHashParitySpec pins
    // expression↔UDF equality)
    val withSig = docs.select(col(idCol).as("id"),
      graft.functions.MinHashExprs.simhashCol(col(textCol)).as("sig"))
    sigBandPairs(withSig, maxDist, bands, bitsPerBand, probeRadius)
  }

  /** Banded near-dup pairs over an arbitrary 64-bit signature frame
    * `(id, sig)` — the (band, bucket) candidate machinery shared by the
    * text path ([[simhashPairs]]) and the image perceptual-hash path
    * ([[Multimodal.imageNearDup]]). Same contract: pairs with hamming
    * ≤ `maxDist`, candidates only ever form inside (band, bucket)
    * groups, optional radius-≤2 multi-probe.
    */
  def sigBandPairs(withSig: DataFrame, maxDist: Int,
                   bands: Int, bitsPerBand: Int, probeRadius: Int = 0): DataFrame = {
    requireBanding(bands, bitsPerBand, probeRadius)
    val exact = bandedBuckets(withSig, bands, bitsPerBand)
    val joined =
      if (probeRadius == 0)
        exact.as("a").join(exact.as("b"),
            col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
              col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      else {
        // multi-probe: the probe side also emits every ≤probeRadius-bit
        // flip of its band value; a flip meets the partner's exact
        // bucket whenever the within-band hamming is ≤ probeRadius.
        // Asymmetric join + least/greatest keeps each unordered pair
        // once. Probe amplification is 1 + b + C(b,2) rows per (doc,
        // band) — at 2×32 radius 2 that is 529×, the honest algorithmic
        // cost of guaranteeing hamming ≤ bands·3−1 at extreme banding.
        val probe = probed(exact, bitsPerBand, probeRadius)
        probe.as("a").join(exact.as("b"),
            col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
              col("a.id") =!= col("b.id"))
          .select(least(col("a.id"), col("b.id")).as("id_a"),
            greatest(col("a.id"), col("b.id")).as("id_b"),
            col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      }
    joined.withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming").distinct()
  }

  // ---- shared banding machinery (self-join AND incremental paths) ----

  private def requireBanding(bands: Int, bitsPerBand: Int, probeRadius: Int): Unit = {
    require(bands > 0 && bitsPerBand > 0 && bands * bitsPerBand <= 64,
      s"banding must fit the 64-bit signature: $bands x $bitsPerBand")
    require(probeRadius >= 0 && probeRadius <= 2, "probeRadius ∈ {0, 1, 2}")
  }

  /** (id, sig) → one (id, sig, band, bucket) row per band. */
  private def bandedBuckets(sigs: DataFrame, bands: Int, bitsPerBand: Int): DataFrame = {
    val mask = if (bitsPerBand == 64) -1L else (1L << bitsPerBand) - 1
    sigs.select(col("id"), col("sig"),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("sig"), b * bitsPerBand).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bucket")))
  }

  /** Every ≤probeRadius-bit XOR flip of a band value (incl. identity). */
  private def probeMasksFor(bitsPerBand: Int, probeRadius: Int): Seq[Long] =
    Seq(0L) ++
      (if (probeRadius < 1) Nil else (0 until bitsPerBand).map(i => 1L << i)) ++
      (if (probeRadius < 2) Nil
       else for { i <- 0 until bitsPerBand; j <- i + 1 until bitsPerBand }
         yield (1L << i) | (1L << j))

  /** Expand a banded frame to its multi-probe bucket set. */
  private def probed(banded: DataFrame, bitsPerBand: Int, probeRadius: Int): DataFrame =
    if (probeRadius == 0) banded
    else banded.select(col("id"), col("sig"), col("band"),
      explode(array(probeMasksFor(bitsPerBand, probeRadius)
        .map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))

  /** SimHash signature index — (id, sig): 8 bytes per doc, the
    * cheapest incremental-dedup state of any sketch family, because
    * verification needs only the signatures (hamming distance) — no
    * document text is ever re-read.
    */
  def simhashIndex(docs: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.functions.MinHashExprs.simhashCol(col(textCol)).as("sig"))

  /** INCREMENTAL SimHash near-dup: all pairs within `maxDist` hamming
    * with at least one side in `delta`, against a corpus represented
    * ONLY by its (id, sig) [[simhashIndex]] — the captured pair set is
    * [[simhashPairs]] over delta ∪ corpus restricted to delta-involving
    * pairs (same banding, same multi-probe; only the delta side
    * probes, which reaches every within-radius index bucket exactly as
    * the symmetric self-join does). `delta` ids must be disjoint from
    * index ids (it is the new batch).
    */
  def simhashIncrementalPairs(delta: DataFrame, index: DataFrame, maxDist: Int = 3,
                              bands: Int = 4, bitsPerBand: Int = 16, probeRadius: Int = 0,
                              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    requireBanding(bands, bitsPerBand, probeRadius)
    val deltaSigs = simhashIndex(delta, idCol, textCol)
    val exact = bandedBuckets(index.select("id", "sig").unionByName(deltaSigs),
      bands, bitsPerBand)
    val probe = probed(bandedBuckets(deltaSigs, bands, bitsPerBand),
      bitsPerBand, probeRadius)
    probe.as("a").join(exact.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** SimHash BANDING-PARAMETER AUDIT: for each candidate (bands,
    * bitsPerBand) config, measure recall and precision of the band
    * join against exact hamming ground truth — the tuning pass a team
    * runs on a SAMPLE before committing a banding to a 100-TB dedup
    * (recall is the fraction of true ≤maxDist pairs the banding would
    * surface; precision is the fraction of surfaced candidates that
    * verify, i.e. the wasted-verify cost of a too-coarse banding).
    *
    * Ground truth needs every pair's hamming BY DEFINITION, so the
    * input must be a sample (the all-pairs frame is |docs|²/2 rows of
    * 17 bytes — 10⁵ docs ≈ 85 GB, the practical ceiling). Candidacy
    * per config is a pure bit predicate on the signature pair — ∃band:
    * equal masked slices — so the audit is ONE cross join + one
    * aggregation pass per config over the persisted pair frame: no
    * per-config shuffle, no bucket explode at all.
    */
  def simhashBandingAudit(docs: DataFrame, maxDist: Int = 3,
                          configs: Seq[(Int, Int)] = Seq((2, 32), (4, 16), (8, 8)),
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    sigBandingAudit(
      docs.select(col(idCol).as("id"),
        graft.functions.MinHashExprs.simhashCol(col(textCol)).as("sig")),
      maxDist, configs)

  /** The banding audit over an ARBITRARY 64-bit signature frame
    * `(id, sig)` — the audit core [[simhashBandingAudit]] (q110) and
    * the image aHash audit ([[Multimodal.imageBandingAudit]], q121)
    * share, exactly as [[sigBandPairs]] is the shared production path:
    * the sketch is per-modality, the candidate machinery and its
    * tuning operator are not. Same contract: sample-scale quadratic BY
    * DESIGN (exact hamming ground truth), one persisted all-pairs
    * frame, per-config candidacy as pure bit predicates.
    */
  def sigBandingAudit(sigs: DataFrame, maxDist: Int,
                      configs: Seq[(Int, Int)]): DataFrame = {
    require(configs.nonEmpty, "need at least one banding config")
    configs.foreach { case (b, w) =>
      require(b > 0 && w > 0 && b * w <= 64,
        s"banding must fit the 64-bit signature: $b x $w") }
    // small-file corpora arrive as ONE partition; the all-pairs BNL
    // join inherits the left side's partitioning, so without a spread
    // the whole quadratic audit runs on a single task (measured 170 s
    // vs ~2 s at sf0.1). Same medicine as ngramJaccardPairs.
    val withSig = sigs.repartition(col("id")).select(col("id"), col("sig"))
    // ∃ band with equal masked slices — sign extension is irrelevant
    // under the mask, but shiftrightunsigned matches the UBIGINT twin.
    // Every config's candidacy is a pure bit predicate, so ALL configs'
    // counters fold in ONE STREAMING aggregation over the BNL join —
    // the pair frame is never materialized (was: persist ~12.5M rows at
    // sf0.1 + one re-scan per config; guide §2.3/§1.2)
    val candCols = configs.zipWithIndex.map { case ((bands, w), ci) =>
      val mask = if (w == 64) -1L else (1L << w) - 1
      (0 until bands).map { b =>
        shiftrightunsigned(col("a.sig"), b * w).bitwiseAND(lit(mask)) ===
          shiftrightunsigned(col("b.sig"), b * w).bitwiseAND(lit(mask))
      }.reduce(_ || _).as(s"cand$ci")
    }
    val pairsAll = withSig.as("a").join(withSig.as("b"), col("a.id") < col("b.id"))
      .select(bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hd") +: candCols: _*)
    auditRows(pairsAll, col("hd") <= maxDist, configs,
      keyNames = ("bands", "bits_per_band"))
  }

  /** Shared one-pass audit fold: a per-pair frame carrying the truth
    * determinant plus one boolean `cand<i>` column per config collapses
    * to every config's (n_truth, n_candidates, tp) in a SINGLE global
    * aggregation, then explodes to one labeled row per config with the
    * ppm quality columns. Empty pair frames yield all-zero rows (the
    * pre-restructure coalesce contract).
    */
  private def auditRows(pairs: DataFrame, truth: Column,
                        configs: Seq[(Int, Int)],
                        keyNames: (String, String)): DataFrame = {
    val aggCols = sum(when(truth, 1L).otherwise(0L)).as("n_truth") +:
      configs.indices.flatMap(ci => Seq(
        sum(when(col(s"cand$ci"), 1L).otherwise(0L)).as(s"nc$ci"),
        sum(when(col(s"cand$ci") && truth, 1L).otherwise(0L)).as(s"tp$ci")))
    auditShape(pairs.agg(aggCols.head, aggCols.tail: _*), configs, keyNames)
  }

  /** The audit output shaping shared by [[auditRows]] and the split-
    * aggregation path of [[minhashBandingAudit]]: a 1-row counts frame
    * (`n_truth`, `nc<i>`, `tp<i>`) explodes to one labeled row per
    * config with the ppm quality columns.
    */
  private def auditShape(counts: DataFrame, configs: Seq[(Int, Int)],
                         keyNames: (String, String)): DataFrame = {
    counts.select(explode(array(configs.zipWithIndex.map { case ((k1, k2), ci) =>
        struct(lit(k1).as(keyNames._1), lit(k2).as(keyNames._2),
          coalesce(col("n_truth"), lit(0L)).as("n_truth"),
          coalesce(col(s"nc$ci"), lit(0L)).as("n_candidates"),
          coalesce(col(s"tp$ci"), lit(0L)).as("tp"))
      }: _*)).as("r"))
      .select("r.*")
      .select(col(keyNames._1), col(keyNames._2),
        col("n_truth"), col("n_candidates"), col("tp"),
        expr("CASE WHEN n_truth > 0 THEN (tp * 1000000) DIV n_truth ELSE 0 END")
          .as("recall_ppm"),
        expr("CASE WHEN n_candidates > 0 THEN (tp * 1000000) DIV n_candidates ELSE 0 END")
          .as("precision_ppm"))
  }

  /** Banding-parameter audit for the MinHash family — the q110
    * (SimHash) audit's sibling, so BOTH sketch families get their
    * parameters tuned against exact ground truth before a banding is
    * committed at scale. Uses the salted-min md5-48 slot construction
    * ([[setResemblance]]'s, which has an exact DuckDB twin — the
    * murmur3 production signature of [[minhashSignature]] audits
    * identically but is not oracle-replayable): ONE `slots`-wide
    * signature per doc over its k-gram shingle set, and each
    * `(bands, rowsPerBand)` config (bands·rowsPerBand = slots) is
    * evaluated as a pure slot-equality predicate over the SAME persisted
    * all-pairs frame — no bucket explode, no per-config join, no second
    * text pass. Ground truth = exact shingle-set Jaccard ≥ `tauPpm`
    * (Jaccard in parts per million; intersections via one shingle-keyed
    * equi-join). `tauPpm` must be positive: truth pairs then share at
    * least one shingle, and disjoint pairs (Jaccard 0) are never truth.
    *
    * Like the SimHash audit this is the TUNING operator, deliberately
    * quadratic in its input: run it on a hash-sampled slice; the
    * winning config parameterizes the production band-bucket path
    * ([[minhashLshPairs]]), which never generates all pairs.
    */
  def minhashBandingAudit(docs: DataFrame, slots: Int = 12,
                          configs: Seq[(Int, Int)] = Seq((2, 6), (3, 4), (6, 2)),
                          tauPpm: Long = 500000L, k: Int = 2,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(configs.nonEmpty, "need at least one banding config")
    configs.foreach { case (b, r) =>
      require(b > 0 && r > 0 && b * r == slots,
        s"bands x rowsPerBand must equal slots=$slots: $b x $r") }
    require(tauPpm > 0, "tauPpm must be positive (jppm = 0 pairs are non-truth)")
    // ZERO-EXCHANGE signature construction: the shingle array is
    // per-doc DISTINCT (ShinglesExpr), so slot i = array_min over
    // md5_48("i:shingle") of the array — identical to the former
    // explode + groupBy-min (min over the same distinct value set) but
    // computed in-row, deleting the per-doc shingle exchange (guide
    // §2.4). The array alternative for the INTERSECTIONS
    // (array_intersect inside the all-pairs join) was measured 2×
    // SLOWER than the shingle equi-join at sf0.1 (5.2 s vs 2.6 s —
    // |pairs|·O(set) hash probes lose to the exchange even at 36M
    // joined rows), so the exact-|A∩B| path stays exchange-based.
    val slotCols = (0 until slots).map(i =>
      array_min(transform(col("sh"), e =>
        graft.functions.MinHashExprs.md5Low48Col(
          concat_ws(":", lit(i.toString), e)))).as(s"m$i"))
    val sigs = docs.repartition(col(idCol))
      .select(col(idCol).as("id"),
        graft.functions.MinHashExprs.shinglesCol(col(textCol), k).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(Seq(col("id"), col("sh"),
        size(col("sh")).cast("long").as("n")) ++ slotCols: _*)
      .persist() // |docs| rows: both BNL sides + the element explode read it
    val elems = sigs.select(col("id"), explode(col("sh")).as("e"))
    val candCols = configs.zipWithIndex.map { case ((bands, r), ci) =>
      (0 until bands).map { b =>
        (b * r until (b + 1) * r)
          .map(i => col(s"a.m$i") === col(s"b.m$i")).reduce(_ && _)
      }.reduce(_ || _).as(s"cand$ci")
    }
    // SPLIT aggregation — the former single fold LEFT-JOINED the full
    // |docs|²/2 BNL pair frame to the intersection counts (a
    // corpus-quadratic exchange + sort-merge join: 12.5M rows at
    // sf0.1) only so that no-shared-shingle pairs could carry jppm = 0.
    // But tauPpm > 0 means every TRUTH pair has inter ≥ 1, i.e. truth
    // and tp are fully determined by the (much sparser) intersection
    // frame — so the candidate totals fold over the un-shuffled BNL
    // stream (projection-pruned to the slot columns) while truth/tp
    // fold over `inter` with the per-doc metadata joined back from the
    // |docs|-sized signature cache, and the quadratic frame never
    // crosses an exchange at all (guide §2.3: shuffle keys and
    // metadata, never the bulk stream).
    val candCounts = configs.indices.map(ci =>
      sum(when(col(s"cand$ci"), 1L).otherwise(0L)).as(s"nc$ci"))
    val candAgg = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
      .select(candCols: _*)
      .agg(candCounts.head, candCounts.tail: _*)
    val inter = elems.as("x").join(elems.as("y"),
        col("x.e") === col("y.e") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    val meta = sigs.select(Seq(col("id"), col("n")) ++
      (0 until slots).map(i => col(s"m$i")): _*)
    val interTruth = inter
      .join(meta.toDF(Seq("id_a", "n_a") ++ (0 until slots).map(i => s"a_m$i"): _*), "id_a")
      .join(meta.toDF(Seq("id_b", "n_b") ++ (0 until slots).map(i => s"b_m$i"): _*), "id_b")
      .withColumn("jppm", expr("inter * 1000000 DIV (n_a + n_b - inter)"))
      .filter(col("jppm") >= tauPpm)
    val truthAgg = interTruth.agg(
      count(lit(1)).as("n_truth"),
      configs.zipWithIndex.map { case ((bands, r), ci) =>
        sum(when((0 until bands).map { b =>
          (b * r until (b + 1) * r)
            .map(i => col(s"a_m$i") === col(s"b_m$i")).reduce(_ && _)
        }.reduce(_ || _), 1L).otherwise(0L)).as(s"tp$ci")
      }: _*)
    auditShape(candAgg.crossJoin(truthAgg), configs,
      keyNames = ("bands", "rows_per_band"))
  }

  // -----------------------------------------------------------------
  // Embedding-cosine near-dup via hyperplane LSH
  // -----------------------------------------------------------------

  /** Deterministic ±1 hyperplane matrix — shared by the Spark signature
    * AND the generated oracle SQL (the signs are inlined as literals into
    * the DuckDB twin, so both engines bucket identically).
    */
  def hyperplaneSigns(dim: Int, numPlanes: Int, seed: Long): Seq[Seq[Double]] =
    (0 until numPlanes).map { pIdx =>
      (0 until dim).map { d =>
        if ((graft.frontier.CuckooFilter.mix(seed + pIdx * 1009L + d) & 1L) == 0L) -1.0 else 1.0
      }
    }

  /** Deterministic hyperplanes: values from splitmix stream, ±1. */
  def hyperplaneSignature(vec: Column, dim: Int, numPlanes: Int, seed: Long): Column = {
    val planes = hyperplaneSigns(dim, numPlanes, seed).map { signs =>
      // dot(vec, signs) > 0 → bit (strict left-to-right sum — the oracle
      // twin adds in the same order, so the fp rounding is identical)
      val dot = (0 until dim).map(d => element_at(vec, d + 1) * lit(signs(d))).reduce(_ + _)
      when(dot > 0, lit(1)).otherwise(lit(0))
    }
    concat_ws("", planes.map(_.cast("string")): _*)
  }

  /** Native Catalyst expression (whole-stage codegen'd fused loop) —
    * see [[graft.functions.CosineSimilarityExpr]]. Left-to-right double
    * accumulation, identical order to DuckDB's list_cosine_similarity
    * (oracle parity). Spark's higher-order `aggregate`/`zip_with`
    * equivalents are interpreted per row; a Scala UDF pays serde — the
    * expression beats both (extension preference order).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarityExpr.cosine(a, b)

  /** Per-table seed for multi-table LSH (a large odd stride keeps the
    * tables' splitmix streams disjoint).
    */
  def tableSeed(seed: Long, table: Int): Long = seed + 7919L * table

  /** Near-dup embedding pairs via MULTI-TABLE hyperplane LSH: L
    * independent tables of `numPlanes` hyperplanes each; a pair is a
    * candidate when it collides in ANY table (recall 1-(1-p^k)^L), and
    * every candidate is verified with the exact cosine. Candidates form
    * only inside (table, bucket) groups — the bucketed, never-cartesian
    * scale shape; recall is tuned by L without touching the verify cost
    * of true pairs.
    */
  def embeddingNearDupPairs(embeddings: DataFrame, dim: Int, threshold: Double,
                            numPlanes: Int = 8, numTables: Int = 1, seed: Long = 42L,
                            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("vd", col("v").cast("array<double>"))
    // native codegen signature (one sign-matrix reference object per
    // table) — the inlined Column stack [[hyperplaneSignature]] is kept
    // as its parity twin; without this, 6 tables × 4 planes × 64 dims
    // of expression leaves serialize a multi-MiB task binary
    val buckets = (0 until numTables).map(t =>
      graft.functions.HyperplaneExprs.signatureCol(col("vd"),
        hyperplaneSigns(dim, numPlanes, tableSeed(seed, t))))
    val banded = vecs
      .select(col("id"), posexplode(array(buckets: _*)).as(Seq("table", "bucket")))
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    // exact verification (sketches propose, exactness disposes)
    val sets = vecs.select(col("id"), col("vd"))
    candidates
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("vd", "v_a"), "id_a")
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("vd", "v_b"), "id_b")
      .withColumn("cos", round(cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Banding-parameter audit for the hyperplane-LSH family — the third
    * and last sketch family gets the q110/q114 treatment, so EVERY
    * candidate-generation layer in the engine (SimHash, MinHash,
    * embedding LSH) can be tuned against exact ground truth before its
    * parameters are committed at scale. Each config spends the SAME
    * total plane budget (`tables × planes` constant) differently:
    * fewer/wider tables = higher precision, more/narrower tables =
    * higher recall — the audit measures exactly that trade. Per config
    * the signatures ride the fused codegen expression (one sign-matrix
    * reference object per table); candidacy is pure bucket-string
    * equality evaluated INSIDE the all-pairs projection (the q114
    * discipline: the persisted frame is round-6 cosine + one boolean
    * per config). Ground truth = exact cosine ≥ `tau`, the same
    * round-6 convention the q27 production path verifies with.
    * Quadratic by contract — run on a hash-sampled slice; the winning
    * (tables, planes) parameterizes [[embeddingNearDupPairs]].
    */
  def hyperplaneBandingAudit(embeddings: DataFrame, dim: Int,
                             configs: Seq[(Int, Int)] = Seq((2, 12), (4, 6), (6, 4)),
                             tau: Double = 0.4, seed: Long = 42L,
                             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(configs.nonEmpty, "need at least one banding config")
    configs.foreach { case (t, p) =>
      require(t > 0 && t <= 16 && p > 0, s"bad hyperplane config: $t tables x $p planes") }
    // spread the single-partition source before the quadratic stage
    // (the q110 lesson), and compute every config's table signatures
    // once per vector
    val sigCols: Seq[Column] = configs.zipWithIndex.flatMap { case ((tbls, planes), ci) =>
      (0 until tbls).map(t =>
        graft.functions.HyperplaneExprs.signatureCol(col("vd"),
          hyperplaneSigns(dim, planes, tableSeed(seed, ci * 16 + t))).as(s"s${ci}_$t"))
    }
    // ROW-level persist: the signature columns are the expensive
    // per-row work (configs × tables hyperplane dots over the vector),
    // and without a barrier here CollapseProject merges them into the
    // post-join projection — evaluated PER PAIR, a |docs|×-fold blowup
    // (measured 0.9 s → 8.7 s at sf0.1 when the barrier was dropped).
    // The former code persisted the QUADRATIC pair frame instead, which
    // buys the same barrier at |docs|²/2 × row-width storage churn;
    // caching the |docs|-sized signature frame gets signatures computed
    // once per row while the pair stream folds straight into the one
    // counters aggregation, never stored (guide §2.3).
    val withSig = embeddings.repartition(col(idCol))
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vd"))
      .select(col("id") +: col("vd") +: sigCols: _*)
      .persist()
    val candCols = configs.zipWithIndex.map { case ((tbls, _), ci) =>
      (0 until tbls).map(t => col(s"a.s${ci}_$t") === col(s"b.s${ci}_$t"))
        .reduce(_ || _).as(s"cand$ci")
    }
    val joined = withSig.as("a").join(withSig.as("b"), col("a.id") < col("b.id"))
      .select(round(cosine(col("a.vd"), col("b.vd")), 6).as("cos") +: candCols: _*)
    auditRows(joined, col("cos") >= tau, configs, keyNames = ("tables", "planes"))
  }

  /** SET-resemblance near-dup pairs at GROUP granularity — the
    * host-mirror detector: two hosts whose PATH SETS are nearly
    * identical are mirrors (www/m. twins, CDN clones, scraped copies),
    * and a frontier that crawls both pays twice for one site (the
    * reference's analog: the same conversion route fed the same
    * download set twice, `pkg/api/api.go` route registry — nothing
    * dedups across requests, which is exactly what this layer adds).
    *
    * Same sketch-then-verify contract as the document families, but the
    * "set" is spread across ROWS — a host's paths arrive over the whole
    * crawl — so the MinHash signature is built BY AGGREGATION: slot `i`
    * of a set's signature is `min` over elements of
    * `md5_48(i ":" element)`, a partial-agg `min` per slot, not a
    * per-row array fold. Banding then hashes each `slots/bands`-slot
    * run; candidate pairs agree on a full band; every candidate is
    * verified EXACTLY (intersection count over the element table,
    * restricted to candidate pairs) before a verdict is reported.
    *
    * Scale shape (10⁹ hosts): the distinct (set, element) stream
    * collapses to ≤ `slots` longs per set in ONE partial-agg exchange
    * (map-side min per slot — element rows never shuffle twice);
    * banding emits `bands` rows per SET (set-cardinality, not
    * element-cardinality); the band equi-join only pairs sets sharing a
    * full band; the exact verify ships each candidate pair's LEFT
    * element list once (cand ⋈ elems on s_a, probe on (s_b, element))
    * so cost is Σ|A| over candidate pairs — a false candidate costs one
    * bounded probe, never a wrong answer. Jaccard is fixed-point ppm
    * floor-div (positive operands: Spark `DIV` ≡ DuckDB `//`).
    */
  def setResemblance(rows: DataFrame, setCol: String, elemCol: String,
                     slots: Int = 12, bands: Int = 3,
                     tauPpm: Long = 700000L): DataFrame = {
    require(slots % bands == 0, s"slots=$slots must divide into bands=$bands")
    val perBand = slots / bands
    val elems = rows.select(col(setCol).cast("string").as("s"),
        col(elemCol).cast("string").as("e"))
      .filter(col("s").isNotNull && col("e").isNotNull)
      .distinct().persist()
    // signature slot i = min md5_48("i:elem") — i is salt, not position,
    // so slots are independent hash functions over the same element set
    val slotCols = (0 until slots).map(i =>
      min(graft.functions.MinHashExprs.md5Low48Col(
        concat_ws(":", lit(i.toString), col("e")))).as(s"m$i"))
    val sigs = elems.groupBy(col("s"))
      .agg(count(lit(1)).as("n"), slotCols: _*)
    // band key = the slot-run's decimal-joined string (tuple equality;
    // the oracle replays it with string_agg ORDER BY slot)
    val bandKeys = (0 until bands).map(b =>
      concat_ws(",", (b * perBand until (b + 1) * perBand)
        .map(i => col(s"m$i").cast("string")): _*))
    val banded = sigs.select(col("s"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.s") < col("b.s"))
      .select(col("a.s").as("s_a"), col("b.s").as("s_b")).distinct()
    // exact intersection, candidate-pair-bounded: fan the pair out over
    // side A's elements, probe side B on (set, element)
    val inter = cand
      .join(elems.select(col("s").as("s_a"), col("e")), Seq("s_a"))
      .join(elems.select(col("s").as("s_b"), col("e")), Seq("s_b", "e"))
      .groupBy(col("s_a"), col("s_b")).agg(count(lit(1)).as("inter"))
    val sizes = sigs.select(col("s"), col("n"))
    inter
      .join(sizes.withColumnRenamed("s", "s_a").withColumnRenamed("n", "n_a"), "s_a")
      .join(sizes.withColumnRenamed("s", "s_b").withColumnRenamed("n", "n_b"), "s_b")
      .select(col("s_a").as("set_a"), col("s_b").as("set_b"),
        col("n_a"), col("n_b"), col("inter"),
        expr("inter * 1000000 DIV (n_a + n_b - inter)").as("jaccard_ppm"))
      .withColumn("is_mirror", col("jaccard_ppm") >= tauPpm)
  }

  /** Content-defined chunking dedup (the FastCDC/rsync family): chunk
    * boundaries fall AFTER every position whose trailing `window`-char
    * substring hashes to 0 (mod `divisor`), so boundaries depend only
    * on LOCAL content — an insertion early in a doc shifts chunk
    * frames, not every downstream chunk identity, which is exactly the
    * invariance [[graft.datatools.Curation]]'s fixed-width q54 chunks
    * lack. Chunks partition the text (mean length ≈ divisor chars);
    * each occurrence is fingerprinted (md5) and an occurrence is
    * DUPLICATED iff it is not the corpus-wide first (min (doc, pos)
    * per fingerprint — deterministic, engine-independent). Output per
    * doc: chunk counts, duplicated-chunk counts/chars, and the
    * dedupable fraction in fixed-point ppm.
    *
    * Boundary hash = md5-48 of the window substring — per-position
    * hashing (O(len·window)) instead of a rolling gear hash (O(len)),
    * because the boundary rule must replay bit-exactly in the DuckDB
    * oracle (`md5_number_lower(substr(...))`); a production swap to
    * gear/Rabin keeps the IDENTICAL plan shape — only this projection
    * changes. Scale shape (100 TB): text is read once in the chunking
    * projection and never shuffles — the explode ships (id, pos,
    * chunk_len, 32-hex fp); the first-occurrence argmin is ONE
    * partial-agg exchange on the fingerprint; the verdict joins back
    * fingerprint-keyed; the per-doc rollup is a second partial agg.
    * Within-doc repeats count as duplicates (pos breaks the tie).
    */
  def cdcChunkDedup(docs: DataFrame, window: Int = 8, divisor: Int = 16,
                    idCol: String = "doc_id", textCol: String = "text",
                    native: Boolean = true): DataFrame = {
    require(window >= 1 && divisor >= 1,
      s"cdcChunkDedup needs window >= 1 and divisor >= 1, got ($window, $divisor)")
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.Substring
    // catalyst Substring with COLUMN pos/len (SQL `substr` semantics —
    // character-based, 1-indexed — so the oracle's substr replays it)
    def sub(s: Column, p: Column, l: Column): Column =
      GraftBridge.column(Substring(GraftBridge.expression(s),
        GraftBridge.expression(p), GraftBridge.expression(l)))
    val w = window
    val base = docs.select(col(idCol).as("id"), col(textCol).as("t"))
      .withColumn("len", length(col("t")))
    // the original Column formulation (kept lazily behind native=false
    // as CdcParitySpec's bit-parity pin for the fused kernel)
    def chunked = base
      .withColumn("bnds",
        when(col("len") >= w,
          filter(
            transform(sequence(lit(w), col("len")),
              i => when(pmod(graft.functions.MinHashExprs.md5Low48Col(
                  sub(col("t"), i - lit(w - 1), lit(w))), lit(divisor)) === 0, i)
                .otherwise(lit(-1))),
            x => x >= 0))
          .otherwise(array().cast("array<int>")))
      // cut points: 0, each boundary, len — ascending by construction,
      // array_distinct drops a final boundary that coincides with len
      .withColumn("cuts", array_distinct(
        concat(array(lit(0)), col("bnds"), array(col("len")))))
      .withColumn("starts", slice(col("cuts"), lit(1), size(col("cuts")) - 1))
      .withColumn("ends", slice(col("cuts"), lit(2), size(col("cuts")) - 1))
      .withColumn("chunks", zip_with(col("starts"), col("ends"),
        (p, q) => sub(col("t"), p + 1, q - p)))
    // persist the compact occurrence frame (id, pos, len, 32-hex fp —
    // no text): the O(len·window) chunking projection feeds BOTH the
    // first-occurrence agg and the verdict join, and without the pin
    // Spark re-runs it per consumer (audited: two full chunking scans).
    // Default path: the fused CdcChunksExpr kernel (one codegen pass
    // over the UTF-8 bytes); native=false keeps the original Column
    // formulation it is bit-parity-pinned against (CdcParitySpec).
    val occ = (if (native)
      base.select(col("id"), posexplode(
          graft.functions.CdcExprs.chunksCol(col("t"), w, divisor))
        .as(Seq("pos", "c")))
        .select(col("id"), col("pos"), col("c.clen").as("clen"),
          col("c.fp").as("fp"))
    else chunked
      .select(col("id"), posexplode(col("chunks")).as(Seq("pos", "chunk")))
      .select(col("id"), col("pos"),
        length(col("chunk")).cast("long").as("clen"),
        md5(col("chunk")).as("fp")))
      .persist()
    val firsts = occ.groupBy(col("fp"))
      .agg(min(struct(col("id"), col("pos"))).as("first"))
    val perDoc = occ.join(firsts, "fp")
      .withColumn("dup",
        col("id") =!= col("first.id") || col("pos") =!= col("first.pos"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("dup"), col("clen")).otherwise(0L)).as("dup_chars"))
    base.select(col("id"), col("len").cast("long").as("n_chars"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("dup_chunks"), lit(0L)).as("dup_chunks"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        expr("CASE WHEN n_chars > 0 THEN coalesce(dup_chars, 0) * 1000000 DIV n_chars ELSE 0 END")
          .as("dedup_ppm"))
  }
}
