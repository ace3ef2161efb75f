package graft.datatools

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the steps a training-data pipeline runs
  * AFTER the dedup families in [[Dedup]]/[[GraphOps]] have spoken:
  * pick one canonical document per duplicate cluster, and draw
  * deterministic stratified samples for eval/holdout splits. (The
  * reference's analog is route-level selection of the single output
  * artifact per conversion group, e.g. the merge route collapsing N
  * inputs into one canonical PDF, `pkg/gotenberg/pdf.go` merge
  * provider contract; here the "group" is a near-dup cluster over the
  * corpus.)
  *
  * Scale design notes (100 TB):
  *  - keeper selection never windows: the per-cluster arg-max is a
  *    `max_by` partial aggregation (map-side combine, no sort
  *    exchange), and the quality score is evaluated only for CLUSTERED
  *    docs — the inner join against the cluster set runs before the
  *    scoring projection, so a corpus where 2% of docs cluster scores
  *    2% of the text.
  *  - stratified sampling never sorts the corpus: a bounded min-k
  *    typed [[Aggregator]] (k·strata driver-side rows total) gets
  *    ObjectHashAggregate partial merge — each map task ships at most
  *    k rows per stratum, vs the row_number-window formulation that
  *    shuffles and sorts every row of every stratum.
  */
object Curation {

  /** Per-document keep/drop verdict given a near-dup cluster
    * assignment: within each cluster the KEEPER is the doc with the
    * highest `quality` (ties → smallest id, so the verdict is unique
    * and engine-independent); docs in no cluster keep themselves.
    *
    * @param docs     the corpus; `quality` may reference any of its
    *                 columns (it is evaluated only for clustered docs)
    * @param clusters (id, cluster_id) rows from
    *                 [[GraphOps.neardupClusters]] (or any dedup family)
    * @param quality  scoring column over `docs` — must be
    *                 deterministic for the verdict to be (e.g.
    *                 [[TextAnalysis.qualityScoreFused]], round-6)
    * @return one row per doc: (idCol, cluster_id, keeper_id, kept)
    */
  def keeperSelection(docs: DataFrame, clusters: DataFrame, quality: Column,
                      idCol: String = "doc_id"): DataFrame = {
    // inner join FIRST: the scoring projection runs on clustered docs
    // only (Catalyst prunes the text column for the non-clustered rest)
    val scored = docs.join(clusters, docs(idCol) === clusters("id"))
      .select(col("id"), col("cluster_id"), quality.as("q"))
    // arg-max by (q, -id): max quality, then min id — unique per
    // cluster, so max_by is deterministic. Partial-agg, no window.
    val keepers = scored.groupBy(col("cluster_id"))
      .agg(max_by(col("id"), struct(col("q"), (-col("id")).as("nid"))).as("keeper_id"))
    val verdicts = scored.select(col("id"), col("cluster_id"))
      .join(keepers, Seq("cluster_id"))
    docs.select(col(idCol).as("id"))
      .join(verdicts, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"),
        coalesce(col("keeper_id"), col("id")).as("keeper_id"),
        (coalesce(col("keeper_id"), col("id")) === col("id")).as("kept"))
  }

  /** Corpus vocabulary heavy-hitters: the k most frequent whitespace
    * tokens with deterministic tie-break (count desc, token asc) — the
    * tokenizer-training precursor. The plan is the wordcount shape that
    * scales: explode → hash aggregate (map-side partial combine, ONE
    * shuffle on the token key) → `orderBy.limit(k)`, which Spark
    * executes as TakeOrderedAndProject — each partition keeps its own
    * top k and the driver merges partitions·k rows; the corpus-sized
    * count frame is never globally sorted.
    *
    * Token definition = `\s+` split of the trimmed text (empty docs
    * contribute nothing) — the same split the q30/q31 oracles pinned
    * against DuckDB's `string_split_regex`.
    */
  def vocabTopK(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame =
    docs.select(explode(split(trim(col(textCol)), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)

  /** Vocabulary encoding — apply a trained top-k vocabulary to the
    * corpus: token → id (1..k by count desc, token asc; OOV → 0),
    * emitting per doc the token count, OOV count, and a hash of the
    * exact id sequence. This is the tokenizer-application step that
    * turns curated text into model input.
    *
    * Scale shape: the vocabulary is k rows — collected once and
    * inlined as a map LITERAL, so the corpus side is a pure projection
    * (`transform` + `element_at` over the split array, whole-stage
    * codegen, ZERO exchanges and zero joins). The exploded
    * tokens-join-vocab formulation (which the DuckDB oracle uses)
    * shuffles a token stream larger than the corpus; broadcasting the
    * map costs k strings per executor. At k beyond literal-friendly
    * size (say 10⁵+), the same shape survives as a broadcast variable
    * consulted from a static-invoke expression — never a join.
    */
  def vocabEncode(docs: DataFrame, k: Int, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val vocab = vocabTopK(docs, k, textCol).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (tok, cnt) => (-cnt, tok) }
      .zipWithIndex.map { case ((tok, _), i) => tok -> (i + 1) }
    // empty corpus → empty vocab: a zero-arg map() coerces to
    // map<string,string> and poisons the coalesce type, so every
    // token is OOV directly
    val enc: Column => Column =
      if (vocab.isEmpty) _ => lit(0)
      else {
        val m = map(vocab.toSeq.flatMap { case (tok, id) => Seq(lit(tok), lit(id)) }: _*)
        t => coalesce(element_at(m, t), lit(0))
      }
    docs
      .select(col(idCol).as("doc_id"),
        when(length(trim(col(textCol))) === 0, array().cast("array<int>"))
          .otherwise(transform(split(trim(col(textCol)), "\\s+"), enc)).as("ids"))
      .select(col("doc_id"),
        // BIGINT counts: schema parity with the DuckDB twin (size() is int)
        size(col("ids")).cast("long").as("n_tokens"),
        aggregate(col("ids"), lit(0),
          (acc, x) => acc + when(x === 0, lit(1)).otherwise(lit(0)))
          .cast("long").as("n_oov"),
        md5(concat_ws(" ", transform(col("ids"), _.cast("string")))).as("ids_md5"))
  }

  /** Unigram rarity scoring — the fixed-point stand-in for the
    * perplexity quality filter (CCNet scores docs with a KenLM model;
    * the unigram version of that signal is Σ surprisal(token), and
    * 1/p(token) = total/cnt is a monotone surprisal proxy that needs
    * no float log). Per token: rarity_milli = (total · 10³) DIV cnt
    * (OOV → cnt = 1, the maximum). Per doc: the sum and the
    * integer-mean. ALL integer arithmetic — sums are
    * order-independent, so any engine, partitioning, or summation
    * order lands on identical bits (the q48 PageRank convention),
    * where a float Σ log p never hash-matches across engines.
    *
    * Overflow bound: rarity_sum ≤ n_tokens · total · 10³ needs
    * corpus total < 3·10¹⁵ tokens (≈ 10 PB of text) for the worst
    * all-OOV doc at 10⁴ tokens — safe at the 100-TB target.
    *
    * Scale shape: the frequency table is the q51 wordcount (one
    * token-keyed shuffle with map-side combine), truncated to top-k
    * and inlined as a map literal like [[vocabEncode]]; the corpus
    * total is one scalar aggregate. The scoring pass is then a
    * zero-exchange projection.
    */
  def rarityScore(docs: DataFrame, k: Int, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val total = docs
      .select(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("t"))
      .collect()(0) match { case r if r.isNullAt(0) => 0L; case r => r.getLong(0) }
    val oov = total * 1000L
    val vocab = vocabTopK(docs, k, textCol).collect()
      .map(r => r.getString(0) -> total * 1000L / r.getLong(1))
    val sp: Column => Column =
      if (vocab.isEmpty) _ => lit(oov)
      else {
        val m = map(vocab.toSeq.flatMap { case (t, s) => Seq(lit(t), lit(s)) }: _*)
        t => coalesce(element_at(m, t), lit(oov))
      }
    docs
      .select(col(idCol).as("doc_id"),
        when(length(trim(col(textCol))) === 0, array().cast("array<long>"))
          .otherwise(transform(split(trim(col(textCol)), "\\s+"), sp)).as("sps"))
      .select(col("doc_id"),
        // BIGINT count: schema parity with the DuckDB twin (size() is int)
        size(col("sps")).cast("long").as("n_tokens"),
        aggregate(col("sps"), lit(0L), (acc, x) => acc + x).as("rarity_sum"))
      .withColumn("rarity_mean",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(expr("rarity_sum DIV n_tokens")))
  }

  /** Deterministic train/val/test assignment: bucket =
    * md5_number_lower(id) & 1023 (bitwise AND, not mod — the signed
    * Spark long and DuckDB's UBIGINT agree on low bits but not on `%`),
    * then train < 922, val < 973, test otherwise (≈ 90 / 5 / 5). The
    * assignment is a pure projection — content-independent, stable
    * under corpus growth (a doc never changes split when others are
    * added), and replayable by any engine with md5.
    */
  def splitAssign(docs: DataFrame, idCol: String = "doc_id",
                  trainUpper: Int = 922, valUpper: Int = 973): DataFrame = {
    require(0 <= trainUpper && trainUpper <= valUpper && valUpper <= 1024)
    val h = udf(TextAnalysis.md5Lower64 _)
    docs.withColumn("bucket", h(col(idCol).cast("string")).bitwiseAND(lit(1023L)))
      .withColumn("split_name",
        when(col("bucket") < trainUpper, "train")
          .when(col("bucket") < valUpper, "val")
          .otherwise("test"))
  }

  /** One row per token n-gram occurrence: (id, g) — `g` is the
    * space-joined n-token window. Built entirely from native
    * higher-order functions (split → sequence → transform/slice →
    * concat_ws → explode): no UDF, no serde. Docs with fewer than n
    * tokens contribute nothing (`sequence` would count DOWN on a
    * negative stop, so the size guard is correctness, not just cost).
    */
  private def tokenNgrams(df: DataFrame, n: Int, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), split(trim(col(textCol)), "\\s+").as("l"))
      .filter(trim(col(textCol)) =!= "" && size(col("l")) >= n)
      .select(col("id"), explode(expr(
        s"transform(sequence(0, size(l) - $n), i -> concat_ws(' ', slice(l, i + 1, $n)))")).as("g"))

  /** Benchmark decontamination: which corpus docs share at least one
    * token n-gram with the eval/benchmark set — the leakage check run
    * before training (n = 8 token windows; the published pipelines use
    * 8–13). Returns (idCol, n_hits = distinct shared n-grams) for
    * contaminated docs only.
    *
    * Scale shape: the eval side is SMALL by definition (benchmarks are
    * MBs against a 100 TB corpus), so its distinct gram set is
    * broadcast and the corpus side never shuffles on the gram key —
    * one broadcast semi-join pass over the corpus grams, then a
    * partial-agg distinct count per doc.
    */
  def decontaminate(corpus: DataFrame, evalDocs: DataFrame, n: Int = 8,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val evalGrams = tokenNgrams(evalDocs, n, idCol, textCol).select("g").distinct()
    tokenNgrams(corpus, n, idCol, textCol)
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .groupBy(col("id"))
      .agg(count_distinct(col("g")).as("n_hits"))
      .select(col("id").as(idCol), col("n_hits"))
  }

  /** Cross-corpus duplicated-chunk removal (the C4 "dedupe repeated
    * lines across the corpus, keep the first occurrence" rule, over
    * fixed `chunkTokens`-token windows since the corpus has no line
    * structure): a chunk instance is REMOVED iff the same chunk text
    * occurs anywhere else in the corpus and this doc is not the
    * smallest-id holder. Returns (idCol, n_chunks, n_removed) for docs
    * that lose at least one chunk.
    *
    * Scale shape: chunk text is fingerprinted to 32-byte md5 BEFORE
    * the shuffle, so the one exchange (on the fingerprint) moves
    * 16+8 bytes per chunk, not text; the keeper is a partial-agg
    * min/count (no window); the removal verdict is an equi-join back
    * on the fingerprint.
    */
  def chunkDedup(corpus: DataFrame, chunkTokens: Int = 10,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fp = corpus
      .select(col(idCol).as("id"), split(trim(col(textCol)), "\\s+").as("l"))
      .filter(trim(col(textCol)) =!= "")
      .select(col("id"), explode(expr(
        s"""transform(sequence(0, (size(l) - 1) div $chunkTokens),
           |  j -> md5(concat_ws(' ', slice(l, j * $chunkTokens + 1, $chunkTokens))))""".stripMargin))
        .as("f"))
    val keepers = fp.groupBy(col("f"))
      .agg(min(col("id")).as("kd"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
    val removed = fp.join(keepers, Seq("f"))
      .filter(col("id") =!= col("kd"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_removed"))
    val totals = fp.groupBy(col("id")).agg(count(lit(1)).as("n_chunks"))
    removed.join(totals, Seq("id"))
      .select(col("id").as(idCol), col("n_chunks"), col("n_removed"))
  }

  /** Boilerplate segment removal — the CCNet/RefinedWeb "drop lines
    * that repeat across many documents" pass (nav bars, cookie
    * banners, footers), over fixed `segTokens`-token windows since the
    * corpus has no line structure. Distinct from [[chunkDedup]]'s
    * keep-first rule: here a segment is boilerplate iff it occurs in
    * ≥ `minDf` DISTINCT documents, and then EVERY occurrence is
    * dropped (including the first). Returns the rewritten corpus:
    * (idCol, clean_text, n_segs, n_kept) — clean_text is the kept
    * segments re-joined in original order ("" when the whole doc was
    * boilerplate).
    *
    * Scale shape: segment document-frequency is one count-distinct
    * aggregation keyed on the segment (two-phase, partial-agg'd); the
    * boilerplate SET after the `df ≥ minDf` filter is small by
    * construction (it holds only text repeated across ≥ minDf docs —
    * bounded by corpus_segments / minDf and in practice by the
    * boilerplate vocabulary of the crawl), so the verdict is a
    * broadcast LEFT OUTER join carrying a flag — the corpus-sized
    * segment frame never shuffles on text for it. Reassembly + the
    * kept/total counters fold in ONE aggregation (one exchange on the
    * doc id) over the flagged frame: `collect_list` skips the nulls
    * the CASE leaves on boilerplate rows, so kept-only reassembly and
    * the all-segments total share the pass — no second corpus scan,
    * no window, no per-doc sort exchange beyond the agg itself.
    */
  def boilerplateStrip(corpus: DataFrame, segTokens: Int = 5, minDf: Int = 3,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val segs = corpus
      .select(col(idCol).as("id"), split(trim(col(textCol)), "\\s+").as("l"))
      .filter(trim(col(textCol)) =!= "")
      .select(col("id"), posexplode(expr(
        s"""transform(sequence(0, (size(l) - 1) div $segTokens),
           |  j -> concat_ws(' ', slice(l, j * $segTokens + 1, $segTokens)))""".stripMargin)))
      .toDF("id", "pos", "seg")
    val boiler = segs.groupBy(col("seg"))
      .agg(countDistinct(col("id")).as("df"))
      .filter(col("df") >= minDf)
      .select(col("seg"), lit(true).as("is_boiler"))
    segs.join(broadcast(boiler), Seq("seg"), "left")
      .groupBy(col("id"))
      .agg(
        concat_ws(" ", expr(
          """transform(array_sort(collect_list(
            |  CASE WHEN is_boiler IS NULL THEN struct(pos, seg) END)), x -> x.seg)""".stripMargin))
          .as("clean_text"),
        count(lit(1)).as("n_segs"),
        count(when(col("is_boiler").isNull, 1)).as("n_kept"))
      .select(col("id").as(idCol), col("clean_text"), col("n_segs"), col("n_kept"))
  }

  /** Temperature-scaled mixture weights for training-data sampling:
    * per stratum (source/domain/language), the √p-tempered share every
    * multilingual/multi-source training recipe draws with — upweights
    * the tail, downweights the head. All FIXED-POINT integer
    * arithmetic (the q48 PageRank convention) so any engine replays it
    * bit-exactly: share_ppm = docs·10⁶ div total; w_raw =
    * max(⌊√(share_ppm·10⁶)⌋, 1) (IEEE-754 sqrt is correctly rounded
    * and the nearest integer boundary is ≥ 2⁻¹⁹ away for inputs ≤
    * 10¹², so floor agrees across engines; the 1-floor keeps Σw_raw
    * > 0 when every stratum's share rounds to 0 ppm — domain-level
    * strata at web scale); weight_ppm = w_raw·10⁶ div Σw_raw.
    *
    * Scale shape: one partial aggregation on the stratum key — the
    * corpus is scanned exactly ONCE. The corpus-total and
    * weight-normalizer are unpartitioned windows over the post-agg
    * frame, which holds one row per stratum (languages/sources — small
    * by definition), so the single-partition window is over a frame
    * that fits on any executor. The crossJoin(agg) alternative
    * re-evaluates the counts subplan per scalar and re-scans the
    * corpus 3×.
    */
  def mixtureWeights(df: DataFrame, stratumCol: String = "source"): DataFrame = {
    val all = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    df.groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("total_docs", sum(col("n_docs")).over(all))
      .withColumn("share_ppm", expr("n_docs * 1000000L DIV total_docs"))
      // floor at 1: with > 10⁶ strata (domain-level at web scale) every
      // share_ppm rounds to 0, and an all-zero Σw_raw would NULL every
      // weight under non-ANSI division — a sub-ppm stratum keeps a
      // minimal draw instead (the oracle applies the same floor)
      .withColumn("w_raw", greatest(
        floor(sqrt(col("share_ppm").cast("double") * 1e6)).cast("long"), lit(1L)))
      .withColumn("weight_ppm", expr("w_raw * 1000000L DIV sum(w_raw) OVER ()"))
      .select("stratum", "n_docs", "share_ppm", "weight_ppm")
  }

  /** Deterministic token-budget shard packing: lay the corpus out in
    * doc-id order and cut a new training shard every `shardTokens`
    * whitespace tokens — a doc lands in the shard where its span
    * STARTS (shard_id = exclusive-prefix-sum div shardTokens), so the
    * assignment is a pure function of (corpus, shardTokens) that any
    * engine replays.
    *
    * Scale shape: the naive formulation is a global-order running sum
    * — a single-partition window, the classic scale killer. Here it is
    * the two-level distributed prefix sum: (1) bucket docs by
    * id div bucketWidth (arithmetic ranges — DETERMINISTIC, unlike
    * repartitionByRange's sampled boundaries, so recomputation can
    * never disagree with the offsets); (2) per-bucket token totals (a
    * partial agg over ≤ #buckets rows) become broadcast exclusive
    * offsets via one tiny driver-side scan; (3) the within-bucket
    * running sum is a window PARTITIONED BY bucket — each sort is
    * bucket-local, all buckets sort in parallel, nothing ever
    * single-partitions. At 10¹⁰ docs pick bucketWidth ≈ corpus-span /
    * (10·parallelism) and every stage stays bounded.
    */
  def shardPack(df: DataFrame, shardTokens: Long, bucketWidth: Long = 64L,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(shardTokens > 0 && bucketWidth > 0)
    val toks = df.select(col(idCol).as("id"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"id DIV ${bucketWidth}L"))
    val bucketTotals = toks.groupBy("bucket").agg(sum("n_tokens").as("btok"))
      .orderBy("bucket").collect()
    var acc = 0L
    val offsets = bucketTotals.map { r =>
      val o = (r.getLong(0), acc); acc += r.getLong(1); o
    }.toSeq
    val offsetDf = broadcast(toks.sparkSession
      .createDataset(offsets)(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .toDF("bucket", "bucket_offset"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(offsetDf, Seq("bucket"))
      .withColumn("cum_tokens",
        col("bucket_offset") + sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("id").as(idCol), col("n_tokens"), col("cum_tokens"),
        expr(s"cum_tokens DIV ${shardTokens}L").as("shard_id"))
  }

  /** FUZZY benchmark decontamination — the near-dup companion to
    * [[decontaminate]]'s exact n-gram overlap: corpus docs whose shingle
    * Jaccard with ANY benchmark/eval doc reaches `threshold` (the GPT-3
    * appendix-C style fuzzy test-set filter). Returns one row per
    * contaminated corpus doc: the best-matching bench doc (max Jaccard,
    * ties → smallest bench id), its Jaccard, and the match count.
    *
    * Scale shape — deliberately the INCREMENTAL index path of
    * [[Dedup.minhashIncrementalPairs]] with the roles cast the way a
    * 100-TB pipeline runs them: the CORPUS enters as its persisted
    * (id, sz, sig) MinHash index (signatures never recomputed per
    * benchmark release), and the BENCHMARK — MBs by definition — is the
    * delta whose signatures are computed fresh. Candidates form only in
    * (band, bucket) groups, the size bound runs on index metadata, and
    * exact verification re-shingles only candidate corpus docs. The
    * final arg-max is a `max_by` partial aggregation, never a window.
    *
    * `corpus` and `bench` must have disjoint id spaces (an eval doc is
    * not a corpus doc — mirror of the delta/index contract).
    *
    * The signature index is `persist()`ed for the band joins; the
    * returned (lazy) frame rides on it, so the blocks outlive this
    * call. Long-lived sessions release them after consuming the
    * result (`spark.catalog.clearCache()`, as Verify/Bench do per
    * query) — or read the index from its SnapshotStore table, which
    * is the production shape.
    */
  def fuzzyDecontaminate(corpus: DataFrame, bench: DataFrame, k: Int = 2,
                         threshold: Double = 0.8, bands: Int = 16, rowsPerBand: Int = 4,
                         seed: Long = 42L, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    // in production this is a SnapshotStore table read (the q43
    // convention); computed in-query for the oracle
    val index = Dedup.minhashIndex(corpus, k, bands, rowsPerBand, seed, idCol, textCol)
      .persist()
    val pairs = Dedup.minhashIncrementalPairs(bench, corpus, index, k, threshold,
      bands, rowsPerBand, seed, idCol, textCol)
    // keep only corpus×bench pairs (the incremental contract admits
    // bench-bench pairs too — benchmark-internal dups are not leakage)
    val bids = broadcast(bench.select(col(idCol).as("bid")))
    val cross = pairs
      .join(bids.withColumnRenamed("bid", "id_a").withColumn("ba", lit(true)), Seq("id_a"), "left")
      .join(bids.withColumnRenamed("bid", "id_b").withColumn("bb", lit(true)), Seq("id_b"), "left")
      .filter(coalesce(col("ba"), lit(false)) =!= coalesce(col("bb"), lit(false)))
      .select(
        when(coalesce(col("ba"), lit(false)), col("id_b")).otherwise(col("id_a")).as("doc_id"),
        when(coalesce(col("ba"), lit(false)), col("id_a")).otherwise(col("id_b")).as("bench_id"),
        col("jaccard"))
    cross.groupBy("doc_id")
      .agg(
        max_by(col("bench_id"), struct(col("jaccard"), (-col("bench_id")).as("nb"))).as("bench_id"),
        max(col("jaccard")).as("jaccard"),
        count(lit(1)).as("n_matches"))
  }

  /** EXACT per-stratum quantiles of an integer metric (doc length,
    * token count, …) without ever sorting the corpus — the length-
    * distribution read every curation recipe starts from. The rule is
    * pinned to integers so any engine replays it: quantile q_ppm =
    * the k-th smallest value with k = ⌈q·n⌉ = (q_ppm·n + 10⁶−1) div 10⁶
    * (1-indexed, duplicates counted).
    *
    * Scale shape: the corpus collapses FIRST — one partial aggregation
    * onto (stratum, value) rows (token counts have at most ~10⁶
    * distinct values no matter the corpus size) — and the running-count
    * window then runs over that tiny frame, partitioned by stratum.
    * The naive row_number-over-raw-rows formulation (which the DuckDB
    * oracle uses) sorts every corpus row inside each stratum: a
    * full-corpus sort-shuffle at 100 TB. Quantile targets ride in as a
    * broadcast literal frame, so one pass serves every q.
    */
  def groupQuantiles(df: DataFrame, stratumCol: String, value: Column,
                     qsPpm: Seq[Long] = Seq(500000L, 900000L, 990000L)): DataFrame = {
    require(qsPpm.nonEmpty && qsPpm.forall(q => q > 0 && q <= 1000000L))
    val counts = df.groupBy(col(stratumCol).as("stratum"), value.cast("long").as("value"))
      .agg(count(lit(1)).as("c"))
    val run = Window.partitionBy("stratum").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy("stratum")
    val cum = counts
      .withColumn("cum", sum(col("c")).over(run))
      .withColumn("n_docs", sum(col("c")).over(whole))
    val qs = broadcast(df.sparkSession
      .createDataset(qsPpm)(Encoders.scalaLong).toDF("q_ppm"))
    cum.join(qs) // tiny literal frame: #qs rows
      .withColumn("k", expr("(q_ppm * n_docs + 999999L) DIV 1000000L"))
      .filter(col("cum") >= col("k"))
      .groupBy("stratum", "q_ppm")
      .agg(first(col("n_docs")).as("n_docs"), first(col("k")).as("k"),
        min(col("value")).as("value"))
  }

  /** BPE-style MERGE INDUCTION — `rounds` rounds of "count all adjacent
    * token pairs, merge the most frequent one everywhere" (count desc,
    * then pair lexicographic asc, so the choice is engine-independent).
    * This is tokenizer TRAINING's inner loop, run at the token level;
    * character-level BPE is the same dataflow with a finer alphabet.
    * Returns per doc the final token count, merges applied, and a hash
    * of the exact merged sequence.
    *
    * Determinism contract shared with the oracle: pair COUNTING
    * enumerates every adjacent (overlapping) occurrence, the standard
    * BPE statistic; MERGING is left-to-right non-overlapping — both
    * engines' `replace` has exactly those semantics, applied to the
    * corpus in sentinel form (U+0001-wrapped token units, so a pattern
    * can never straddle token boundaries; U+0001 must not occur in
    * the text — a production run would escape it on ingest).
    *
    * Scale shape per round: ONE exchange (pair-count partial agg on the
    * pair key, map-side combine) + a driver-side argmax of the tiny
    * count frame's top row (`orderBy.limit(1)` = TakeOrderedAndProject,
    * each partition ships only its own best) + a zero-exchange
    * `replace` projection. R rounds = R small jobs; production BPE runs
    * the counting on a corpus sample — same plan, one more filter.
    *
    * `base` and the final round's frame stay `persist()`ed under the
    * returned (lazy) result; callers holding the session release them
    * after consuming it (`spark.catalog.clearCache()`, as Verify/Bench
    * do per query).
    */
  def mergeInduction(docs: DataFrame, rounds: Int = 3, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(rounds >= 1)
    val S = "\u0001"
    val base = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        concat(lit(S), concat_ws(S + S, split(trim(col(textCol)), "\\s+")), lit(S)).as("s"))
      .persist()
    def toks(d: DataFrame): Column = split(expr("substring(s, 2, length(s) - 2)"), S + S)
    var cur = base
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      val best = cur.select(toks(cur).as("l"))
        .filter(size(col("l")) >= 2)
        .select(explode(expr("transform(sequence(0, size(l) - 2), i -> struct(l[i] AS a, l[i + 1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        val prev = cur
        cur = prev.withColumn("s",
          call_function("replace", col("s"),
            lit(S + a + S + S + b + S), lit(S + a + " " + b + S)))
          .persist()
        cur.count() // materialize so the next round's count scans once
        if (!(prev eq base)) prev.unpersist()
        r += 1
      }
    }
    val out = cur
      .withColumn("n_tokens", size(toks(cur)).cast("long"))
      .join(base.select(col("doc_id"), size(toks(base)).cast("long").as("n_orig")), Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_orig") - col("n_tokens")).as("n_merged"),
        md5(col("s")).as("seq_md5"))
    out
  }

  /** Corpus SNAPSHOT DIFF — which docs were added, removed, or changed
    * between two corpus versions, by content fingerprint (the dataset-
    * versioning read every incremental pipeline runs before deciding
    * what to re-process). `change ∈ {added, removed, changed}`;
    * unchanged docs are not emitted.
    *
    * Scale shape: each side collapses to (id, md5-of-normalized-text)
    * BEFORE the join — 16-byte fingerprints move, never text — and the
    * diff is one full-outer equi-join on the id (one exchange per
    * side; on Iceberg the same answer falls out of manifest-level file
    * diffs for the unchanged partitions, so the join only has to cover
    * files the snapshot metadata can't prove equal).
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def fp(df: DataFrame, as: String) =
      df.select(col(idCol).as("doc_id"),
        TextAnalysis.fingerprintMd5(col(textCol)).as(as))
    fp(oldDocs, "fp_old").join(fp(newDocs, "fp_new"), Seq("doc_id"), "full_outer")
      .withColumn("change",
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") =!= col("fp_new"), "changed")
          .otherwise("unchanged"))
      .filter(col("change") =!= "unchanged")
      .select("doc_id", "change")
  }

  /** Sliding CONTEXT-WINDOW chunking — the packing step that turns
    * curated documents into fixed-size training windows with overlap:
    * chunk j covers tokens [j·stride, j·stride + window), clipped at
    * the document end; starts run while j·stride < n, i.e.
    * j = 0 .. (n−1) div stride. Emits per chunk the index, start
    * offset, actual length, and an md5 of the exact token window.
    *
    * Scale shape: a pure per-document projection — split → `transform`
    * over an arithmetic `sequence` → explode, all inside whole-stage
    * codegen, ZERO exchanges. The chunk fingerprint is computed in-row
    * so downstream chunk-level dedup ([[chunkDedup]]) starts from
    * 16-byte keys.
    */
  def chunkWindows(docs: DataFrame, window: Int, stride: Int,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window >= 1 && stride >= 1)
    docs.select(col(idCol).as("doc_id"), split(trim(col(textCol)), "\\s+").as("l"))
      .filter(trim(col(textCol)) =!= "")
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, (size(l) - 1) div $stride),
           |  j -> struct(j AS chunk_idx, j * $stride AS start_token,
           |    slice(l, j * $stride + 1, $window) AS toks))""".stripMargin)).as("c"))
      .select(col("doc_id"),
        col("c.chunk_idx").cast("long").as("chunk_idx"),
        col("c.start_token").cast("long").as("start_token"),
        size(col("c.toks")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("c.toks"))).as("chunk_md5"))
  }

  /** Typed-aggregation row: (stratum, md5-of-id, id). */
  final case class KeyedHash(stratum: String, hash: String, id: Long)

  /** Bounded buffer: the k smallest (hash, id) pairs seen so far, kept
    * ascending in two parallel columns (Encoders.product-friendly).
    */
  final case class TopKBuf(hashes: Seq[String], ids: Seq[Long])

  final case class SampledDoc(stratum: String, sample_rank: Long, doc_id: Long, hash: String)

  /** Min-k by (hash, id): a partial-aggregating top-k. `reduce` is an
    * O(k) sorted insert with an O(1) reject of rows past the current
    * k-th; `merge` folds one buffer into the other. Both are
    * insertion-order-independent (the k smallest of a multiset), so
    * partial aggregation and shuffle order cannot change the answer.
    */
  final class MinKByHash(k: Int) extends Aggregator[KeyedHash, TopKBuf, TopKBuf] {
    require(k >= 1, "k must be >= 1")

    override def zero: TopKBuf = TopKBuf(Vector.empty, Vector.empty)

    private def lt(h1: String, i1: Long, h2: String, i2: Long): Boolean = {
      val c = h1.compareTo(h2)
      c < 0 || (c == 0 && i1 < i2)
    }

    private def insert(b: TopKBuf, hash: String, id: Long): TopKBuf = {
      val n = b.hashes.size
      if (n == k && !lt(hash, id, b.hashes(n - 1), b.ids(n - 1))) return b
      var i = 0
      while (i < n && lt(b.hashes(i), b.ids(i), hash, id)) i += 1
      TopKBuf(
        ((b.hashes.take(i) :+ hash) ++ b.hashes.drop(i)).take(k),
        ((b.ids.take(i) :+ id) ++ b.ids.drop(i)).take(k))
    }

    override def reduce(b: TopKBuf, e: KeyedHash): TopKBuf = insert(b, e.hash, e.id)

    override def merge(a: TopKBuf, b: TopKBuf): TopKBuf =
      b.hashes.indices.foldLeft(a)((acc, i) => insert(acc, b.hashes(i), b.ids(i)))

    override def finish(b: TopKBuf): TopKBuf = b

    override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
    override def outputEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  }

  /** Deterministic stratified sample: the k docs with the smallest
    * md5(id) per stratum — a content-independent, engine-independent
    * pick (any SQL engine replays it with a row_number window; Spark
    * runs it as a partial top-k aggregation instead, shipping at most
    * k rows per (map task, stratum)).
    *
    * @return (stratum, sample_rank 1..k ordered by hash, doc_id, hash)
    */
  def stratifiedSample(docs: DataFrame, stratumCol: String, k: Int,
                       idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(stratumCol).cast("string").as("stratum"),
        md5(col(idCol).cast("string")).as("hash"),
        col(idCol).as("id"))
      .as[KeyedHash]
      .groupByKey(_.stratum)
      .agg(new MinKByHash(k).toColumn.name("top"))
      .flatMap { case (s, buf) =>
        buf.hashes.indices.map(i => SampledDoc(s, (i + 1).toLong, buf.ids(i), buf.hashes(i)))
      }
      .toDF()
  }

  /** MIXTURE-WEIGHTED SAMPLE — the draw that turns [[mixtureWeights]]'
    * √p-tempered recipe into an actual training subset: stratum s gets
    * quota_s = min(n_s, budget·weight_ppm_s DIV 10⁶) docs, and its
    * quota is filled with the quota_s smallest-md5(id) docs (the q50
    * content-independent draw) — so the SAME docs are drawn on every
    * replay, and growing the corpus only ever extends a stratum's
    * sample.
    *
    * Two passes by construction (plan, then draw): the weight table
    * collects first (one row per stratum — metadata), then one
    * bounded-partial-agg pass draws. The draw buffer is ≤ max-quota
    * rows per (map task, stratum) — exact smallest-hash selection's
    * inherent state. Past ~10⁵-doc quotas, swap the selection for the
    * hash-threshold filter (`md5₄₈(id) < quota·2⁴⁸ DIV n_s`, a pure
    * projection with binomial jitter on the quota); same determinism,
    * zero state.
    *
    * @return (stratum, quota, sample_rank, doc_id), rank 1..quota by
    *         (md5 hash asc, id asc).
    */
  def mixtureSample(docs: DataFrame, budget: Long, stratumCol: String = "lang",
                    idCol: String = "doc_id"): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    val spark = docs.sparkSession
    import spark.implicits._
    val quotas: Map[String, Long] = mixtureWeights(docs, stratumCol).collect()
      .map(r => r.getString(0) ->
        math.min(r.getLong(1), budget * r.getLong(3) / 1000000L)).toMap
    val kmax = math.max(1L, quotas.values.foldLeft(0L)(math.max)).toInt
    docs.select(col(stratumCol).cast("string").as("stratum"),
        md5(col(idCol).cast("string")).as("hash"), col(idCol).as("id"))
      .as[KeyedHash]
      .groupByKey(_.stratum)
      .agg(new MinKByHash(kmax).toColumn.name("top"))
      .flatMap { case (s, buf) =>
        val q = quotas.getOrElse(s, 0L).toInt
        buf.hashes.indices.take(q).map(i => (s, q.toLong, (i + 1).toLong, buf.ids(i)))
      }
      .toDF("stratum", "quota", "sample_rank", "doc_id")
  }

  /** PMI-style bigram PHRASE SCORING — the word2phrase pass (Mikolov
    * et al. 2013, "Distributed Representations of Words and Phrases"):
    * adjacent token pairs that co-occur far more often than their
    * parts predict are collocations ("new york", "machine learning")
    * worth joining before tokenizer training. score = (cnt_ab − δ) ·
    * N / (cnt_a · cnt_b), here in fixed-point thousandths
    * (`score_milli`, floor division) so summation order and float
    * rounding cannot break the oracle hash; the δ discount kills
    * rare-pair noise.
    *
    * Scale shape: two wordcount-shaped exchanges (bigram keys, unigram
    * keys), both map-side combined; the bigram frame is filtered to
    * `cnt_ab > max(minCount−1, discount)` BEFORE any join, so the
    * long co-occurrence tail never reaches the unigram joins; the
    * grand total N rides in as a broadcast 1-row frame. The two
    * unigram joins shuffle only the surviving bigram heads/tails —
    * vocabulary-sized, not corpus-sized. All arithmetic stays positive
    * (cnt_ab > δ), so Spark `DIV` (truncating) and DuckDB `//`
    * (flooring) agree.
    *
    * Overflow bound: (cnt_ab − δ) · N · 1000 < 2⁶³ needs cnt_ab · N <
    * 9.2 × 10¹⁵ — safe to ~10⁷ occurrences of a pair in a ~10⁹-token
    * corpus; beyond that, drop the milli scale or compute per-stratum.
    *
    * @return top `k` rows (a, b, cnt_ab, score_milli), score desc then
    *         pair asc — the deterministic phrase table.
    */
  def phraseScores(docs: DataFrame, k: Int = 100, minCount: Int = 5,
                   discount: Int = 5, textCol: String = "text"): DataFrame = {
    val toks = docs.filter(length(trim(col(textCol))) > 0)
      .select(split(trim(col(textCol)), "\\s+").as("l"))
    // vocab-sized but corpus-priced: three consumers (both join sides
    // + the total) would each re-tokenize the corpus without the
    // persist; released by the caller per the Verify/Bench contract
    val unigrams = toks.select(explode(col("l")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .persist()
    val total = unigrams.agg(sum(col("cnt")).cast("long").as("total"))
    val bigrams = toks.filter(size(col("l")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(l) - 2), i -> struct(l[i] AS a, l[i + 1] AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cnt_ab"))
      .filter(col("cnt_ab") >= minCount && col("cnt_ab") > discount)
    bigrams
      .join(unigrams.withColumnRenamed("tok", "a").withColumnRenamed("cnt", "cnt_a"), Seq("a"))
      .join(unigrams.withColumnRenamed("tok", "b").withColumnRenamed("cnt", "cnt_b"), Seq("b"))
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("cnt_ab"),
        expr(s"((cnt_ab - $discount) * total * 1000) DIV (cnt_a * cnt_b)").as("score_milli"))
      .orderBy(col("score_milli").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Bigram language-model DOCUMENT scoring — the perplexity-filter
    * step of a training-data recipe, one level up from [[rarityScore]]
    * (unigram): train maximum-likelihood bigram transition
    * probabilities on the corpus itself, then score each document by
    * its mean transition probability. Low scores = token sequences the
    * corpus-wide model finds improbable (shuffled text, lists of
    * codes, boilerplate fragments) — the docs a perplexity filter
    * drops. Fixed-point ppm with floor division throughout (real
    * perplexity needs log(); the LINEAR mean keeps every step integer
    * so an independent engine replays the scores bit-exactly, and it
    * induces the same "weird doc" ordering at the bottom of the
    * distribution, which is where the filter acts).
    *
    * Scale shape: ONE tokenize+explode pass feeds a (doc, w1, w2)
    * aggregation (map-side combined, corpus-sized exchange #1); the
    * transition table `c2` and its left-marginal `c1` are re-aggs of
    * that frame — VOCABULARY²-bounded, never corpus-sized; scoring
    * joins the doc-bigram frame to the transition table on (w1, w2)
    * (exchange #2 — the model is corpus-trained, so broadcast would be
    * wrong at 10⁹ distinct bigrams) and folds per doc (exchange #3).
    * Overflow: ssum ≤ n_tokens·10⁶ per doc — safe to 10¹² tokens/doc.
    *
    * @return bottom `k` docs by mean transition ppm:
    *         (doc_id, n_bigrams, score_ppm), ascending — the drop list.
    */
  def bigramLmScore(docs: DataFrame, k: Int = 50, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    // three consumers (c2 re-agg + the score join's probe side);
    // released by the caller per the Verify/Bench contract
    val dgb = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"), split(trim(col(textCol)), "\\s+").as("l"))
      .filter(size(col("l")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(l) - 2), i -> struct(l[i] AS w1, l[i + 1] AS w2))")).as("p"))
      .groupBy(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
      .persist()
    val c2 = dgb.groupBy("w1", "w2").agg(sum("cnt").as("c2"))
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    val p = c2.join(c1, Seq("w1"))
      .select(col("w1"), col("w2"), expr("(c2 * 1000000) DIV c1").as("p_ppm"))
    dgb.join(p, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum(expr("cnt * p_ppm")).as("ssum"), sum("cnt").as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("ssum DIV n_bigrams").as("score_ppm"))
      .orderBy(col("score_ppm"), col("doc_id"))
      .limit(k)
  }

  /** SemDeDup — SEMANTIC deduplication over an embedding column
    * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means-cluster the
    * embeddings, compare pairs only WITHIN a cluster, and for every
    * pair whose cosine similarity clears `tau` drop the member that
    * sits FARTHER from its cluster centroid (the paper's keep-the-
    * representative rule; ties → keep the smaller id). Catches
    * paraphrases and re-renderings that no lexical family
    * (MinHash/SimHash/n-gram) can see.
    *
    * Scale shape (the whole point of the clustering step): candidate
    * generation is bounded by the LARGEST CLUSTER, never the corpus —
    * assignment is [[Similarity.kmeansAssign]]'s zero-exchange
    * projection (centroids ride as literals), the pair join shuffles
    * both sides once on the cluster key, and the verdict is a distinct
    * + left anti-join at pair cardinality. At 10⁹ embeddings you raise
    * k so clusters stay ~10⁴–10⁵ (the paper uses k ≈ 50 000 for
    * LAION-440M) and the within-cluster quadratic term stays smaller
    * than a single corpus scan; skewed clusters split by re-clustering
    * recursively. Cosine is the round-6 codegen expression the
    * q27/q28/q35 oracles pinned; the farther-member rule reuses
    * assignment's integer `dist`, so the verdict is engine-exact.
    *
    * @param tau rounded-cosine keep/drop threshold (the synthetic
    *            corpus has no true semantic dups, so callers
    *            demonstrating on it pick a low tau)
    * @return one row per embedding: (idCol, cluster, dist, kept)
    */
  def semDeDup(embeddings: DataFrame, k: Int, iters: Int, tau: Double,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assign = Similarity.kmeansAssign(embeddings, k, iters,
      idCol = idCol, vecCol = vecCol)
    val vecs = embeddings.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("ev"))
    val j = assign.join(vecs, col(idCol) === col("vid"))
      .select(col(idCol).as("id"), col("cluster"), col("dist"), col("ev"))
    val a = j.select(col("id").as("ia"), col("cluster"),
      col("dist").as("da"), col("ev").as("ea"))
    val b = j.select(col("id").as("ib"), col("cluster"),
      col("dist").as("db"), col("ev").as("eb"))
    // within-cluster pairs only; the loser is the farther-from-centroid
    // member (tie → the larger id, i.e. the smaller id is kept)
    val drops = a.join(b, Seq("cluster"))
      .filter(col("ia") < col("ib") &&
        round(Dedup.cosine(col("ea"), col("eb")), 6) >= tau)
      .select(when(col("da") <= col("db"), col("ib"))
        .otherwise(col("ia")).as("drop_id"))
      .distinct()
    assign.join(drops, assign(idCol) === drops("drop_id"), "left")
      .select(col(idCol), col("cluster"), col("dist"),
        col("drop_id").isNull.as("kept"))
  }

  /** DSIR-style importance weighting — Data Selection with Importance
    * Resampling (Xie et al. 2023): score each document by how much
    * more likely its tokens are under a TARGET distribution (here: the
    * unigram distribution of a trusted sub-corpus) than under the raw
    * source distribution, then keep the top-weighted docs. The
    * published method weights by Σ log(p_tgt/p_src) over hashed
    * n-grams; this fixed-point variant linearizes the log-ratio to
    * Σ (tgt_ppm − src_ppm) per token occurrence — the same
    * integer-for-log substitution as [[bigramLmScore]] and q85's
    * linearized idf, so an independent engine replays the weights
    * bit-exactly, and the induced ranking agrees where the filter
    * acts (both are monotone in the per-token probability gap).
    *
    * Scale shape: ONE tokenize+explode pass trains both distributions
    * (conditional sums in the same aggregation — the target is a
    * FILTER over the corpus, not a second scan); the model is then
    * cut to the `vocab` most frequent tokens (count desc, token asc —
    * TakeOrderedAndProject, bounding model size the way the paper's
    * feature hashing does) and broadcast back against a second
    * tokenize pass; the per-doc weight is one partial-agg exchange.
    * OOV tokens contribute 0 by construction.
    *
    * @param isTarget document-level predicate selecting the trusted
    *                 target sub-corpus (evaluated in the training agg)
    * @return top `n` docs by (weight desc, doc_id asc):
    *         (doc_id, n_tokens, weight) — the keep list.
    */
  def dsirWeights(docs: DataFrame, isTarget: Column, vocab: Int, n: Int,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"), isTarget.as("is_tgt"),
        explode(split(trim(col(textCol)), "\\s+")).as("token"))
    val counts = toks.groupBy("token")
      .agg(count(lit(1)).as("c_src"),
        sum(when(col("is_tgt"), 1L).otherwise(0L)).as("c_tgt"))
      .orderBy(col("c_src").desc, col("token"))
      .limit(vocab)
      .persist()
    val totals = counts.agg(sum("c_src").as("t_src"), sum("c_tgt").as("t_tgt"))
    // greatest(·, 1): a vocab cut can strand the target with ZERO
    // in-vocab occurrences — the numerator is 0 there too, so clamping
    // the denominator keeps the gap exact while dodging the div-0
    val model = counts.crossJoin(broadcast(totals))
      .select(col("token"),
        (expr("(c_tgt * 1000000) DIV greatest(t_tgt, bigint(1))") -
          expr("(c_src * 1000000) DIV greatest(t_src, bigint(1))")).as("gap_ppm"))
    toks.join(broadcast(model), Seq("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("gap_ppm").as("weight"))
      .orderBy(col("weight").desc, col("doc_id"))
      .limit(n)
  }

  /** BPE merge-pair training (Sennrich et al. 2016) — learn the first
    * `merges` byte-pair merges over the corpus: round i counts adjacent
    * symbol pairs (weighted by word frequency), picks the most frequent
    * (ties: lexicographic (lhs, rhs)), and rewrites every word's symbol
    * sequence with the merged pair. Output per round: the merge rule,
    * its pair count, and the corpus token total AFTER applying it — the
    * tokenizer-trainer compression curve. [[vocabEncode]] (q59) APPLIES
    * a trained vocabulary; this is the step that TRAINS one.
    *
    * Merge application = literal string `replace` over the
    * space-joined symbol sequence (` lhs rhs ` → ` lhsrhs `): both
    * Spark's `StringReplace` and the SQL oracle's `replace` scan
    * left-to-right non-overlapping, so a run like `a a a` merges its
    * first pair only per round (the consumed separator hides the
    * overlapping second pair until a later round re-picks it). That
    * non-overlap semantics is the op's CONTRACT — deterministic and
    * bit-identical across engines — and differs from canonical BPE
    * only on immediately-overlapping repeats.
    *
    * Scale shape (100 TB): the corpus is scanned ONCE into the
    * word-TYPE table (the `\s+` tokenizer q30/q31/q59 pinned against
    * DuckDB) — one wordcount exchange, after which every round runs
    * over vocabulary-sized data: pair counting is a partial-agg
    * exchange over Σ|word|·types rows (types ≪ corpus), the arg-max
    * ships ONE row to the driver (the q59 collect-the-model
    * precedent), and the rewrite is a pure projection. This is exactly
    * how production trainers (HF tokenizers) structure BPE: train on
    * word counts, never on raw text.
    */
  def bpeMerges(docs: DataFrame, merges: Int = 6,
                textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrain(docs, merges, textCol, withTokenTotals = true)
      .toDF("merge_rank", "lhs", "rhs", "pair_count",
        "new_symbol", "corpus_tokens_after")
  }

  /** Shared BPE trainer core — the per-round corpus-wide argmax loop.
    * With `withTokenTotals` each round's corpus-tokens-after total is
    * delivered as an OBSERVED metric on the NEXT round's pair-count
    * scan (the scan already reads every word's post-merge symbol
    * sequence), so a `merges`-round train costs merges + 1 actions
    * instead of 2·merges — only the LAST round pays a dedicated total
    * aggregation. Without it (the [[bpeEncode]] path, which needs only
    * the rules) every total is skipped outright — the former
    * encode-path cost included `merges` token-total jobs whose results
    * were discarded.
    */
  private def bpeTrain(docs: DataFrame, merges: Int, textCol: String,
                       withTokenTotals: Boolean)
      : Seq[(Int, String, String, Long, String, Long)] = {
    val words = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      // symbolize: one char per symbol, space-joined, space-padded —
      // ' a b c ' — so every adjacent pair is addressable as ' l r '
      .withColumn("sym0", concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")))
      .persist()
    def pairCounts(sym: Column, obs: Option[org.apache.spark.sql.Observation]): DataFrame = {
      val base0 = words.select(col("cnt"), split(trim(sym), " ").as("arr"))
      // the observed total measures the CURRENT sym — i.e. the corpus
      // token count after the PREVIOUS round's merge
      val base = obs.map(o =>
        base0.observe(o, sum(col("cnt") * size(col("arr"))).as("tok"))).getOrElse(base0)
      base.select(col("cnt"),
          explode(when(size(col("arr")) >= 2,
            transform(sequence(lit(1), size(col("arr")) - 1),
              i => struct(element_at(col("arr"), i).as("l"),
                element_at(col("arr"), i + 1).as("r"))))
            .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("pc"))
    }
    var sym: Column = col("sym0")
    val out = Seq.newBuilder[(Int, String, String, Long, String, Long)]
    // the round whose row still awaits its token total
    var pending: Option[(Int, String, String, Long, String)] = None
    var exhausted = false
    for (i <- 1 to merges if !exhausted) {
      val obs =
        if (withTokenTotals && pending.isDefined)
          Some(org.apache.spark.sql.Observation())
        else None
      val best = pairCounts(sym, obs)
        .orderBy(col("pc").desc, col("l"), col("r")).limit(1).collect()
      obs.foreach { o =>
        // AQE prunes the metric when the pair aggregation comes up
        // EMPTY (the exhausted round) — recount the total over the same
        // sym (pre-mutation, exactly what the observation measured)
        val tok = Observations.observedOrRecount(o, "tok")(
          words.agg(sum(col("cnt") * size(split(trim(sym), " ")))).first().getLong(0))
        pending.foreach { case (ri, l0, r0, pc0, ns0) =>
          out += ((ri, l0, r0, pc0, ns0, tok)) }
        pending = None
      }
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, pc) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        sym = replace(sym, lit(s" $l $r "), lit(s" $l$r "))
        if (withTokenTotals) pending = Some((i, l, r, pc, l + r))
        else out += ((i, l, r, pc, l + r, 0L))
      }
    }
    // the final round's total has no later scan to ride on
    pending.foreach { case (ri, l0, r0, pc0, ns0) =>
      val tok = words.agg(sum(col("cnt") * size(split(trim(sym), " "))))
        .first().getLong(0)
      out += ((ri, l0, r0, pc0, ns0, tok))
    }
    words.unpersist()
    out.result()
  }

  /** Apply a [[bpeMerges]]-trained merge table to the corpus — the
    * tokenizer ENCODE step: each document is symbolized (one char per
    * symbol, words separated by a double space so no merge can cross a
    * word boundary), every merge rule rewrites in rank order, and the
    * output reports per-doc word/symbol counts plus the compression
    * ratio in ppm (symbols after merges ÷ base chars).
    *
    * Symbolization is PURE string algebra — whitespace runs collapse
    * to a  sentinel, `(.)` → `$1 ` spaces every char, the
    * sentinel+space pair collapses to the word gap — so the whole
    * encode (symbolize + `merges` chained literal replaces + two
    * counts) is ONE whole-stage-codegen projection over the corpus: no
    * explode, no shuffle, nothing but the final per-doc row. The text
    * must not contain U+0001 (true of any sane corpus; the char is
    * stripped of meaning by the \s+ collapse anyway).
    *
    * Scale shape (100 TB): training reads the corpus once
    * ([[bpeMerges]]); encoding is a second single scan emitting
    * fixed-width rows — the map-only floor for corpus tokenization.
    */
  def bpeEncode(docs: DataFrame, merges: Int = 6, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    // rules-only training: the per-round corpus-tokens-after totals
    // (half the former actions) are not needed to encode
    val rules = bpeTrain(docs, merges, "text", withTokenTotals = false)
      .map(r => (r._2, r._3))
    val sep = "\u0001"
    val sym0 = concat(lit(" "),
      replace(
        regexp_replace(
          regexp_replace(trim(col(textCol)), "\\s+", sep), "(.)", "$1 "),
        lit(sep + " "), lit(" ")))
    val symN = rules.foldLeft(sym0) { case (s, (l, r)) =>
      replace(s, lit(s" $l $r "), lit(s" $l$r "))
    }
    val nonEmpty: Column => Column =
      a => size(filter(a, x => x =!= ""))
    docs.select(col(idCol),
      nonEmpty(split(trim(col(textCol)), "\\s+")).cast("long").as("n_words"),
      length(regexp_replace(trim(col(textCol)), "\\s+", ""))
        .cast("long").as("n_base"),
      nonEmpty(split(symN, " ")).cast("long").as("n_symbols"))
      .withColumn("compression_ppm",
        expr("CASE WHEN n_base > 0 THEN n_symbols * 1000000 DIV n_base ELSE 0 END"))
  }

  /** TOKEN-BUDGET corpus selection — the quality-pruning step of a
    * training recipe: keep the highest-quality documents whose
    * cumulative token count fits the budget (`budgetPerMille` of the
    * corpus total). The greedy quality-ordered prefix is computed
    * WITHOUT a global sort: a (quality → token mass) histogram (one
    * aggregation; at round-6 ppm resolution the histogram is
    * vocabulary-sized, like q59's model) gives each quality class its
    * tokens-above-me offset via one tiny window; each document then
    * needs only its WITHIN-CLASS running sum (per-class window,
    * doc-id order — no cross-class sort ever touches corpus-sized
    * data). selected ⇔ class offset + within-class running ≤ budget.
    *
    * Scale shape (100 TB): one scoring scan, one histogram exchange,
    * one broadcast join + the within-class running sum. The equivalent
    * global ORDER BY quality would range-shuffle the whole corpus.
    *
    * The within-class sum is NOT a naive per-class window — that is
    * skew-bounded by the largest quality class, and a degenerate
    * corpus (mass-identical docs all scoring exactly the same) would
    * funnel one class through one reducer. It is [[shardPack]]'s
    * two-level discipline applied per class: docs bucket by
    * `idCol DIV bucketWidth` (arithmetic ranges, deterministic), a
    * (class, bucket) token-total frame gives each bucket its exclusive
    * within-class offset via a per-class window over BUCKET totals
    * (corpus/bucketWidth rows worst case — the one-class 10¹⁰-doc
    * corpus puts 10⁸ summary rows through that reducer, not 10¹⁰
    * docs; recurse the discipline if even that binds), and the
    * per-(class, bucket) running sum is bounded by `bucketWidth` rows.
    * Bucket ranges are id-monotone, so (bucket, id) order ≡ id order
    * and the result is IDENTICAL to the single-window form
    * (BudgetSelect degenerate-skew spec pins it). `idCol` must be
    * integral — the [[shardPack]] contract.
    */
  def budgetSelect(docs: DataFrame, budgetPerMille: Int = 250,
                   idCol: String = "doc_id", textCol: String = "text",
                   bucketWidth: Long = 64L): DataFrame = {
    require(budgetPerMille > 0 && budgetPerMille <= 1000,
      "budgetPerMille must be in (0, 1000]")
    require(bucketWidth > 0)
    val scored = docs.select(col(idCol),
        TextAnalysis.qualityScoreFused(col(textCol)).as("quality"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"$idCol DIV ${bucketWidth}L"))
      .persist()
    val budgetDf = scored.agg(
      expr(s"(sum(n_tokens) * $budgetPerMille) DIV 1000").as("budget"))
    val hist = scored.groupBy("quality").agg(sum("n_tokens").as("class_tok"))
    val wHist = Window.orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val classCum = hist
      .withColumn("cum_before", coalesce(sum(col("class_tok")).over(wHist), lit(0L)))
      .select("quality", "cum_before")
    // level 1: exclusive within-class offsets of the id-range buckets
    // (window over (class, bucket) TOTALS, never over docs)
    val wBuckets = Window.partitionBy("quality").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketCum = scored.groupBy("quality", "bucket")
      .agg(sum("n_tokens").as("bucket_tok"))
      .withColumn("bucket_before",
        coalesce(sum(col("bucket_tok")).over(wBuckets), lit(0L)))
      .select("quality", "bucket", "bucket_before")
    // level 2: running sum inside one ≤bucketWidth-id-wide bucket
    val wInBucket = Window.partitionBy("quality", "bucket").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, 0)
    scored.join(broadcast(classCum), Seq("quality"))
      .join(bucketCum, Seq("quality", "bucket"))
      .crossJoin(broadcast(budgetDf))
      .withColumn("cum_tokens",
        col("cum_before") + col("bucket_before") +
          sum(col("n_tokens")).over(wInBucket))
      .select(col(idCol), col("quality"), col("n_tokens"), col("cum_tokens"),
        (col("cum_tokens") <= col("budget")).as("selected"))
  }

  /** Leakage-safe train/valid/test split: the split is a hash of the
    * document's NEAR-DUP CLUSTER ROOT, not of the document — so two
    * near-duplicates can never straddle train and test (the eval-set
    * contamination every dedup paper warns about; splitting by doc id
    * leaks whenever near-dups survive). Cluster roots come from
    * [[GraphOps.connectedComponents]] over a near-dup pair frame
    * (q26/q46's SimHash pairs in the driver query); singletons root at
    * their own id. Buckets are md5-48(root) mod 1000 with
    * train < `trainPerMille` ≤ valid < `validPerMille` ≤ test.
    *
    * Scale shape (100 TB): the cluster map is (clustered docs)-sized —
    * a corpus where 2% of docs near-dup joins a 2%-sized frame; the
    * split itself is a projection. One join, no window, no sort.
    */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
                       trainPerMille: Int = 800, validPerMille: Int = 900,
                       idCol: String = "doc_id"): DataFrame = {
    require(0 < trainPerMille && trainPerMille <= validPerMille &&
      validPerMille <= 1000, "need 0 < train <= valid <= 1000")
    val comp = GraphOps.connectedComponents(pairs)
      .withColumnRenamed("id", idCol)
    docs.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .withColumn("cluster_root", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("bucket",
        graft.functions.MinHashExprs.md5Low48Col(
          col("cluster_root").cast("string")) % 1000)
      .select(col(idCol), col("cluster_root"), col("bucket"),
        when(col("bucket") < trainPerMille, "train")
          .when(col("bucket") < validPerMille, "valid")
          .otherwise("test").as("split"))
  }
}
