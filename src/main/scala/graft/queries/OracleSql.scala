package graft.queries

/** DuckDB oracle twins for [[Queries]] — ALL 86 queries have one.
  * Column names and rounding match the Spark side exactly (driver
  * compare sorts columns by name and hashes values). Sketch-parameter
  * queries (q26 simhash, q27 hyperplane LSH, q35 IVF) share their hash
  * functions with DuckDB (`md5_number_lower`, md5-ordered centroids) or
  * inline the sketch constants into the generated SQL, so even the
  * sketch layers are cross-engine-verified, not just the verified tail.
  */
object OracleSql {

  /** One LSH table's bucket string: k CASE-bits over inlined ±1 signs,
    * concatenated — generated from the SAME sign matrix the Spark
    * signature uses ([[graft.datatools.Dedup.hyperplaneSigns]]), with
    * the dot product summed in the same left-to-right order.
    */
  private def hyperBucketSql(vecExpr: String, dim: Int, planes: Int, seed: Long): String =
    graft.datatools.Dedup.hyperplaneSigns(dim, planes, seed).map { signs =>
      val dot = signs.zipWithIndex
        .map { case (s, d) => s"$vecExpr[${d + 1}]*(${if (s < 0) "-1.0" else "1.0"})" }
        .mkString(" + ")
      s"(CASE WHEN $dot > 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")

  private def q27Sql: String = {
    val tables = (0 until 6).map { t =>
      val b = hyperBucketSql("v", dim = 64, planes = 4,
        seed = graft.datatools.Dedup.tableSeed(42L, t))
      s"SELECT id, $t AS tbl, $b AS bucket FROM v"
    }.mkString("\n  UNION ALL ")
    s"""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |banded AS (
       |  $tables),
       |pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM banded a JOIN banded b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id),
       |j AS (SELECT id_a, id_b,
       |  round(list_cosine_similarity(va.v, vb.v), 6) AS cos
       |  FROM pairs JOIN v va ON va.id = id_a JOIN v vb ON vb.id = id_b)
       |SELECT id_a, id_b, cos FROM j WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin
  }

  /** q117: hyperplane banding audit — per config the table buckets are
    * generated from the SAME sign matrices as the Spark signatures
    * (seed scheme `tableSeed(seed, ci*16 + t)`), candidacy is bucket
    * equality OR'd over the config's tables, truth is round-6 cosine ≥
    * tau over the all-pairs frame.
    */
  private def q117Sql(dim: Int, configs: Seq[(Int, Int)], tau: Double,
                      seed: Long): String = {
    val bucketCols = configs.zipWithIndex.flatMap { case ((tbls, planes), ci) =>
      (0 until tbls).map { t =>
        val b = hyperBucketSql("v", dim, planes,
          graft.datatools.Dedup.tableSeed(seed, ci * 16 + t))
        s"$b AS b${ci}_$t"
      }
    }.mkString(",\n    ")
    val candCols = configs.zipWithIndex.map { case ((tbls, _), ci) =>
      (0 until tbls).map(t => s"a.b${ci}_$t = b.b${ci}_$t")
        .mkString("(", " OR ", s") AS cand$ci")
    }.mkString(",\n    ")
    val cfgSelects = configs.zipWithIndex.map { case ((tbls, planes), ci) =>
      s"""SELECT $tbls AS tables, $planes AS planes,
         |  coalesce(sum(CASE WHEN cos >= $tau THEN 1 ELSE 0 END), 0)::BIGINT
         |    AS n_truth,
         |  coalesce(sum(CASE WHEN cand$ci THEN 1 ELSE 0 END), 0)::BIGINT
         |    AS n_candidates,
         |  coalesce(sum(CASE WHEN cand$ci AND cos >= $tau THEN 1 ELSE 0 END), 0)::BIGINT
         |    AS tp
         |FROM j""".stripMargin
    }
    s"""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |s AS (SELECT id, v,
       |    $bucketCols
       |  FROM v),
       |j AS (SELECT round(list_cosine_similarity(a.v, b.v), 6) AS cos,
       |    $candCols
       |  FROM s a JOIN s b ON a.id < b.id),
       |cfg AS (${cfgSelects.mkString("\nUNION ALL\n")})
       |SELECT tables, planes, n_truth, n_candidates, tp,
       |  (CASE WHEN n_truth > 0 THEN (tp * 1000000) // n_truth
       |        ELSE 0 END)::BIGINT AS recall_ppm,
       |  (CASE WHEN n_candidates > 0 THEN (tp * 1000000) // n_candidates
       |        ELSE 0 END)::BIGINT AS precision_ppm
       |FROM cfg ORDER BY tables""".stripMargin
  }

  /** q118: IVF probe-budget audit — q35's index SQL with the probe rank
    * kept, one shared scored-candidate CTE at the widest budget, exact
    * brute-force ground truth; per budget a prank-prefix top-k and two
    * counts (scanned = cost axis, recall vs truth = quality axis).
    */
  private def q118Sql(k: Int, nList: Int, probes: Seq[Int], nQueries: Int): String = {
    val maxProbe = probes.max
    val cfgSelects = probes.map { p =>
      s"""SELECT $p AS n_probe,
         |  (SELECT count(*) FROM cand WHERE prank <= $p)::BIGINT AS scanned,
         |  (SELECT count(*) FROM (
         |      SELECT query_id, corpus_id FROM (
         |        SELECT query_id, corpus_id, row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos DESC, corpus_id) AS rank
         |        FROM cand WHERE prank <= $p) WHERE rank <= $k) t
         |    JOIN truth USING (query_id, corpus_id))::BIGINT AS n_hits""".stripMargin
    }
    s"""WITH cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS centroid
       |    FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $nList),
       |c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
       |    WHERE vec_id < $nQueries),
       |assign AS (SELECT corpus_id, cv, cid AS list_id FROM (
       |  SELECT corpus_id, cv, cid, row_number() OVER (PARTITION BY corpus_id
       |    ORDER BY round(list_cosine_similarity(cv, centroid), 6) DESC, cid) AS crank
       |  FROM c CROSS JOIN cents) WHERE crank = 1),
       |pr AS (SELECT query_id, qv, cid AS list_id, prank FROM (
       |  SELECT query_id, qv, cid, row_number() OVER (PARTITION BY query_id
       |    ORDER BY round(list_cosine_similarity(qv, centroid), 6) DESC, cid) AS prank
       |  FROM q CROSS JOIN cents) WHERE prank <= $maxProbe),
       |cand AS (SELECT query_id, corpus_id,
       |    round(list_cosine_similarity(cv, qv), 6) AS cos, prank
       |  FROM assign JOIN pr USING (list_id) WHERE corpus_id <> query_id),
       |truth AS (SELECT query_id, corpus_id FROM (
       |  SELECT query_id, corpus_id, row_number() OVER (PARTITION BY query_id
       |    ORDER BY round(list_cosine_similarity(cv, qv), 6) DESC, corpus_id) AS rank
       |  FROM c CROSS JOIN q WHERE corpus_id <> query_id) WHERE rank <= $k),
       |cfg AS (${cfgSelects.mkString("\nUNION ALL\n")})
       |SELECT n_probe, (SELECT count(*) FROM truth)::BIGINT AS n_truth,
       |  scanned, n_hits,
       |  (CASE WHEN (SELECT count(*) FROM truth) > 0
       |        THEN (n_hits * 1000000) // (SELECT count(*) FROM truth)
       |        ELSE 0 END)::BIGINT AS recall_ppm
       |FROM cfg ORDER BY n_probe""".stripMargin
  }

  // shared fragments
  private val normText =
    """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""

  // the low `cfg.bpb` bits of a band; 1 << 64 is out of range in
  // DuckDB, so a whole-signature band is all ones (Dedup.bandedBuckets)
  private val bandMask =
    "CASE WHEN cfg.bpb = 64 THEN ~(0::UBIGINT) ELSE (1::UBIGINT << cfg.bpb) - 1 END"

  private val noisyCanon =
    """'https://host' || (o_custkey % 50)::VARCHAR || '.example.com/p/' || o_orderkey::VARCHAR"""

  private val bigramSets =
    s"""WITH toks AS (
       |  SELECT doc_id AS id, string_split($normText, ' ') AS tk FROM documents
       |), d AS (
       |  SELECT id, list_distinct(list_transform(generate_series(1, len(tk) - 1),
       |         i -> tk[i] || ' ' || tk[i + 1])) AS sh FROM toks
       |), e AS (
       |  SELECT id, len(sh) AS sz, unnest(sh) AS s FROM d
       |), pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b, any_value(a.sz) AS sa,
       |         any_value(b.sz) AS sb, count(*) AS inter
       |  FROM e a JOIN e b ON a.s = b.s AND a.id < b.id
       |  GROUP BY a.id, b.id
       |)""".stripMargin

  /** SimHash twin generated from the SAME (bands, bitsPerBand, maxDist)
    * the Spark entry passes to `Dedup.simhashPairs`. Docs whose
    * normalized text is empty produce no token rows, so the aggregate
    * CTE alone would drop them — but Spark's `simhash64` assigns them
    * signature 0 and bands them like any other doc, so the oracle
    * synthesizes those signature-0 rows explicitly (UNION ALL branch).
    */
  private def simhashCtes(bands: Int, bitsPerBand: Int, probeHamming: Int): String = {
    val mask = (1L << bitsPerBand) - 1
    // radius-R multi-probe admits a candidate iff some band's buckets
    // are within hamming R (each side probes every ≤R-bit flip of its
    // own bucket) — for R = 0 this degenerates to bucket equality
    val bucketCond =
      if (probeHamming == 0) "a.bucket = b.bucket"
      else s"bit_count(xor(a.bucket, b.bucket)) <= $probeHamming"
    s"""toks AS (
       |  SELECT doc_id AS id, unnest(string_split($normText, ' ')) AS t FROM documents),
       |th AS (SELECT id, md5_number_lower(t) AS h FROM toks WHERE t <> ''),
       |bits AS (SELECT id, g.bit,
       |  sum(CASE WHEN ((h >> g.bit) & 1) = 1 THEN 1 ELSE -1 END) AS acc
       |  FROM th CROSS JOIN generate_series(0, 63) AS g(bit) GROUP BY id, g.bit),
       |sig AS (SELECT id,
       |  sum(CASE WHEN acc > 0 THEN (1::UBIGINT << bit) ELSE 0::UBIGINT END)::UBIGINT AS s
       |  FROM bits GROUP BY id
       |  UNION ALL
       |  SELECT doc_id AS id, 0::UBIGINT AS s FROM documents WHERE $normText = ''),
       |banded AS (SELECT id, s, g.band, (s >> (g.band * $bitsPerBand)) & $mask AS bucket
       |  FROM sig CROSS JOIN generate_series(0, ${bands - 1}) AS g(band)),
       |pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS sa, b.s AS sb
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND $bucketCond AND a.id < b.id)""".stripMargin
  }

  private def simhashSql(bands: Int, bitsPerBand: Int, maxDist: Int,
                         probeHamming: Int = 0, extraWhere: String = ""): String =
    s"""WITH ${simhashCtes(bands, bitsPerBand, probeHamming)}
       |SELECT id_a, id_b, bit_count(xor(sa, sb))::INT AS hamming
       |FROM pairs WHERE bit_count(xor(sa, sb)) <= $maxDist$extraWhere
       |ORDER BY id_a, id_b""".stripMargin

  /** q46: the SimHash pair set (q26's exact constants) clustered into
    * connected components — the oracle computes the transitive closure
    * with a recursive CTE and labels each doc with its component's min
    * id, the same unique fixpoint the Spark min-label-propagation loop
    * converges to.
    */
  private def q46Sql: String =
    s"""WITH RECURSIVE ${simhashCtes(bands = 4, bitsPerBand = 16, probeHamming = 0)},
       |good AS (SELECT id_a, id_b FROM pairs WHERE bit_count(xor(sa, sb)) <= 6),
       |e AS (SELECT id_a AS u, id_b AS v FROM good
       |      UNION SELECT id_b, id_a FROM good),
       |reach(id, lbl) AS (
       |  SELECT u, u FROM e
       |  UNION
       |  SELECT e2.u, r.lbl FROM e e2 JOIN reach r ON r.id = e2.v),
       |comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1)
       |SELECT comp.id, comp.cluster_id, sz.cluster_size
       |FROM comp JOIN sz USING (cluster_id) ORDER BY comp.id""".stripMargin

  /** q47: bounded-BFS seed distance + in-degree over a deterministic
    * synthetic link graph — min depth via a recursive CTE, the same
    * integer fixpoint the Spark level-synchronous BFS computes.
    */
  private def q47Sql: String =
    """WITH RECURSIVE mx AS (SELECT max(o_orderkey) AS m FROM orders),
      |edges AS (SELECT l_orderkey AS src,
      |    ((l_orderkey + l_partkey * 7) % m) + 1 AS dst FROM lineitem, mx),
      |seeds AS (SELECT o_orderkey AS id FROM orders WHERE o_orderkey % 97 = 0),
      |bfs(id, depth) AS (
      |  SELECT id, 0 FROM seeds
      |  UNION
      |  SELECT e.dst, b.depth + 1 FROM bfs b JOIN edges e ON e.src = b.id
      |  WHERE b.depth < 3),
      |d AS (SELECT id, min(depth) AS depth FROM bfs GROUP BY id),
      |indeg AS (SELECT dst AS id, count(*) AS in_deg FROM edges GROUP BY 1)
      |SELECT d.id AS url_key, d.depth::INT AS depth, coalesce(i.in_deg, 0) AS in_deg
      |FROM d LEFT JOIN indeg i USING (id)
      |ORDER BY depth, in_deg DESC, url_key""".stripMargin

  /** q48: fixed-point integer PageRank, iterations unrolled into CTEs.
    * DuckDB's `//` and Spark's `DIV` are the same floor division on
    * non-negative BIGINTs, and integer addition is order-independent,
    * so 3 unrolled rounds reproduce the Spark loop bit-exactly (DuckDB
    * promotes sum(BIGINT) to HUGEINT — cast back after the damping
    * multiply, which stays within int64 per the GraphOps overflow
    * bound).
    */
  private def q48Sql(iters: Int = 3): String = {
    val rounds = (1 to iters).map { i =>
      s"""s$i AS (SELECT e.dst AS id, sum(r.r // d.c) AS mm
         |  FROM edges e JOIN deg d USING (src) JOIN r${i - 1} r ON r.id = e.src
         |  GROUP BY 1),
         |r$i AS (SELECT n.id, (150000 + (85 * coalesce(s.mm, 0)) // 100)::BIGINT AS r
         |  FROM nodes n LEFT JOIN s$i s USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
       |edges AS (SELECT l_orderkey AS src,
       |    ((l_orderkey + l_partkey * 7) % m) + 1 AS dst FROM lineitem, mx),
       |deg AS (SELECT src, count(*) AS c FROM edges GROUP BY 1),
       |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |r0 AS (SELECT id, 1000000::BIGINT AS r FROM nodes),
       |$rounds
       |SELECT id AS url_key, r AS authority FROM r$iters
       |ORDER BY authority DESC, url_key""".stripMargin
  }

  /** q98: TrustRank — q48's unrolled fixed-point discipline with the
    * teleport restricted to the seed set (src nodes ≡ 0 mod 17):
    * r₀ = 10⁶ on seeds / 0 elsewhere; each round adds the 150000 base
    * only on seeds.
    */
  private def q98Sql(iters: Int = 3): String = {
    val rounds = (1 to iters).map { i =>
      s"""s$i AS (SELECT e.dst AS id, sum(r.r // d.c) AS mm
         |  FROM edges e JOIN deg d USING (src) JOIN r${i - 1} r ON r.id = e.src
         |  GROUP BY 1),
         |r$i AS (SELECT n.id,
         |  ((CASE WHEN n.is_seed THEN 150000 ELSE 0 END) +
         |   (85 * coalesce(s.mm, 0)) // 100)::BIGINT AS r
         |  FROM n2 n LEFT JOIN s$i s USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
       |edges AS (SELECT l_orderkey AS src,
       |    ((l_orderkey + l_partkey * 7) % m) + 1 AS dst FROM lineitem, mx),
       |deg AS (SELECT src, count(*) AS c FROM edges GROUP BY 1),
       |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |seeds AS (SELECT DISTINCT src AS id FROM edges WHERE src % 17 = 0),
       |n2 AS (SELECT n.id, (s.id IS NOT NULL) AS is_seed
       |  FROM nodes n LEFT JOIN seeds s USING (id)),
       |r0 AS (SELECT id,
       |  (CASE WHEN is_seed THEN 1000000 ELSE 0 END)::BIGINT AS r FROM n2),
       |$rounds
       |SELECT id AS url_key, r AS trust FROM r$iters
       |ORDER BY trust DESC, url_key""".stripMargin
  }

  /** q49: keeper selection — q46's SimHash components + q30's round-6
    * quality score, keeper = max quality then min id per cluster
    * (expressed as max(q) + min(id) over the q = max rows, which is
    * exactly Spark's max_by(id, (q, -id)) since (q, -id) is unique per
    * id). Unclustered docs keep themselves.
    */
  private def q49Sql: String =
    s"""WITH RECURSIVE ${simhashCtes(bands = 4, bitsPerBand = 16, probeHamming = 0)},
       |good AS (SELECT id_a, id_b FROM pairs WHERE bit_count(xor(sa, sb)) <= 6),
       |e AS (SELECT id_a AS u, id_b AS v FROM good
       |      UNION SELECT id_b, id_a FROM good),
       |reach(id, lbl) AS (
       |  SELECT u, u FROM e
       |  UNION
       |  SELECT e2.u, r.lbl FROM e e2 JOIN reach r ON r.id = e2.v),
       |comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
       |qm AS (SELECT doc_id,
       |  length(text)::DOUBLE AS len,
       |  (CASE WHEN length(trim(text)) = 0 THEN 0
       |    ELSE len(string_split_regex(trim(text), '\\s+')) END)::DOUBLE AS toks,
       |  length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE AS punct,
       |  length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE AS alpha,
       |  (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5.0
       |    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' a ', ''))) / 3.0
       |    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' and ', ''))) / 5.0 AS stop
       |  FROM documents),
       |qq AS (SELECT doc_id, round(
       |    least(len / 500.0, 1.0) * 0.3
       |    + least(punct / greatest(toks, 1.0) * 5.0, 1.0) * 0.2
       |    + alpha / greatest(len, 1.0) * 0.3
       |    + least(stop / greatest(toks, 1.0) * 10.0, 1.0) * 0.2, 6) AS q FROM qm),
       |scored AS (SELECT c.id, c.cluster_id, qq.q FROM comp c JOIN qq ON qq.doc_id = c.id),
       |mx AS (SELECT cluster_id, max(q) AS mq FROM scored GROUP BY 1),
       |keep AS (SELECT s.cluster_id, min(s.id) AS keeper_id
       |  FROM scored s JOIN mx USING (cluster_id) WHERE s.q = mx.mq GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       |  coalesce(k.keeper_id, d.doc_id) AS keeper_id,
       |  (coalesce(k.keeper_id, d.doc_id) = d.doc_id) AS kept
       |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
       |LEFT JOIN keep k ON k.cluster_id = c.cluster_id
       |ORDER BY d.doc_id""".stripMargin

  val all: Map[String, String] = Map(
    "q01_agg_pushdown" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q02_filter_prune" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
        |FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 100000.0
        |ORDER BY o_orderkey""".stripMargin,

    "q03_join_broadcast" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q04_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers_no_orders
        |FROM customer WHERE NOT EXISTS
        |  (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q05_semi_join" ->
      """SELECT s_nationkey, count(*) AS n_suppliers
        |FROM supplier WHERE EXISTS
        |  (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity > 45)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q06_url_canonicalize" ->
      s"""SELECT $noisyCanon AS url_canon, count(*) AS n,
         |  min(o_orderkey) AS first_key
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q07_seen_antijoin" ->
      s"""WITH urls AS (SELECT o_orderkey, $noisyCanon AS url_canon FROM orders),
         |seen AS (SELECT url_canon FROM urls WHERE o_orderkey % 2 = 0)
         |SELECT 'host' || (regexp_extract(url_canon, 'host(\\d+)', 1)) || '.example.com' AS host,
         |  count(*) AS n_new
         |FROM urls WHERE o_orderkey % 3 = 0
         |  AND url_canon NOT IN (SELECT url_canon FROM seen)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q08_politeness_admission" ->
      """WITH f AS (
        |  SELECT 'host' || (o_custkey % 50)::VARCHAR AS host,
        |    round(fmod(o_totalprice, 100), 4) AS priority, o_orderkey AS seq
        |  FROM orders),
        |r AS (SELECT host, priority,
        |  row_number() OVER (PARTITION BY host ORDER BY priority DESC, seq) AS rnk FROM f)
        |SELECT host, count(*) AS admitted, round(sum(priority), 4) AS sum_priority
        |FROM r WHERE rnk <= 6 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q09_frontier_order" ->
      """WITH f AS (
        |  SELECT 'host' || (o_custkey % 20)::VARCHAR AS host,
        |    round(fmod(o_totalprice, 1000), 4) AS priority, o_orderkey
        |  FROM orders),
        |r AS (SELECT host, o_orderkey, priority,
        |  row_number() OVER (PARTITION BY host ORDER BY priority DESC, o_orderkey) AS rank FROM f)
        |SELECT host, rank::INT AS rank, o_orderkey, priority FROM r WHERE rank <= 3
        |ORDER BY host, rank""".stripMargin,

    "q10_status_expansion" ->
      """SELECT o_orderpriority,
        |  sum(CASE WHEN (o_orderkey % 600 BETWEEN 400 AND 499)
        |             OR (o_orderkey % 600 BETWEEN 500 AND 599) THEN 1 ELSE 0 END)::BIGINT AS n_failing,
        |  count(*) AS n_total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q11_domain_match" ->
      """WITH h AS (SELECT CASE
        |    WHEN c_custkey % 3 = 0 THEN 'sub.host' || (c_custkey % 10)::VARCHAR || '.example.com'
        |    WHEN c_custkey % 3 = 1 THEN 'host7.example.org'
        |    ELSE 'other' || (c_custkey % 10)::VARCHAR || '.net' END AS host
        |  FROM customer)
        |SELECT CASE WHEN host = 'example.com' OR host LIKE '%.example.com'
        |         OR host = 'host7.example.org' OR host LIKE '%.host7.example.org'
        |       THEN 1 ELSE 0 END AS ignored, count(*) AS n
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,

    "q12_robots_filter" ->
      s"""WITH u AS (SELECT $noisyCanon AS url_canon FROM orders)
         |SELECT CASE WHEN regexp_matches(url_canon, '^https://host(7|17|27|37|47)\\.example\\.com/.*')
         |         OR regexp_matches(url_canon, '.*/p/\\d*00$$') THEN 1 ELSE 0 END AS denied,
         |  count(*) AS n, count(DISTINCT url_canon) AS n_urls
         |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    "q13_ip_classify" ->
      """SELECT CASE
        |  WHEN c_custkey % 5 = 0 THEN 0
        |  WHEN c_custkey % 5 = 1 THEN 0
        |  WHEN c_custkey % 5 = 2 THEN 0
        |  WHEN c_custkey % 5 = 3 THEN (CASE WHEN c_custkey % 32 BETWEEN 16 AND 31 THEN 0 ELSE 1 END)
        |  ELSE 1 END AS is_public, count(*) AS n
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    "q14_net_aggregate" ->
      """WITH ev AS (
        |  SELECT *, user_id % 64 AS origin, user_id % 10 AS conv_id FROM events),
        |h AS (SELECT conv_id, event_id AS heaviest_event,
        |  row_number() OVER (PARTITION BY conv_id ORDER BY value DESC, event_id) AS rn FROM ev)
        |SELECT e.conv_id, count(*) AS n_requests, round(sum(value), 4) AS bytes_total,
        |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_failed,
        |  least(count(DISTINCT origin), 64) AS n_origins,
        |  any_value(h.heaviest_event) AS heaviest_event
        |FROM ev e JOIN h ON e.conv_id = h.conv_id AND h.rn = 1
        |GROUP BY e.conv_id ORDER BY e.conv_id""".stripMargin,

    "q15_error_precedence" ->
      """WITH u AS (SELECT user_id,
        |  max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS has_error,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase,
        |  max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS has_signup
        |  FROM events GROUP BY 1)
        |SELECT CASE WHEN has_error = 1 THEN 'error'
        |  WHEN has_purchase = 1 THEN 'purchase'
        |  WHEN has_signup = 1 THEN 'signup' ELSE 'ok' END AS verdict,
        |  count(*) AS n_users
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    "q16_window_offset" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate,
        |  (o_orderkey % 10 + 1)::BIGINT AS pages FROM orders)
        |SELECT o_custkey, o_orderkey, pages,
        |  coalesce(sum(pages) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS page_offset
        |FROM o WHERE o_custkey % 100 = 0
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q17_split_explode" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id, (i - 1)::INT AS pos, toks[i] AS token
        |FROM tk, generate_series(1, 5) AS g(i)
        |WHERE i <= len(toks)
        |ORDER BY doc_id, pos""".stripMargin,

    "q18_merge_ordered" ->
      """WITH f AS (SELECT p_partkey % 12 AS grp,
        |  (p_partkey % 30)::VARCHAR || '_' || lower(replace(p_brand, '#', '')) || '.pdf' AS fname
        |  FROM part),
        |k AS (SELECT grp, fname,
        |  CAST(regexp_extract(fname, '^(\d+)', 1) AS BIGINT) AS num,
        |  regexp_replace(fname, '^\d+', '') AS rest FROM f)
        |SELECT grp, string_agg(fname, '|' ORDER BY num, rest, fname) AS merged_order,
        |  count(*) AS n_parts
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    "q19_alphanum_key" ->
      """WITH f AS (SELECT (p_partkey % 100)::VARCHAR || '_doc_' ||
        |  (p_partkey % 7)::VARCHAR || '.pdf' AS fname FROM part)
        |SELECT CAST(regexp_extract(fname, '^(\d+)', 1) AS BIGINT) AS num,
        |  count(*) AS n, min(regexp_replace(fname, '^\d+', '')) AS first_rest
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    "q20_inches_units" ->
      """WITH p AS (SELECT p_size,
        |  ['pt','px','in','mm','cm','pc'][(p_partkey % 6 + 1)::INT] AS unit FROM part)
        |SELECT unit, round(sum(CASE unit
        |    WHEN 'pt' THEN p_size / 72.0 WHEN 'px' THEN p_size / 96.0
        |    WHEN 'in' THEN p_size::DOUBLE WHEN 'mm' THEN p_size / 25.4
        |    WHEN 'cm' THEN p_size / 2.54 ELSE p_size / 6.0 END), 6) AS total_inches,
        |  count(*) AS n
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

    "q21_duration_histogram" ->
      """WITH e AS (SELECT event_type, abs(value) / 10.0 AS secs FROM events)
        |SELECT event_type, CASE
        |  WHEN secs <= 0.5 THEN '0.5' WHEN secs <= 1 THEN '1.0'
        |  WHEN secs <= 2 THEN '2.0' WHEN secs <= 5 THEN '5.0'
        |  WHEN secs <= 10 THEN '10.0' WHEN secs <= 30 THEN '30.0'
        |  WHEN secs <= 60 THEN '60.0' ELSE 'inf' END AS bucket,
        |  count(*) AS n
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q22_sessionize" ->
      """WITH g AS (SELECT user_id, event_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |s AS (SELECT user_id, event_id, ts,
        |  CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000 THEN 1 ELSE 0 END AS new_session
        |  FROM g),
        |c AS (SELECT user_id, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM s)
        |SELECT user_id, max(session_idx)::BIGINT AS n_sessions, count(*) AS n_events
        |FROM c WHERE user_id % 20 = 0 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q23_dedup_exact" ->
      s"""SELECT md5($normText) AS fingerprint, min(doc_id) AS keeper_id,
         |  count(*) AS n_dups
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q24_ngram_jaccard" ->
      s"""$bigramSets
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE) / (sa + sb - inter), 6) AS jaccard
         |FROM pairs
         |WHERE round(CAST(inter AS DOUBLE) / (sa + sb - inter), 6) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    "q25_minhash_lsh" ->
      s"""$bigramSets
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE) / (sa + sb - inter), 6) AS jaccard
         |FROM pairs
         |WHERE round(CAST(inter AS DOUBLE) / (sa + sb - inter), 6) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    // incremental near-dup (delta = doc_id % 5 = 0 vs indexed corpus):
    // the exact answer is q25's pair set restricted to pairs with a
    // delta member — the banding is identical, only candidate
    // generation is incremental
    "q43_minhash_incremental" ->
      s"""$bigramSets
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE) / (sa + sb - inter), 6) AS jaccard
         |FROM pairs
         |WHERE round(CAST(inter AS DOUBLE) / (sa + sb - inter), 6) >= 0.8
         |  AND (id_a % 5 = 0 OR id_b % 5 = 0)
         |ORDER BY id_a, id_b""".stripMargin,

    "q26_simhash" -> simhashSql(bands = 4, bitsPerBand = 16, maxDist = 6),

    // q42's pipeline with PRODUCT-QUANTIZED list payloads: the
    // codebook is the md5-ordered 32-vector sample sliced into 4
    // subspaces of 16 dims; each subspace stores the codeword with the
    // smallest round-6 Euclidean distance (ties to the smallest
    // sample index j), and the scan ranks on the reconstruction
    // (chosen codewords concatenated in subspace order)
    "q45_ann_ivf_pq" ->
      """WITH cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS centroid
        |    FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
        |samp AS (SELECT embedding::DOUBLE[] AS sv,
        |    row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS j
        |  FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 32),
        |ss AS (SELECT unnest(range(4)) AS s),
        |codes AS (SELECT s, j, list_slice(sv, s*16+1, s*16+16) AS cw
        |  FROM samp CROSS JOIN ss),
        |c0 AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |subs AS (SELECT corpus_id, s, list_slice(cv, s*16+1, s*16+16) AS sub
        |  FROM c0 CROSS JOIN ss),
        |best AS (SELECT corpus_id, s, cw FROM (
        |  SELECT corpus_id, s, cw, row_number() OVER (PARTITION BY corpus_id, s
        |    ORDER BY round(list_distance(sub, cw), 6), j) AS r
        |  FROM subs JOIN codes USING (s)) WHERE r = 1),
        |cq AS (SELECT corpus_id, flatten(list(cw ORDER BY s)) AS cvq
        |  FROM best GROUP BY corpus_id),
        |c AS (SELECT corpus_id, cv, cvq FROM c0 JOIN cq USING (corpus_id)),
        |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
        |    WHERE vec_id < 10),
        |assign AS (SELECT corpus_id, cvq, cid AS list_id FROM (
        |  SELECT corpus_id, cvq, cid, row_number() OVER (PARTITION BY corpus_id
        |    ORDER BY round(list_cosine_similarity(cv, centroid), 6) DESC, cid) AS crank
        |  FROM c CROSS JOIN cents) WHERE crank = 1),
        |probes AS (SELECT query_id, qv, cid AS list_id FROM (
        |  SELECT query_id, qv, cid, row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(list_cosine_similarity(qv, centroid), 6) DESC, cid) AS prank
        |  FROM q CROSS JOIN cents) WHERE prank <= 8),
        |cand AS (SELECT query_id, qv, corpus_id FROM (
        |  SELECT query_id, qv, corpus_id, row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(list_cosine_similarity(cvq, qv), 6) DESC, corpus_id) AS qrank
        |  FROM assign JOIN probes USING (list_id) WHERE corpus_id <> query_id)
        |  WHERE qrank <= 20),
        |rer AS (SELECT query_id, corpus_id,
        |    round(list_cosine_similarity(cv, qv), 6) AS cos
        |  FROM cand JOIN c USING (corpus_id)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, corpus_id) AS rank FROM rer)
        |SELECT query_id, corpus_id, rank::INT AS rank, cos FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // incremental SimHash (delta = doc_id % 5 = 0 vs the (id, sig)
    // index of the rest): q26's exact pair set restricted to pairs
    // with a delta member — signature-only verification, so the
    // incremental path reads zero corpus text
    "q44_simhash_incremental" -> simhashSql(bands = 4, bitsPerBand = 16,
      maxDist = 6, extraWhere = " AND (id_a % 5 = 0 OR id_b % 5 = 0)"),

    // same operator, second banding config — generated from the same
    // constants the Spark entry uses, so the parameterized banding is
    // itself oracle-verified (not just the default layout)
    "q37_simhash_bands" -> simhashSql(bands = 8, bitsPerBand = 8, maxDist = 6),

    "q39_simhash_probe" ->
      simhashSql(bands = 2, bitsPerBand = 32, maxDist = 6, probeHamming = 1),

    "q41_simhash_r2" ->
      simhashSql(bands = 2, bitsPerBand = 32, maxDist = 6, probeHamming = 2),

    // q40's pipeline with SQ8 list payloads: the round-trip
    // min + floor((x-min)/((max-min)/255) + 0.5)·scale is plain IEEE
    // double arithmetic in both engines (floor, not round — no decimal
    // representation subtleties)
    "q42_ann_ivf_sq8" ->
      """WITH cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS centroid
        |    FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
        |c0 AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv,
        |    list_aggregate(embedding::DOUBLE[], 'min') AS mn,
        |    (list_aggregate(embedding::DOUBLE[], 'max')
        |     - list_aggregate(embedding::DOUBLE[], 'min')) / 255.0 AS sc
        |  FROM embeddings),
        |c AS (SELECT corpus_id, cv,
        |    list_transform(cv, x -> CASE WHEN sc = 0 THEN mn
        |      ELSE mn + floor((x - mn) / sc + 0.5) * sc END) AS cvq
        |  FROM c0),
        |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
        |    WHERE vec_id < 10),
        |assign AS (SELECT corpus_id, cvq, cid AS list_id FROM (
        |  SELECT corpus_id, cvq, cid, row_number() OVER (PARTITION BY corpus_id
        |    ORDER BY round(list_cosine_similarity(cv, centroid), 6) DESC, cid) AS crank
        |  FROM c CROSS JOIN cents) WHERE crank = 1),
        |probes AS (SELECT query_id, qv, cid AS list_id FROM (
        |  SELECT query_id, qv, cid, row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(list_cosine_similarity(qv, centroid), 6) DESC, cid) AS prank
        |  FROM q CROSS JOIN cents) WHERE prank <= 8),
        |cand AS (SELECT query_id, qv, corpus_id FROM (
        |  SELECT query_id, qv, corpus_id, row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(list_cosine_similarity(cvq, qv), 6) DESC, corpus_id) AS qrank
        |  FROM assign JOIN probes USING (list_id) WHERE corpus_id <> query_id)
        |  WHERE qrank <= 20),
        |rer AS (SELECT query_id, corpus_id,
        |    round(list_cosine_similarity(cv, qv), 6) AS cos
        |  FROM cand JOIN c USING (corpus_id)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, corpus_id) AS rank FROM rer)
        |SELECT query_id, corpus_id, rank::INT AS rank, cos FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // q35's IVF with float32-quantized list payloads + exact re-rank:
    // ::REAL[]::DOUBLE[] is the same IEEE double→float→double rounding
    // as Spark's cast(array<float>) — phase 1 ranks on the quantized
    // cosine, phase 2 re-ranks the top-20 on full precision
    "q40_ann_ivf_f32" ->
      """WITH cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS centroid
        |    FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
        |c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv,
        |    embedding::REAL[]::DOUBLE[] AS cvq FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
        |    WHERE vec_id < 10),
        |assign AS (SELECT corpus_id, cvq, cid AS list_id FROM (
        |  SELECT corpus_id, cvq, cid, row_number() OVER (PARTITION BY corpus_id
        |    ORDER BY round(list_cosine_similarity(cv, centroid), 6) DESC, cid) AS crank
        |  FROM c CROSS JOIN cents) WHERE crank = 1),
        |probes AS (SELECT query_id, qv, cid AS list_id FROM (
        |  SELECT query_id, qv, cid, row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(list_cosine_similarity(qv, centroid), 6) DESC, cid) AS prank
        |  FROM q CROSS JOIN cents) WHERE prank <= 8),
        |cand AS (SELECT query_id, qv, corpus_id FROM (
        |  SELECT query_id, qv, corpus_id, row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(list_cosine_similarity(cvq, qv), 6) DESC, corpus_id) AS qrank
        |  FROM assign JOIN probes USING (list_id) WHERE corpus_id <> query_id)
        |  WHERE qrank <= 20),
        |rer AS (SELECT query_id, corpus_id,
        |    round(list_cosine_similarity(cv, qv), 6) AS cos
        |  FROM cand JOIN c USING (corpus_id)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, corpus_id) AS rank FROM rer)
        |SELECT query_id, corpus_id, rank::INT AS rank, cos FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // wait/navigation option group: the oracle replays the Go-duration
    // parse for the generated forms (N + ms|s|m, bare number rejected),
    // the emulatedMediaType enum guard, and the waitWindowStatus →
    // waitForExpression lowering
    "q38_wait_options" ->
      """WITH o AS (
        |  SELECT o_orderkey,
        |    (o_orderkey % 4 + 1)::INT AS unit_idx,
        |    (o_orderkey % 8 + 1)::BIGINT AS delay_n,
        |    ['','screen','print','paper'][(o_custkey % 4 + 1)::INT] AS emt,
        |    CASE WHEN o_orderkey % 5 = 0 THEN 'ready' ELSE '' END AS wws,
        |    CASE WHEN o_orderkey % 3 = 0 THEN 'window.ok === true' ELSE '' END AS wfe
        |  FROM orders),
        |b AS (SELECT
        |    CASE unit_idx WHEN 1 THEN delay_n WHEN 2 THEN delay_n * 1000
        |      WHEN 3 THEN delay_n * 60000 ELSE NULL END AS wait_ms,
        |    CASE WHEN emt IN ('', 'screen', 'print') THEN emt ELSE 'INVALID' END AS media,
        |    CASE WHEN wfe <> '' THEN wfe
        |         WHEN wws <> '' THEN 'window.status === ''' || wws || ''''
        |         ELSE '' END AS wait_expr
        |  FROM o)
        |SELECT media, wait_expr, count(*)::BIGINT AS n,
        |  sum(wait_ms)::BIGINT AS total_wait_ms,
        |  sum(CASE WHEN wait_ms IS NULL THEN 1 ELSE 0 END)::BIGINT AS rejected_delays
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q27_embed_neardup" -> q27Sql,

    "q33_media_meta" ->
      """WITH refs AS (SELECT DISTINCT 'media://' || (doc_id % 50)::VARCHAR AS media_ref
        |  FROM documents),
        |c AS (SELECT CASE (md5_number_lower(media_ref) & 3)
        |    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'wav' ELSE 'mp4'
        |  END AS codec FROM refs)
        |SELECT codec, count(*) AS n, (count(*) * 256)::BIGINT AS total_bytes
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q35_ann_ivf" ->
      """WITH cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS centroid
        |    FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
        |c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
        |    WHERE vec_id < 10),
        |assign AS (SELECT corpus_id, cv, cid AS list_id FROM (
        |  SELECT corpus_id, cv, cid, row_number() OVER (PARTITION BY corpus_id
        |    ORDER BY round(list_cosine_similarity(cv, centroid), 6) DESC, cid) AS crank
        |  FROM c CROSS JOIN cents) WHERE crank = 1),
        |probes AS (SELECT query_id, qv, cid AS list_id FROM (
        |  SELECT query_id, qv, cid, row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(list_cosine_similarity(qv, centroid), 6) DESC, cid) AS prank
        |  FROM q CROSS JOIN cents) WHERE prank <= 8),
        |scored AS (SELECT query_id, corpus_id,
        |    round(list_cosine_similarity(cv, qv), 6) AS cos
        |  FROM assign JOIN probes USING (list_id) WHERE corpus_id <> query_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, corpus_id) AS rank FROM scored)
        |SELECT query_id, corpus_id, rank::INT AS rank, cos FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q28_ann_brute" ->
      """WITH s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |    round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cos
        |  FROM embeddings c JOIN embeddings q
        |    ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, corpus_id) AS rank FROM s)
        |SELECT query_id, corpus_id, rank::INT AS rank, cos FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q29_lang_id" ->
      """WITH sc AS (SELECT lang AS actual,
        |  ' ' || lower(text) || ' ' AS t FROM documents),
        |s2 AS (SELECT actual,
        |  (length(t) - length(replace(t, ' der ', ''))) / 5.0
        |    + (length(t) - length(replace(t, ' und ', ''))) / 5.0
        |    + (length(t) - length(replace(t, ' die ', ''))) / 5.0 AS s_de,
        |  (length(t) - length(replace(t, ' the ', ''))) / 5.0
        |    + (length(t) - length(replace(t, ' and ', ''))) / 5.0
        |    + (length(t) - length(replace(t, ' of ', ''))) / 4.0 AS s_en,
        |  (length(t) - length(replace(t, ' el ', ''))) / 4.0
        |    + (length(t) - length(replace(t, ' los ', ''))) / 5.0
        |    + (length(t) - length(replace(t, ' y ', ''))) / 3.0 AS s_es,
        |  (length(t) - length(replace(t, ' le ', ''))) / 4.0
        |    + (length(t) - length(replace(t, ' la ', ''))) / 4.0
        |    + (length(t) - length(replace(t, ' et ', ''))) / 4.0 AS s_fr,
        |  (length(t) - length(replace(t, '的', ''))) / 1.0
        |    + (length(t) - length(replace(t, '是', ''))) / 1.0
        |    + (length(t) - length(replace(t, '在', ''))) / 1.0 AS s_zh
        |  FROM sc),
        |p AS (SELECT actual, CASE
        |  WHEN s_de > 0 AND s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
        |  WHEN s_en > 0 AND s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        |  WHEN s_es > 0 AND s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        |  WHEN s_fr > 0 AND s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        |  WHEN s_zh > 0 AND s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
        |  ELSE 'und' END AS pred FROM s2)
        |SELECT pred, actual, count(*) AS n FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q30_quality" ->
      """WITH q AS (SELECT source,
        |  length(text)::DOUBLE AS len,
        |  (CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END)::DOUBLE AS toks,
        |  length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE AS punct,
        |  length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE AS alpha,
        |  (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5.0
        |    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' a ', ''))) / 3.0
        |    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' and ', ''))) / 5.0 AS stop
        |  FROM documents)
        |SELECT source, round(avg(round(
        |    least(len / 500.0, 1.0) * 0.3
        |    + least(punct / greatest(toks, 1.0) * 5.0, 1.0) * 0.2
        |    + alpha / greatest(len, 1.0) * 0.3
        |    + least(stop / greatest(toks, 1.0) * 10.0, 1.0) * 0.2, 6)), 6) AS avg_quality,
        |  count(*) AS n_docs
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,

    "q31_token_count" ->
      """WITH c AS (SELECT lang,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS subwords
        |  FROM documents)
        |SELECT lang, sum(ws_tokens)::BIGINT AS total_tokens, sum(subwords)::BIGINT AS total_subwords,
        |  round(avg(ws_tokens), 4) AS avg_tokens
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q34_subresource_filter" ->
      """SELECT doc_id,
        |  (1 + CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END
        |     + CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END)::BIGINT AS n_allowed,
        |  (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
        |     + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_denied
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q32_fingerprint" ->
      s"""SELECT source, count(DISTINCT md5($normText)) AS n_distinct,
         |  min(md5($normText)) AS min_fp
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q36_cookie_header_binding" ->
      """WITH a AS (SELECT
        |  (1
        |   + CASE WHEN c_custkey % 3 <> 0 THEN 1 ELSE 0 END
        |   + CASE WHEN c_custkey % 10 = 7 THEN 1 ELSE 0 END
        |   + CASE WHEN c_custkey % 5 <> 0 THEN 1 ELSE 0 END)::INT AS applied_cookies,
        |  (1
        |   + CASE WHEN c_custkey % 3 <> 0 THEN 1 ELSE 0 END
        |   + CASE WHEN c_custkey % 10 = 7 THEN 1 ELSE 0 END)::INT AS applied_headers
        |  FROM customer)
        |SELECT applied_cookies, applied_headers, count(*) AS n
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q46_neardup_clusters" -> q46Sql,

    "q47_link_priority" -> q47Sql,

    "q48_link_authority" -> q48Sql(),

    "q49_keeper_select" -> q49Sql,

    // q50: the window formulation of the sampler — Spark runs the
    // same pick as a partial top-k Aggregator (no corpus sort); both
    // order by (md5(id::VARCHAR), id), which Spark's md5(cast(id as
    // string)) reproduces byte-for-byte (lowercase hex, ASCII collation)
    "q50_stratified_sample" ->
      """WITH h AS (SELECT lang, doc_id, md5(doc_id::VARCHAR) AS hash FROM documents),
        |r AS (SELECT lang, doc_id, hash,
        |  row_number() OVER (PARTITION BY lang ORDER BY hash, doc_id) AS sample_rank FROM h)
        |SELECT lang AS stratum, sample_rank, doc_id, hash FROM r
        |WHERE sample_rank <= 5 ORDER BY stratum, sample_rank""".stripMargin,

    // q51: corpus vocabulary heavy-hitters — same \s+ tokenizer the
    // q30/q31 oracles pinned; ties broken on the token so LIMIT is
    // deterministic
    "q51_vocab_topk" ->
      """WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents WHERE length(trim(text)) > 0)
        |SELECT token, count(*) AS cnt FROM toks WHERE token <> ''
        |GROUP BY 1 ORDER BY cnt DESC, token LIMIT 50""".stripMargin,

    // q52: md5-bucket split assignment — bitwise AND (not %: DuckDB's
    // UBIGINT and Spark's signed long disagree on mod, agree on bits)
    "q52_split_assign" ->
      """WITH b AS (SELECT lang,
        |  (md5_number_lower(doc_id::VARCHAR) & 1023) AS bucket FROM documents),
        |s AS (SELECT lang, CASE WHEN bucket < 922 THEN 'train'
        |  WHEN bucket < 973 THEN 'val' ELSE 'test' END AS split_name FROM b)
        |SELECT lang, split_name, count(*) AS n_docs FROM s
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q53: benchmark decontamination — same \s+ tokenizer as
    // q51; list_slice is 1-based inclusive, matching Spark's
    // slice(l, i+1, 8); the len(l) >= 8 guard mirrors the Spark size
    // filter (range() would be empty anyway, the guard documents it)
    "q53_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
        |  FROM documents WHERE length(trim(text)) > 0),
        |grams AS (SELECT doc_id,
        |    unnest(list_transform(range(0, len(l) - 7),
        |      i -> array_to_string(list_slice(l, i + 1, i + 8), ' '))) AS g
        |  FROM toks WHERE len(l) >= 8),
        |eval_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % 7 = 0)
        |SELECT doc_id, count(DISTINCT g) AS n_hits
        |FROM grams JOIN eval_g USING (g)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q54: duplicated-chunk removal — 10-token windows, md5
    // fingerprints, keep-first(min doc_id); the trailing short chunk
    // is kept (both list_slice and Spark slice clamp at the end)
    "q54_chunk_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
        |  FROM documents WHERE length(trim(text)) > 0),
        |fp AS (SELECT doc_id,
        |    unnest(list_transform(range(0, ((len(l) - 1) // 10) + 1),
        |      j -> md5(array_to_string(list_slice(l, j * 10 + 1, j * 10 + 10), ' ')))) AS f
        |  FROM toks),
        |keep AS (SELECT f, min(doc_id) AS kd FROM fp GROUP BY 1 HAVING count(*) > 1),
        |removed AS (SELECT doc_id, count(*) AS n_removed FROM fp JOIN keep USING (f)
        |  WHERE doc_id <> kd GROUP BY 1),
        |totals AS (SELECT doc_id, count(*) AS n_chunks FROM fp GROUP BY 1)
        |SELECT doc_id, n_chunks, n_removed FROM removed JOIN totals USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // q55: repetition signals — the oracle takes the unnest-and-group
    // shape (fine in DuckDB, a corpus-sized shuffle in a distributed
    // engine); Spark folds sorted runs inside the row. Numerators are
    // exact integers in both, so round-6 parity holds.
    "q55_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l,
        |    length(array_to_string(string_split_regex(trim(text), '\s+'), ' ')) AS nl
        |  FROM documents),
        |g2 AS (SELECT doc_id, unnest(list_transform(range(0, len(l) - 1),
        |    i -> array_to_string(list_slice(l, i + 1, i + 2), ' '))) AS g
        |  FROM toks WHERE len(l) >= 2),
        |c2 AS (SELECT doc_id, max(cnt * length(g)) AS best FROM
        |  (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2) s GROUP BY 1),
        |g3 AS (SELECT doc_id, unnest(list_transform(range(0, len(l) - 2),
        |    i -> array_to_string(list_slice(l, i + 1, i + 3), ' '))) AS g
        |  FROM toks WHERE len(l) >= 3),
        |c3 AS (SELECT doc_id, sum(cnt * length(g)) AS dup FROM
        |  (SELECT doc_id, g, count(*) AS cnt FROM g3 GROUP BY 1, 2) s
        |  WHERE cnt > 1 GROUP BY 1)
        |SELECT t.doc_id,
        |  CASE WHEN t.nl = 0 THEN 0.0 ELSE round(coalesce(c2.best, 0) / t.nl, 6) END AS top2_frac,
        |  CASE WHEN t.nl = 0 THEN 0.0 ELSE round(coalesce(c3.dup, 0) / t.nl, 6) END AS dup3_frac
        |FROM toks t LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // q56: √p-tempered mixture weights — all integer fixed-point except
    // one IEEE sqrt on an exact ≤10¹² integer (correctly rounded in
    // both engines, and the nearest integer boundary is ≥2⁻¹⁹ away, so
    // floor agrees); // is DuckDB's integer div = Spark's DIV
    "q56_mixture_weights" ->
      """WITH c AS (SELECT lang AS stratum, count(*) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_docs)::BIGINT AS total_docs FROM c),
        |s AS (SELECT stratum, n_docs, (n_docs * 1000000) // total_docs AS share_ppm FROM c, t),
        |w AS (SELECT *, greatest(CAST(floor(sqrt(share_ppm * 1000000.0)) AS BIGINT), 1) AS w_raw FROM s),
        |n AS (SELECT sum(w_raw)::BIGINT AS w_sum FROM w)
        |SELECT stratum, n_docs, share_ppm, (w_raw * 1000000) // w_sum AS weight_ppm
        |FROM w, n ORDER BY stratum""".stripMargin,

    // q57: token-budget shard packing — the oracle's global-order
    // running sum is the single-partition-window formulation Spark
    // must NOT use; the engine runs the two-level distributed prefix
    // sum and must land on identical integers
    "q57_shard_pack" ->
      """WITH c AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens FROM documents),
        |w AS (SELECT doc_id, n_tokens::BIGINT AS n_tokens,
        |    (sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |     - n_tokens)::BIGINT AS cum_tokens
        |  FROM c)
        |SELECT doc_id, n_tokens, cum_tokens, cum_tokens // 500 AS shard_id
        |FROM w ORDER BY doc_id""".stripMargin,

    // q58: PII scrub — patterns kept to the Java-regex ∩ RE2 subset
    // (classes, bounded reps, \b, non-capturing groups) so both
    // engines match and replace identically; DuckDB needs the 'g'
    // flag where Spark's regexp_replace is global by default
    "q58_pii_scrub" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
      val card = "\\b[0-9]{13,19}\\b"
      s"""WITH aug AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 3 = 0 THEN ' reach me at user' || CAST(doc_id AS VARCHAR)
        |       || '@mail-' || source || '.net' ELSE '' END
        |  || CASE WHEN doc_id % 5 = 0 THEN ' from host 10.' || CAST(doc_id % 250 AS VARCHAR)
        |       || '.0.' || CAST(doc_id % 254 + 1 AS VARCHAR) ELSE '' END
        |  || CASE WHEN doc_id % 7 = 0 THEN ' card 4'
        |       || lpad(CAST(doc_id % 1000000 AS VARCHAR), 14, '0') ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '$email')) AS n_emails,
        |  len(regexp_extract_all(t, '$ip')) AS n_ips,
        |  len(regexp_extract_all(t, '$card')) AS n_cards,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$card', '<CARD>', 'g')) AS scrub_md5
        |FROM aug ORDER BY doc_id""".stripMargin
    },

    // q59: vocabulary encoding — the oracle takes the explode-join
    // shape (unnest zipped with range() for token order, LEFT JOIN the
    // vocab, string_agg ORDER BY position); Spark inlines the vocab as
    // a map literal and never shuffles. Sums cast to BIGINT (DuckDB's
    // HUGEINT lands in pandas as float and would string-mismatch).
    "q59_vocab_encode" ->
      """WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |vocab AS (SELECT token, row_number() OVER (ORDER BY cnt DESC, token) AS id
        |  FROM (SELECT token, count(*) AS cnt FROM toks WHERE token <> '' GROUP BY 1) c
        |  ORDER BY cnt DESC, token LIMIT 50),
        |d AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE string_split_regex(trim(text), '\s+') END AS l FROM documents),
        |pos AS (SELECT doc_id, unnest(l) AS token, unnest(range(1, len(l) + 1)) AS i FROM d),
        |enc AS (SELECT p.doc_id, p.i, coalesce(v.id, 0) AS tid
        |  FROM pos p LEFT JOIN vocab v USING (token)),
        |agg AS (SELECT doc_id, count(*) AS n_tokens,
        |    CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |    md5(string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY i)) AS ids_md5
        |  FROM enc GROUP BY 1)
        |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
        |  coalesce(a.n_oov, 0) AS n_oov, coalesce(a.ids_md5, md5('')) AS ids_md5
        |FROM d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // q60: unigram rarity — all integer fixed-point (total·10³ // cnt
    // per token, OOV = total·10³), so the explode-join-sum here and
    // Spark's in-row fold land on identical bits regardless of
    // summation order
    "q60_rarity_score" ->
      """WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |tot AS (SELECT count(*)::BIGINT AS total FROM toks),
        |v AS (SELECT token, count(*) AS cnt FROM toks WHERE token <> ''
        |  GROUP BY 1 ORDER BY cnt DESC, token LIMIT 50),
        |s AS (SELECT token, (total * 1000) // cnt AS sp FROM v, tot),
        |d AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE string_split_regex(trim(text), '\s+') END AS l FROM documents),
        |p AS (SELECT doc_id, unnest(l) AS token FROM d),
        |j AS (SELECT p.doc_id, coalesce(s.sp, (SELECT total * 1000 FROM tot)) AS sp
        |  FROM p LEFT JOIN s USING (token)),
        |agg AS (SELECT doc_id, count(*) AS n_tokens,
        |    CAST(sum(sp) AS BIGINT) AS rarity_sum FROM j GROUP BY 1)
        |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
        |  coalesce(a.rarity_sum, 0) AS rarity_sum,
        |  CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0
        |    ELSE a.rarity_sum // a.n_tokens END AS rarity_mean
        |FROM d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // q61: fuzzy decontamination — brute-force exact best bench match
    // per corpus doc (corpus = doc_id % 11 <> 3, bench = % 11 = 3).
    // Spark runs the LSH incremental-index path; the recall argument is
    // q25's (planted near-dups ≥ 0.96, P(16×4-band miss) ≈ 1e-13).
    "q61_fuzzy_decontaminate" ->
      s"""$bigramSets,
         |sel AS (SELECT
         |    CASE WHEN id_a % 11 = 3 THEN id_b ELSE id_a END AS doc_id,
         |    CASE WHEN id_a % 11 = 3 THEN id_a ELSE id_b END AS bench_id,
         |    round(CAST(inter AS DOUBLE) / (sa + sb - inter), 6) AS jaccard
         |  FROM pairs
         |  WHERE round(CAST(inter AS DOUBLE) / (sa + sb - inter), 6) >= 0.8
         |    AND ((id_a % 11 = 3) <> (id_b % 11 = 3))),
         |r AS (SELECT doc_id, bench_id, jaccard,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, bench_id) AS rn,
         |    count(*) OVER (PARTITION BY doc_id) AS n_matches FROM sel)
         |SELECT doc_id, bench_id, jaccard, n_matches FROM r WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,

    // q62: exact per-stratum quantiles, k = ceil(q·n) in pure integer
    // arithmetic. The oracle sorts raw rows inside each stratum
    // (row_number window) — the formulation Spark's aggregate-first
    // plan exists to avoid at corpus scale.
    "q62_group_quantiles" ->
      """WITH v AS (SELECT lang AS stratum, doc_id,
        |    (CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END)::BIGINT AS value
        |  FROM documents),
        |r AS (SELECT stratum, value,
        |    row_number() OVER (PARTITION BY stratum ORDER BY value, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY stratum) AS n_docs
        |  FROM v),
        |q AS (SELECT unnest([500000, 900000, 990000]::BIGINT[]) AS q_ppm)
        |SELECT stratum, q_ppm, n_docs,
        |  (q_ppm * n_docs + 999999) // 1000000 AS k, value
        |FROM r CROSS JOIN q
        |WHERE rn = (q_ppm * n_docs + 999999) // 1000000
        |ORDER BY stratum, q_ppm""".stripMargin,

    // q63: hashed-feature linear classifier — feature id = low 16 bits
    // of md5_number_lower (bitwise AND, sign-safe), weight =
    // Knuth-scrambled ((f·2654435761) >> 13) mod 17 − 8; products stay
    // under 2⁴⁸ so neither engine overflows. Spark runs the whole
    // per-doc fold as one fused codegen expression.
    "q63_classifier_score" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |w AS (SELECT doc_id,
        |    ((((md5_number_lower(tk) & 65535)::BIGINT * 2654435761) >> 13) % 17) - 8 AS w
        |  FROM toks WHERE tk <> '')
        |SELECT doc_id, count(*) AS n_terms, sum(w)::BIGINT AS score,
        |  sum(w) > 0 AS keep
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    "q64_merge_induction" -> q64Sql(rounds = 3),

    // q65: containment near-dup — same df-capped 4-gram md5 universe as
    // the Spark operator (the cap is part of the definition), exact
    // |A∩B| / min over distinct gram fingerprints.
    "q65_containment" ->
      """WITH base AS (SELECT doc_id AS id, string_split_regex(trim(text), '\s+') AS l
        |  FROM documents WHERE length(trim(text)) > 0),
        |g0 AS (SELECT id, unnest(list_distinct(list_transform(generate_series(1, len(l) - 3),
        |    i -> md5(array_to_string(l[i:i+3], ' '))))) AS f
        |  FROM base WHERE len(l) >= 4),
        |rare AS (SELECT f FROM g0 GROUP BY f HAVING count(*) <= 50),
        |g AS (SELECT g0.id, g0.f FROM g0 JOIN rare USING (f)),
        |sz AS (SELECT id, count(*) AS n FROM g GROUP BY 1),
        |it AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |  FROM g a JOIN g b ON a.f = b.f AND a.id < b.id GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(CAST(inter AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
        |FROM it JOIN sz sa ON sa.id = it.id_a JOIN sz sb ON sb.id = it.id_b
        |WHERE round(CAST(inter AS DOUBLE) / least(sa.n, sb.n), 6) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    // q66: snapshot diff — full outer join on the id over md5 content
    // fingerprints (old = %17≠5, new = %13≠3 with %7==2 docs revised)
    "q66_snapshot_diff" ->
      s"""WITH o AS (SELECT doc_id, md5($normText) AS fp
         |  FROM documents WHERE doc_id % 17 <> 5),
         |n AS (SELECT doc_id, md5(trim(regexp_replace(lower(
         |    CASE WHEN doc_id % 7 = 2 THEN text || ' rev2' ELSE text END),
         |    '\\s+', ' ', 'g'))) AS fp
         |  FROM documents WHERE doc_id % 13 <> 3)
         |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |    WHEN n.doc_id IS NULL THEN 'removed'
         |    ELSE 'changed' END AS change
         |FROM o FULL JOIN n ON o.doc_id = n.doc_id
         |WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.fp <> n.fp
         |ORDER BY doc_id""".stripMargin,

    // q67: sliding context-window chunking — starts j·stride while
    // j·stride < n (j = 0 .. (n−1) // stride), windows clipped at the
    // doc end; both engines' list slicing clips identically
    "q67_chunk_windows" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (SELECT doc_id, unnest(generate_series(0, (len(l) - 1) // 6)) AS j, l FROM d)
        |SELECT doc_id, j::BIGINT AS chunk_idx, (j * 6)::BIGINT AS start_token,
        |  len(l[j*6+1 : j*6+12])::BIGINT AS n_tokens,
        |  md5(array_to_string(l[j*6+1 : j*6+12], ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // q68: as-of join — DuckDB's NATIVE ASOF LEFT JOIN is the oracle,
    // so the union-window formulation is verified against an
    // independent engine implementation of the semantics. The right
    // side is deduped per (user, ts) first (max event_id), which makes
    // the ≤-tie deterministic in both engines.
    "q68_asof_join" ->
      """WITH r0 AS (SELECT user_id, ts, max(event_id) AS m_id
        |  FROM events WHERE event_type <> 'error' GROUP BY 1, 2),
        |r AS (SELECT r0.user_id, r0.ts, r0.m_id, e.value AS m_value
        |  FROM r0 JOIN events e ON e.event_id = r0.m_id),
        |l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
        |SELECT l.event_id, r.m_id AS matched_id, r.m_value AS matched_value,
        |  epoch_us(l.ts) - epoch_us(r.ts) AS lag_us
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,

    // q69: range join — the oracle runs the plain theta join the
    // bucketed equi-join replaces; min/max/count are
    // summation-order-free so doubles hash-match.
    "q69_range_join" ->
      """WITH ranges AS (SELECT event_id AS range_id, event_type,
        |    value AS lo, value + 5.0 AS hi
        |  FROM events WHERE event_id % 10 = 0),
        |pts AS (SELECT event_type, value AS p FROM events WHERE event_id % 10 <> 0)
        |SELECT r.range_id, count(p.p) AS n_points,
        |  min(p.p) AS min_point, max(p.p) AS max_point
        |FROM ranges r LEFT JOIN pts p
        |  ON p.event_type = r.event_type AND p.p >= r.lo AND p.p < r.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q70: incremental aggregate maintenance — the contract is
    // equality with the full recompute over base ∪ delta, so the
    // oracle IS the full recompute. round(,4) absorbs the different
    // summation association of merged partials vs a single scan.
    "q70_agg_maintain" ->
      """SELECT user_id, count(*) AS n, round(sum(value), 4) AS sum_value,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // q71: salted two-phase aggregation — answers must equal the plain
    // GROUP BY; the salt is physical only.
    "q71_salted_agg" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value,
        |  min(value) AS min_value, max(value) AS max_value,
        |  round(sum(value) / count(*), 6) AS avg_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // q72: bloom-pruned join — bloom false positives die in the real
    // equi-join, so the oracle is the plain join + aggregate.
    "q72_bloom_join" ->
      """SELECT o.o_orderpriority, count(*) AS n_items,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 450000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q73: salted skew join — the salt is physical only, so the
    // oracle is the plain enrichment join. type_avg rounds to 6
    // before the delta so both engines subtract the same double.
    "q73_salted_join" ->
      """WITH dim AS (
        |  SELECT event_type, avg(value) AS type_avg FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |  round(d.type_avg, 6) AS type_avg,
        |  round(e.value - round(d.type_avg, 6), 6) AS value_delta
        |FROM events e JOIN dim d USING (event_type)
        |ORDER BY e.event_id""".stripMargin,

    // q74: rollup — DuckDB's GROUPING(lang, source) carries the same
    // bitmask as Spark's grouping_id() (first arg = high bit); null
    // grouping keys coalesce to 'ALL' on both sides.
    "q74_rollup_stats" ->
      """SELECT coalesce(lang, 'ALL') AS lang,
        |  coalesce(source, 'ALL') AS source,
        |  GROUPING(lang, source) AS gid, count(*) AS n_docs,
        |  sum(n_chars)::BIGINT AS total_chars,
        |  round(avg(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY ROLLUP(lang, source)
        |ORDER BY gid, lang, source""".stripMargin,

    // q75: KMV distinct sketch — the window formulation of "k smallest
    // distinct md5-48 hashes per day": the k-th (or last, if the group
    // has fewer) row carries the whole sketch tail. Hash parity with
    // Sketches.hash48: md5_number_lower & 48-bit mask (q52's bitwise
    // trick — UBIGINT & mask == signed & mask). 31·2^48 fits BIGINT;
    // `//` and DIV agree on the positive operands.
    "q75_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day,
        |    CAST(md5_number_lower(user_id::VARCHAR) & 281474976710655 AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn,
        |    count(*) OVER (PARTITION BY day) AS nd FROM h)
        |SELECT day, least(nd, 32)::BIGINT AS n_kept, h AS kth_hash,
        |  (CASE WHEN nd < 32 THEN nd
        |        ELSE (31::BIGINT * 281474976710656) // h END)::BIGINT AS est_distinct
        |FROM r WHERE rn = least(nd, 32) ORDER BY day""".stripMargin,

    // q76: PMI phrase scoring — same \s+ tokenizer as q51; adjacent
    // pairs via the q64 list-index pattern; HAVING prunes the tail
    // before the unigram joins exactly as the Spark side filters
    // before joining; all-positive fixed-point milli score so `//`
    // and DIV agree.
    "q76_phrase_pmi" ->
      """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS l
        |    FROM documents WHERE length(trim(text)) > 0),
        |uc AS (SELECT tok, count(*) AS cnt
        |  FROM (SELECT unnest(l) AS tok FROM t) GROUP BY 1),
        |n AS (SELECT sum(cnt)::BIGINT AS total FROM uc),
        |p AS (SELECT l[u] AS a, l[u + 1] AS b
        |  FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS u
        |        FROM t WHERE len(l) >= 2)),
        |pc AS (SELECT a, b, count(*) AS cnt_ab FROM p GROUP BY 1, 2
        |  HAVING count(*) >= 5 AND count(*) > 5)
        |SELECT a, b, cnt_ab,
        |  ((cnt_ab - 5) * total * 1000) // (ua.cnt * ub.cnt) AS score_milli
        |FROM pc CROSS JOIN n
        |JOIN uc ua ON ua.tok = pc.a JOIN uc ub ON ub.tok = pc.b
        |ORDER BY score_milli DESC, a, b LIMIT 100""".stripMargin,

    // q77: keyed upsert — delta keys take the delta's max-rev row
    // (rev unique per key here, so arg_max is the struct-max twin);
    // base-only keys keep their row. Delta keys ⊆ base keys in this
    // fixture, so a LEFT JOIN covers the insert-free case (inserts are
    // spec-covered in MergeOpsSpec).
    "q77_upsert" ->
      """WITH base AS (SELECT doc_id, 1::BIGINT AS rev, md5(text) AS fp FROM documents),
        |delta AS (
        |  SELECT doc_id, 2::BIGINT AS rev, md5(text || '+edit') AS fp
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id, 3::BIGINT AS rev, md5(text || '+edit2') AS fp
        |  FROM documents WHERE doc_id % 21 = 0),
        |latest AS (SELECT doc_id, max(rev) AS rev, arg_max(fp, rev) AS fp
        |  FROM delta GROUP BY 1)
        |SELECT b.doc_id, coalesce(l.rev, b.rev) AS rev, coalesce(l.fp, b.fp) AS fp
        |FROM base b LEFT JOIN latest l USING (doc_id) ORDER BY b.doc_id""".stripMargin,

    // q78: triangle counts — id-ordered canonical triple join; the
    // Spark side's degree orientation finds the same triangle set
    // (orientation changes WHERE a triangle is generated, never
    // whether), so the corner counts match exactly.
    "q78_triangles" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        |raw AS (SELECT l_orderkey AS src,
        |    ((l_orderkey + l_partkey * 7) % (SELECT m FROM mx)) + 1 AS dst
        |  FROM lineitem),
        |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM raw WHERE src <> dst),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT id AS url_key, count(*)::BIGINT AS n_tri FROM (
        |  SELECT a AS id FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q79_kmeans" -> q79Sql(k = 4, iters = 2, dim = 64),

    // q80: count-min sketch — the cells themselves replay (md5-48 &
    // 1023 = md5_number_lower & 1023, the q52 mask trick; '<i>:<tok>'
    // is the per-row seed both sides build). min over rows = the CM
    // point estimate; overcount ≥ 0 always (one-sided sketch).
    "q80_count_min" ->
      """WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |    FROM documents WHERE length(trim(text)) > 0),
        |ds AS (SELECT unnest(generate_series(0, 3)) AS i),
        |cm AS (SELECT i, md5_number_lower(i::VARCHAR || ':' || token) & 1023 AS cell,
        |    count(*) AS cnt FROM toks CROSS JOIN ds GROUP BY 1, 2),
        |vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1
        |  ORDER BY cnt DESC, token LIMIT 50),
        |probe AS (SELECT v.token, v.cnt, min(cm.cnt)::BIGINT AS est_cnt
        |  FROM vocab v CROSS JOIN ds r
        |  JOIN cm ON cm.i = r.i
        |   AND cm.cell = (md5_number_lower(r.i::VARCHAR || ':' || v.token) & 1023)
        |  GROUP BY 1, 2)
        |SELECT token, cnt AS cnt_exact, est_cnt, est_cnt - cnt AS overcount
        |FROM probe ORDER BY token""".stripMargin,

    // q81: bounded inverted index — the oracle's window sorts every
    // token's full posting stream; the Spark side's bounded aggregator
    // ships ≤ 8 postings per map task per token. Same \s+ tokenizer.
    "q81_inverted_index" ->
      """WITH tf AS (SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
        |    FROM documents WHERE length(trim(text)) > 0) GROUP BY 1, 2),
        |r AS (SELECT token, doc_id, tf,
        |    row_number() OVER (PARTITION BY token ORDER BY tf DESC, doc_id) AS rank,
        |    count(*) OVER (PARTITION BY token) AS df FROM tf)
        |SELECT token, df::BIGINT AS df, rank::BIGINT AS rank, doc_id, tf::BIGINT AS tf
        |FROM r WHERE rank <= 8 AND df >= 3 ORDER BY token, rank""".stripMargin,

    // q82: SCD2 — IS DISTINCT FROM twins Spark's null-safe <=>; both
    // windows order by (ts, event_id) so equal-timestamp changes
    // resolve identically.
    "q82_scd2" ->
      """WITH o AS (SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |c AS (SELECT user_id, event_type, ts AS valid_from, event_id FROM o
        |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) IS NULL AS is_current
        |FROM c ORDER BY user_id, valid_from""".stripMargin,

    // q83: greedy-earliest funnel — each stage joins the previous
    // stage's per-user minimum with a strict ts bound; the
    // event_id % 13 sample keeps all three depths populated.
    "q83_funnel" ->
      """WITH ev AS (SELECT * FROM events WHERE event_id % 13 = 0),
        |s0 AS (SELECT user_id, min(ts) AS t0 FROM ev
        |    WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT e.user_id, min(e.ts) AS t1 FROM ev e
        |    JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t0
        |    WHERE e.event_type = 'click' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e
        |    JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        |    WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT s0.user_id, t0, t1, t2,
        |  (1 + (t1 IS NOT NULL)::INT + (t2 IS NOT NULL)::INT)::BIGINT AS depth
        |FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |ORDER BY user_id""".stripMargin,

    // q84: KMV set-operation estimates — each side's k smallest
    // distinct md5-48 hashes via a row_number window; the union's k
    // smallest is the A∪B sketch; every figure is integer (truncating
    // //), so the one-row estimate hash-matches the Spark sketches.
    "q84_kmv_overlap" ->
      """WITH ah AS (SELECT DISTINCT
        |    CAST(md5_number_lower(user_id::VARCHAR) & 281474976710655 AS BIGINT) AS h
        |  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
        |bh AS (SELECT DISTINCT
        |    CAST(md5_number_lower(user_id::VARCHAR) & 281474976710655 AS BIGINT) AS h
        |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
        |ka AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ah)
        |  WHERE rn <= 64),
        |kb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM bh)
        |  WHERE rn <= 64),
        |ku AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
        |    FROM (SELECT h FROM ka UNION SELECT h FROM kb)) WHERE rn <= 64),
        |st AS (SELECT
        |    (SELECT count(*) FROM ka) AS n_a, (SELECT count(*) FROM kb) AS n_b,
        |    coalesce((SELECT max(h) FROM ku), 0) AS kth_union,
        |    (SELECT count(*) FROM ka JOIN kb USING (h) JOIN ku USING (h)) AS k_inter,
        |    (SELECT count(*) FROM ku) AS fill)
        |SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b, kth_union,
        |  k_inter::BIGINT AS k_inter,
        |  (CASE WHEN n_a < 64 THEN n_a
        |        ELSE (63::BIGINT << 48) // (SELECT max(h) FROM ka) END)::BIGINT AS est_a,
        |  (CASE WHEN n_b < 64 THEN n_b
        |        ELSE (63::BIGINT << 48) // (SELECT max(h) FROM kb) END)::BIGINT AS est_b,
        |  (CASE WHEN fill < 64 THEN fill
        |        ELSE (63::BIGINT << 48) // kth_union END)::BIGINT AS est_union,
        |  (CASE WHEN fill = 0 THEN 0 ELSE k_inter *
        |    (CASE WHEN fill < 64 THEN fill ELSE (63::BIGINT << 48) // kth_union END)
        |    // fill END)::BIGINT AS est_intersection,
        |  (CASE WHEN fill = 0 THEN 0
        |        ELSE k_inter * 1000000 // fill END)::BIGINT AS jaccard_ppm
        |FROM st""".stripMargin,

    // q85: keyword retrieval — tf × linearized idf (N·1000 // df, the
    // integer 1/df weighting; log-idf would gamble on ln ulp parity);
    // the IN filter prunes the token stream before any aggregation.
    "q85_search" ->
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
        |    FROM documents WHERE length(trim(text)) > 0),
        |n AS (SELECT count(*) AS total FROM documents WHERE length(trim(text)) > 0),
        |tf AS (SELECT token, doc_id, count(*) AS tf FROM t
        |    WHERE token IN ('sort', 'merge', 'hash') GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1)
        |SELECT doc_id,
        |  sum(tf * ((n.total * 1000) // df.df))::BIGINT AS score_milli,
        |  count(*)::BIGINT AS n_hit
        |FROM tf JOIN df USING (token) CROSS JOIN n
        |GROUP BY 1 ORDER BY score_milli DESC, doc_id LIMIT 20""".stripMargin,

    // q86: mixture-weighted sample — the q56 weight pipeline feeding
    // quotas into the q50 smallest-md5 draw; quota arithmetic mirrors
    // the Spark side exactly (min with n_docs, (budget·weight) // 10⁶).
    "q86_mixture_sample" ->
      """WITH c AS (SELECT lang AS stratum, count(*) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_docs)::BIGINT AS total_docs FROM c),
        |s AS (SELECT stratum, n_docs, (n_docs * 1000000) // total_docs AS share_ppm FROM c, t),
        |w AS (SELECT *, greatest(CAST(floor(sqrt(share_ppm * 1000000.0)) AS BIGINT), 1) AS w_raw FROM s),
        |n AS (SELECT sum(w_raw)::BIGINT AS w_sum FROM w),
        |q AS (SELECT stratum,
        |    least(n_docs, (40 * ((w_raw * 1000000) // w_sum)) // 1000000) AS quota
        |  FROM w, n),
        |h AS (SELECT lang AS stratum, doc_id, md5(doc_id::VARCHAR) AS hash FROM documents),
        |r AS (SELECT stratum, doc_id,
        |  row_number() OVER (PARTITION BY stratum ORDER BY hash, doc_id) AS sample_rank FROM h)
        |SELECT r.stratum, q.quota::BIGINT AS quota,
        |  r.sample_rank::BIGINT AS sample_rank, r.doc_id
        |FROM r JOIN q USING (stratum) WHERE r.sample_rank <= q.quota
        |ORDER BY stratum, sample_rank""".stripMargin,

    // q87: z-order layout stats — the Morton interleave is spelled out
    // as 32 shift-and-mask terms (generated below: bit i of na → bit
    // 2i, bit i of nb → 2i+1), the normalization is the same integer
    // (x-mn)·65535 // (mx-mn); bucket = z's high 6 of 32 bits.
    "q87_zorder_layout" ->
      s"""WITH bounds AS (SELECT min(l_partkey) AS mn_a, max(l_partkey) AS mx_a,
        |    min(l_suppkey) AS mn_b, max(l_suppkey) AS mx_b FROM lineitem),
        |n AS (SELECT l_partkey AS a, l_suppkey AS b,
        |    CASE WHEN mx_a = mn_a THEN 0 ELSE ((l_partkey - mn_a) * 65535) // (mx_a - mn_a) END AS na,
        |    CASE WHEN mx_b = mn_b THEN 0 ELSE ((l_suppkey - mn_b) * 65535) // (mx_b - mn_b) END AS nb
        |  FROM lineitem, bounds),
        |z AS (SELECT a, b, ${mortonTerms("na", "nb", 16)} AS z FROM n)
        |SELECT z // ${1L << 26} AS bucket, count(*)::BIGINT AS n_rows,
        |  min(a)::BIGINT AS min_a, max(a)::BIGINT AS max_a,
        |  min(b)::BIGINT AS min_b, max(b)::BIGINT AS max_b
        |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin,

    // q88: boilerplate segment removal — same \s+ tokenizer as
    // q30/q31/q54, 5-token non-overlapping windows zipped with range()
    // for position; a segment in ≥ 3 DISTINCT docs is stripped
    // everywhere; string_agg ORDER BY pos = Spark's array_sort on
    // (pos, seg) structs (pos is unique per doc).
    "q88_boilerplate_strip" ->
      """WITH d AS (SELECT doc_id AS id, string_split_regex(trim(text), '\s+') AS l
        |    FROM documents WHERE trim(text) <> ''),
        |segs AS (SELECT id,
        |    unnest(range(0, (len(l) - 1) // 5 + 1)) AS pos,
        |    unnest(list_transform(range(0, (len(l) - 1) // 5 + 1),
        |      j -> array_to_string(list_slice(l, j * 5 + 1, j * 5 + 5), ' '))) AS seg
        |  FROM d),
        |boiler AS (SELECT seg FROM (
        |    SELECT seg, count(DISTINCT id) AS df FROM segs GROUP BY 1) WHERE df >= 3),
        |kept AS (SELECT id, pos, seg FROM segs
        |  WHERE seg NOT IN (SELECT seg FROM boiler)),
        |tot AS (SELECT id, count(*) AS n_segs FROM segs GROUP BY 1),
        |ka AS (SELECT id, string_agg(seg, ' ' ORDER BY pos) AS clean_text,
        |    count(*) AS n_kept FROM kept GROUP BY 1)
        |SELECT t.id AS doc_id, coalesce(ka.clean_text, '') AS clean_text,
        |  t.n_segs, coalesce(ka.n_kept, 0)::BIGINT AS n_kept
        |FROM tot t LEFT JOIN ka USING (id) ORDER BY doc_id""".stripMargin,

    // q89: anchor-text top-3 per link target — the window formulation
    // of Spark's bounded top-k Aggregator (the q50 convention); same
    // synthetic edge formula as q47/q48, anchor = part-name head token.
    "q89_anchor_text" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        |a AS (SELECT ((l_orderkey + l_partkey * 7) % m) + 1 AS dst,
        |    string_split(p_name, ' ')[1] AS term
        |  FROM lineitem JOIN part ON l_partkey = p_partkey CROSS JOIN mx),
        |c AS (SELECT dst, term, count(*) AS cnt FROM a GROUP BY 1, 2),
        |r AS (SELECT dst, term, cnt,
        |    row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, term) AS rnk
        |  FROM c)
        |SELECT dst AS url_key, rnk::INT AS rank, term, cnt FROM r
        |WHERE rnk <= 3 ORDER BY url_key, rank""".stripMargin,

    // q90: recrawl scheduling — lag() fingerprint comparison per URL
    // (the q22 sessionize epoch_us convention), ppm fixed-point rate
    // and linearized-staleness priority, floor division throughout.
    "q90_recrawl_schedule" ->
      """WITH g AS (SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_fp
        |  FROM events),
        |a AS (SELECT user_id AS url_key,
        |    count(prev_fp) AS n_obs,
        |    count(CASE WHEN prev_fp IS NOT NULL AND event_type <> prev_fp THEN 1 END) AS n_changes,
        |    max(ts) AS last_ts
        |  FROM g GROUP BY 1),
        |mx AS (SELECT max(ts) AS as_of FROM events),
        |s AS (SELECT url_key, n_obs, n_changes,
        |    CASE WHEN n_obs > 0 THEN (n_changes * 1000000) // n_obs ELSE 0 END AS change_rate_ppm,
        |    (epoch_us(as_of) - epoch_us(last_ts)) // 3600000000 AS age_hours
        |  FROM a CROSS JOIN mx)
        |SELECT url_key, n_obs, n_changes, change_rate_ppm, age_hours,
        |  least(1000000::BIGINT, change_rate_ppm * age_hours) AS priority_ppm
        |FROM s ORDER BY url_key""".stripMargin,

    // q91: HITS — same unrolled fixed-point discipline as q48Sql; each
    // half-step sum-normalizes via a scalar subquery total (HUGEINT in
    // the multiply, cast back after the floor division — nonnegative,
    // so // = DIV).
    "q91_hits" -> q91Sql(),

    // q92: BM25 — q85's lidf_milli with tf-saturation and length
    // normalization, all milli fixed-point floor division; doc length
    // = the q30/q31 \s+ token count, avglen folded as a scalar CTE.
    "q92_bm25" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |    FROM documents WHERE length(trim(text)) > 0),
        |l AS (SELECT doc_id, len(toks)::BIGINT AS len FROM d),
        |av AS (SELECT count(*) AS n,
        |    greatest(1, (sum(len) * 1000) // greatest(count(*), 1)) AS avml FROM l),
        |t AS (SELECT doc_id, unnest(toks) AS token FROM d),
        |tf AS (SELECT token, t.doc_id, count(*) AS tf, max(l.len) AS len
        |    FROM t JOIN l USING (doc_id)
        |    WHERE token IN ('sort', 'merge', 'hash') GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1)
        |SELECT doc_id,
        |  sum(((av.n * 1000) // df.df) *
        |      ((tf * 2200 * 1000) //
        |       (tf * 1000 + (1200 * ((1000 - 750) +
        |         (750 * len * 1000) // av.avml)) // 1000)))::BIGINT AS score_micro,
        |  count(*)::BIGINT AS n_hit
        |FROM tf JOIN df USING (token) CROSS JOIN av
        |GROUP BY 1 ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin,

    // q93: hash-sample quantiles — re-derive the identical 256-row
    // sample (row_number over the q75 48-bit hash; collisions collapse
    // to min(v), matching the aggregator's tie-break), then the q62
    // ⌈q·n⌉ pick over the sample ordered by value.
    "q93_sample_quantiles" ->
      """WITH h AS (SELECT event_type AS g,
        |    CAST(md5_number_lower(event_id::VARCHAR) & 281474976710655 AS BIGINT) AS h,
        |    floor(value * 1000000)::BIGINT AS v
        |  FROM events WHERE event_id IS NOT NULL),
        |d AS (SELECT g, h, min(v) AS v FROM h GROUP BY 1, 2),
        |r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM d),
        |s AS (SELECT g, v FROM r WHERE rn <= 256),
        |n AS (SELECT g, count(*) AS n FROM s GROUP BY 1),
        |rv AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rv FROM s),
        |q AS (SELECT unnest([500000, 900000, 990000]) AS q_ppm)
        |SELECT rv.g AS stratum, q.q_ppm::BIGINT AS q_ppm, n.n::BIGINT AS n_sample,
        |  rv.v AS value
        |FROM rv JOIN n USING (g) CROSS JOIN q
        |WHERE rv.rv = (q.q_ppm * n.n + 999999) // 1000000
        |ORDER BY stratum, q_ppm""".stripMargin,

    // q94: co-citation — pairs from the DISTINCT (src, dst) edge set of
    // degree-capped sources (= the Spark side's collect_set + in-array
    // ordered pairs), counted per pair; total order under the LIMIT.
    "q94_cocitation" ->
      """WITH e AS (SELECT DISTINCT l_orderkey AS src,
        |    ((l_orderkey * 3 + l_partkey) % 1000) + 1 AS dst FROM lineitem),
        |d AS (SELECT src, dst FROM e WHERE src <> dst),
        |g AS (SELECT src FROM d GROUP BY 1 HAVING count(*) BETWEEN 2 AND 64),
        |p AS (SELECT d1.dst AS a, d2.dst AS b
        |  FROM d d1 JOIN d d2 USING (src) JOIN g USING (src)
        |  WHERE d1.dst < d2.dst),
        |s AS (SELECT a, b, count(*) AS shared FROM p
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT a, b, shared FROM s
        |ORDER BY shared DESC, a, b LIMIT 100""".stripMargin,

    // q95: HLL distinct — re-derive the 64 registers (bucket = low 6
    // hash bits; rank = 1 + leading zeros of the remaining 42, i.e.
    // 43 − bit_length(w), with w = 0 saturating at 43 via bin(0) =
    // '0' → length 1 → handled by the CASE), then the integer raw
    // estimator with the pinned linear-counting table for the
    // small range (raw ≤ 2.5·m and zero registers present). Absent
    // buckets contribute register 0 ⇒ 2³⁰ each. Numerator =
    // α₆₄(micro)·m²·2³⁰ = 709337·4096·1073741824; nested `//` twins
    // Spark's nested DIV (floor-div composition identity).
    "q95_hll_distinct" ->
      """WITH h AS (SELECT event_type AS g,
        |    CAST(md5_number_lower(user_id::VARCHAR) & 281474976710655 AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |b AS (SELECT g, CAST(h & 63 AS BIGINT) AS bucket, CAST(h >> 6 AS BIGINT) AS w FROM h),
        |r AS (SELECT g, bucket,
        |    max(CASE WHEN w = 0 THEN 43 ELSE 43 - length(bin(w)) END) AS reg
        |  FROM b GROUP BY 1, 2),
        |s AS (SELECT g,
        |    (64 - count(*))::BIGINT AS n_zero_regs,
        |    (sum(1073741824::BIGINT >> reg) + (64 - count(*)) * 1073741824)::BIGINT AS reg_sum
        |  FROM r GROUP BY 1),
        |e AS (SELECT g, n_zero_regs, reg_sum,
        |    ((3119697118046978048 // reg_sum) // 1000000)::BIGINT AS raw
        |  FROM s)
        |SELECT g AS event_type, n_zero_regs, reg_sum,
        |  (CASE WHEN raw <= 160 AND n_zero_regs > 0 THEN
        |    [266,222,196,177,163,151,142,133,126,119,113,107,102,97,93,89,
        |     85,81,78,74,71,68,65,63,60,58,55,53,51,48,46,44,42,40,39,37,
        |     35,33,32,30,28,27,25,24,23,21,20,18,17,16,15,13,12,11,10,9,
        |     7,6,5,4,3,2,1,0][n_zero_regs::INT]
        |   ELSE raw END)::BIGINT AS est_distinct
        |FROM e ORDER BY event_type""".stripMargin,

    // q96: bigram-LM scoring — q76's list-index adjacent pairs, the
    // (doc, w1, w2) aggregation, vocab-bounded c2/c1 re-aggs, then the
    // mean transition ppm per doc (all-positive floor division twins
    // Spark DIV); bottom-k ascending.
    "q96_bigram_lm" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
        |    FROM documents WHERE length(trim(text)) > 0),
        |g AS (SELECT doc_id, l[u] AS w1, l[u + 1] AS w2
        |  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS u
        |        FROM d WHERE len(l) >= 2)),
        |dgb AS (SELECT doc_id, w1, w2, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
        |c2 AS (SELECT w1, w2, sum(cnt) AS c2 FROM dgb GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
        |p AS (SELECT w1, w2, (c2 * 1000000) // c1 AS p_ppm
        |  FROM c2 JOIN c1 USING (w1)),
        |s AS (SELECT doc_id, sum(cnt * p_ppm) AS ssum, sum(cnt) AS n
        |  FROM dgb JOIN p USING (w1, w2) GROUP BY 1)
        |SELECT doc_id, n::BIGINT AS n_bigrams, (ssum // n)::BIGINT AS score_ppm
        |FROM s ORDER BY score_ppm, doc_id LIMIT 50""".stripMargin,

    // q97: URL template mining — same synthetic (host, path) columns,
    // digit runs → {n} (the 'g' flag = Spark regexp_replace's
    // replace-all default), template counts + host totals + trap flag.
    "q97_url_templates" ->
      """WITH u AS (SELECT
        |    'host' || (l_suppkey % 20)::VARCHAR || '.example.com' AS host,
        |    CASE l_orderkey % 3
        |      WHEN 0 THEN '/cat/' || (l_suppkey % 10)::VARCHAR ||
        |        '/item/' || l_partkey::VARCHAR
        |      WHEN 1 THEN '/calendar/2024/' || (l_partkey % 12 + 1)::VARCHAR ||
        |        '/' || (l_suppkey % 28 + 1)::VARCHAR
        |      ELSE '/page/' || l_orderkey::VARCHAR
        |    END AS path
        |  FROM lineitem),
        |t AS (SELECT host, regexp_replace(path, '[0-9]+', '{n}', 'g') AS template,
        |    count(*) AS n_urls, count(DISTINCT path) AS n_distinct
        |  FROM u GROUP BY 1, 2),
        |h AS (SELECT host, sum(n_urls) AS host_urls FROM t GROUP BY 1)
        |SELECT t.host, template, n_urls::BIGINT AS n_urls,
        |  n_distinct::BIGINT AS n_distinct,
        |  (n_urls >= 100 AND n_urls * 5 >= host_urls) AS is_trap
        |FROM t JOIN h USING (host)
        |ORDER BY n_urls DESC, host, template LIMIT 100""".stripMargin,

    "q98_trustrank" -> q98Sql(),

    // q99: link-spam signals — distinct directed edges (self-loops
    // kept separate), reciprocal pairs via the reversed-key self-join,
    // per-node LEFT joins with 0 defaults, ppm floor division.
    "q99_link_spam" ->
      """WITH e AS (SELECT (l_orderkey % 500) + 1 AS src,
        |    ((l_orderkey * 3 + l_partkey) % 500) + 1 AS dst FROM lineitem),
        |d AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
        |o AS (SELECT src AS id, count(*) AS outdeg FROM d GROUP BY 1),
        |i AS (SELECT dst AS id, count(*) AS indeg FROM d GROUP BY 1),
        |r AS (SELECT d1.src AS id, count(*) AS n_recip
        |  FROM d d1 JOIN d d2 ON d1.src = d2.dst AND d1.dst = d2.src
        |  GROUP BY 1),
        |s AS (SELECT src AS id, count(*) AS self_loops FROM e
        |  WHERE src = dst GROUP BY 1)
        |SELECT o.id AS url_key, o.outdeg::BIGINT AS outdeg,
        |  coalesce(i.indeg, 0)::BIGINT AS indeg,
        |  coalesce(r.n_recip, 0)::BIGINT AS n_recip,
        |  coalesce(s.self_loops, 0)::BIGINT AS self_loops,
        |  ((coalesce(r.n_recip, 0) * 1000000) // o.outdeg)::BIGINT AS recip_ppm,
        |  ((o.outdeg * 1000000) // (coalesce(i.indeg, 0) + 1))::BIGINT AS out_in_ppm
        |FROM o LEFT JOIN i USING (id) LEFT JOIN r USING (id)
        |  LEFT JOIN s USING (id)
        |ORDER BY url_key""".stripMargin,

    // q100: AIMD fold — a recursive CTE steps every user's state one
    // ordered event at a time (rate₀ = 1000; fail → max(rate // 2,
    // 125); success → min(rate + 200, 8000)); recursion depth = max
    // events per user. The same greatest/least/floor-div arithmetic
    // as the Spark-side in-row fold.
    "q100_aimd_rate" ->
      """WITH RECURSIVE ev AS (SELECT user_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
        |    (event_type = 'error') AS fail
        |  FROM events),
        |n AS (SELECT user_id, max(i) AS n,
        |    sum(CASE WHEN fail THEN 1 ELSE 0 END) AS n_fail FROM ev GROUP BY 1),
        |st(user_id, i, rate, mn) AS (
        |  SELECT user_id, 0::BIGINT, 1000::BIGINT, 1000::BIGINT FROM n
        |  UNION ALL
        |  SELECT st.user_id, st.i + 1,
        |    CASE WHEN ev.fail THEN greatest(st.rate // 2, 125)
        |         ELSE least(st.rate + 200, 8000) END,
        |    least(st.mn,
        |      CASE WHEN ev.fail THEN greatest(st.rate // 2, 125)
        |           ELSE least(st.rate + 200, 8000) END)
        |  FROM st JOIN ev ON ev.user_id = st.user_id AND ev.i = st.i + 1)
        |SELECT st.user_id, n.n::BIGINT AS n_events, n.n_fail::BIGINT AS n_fail,
        |  st.rate::BIGINT AS final_rate, st.mn::BIGINT AS min_rate
        |FROM st JOIN n USING (user_id) WHERE st.i = n.n
        |ORDER BY user_id""".stripMargin,

    "q101_semdedup" -> q101Sql(k = 4, iters = 2, dim = 64, tau = 0.35),

    // q102: DSIR importance weighting — train both unigram
    // distributions in one conditional agg, cut to the 500 most
    // frequent tokens (count desc, token asc), weight = Σ of the
    // linearized ppm log-ratio gap per in-vocab occurrence.
    "q102_dsir_weights" ->
      """WITH toks AS (SELECT doc_id, (lang = 'en') AS is_tgt,
        |    unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |counts AS (SELECT token, count(*)::BIGINT AS c_src,
        |    sum(CASE WHEN is_tgt THEN 1 ELSE 0 END)::BIGINT AS c_tgt
        |  FROM toks GROUP BY 1 ORDER BY c_src DESC, token LIMIT 500),
        |tot AS (SELECT sum(c_src)::BIGINT AS t_src,
        |    sum(c_tgt)::BIGINT AS t_tgt FROM counts),
        |model AS (SELECT token,
        |    ((c_tgt * 1000000) // greatest(t_tgt, 1)
        |     - (c_src * 1000000) // greatest(t_src, 1)) AS gap_ppm
        |  FROM counts, tot),
        |w AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |    sum(gap_ppm)::BIGINT AS weight
        |  FROM toks JOIN model USING (token) GROUP BY 1)
        |SELECT doc_id, n_tokens, weight FROM w
        |ORDER BY weight DESC, doc_id LIMIT 50""".stripMargin,

    // q103: label propagation, 3 unrolled synchronous rounds — each is
    // one neighbor join + a (node, label) count + the struct-min
    // argmax (cnt desc, label asc), isolated nodes keep their own.
    "q103_label_prop" -> q103Sql(iters = 3),

    // q104: host-mirror detection — replay the aggregation-built
    // MinHash signature (slot i = min md5-48 of "i:path"), the band
    // keys (decimal-joined slot runs, string_agg ORDER BY slot == the
    // Spark concat_ws slot order), the band-join candidates and the
    // exact intersection verify. Fixed-point ppm floor-div.
    "q104_host_mirrors" ->
      """WITH urls AS (SELECT 'h' || (l_suppkey % 24)::VARCHAR AS s,
        |    '/g' || (l_suppkey % 12)::VARCHAR || '/p/' ||
        |      (l_partkey % (120 + 37 * (l_suppkey % 12)))::VARCHAR AS e
        |  FROM lineitem),
        |el AS (SELECT DISTINCT s, e FROM urls),
        |sizes AS (SELECT s, count(*)::BIGINT AS n FROM el GROUP BY 1),
        |sig AS (SELECT s, i,
        |    min(CAST(md5_number_lower(i::VARCHAR || ':' || e)
        |        & 281474976710655 AS BIGINT)) AS m
        |  FROM el, range(12) r(i) GROUP BY 1, 2),
        |bk AS (SELECT s, (i // 4)::INT AS band,
        |    string_agg(m::VARCHAR, ',' ORDER BY i) AS key
        |  FROM sig GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.s AS s_a, b.s AS s_b
        |  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
        |    AND a.s < b.s),
        |inter AS (SELECT c.s_a, c.s_b, count(*)::BIGINT AS inter
        |  FROM cand c JOIN el ea ON ea.s = c.s_a
        |  JOIN el eb ON eb.s = c.s_b AND eb.e = ea.e
        |  GROUP BY 1, 2)
        |SELECT i.s_a AS set_a, i.s_b AS set_b, na.n AS n_a, nb.n AS n_b,
        |  i.inter,
        |  ((i.inter * 1000000) // (na.n + nb.n - i.inter))::BIGINT
        |    AS jaccard_ppm,
        |  (i.inter * 1000000) // (na.n + nb.n - i.inter) >= 700000
        |    AS is_mirror
        |FROM inter i JOIN sizes na ON na.s = i.s_a
        |JOIN sizes nb ON nb.s = i.s_b
        |ORDER BY set_a, set_b""".stripMargin,

    // q105: content-defined chunking — replay the boundary rule
    // (md5-48 of each trailing 8-char window ≡ 0 mod 16), cut-point
    // lists, chunk fingerprints and the corpus-wide first-occurrence
    // (doc, pos) dedup via row_number. DuckDB lists are 1-indexed;
    // pos stays 0-based to match Spark's posexplode. generate_series
    // with column bounds must be the SCALAR list form under unnest —
    // the lateral table-function form rejects column parameters.
    "q105_cdc_chunks" -> cdcSql(window = 8, divisor = 16),

    // q120: the second CDC config (the q37 treatment — same replayed
    // boundary rule, different (window, divisor) constants)
    "q120_cdc_bands" -> cdcSql(window = 6, divisor = 8),

    // q121: aHash banding audit — same (maxDist, configs) as the
    // Spark entry; q116's signature CTEs + q110's audit tail
    "q121_ahash_audit" -> q121Sql(maxDist = 7,
      configs = Seq((2, 32), (4, 16), (8, 8))),

    // q106: BPE merge training, 6 unrolled rounds — each is one pair
    // count over the word-type table, an ORDER BY ... LIMIT 1 arg-max,
    // and the literal-replace rewrite (both engines' replace is
    // left-to-right non-overlapping: the op's documented contract).
    "q106_bpe_merges" -> q106Sql(merges = 6),

    // q107: hybrid RRF — replay the multi-query BM25 (q92's fixed-point
    // formula with a (query, token) VALUES map over ONE shared tf
    // frame), the q28 cosine ranking for vec_id ∈ {1,2,3}, the full
    // outer fusion with 0-sentinel ranks, and the 10⁶ DIV (60 + rank)
    // reciprocal-rank sum.
    "q107_hybrid_rrf" ->
      """WITH q(query_id, token) AS (VALUES (1, 'sort'), (1, 'merge'),
        |    (2, 'hash'), (2, 'join'), (3, 'scan'), (3, 'filter')),
        |d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |    FROM documents WHERE length(trim(text)) > 0),
        |l AS (SELECT doc_id, len(toks)::BIGINT AS len FROM d),
        |av AS (SELECT count(*) AS n,
        |    greatest(1, (sum(len) * 1000) // greatest(count(*), 1)) AS avml FROM l),
        |t AS (SELECT doc_id, unnest(toks) AS token FROM d),
        |tf AS (SELECT token, t.doc_id, count(*) AS tf, max(l.len) AS len
        |    FROM t JOIN l USING (doc_id)
        |    WHERE token IN ('sort', 'merge', 'hash', 'join', 'scan', 'filter')
        |    GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |s AS (SELECT q.query_id, tf.doc_id,
        |    sum(((av.n * 1000) // df.df) *
        |        ((tf * 2200 * 1000) //
        |         (tf * 1000 + (1200 * ((1000 - 750) +
        |           (750 * len * 1000) // av.avml)) // 1000)))::BIGINT AS score_micro
        |  FROM tf JOIN df USING (token) JOIN q USING (token) CROSS JOIN av
        |  GROUP BY 1, 2),
        |lk AS (SELECT * FROM (SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_micro DESC, doc_id) AS bm25_rank FROM s)
        |  WHERE bm25_rank <= 20),
        |cs AS (SELECT qe.vec_id AS query_id, c.vec_id AS doc_id,
        |    round(list_cosine_similarity(c.embedding::DOUBLE[],
        |      qe.embedding::DOUBLE[]), 6) AS cos
        |  FROM embeddings c JOIN embeddings qe
        |    ON qe.vec_id IN (1, 2, 3) AND c.vec_id <> qe.vec_id),
        |ck AS (SELECT * FROM (SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, doc_id) AS cos_rank FROM cs)
        |  WHERE cos_rank <= 20),
        |f AS (SELECT coalesce(lk.query_id, ck.query_id)::BIGINT AS query_id,
        |    coalesce(lk.doc_id, ck.doc_id) AS doc_id,
        |    coalesce(lk.bm25_rank, 0)::INT AS bm25_rank,
        |    coalesce(ck.cos_rank, 0)::INT AS cos_rank
        |  FROM lk FULL JOIN ck
        |    ON lk.query_id = ck.query_id AND lk.doc_id = ck.doc_id),
        |g AS (SELECT *,
        |    ((CASE WHEN bm25_rank > 0 THEN 1000000 // (60 + bm25_rank) ELSE 0 END) +
        |     (CASE WHEN cos_rank > 0 THEN 1000000 // (60 + cos_rank) ELSE 0 END)
        |    )::BIGINT AS rrf_micros FROM f),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf_micros DESC, doc_id) AS rank FROM g)
        |SELECT query_id, doc_id, bm25_rank, cos_rank, rrf_micros,
        |  rank::INT AS rank
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // q108: BPE encode — retrain q106's merge table (same CTE chain,
    // same argmax tie-break), then apply the rules in rank order to
    // each document's symbol form (leading space, chars space-joined,
    // words separated by a DOUBLE space so no merge crosses a word
    // boundary — replace is left-to-right non-overlapping in both
    // engines). Per doc: word/base-char/post-merge-symbol counts and
    // the floor-div compression ppm.
    "q108_bpe_encode" -> q108Sql(merges = 6),

    // q109: leakage-safe split — q46's SimHash-pair transitive closure
    // (recursive CTE, min-id component labels), every doc rooted at
    // its component (or itself), bucket = md5-48(root) mod 1000 with
    // train < 800 <= valid < 900 <= test.
    "q109_leakage_split" -> q109Sql,

    // q110: banding audit — the shared signature CTE feeds one
    // all-pairs frame (id_a < id_b, exact hamming); per config a pair
    // is a candidate iff ANY band's masked slices match (bool_or over
    // a band series bounded by the config's band count); recall and
    // precision are floor-div ppm against truth (hamming <= 6).
    "q110_lsh_audit" ->
      s"""WITH ${simhashCtes(bands = 4, bitsPerBand = 16, probeHamming = 0)},
         |ap AS (SELECT a.id AS ia, b.id AS ib, a.s AS sa, b.s AS sb,
         |    bit_count(xor(a.s, b.s)) AS hd
         |  FROM sig a JOIN sig b ON a.id < b.id),
         |cfg(bands, bpb) AS (VALUES (2, 32), (4, 16), (8, 8)),
         |c AS (SELECT cfg.bands, cfg.bpb, ap.ia, ap.ib,
         |    any_value(ap.hd) AS hd,
         |    max(CASE WHEN ((ap.sa >> (g.b * cfg.bpb)) &
         |                   ($bandMask)) =
         |                  ((ap.sb >> (g.b * cfg.bpb)) &
         |                   ($bandMask))
         |        THEN 1 ELSE 0 END) AS is_cand
         |  FROM ap CROSS JOIN cfg
         |  JOIN generate_series(0, 7) g(b) ON g.b < cfg.bands
         |  GROUP BY 1, 2, 3, 4),
         |agg AS (SELECT bands, bpb AS bits_per_band,
         |    sum(CASE WHEN hd <= 6 THEN 1 ELSE 0 END)::BIGINT AS n_truth,
         |    sum(is_cand)::BIGINT AS n_candidates,
         |    sum(CASE WHEN is_cand = 1 AND hd <= 6 THEN 1 ELSE 0 END)::BIGINT AS tp
         |  FROM c GROUP BY 1, 2)
         |SELECT bands, bits_per_band, n_truth, n_candidates, tp,
         |  (CASE WHEN n_truth > 0 THEN (tp * 1000000) // n_truth
         |        ELSE 0 END)::BIGINT AS recall_ppm,
         |  (CASE WHEN n_candidates > 0 THEN (tp * 1000000) // n_candidates
         |        ELSE 0 END)::BIGINT AS precision_ppm
         |FROM agg ORDER BY bands""".stripMargin,

    // q111: host-coarsened weighted PageRank — q48's edge synthesis
    // mapped to host = id mod 50, self-loops dropped, parallel edges
    // collapsed to weights; 3 unrolled rounds with share =
    // (rank·w) // out_w, q48's fixed-point discipline.
    "q111_host_rank" -> q111Sql(iters = 3),

    // q112: repeated-substring spans — every 8-token window md5-48
    // fingerprinted, corpus-wide count >= 2 marks [pos, pos+8) as
    // repeated, per-doc gaps-and-islands merge (running max-end window)
    // yields maximal repeated spans; zero rows restored by the final
    // left join. pos stays 0-based to match Spark's posexplode.
    "q112_repeated_spans" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '') AS toks FROM documents),
        |nt AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens, toks FROM d),
        |w AS (SELECT doc_id, toks,
        |    unnest(generate_series(0, n_tokens - 8)) AS pos
        |  FROM nt WHERE n_tokens >= 8),
        |wf AS (SELECT doc_id, pos,
        |    CAST(md5_number_lower(
        |        array_to_string(list_slice(toks, pos + 1, pos + 8), ' '))
        |      & 281474976710655 AS BIGINT) AS fp FROM w),
        |rep AS (SELECT fp FROM wf GROUP BY fp HAVING count(*) >= 2),
        |m AS (SELECT wf.doc_id, wf.pos FROM wf JOIN rep USING (fp)),
        |isl AS (SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 8) OVER (
        |        PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS is_new FROM m),
        |i2 AS (SELECT doc_id, pos,
        |    sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM isl),
        |sp AS (SELECT doc_id, island, count(*)::BIGINT AS win_cnt,
        |    (max(pos) + 8 - min(pos))::BIGINT AS span_len
        |  FROM i2 GROUP BY 1, 2),
        |pd AS (SELECT doc_id, sum(win_cnt)::BIGINT AS repeated_windows,
        |    count(*)::BIGINT AS n_spans,
        |    sum(span_len)::BIGINT AS repeated_tokens FROM sp GROUP BY 1)
        |SELECT n.doc_id, n.n_tokens,
        |  coalesce(pd.repeated_windows, 0)::BIGINT AS repeated_windows,
        |  coalesce(pd.n_spans, 0)::BIGINT AS n_spans,
        |  coalesce(pd.repeated_tokens, 0)::BIGINT AS repeated_tokens,
        |  (CASE WHEN n.n_tokens > 0
        |        THEN (coalesce(pd.repeated_tokens, 0) * 1000000) // n.n_tokens
        |        ELSE 0 END)::BIGINT AS repeated_ppm
        |FROM nt n LEFT JOIN pd USING (doc_id) ORDER BY n.doc_id""".stripMargin,

    // q113: token-budget selection — q30's per-doc round-6 quality, a
    // (quality → token mass) histogram whose descending-quality window
    // gives each class its tokens-above-me offset, then the per-class
    // doc-id-ordered running sum; selected ⇔ offset + running ≤ budget
    // (25% of total tokens, floor-div).
    "q113_budget_select" ->
      """WITH raw AS (SELECT doc_id,
        |  length(text)::DOUBLE AS len,
        |  (CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END)::BIGINT AS toks,
        |  length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE AS punct,
        |  length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE AS alpha,
        |  (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5.0
        |    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' a ', ''))) / 3.0
        |    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' and ', ''))) / 5.0 AS stop
        |  FROM documents),
        |s AS (SELECT doc_id, toks AS n_tokens, round(
        |    least(len / 500.0, 1.0) * 0.3
        |    + least(punct / greatest(toks::DOUBLE, 1.0) * 5.0, 1.0) * 0.2
        |    + alpha / greatest(len, 1.0) * 0.3
        |    + least(stop / greatest(toks::DOUBLE, 1.0) * 10.0, 1.0) * 0.2, 6) AS quality
        |  FROM raw),
        |b AS (SELECT ((sum(n_tokens) * 250) // 1000)::BIGINT AS budget FROM s),
        |h AS (SELECT quality, sum(n_tokens)::BIGINT AS class_tok
        |  FROM s GROUP BY 1),
        |hc AS (SELECT quality, coalesce(sum(class_tok) OVER (
        |    ORDER BY quality DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |    AS cum_before FROM h),
        |r AS (SELECT s.doc_id, s.quality, s.n_tokens,
        |    (hc.cum_before + sum(s.n_tokens) OVER (PARTITION BY s.quality
        |      ORDER BY s.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS cum_tokens
        |  FROM s JOIN hc USING (quality))
        |SELECT doc_id, quality, n_tokens, cum_tokens,
        |  cum_tokens <= (SELECT budget FROM b) AS selected
        |FROM r ORDER BY doc_id""".stripMargin,

    // q114: MinHash banding audit — generated from the SAME
    // (slots, configs, tauPpm) the Spark entry passes
    "q114_minhash_audit" ->
      q114Sql(slots = 12, configs = Seq((2, 6), (3, 4), (6, 2)),
        tauPpm = 500000L),

    // q115: crawl-budget apportionment over q111's authority chain
    "q115_budget_apportion" -> q115Sql(iters = 3, budget = 10000L),

    // q116: image aHash near-dup — decode-stub grid replayed in SQL,
    // banded candidates + hamming verify (q26's join shape)
    "q116_image_neardup" -> q116Sql(maxDist = 7, bands = 8, bitsPerBand = 8),

    // q117: hyperplane banding audit — same (dim, configs, tau, seed)
    // as the Spark entry
    "q117_hyperplane_audit" -> q117Sql(dim = 64,
      configs = Seq((2, 12), (4, 6), (6, 4)), tau = 0.4, seed = 42L),

    // q118: IVF probe-budget audit — same (k, nList, probes, nQueries)
    // as the Spark entry
    "q118_ivf_audit" -> q118Sql(k = 5, nList = 16,
      probes = Seq(1, 2, 4, 8), nQueries = 10),

    // q119: char-distribution concentration — integer Simpson ppm over
    // per-character counts (the Spark expression walks UTF-8 code
    // points, so the two engines agree on any non-combining text, not
    // just ASCII; empty text pinned to (0, 0, 10^6) on both sides)
    "q119_char_stats" ->
      """WITH nonempty AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
        |cnt AS (SELECT doc_id, ch, count(*)::BIGINT AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM nonempty)
        |  GROUP BY doc_id, ch),
        |agg AS (SELECT doc_id, sum(c)::BIGINT AS n_chars,
        |    count(*)::BIGINT AS distinct_chars, sum(c * c)::BIGINT AS ss
        |  FROM cnt GROUP BY doc_id)
        |SELECT doc_id, n_chars, distinct_chars,
        |  ((ss * 1000000) // (n_chars * n_chars))::BIGINT AS simpson_ppm
        |FROM agg
        |UNION ALL
        |SELECT doc_id, 0::BIGINT, 0::BIGINT, 1000000::BIGINT
        |FROM documents WHERE length(text) = 0
        |ORDER BY doc_id""".stripMargin
  )

  /** q111: weighted-PageRank rounds unrolled as CTEs (q48Sql with a
    * weighted share); nodes come from the COLLAPSED edge list so both
    * engines agree on which hosts exist after the self-loop drop.
    */
  private def q111Ctes(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""s$i AS (SELECT we.dst AS id, sum((r.r * we.w) // o.ow) AS mm
         |  FROM we JOIN outw o USING (src) JOIN r${i - 1} r ON r.id = we.src
         |  GROUP BY 1),
         |r$i AS (SELECT n.id, (150000 + (85 * coalesce(s.mm, 0)) // 100)::BIGINT AS r
         |  FROM nodes n LEFT JOIN s$i s USING (id))""".stripMargin
    }.mkString(",\n")
    s"""mx AS (SELECT max(o_orderkey) AS m FROM orders),
       |pe AS (SELECT (l_orderkey % 50) AS src,
       |    (((l_orderkey + l_partkey * 7) % m) + 1) % 50 AS dst
       |  FROM lineitem, mx),
       |we AS (SELECT src, dst, count(*)::BIGINT AS w FROM pe
       |  WHERE src <> dst GROUP BY 1, 2),
       |outw AS (SELECT src, sum(w)::BIGINT AS ow FROM we GROUP BY 1),
       |nodes AS (SELECT src AS id FROM we UNION SELECT dst FROM we),
       |r0 AS (SELECT id, 1000000::BIGINT AS r FROM nodes),
       |$rounds""".stripMargin
  }

  private def q111Sql(iters: Int): String =
    s"""WITH ${q111Ctes(iters)}
       |SELECT id AS host_key, r AS authority FROM r$iters
       |ORDER BY authority DESC, host_key""".stripMargin

  /** q115: q111's authority chain + largest-remainder apportionment of
    * 10 000 fetch slots — floor shares from integer division, leftover
    * seats by remainder rank (ties to the smaller host), all BIGINT so
    * both engines allocate identically.
    */
  private def q115Sql(iters: Int, budget: Long): String =
    s"""WITH ${q111Ctes(iters)},
       |auth AS (SELECT id, r AS score FROM r$iters),
       |tot AS (SELECT sum(score)::BIGINT AS total FROM auth),
       |b AS (SELECT id, score, ((score * $budget) // total)::BIGINT AS base,
       |    ((score * $budget) % total)::BIGINT AS rem FROM auth, tot),
       |se AS (SELECT ($budget - sum(base))::BIGINT AS extra_seats FROM b),
       |rk AS (SELECT b.*, row_number() OVER (ORDER BY rem DESC, id) AS rk
       |  FROM b)
       |SELECT rk.id AS host_key, rk.score, rk.base,
       |  (CASE WHEN rk.rk <= se.extra_seats THEN 1 ELSE 0 END)::BIGINT AS extra,
       |  (rk.base + CASE WHEN rk.rk <= se.extra_seats THEN 1 ELSE 0 END)::BIGINT
       |    AS alloc
       |FROM rk, se ORDER BY host_key""".stripMargin

  /** q114: MinHash banding audit — the q110 pattern over the md5-48
    * salted-min slot signature (q104's construction). One shingle-set
    * CTE feeds sizes, slot signatures and exact intersections; the
    * all-pairs frame left-joins intersections (disjoint pairs = Jaccard
    * 0); per config candidacy is slot-list equality over the band's
    * rows, generated as literal predicates.
    */
  private def q114Sql(slots: Int, configs: Seq[(Int, Int)], tauPpm: Long): String = {
    val cfgSelects = configs.map { case (bands, r) =>
      val cand = (0 until bands).map { b =>
        (b * r until (b + 1) * r)
          .map(i => s"ma[${i + 1}] = mb[${i + 1}]").mkString("(", " AND ", ")")
      }.mkString("(", " OR ", ")")
      s"""SELECT $bands AS bands, $r AS rows_per_band,
         |  coalesce(sum(CASE WHEN jppm >= $tauPpm THEN 1 ELSE 0 END), 0)::BIGINT
         |    AS n_truth,
         |  coalesce(sum(CASE WHEN $cand THEN 1 ELSE 0 END), 0)::BIGINT
         |    AS n_candidates,
         |  coalesce(sum(CASE WHEN $cand AND jppm >= $tauPpm THEN 1 ELSE 0 END), 0)::BIGINT
         |    AS tp
         |FROM j""".stripMargin
    }
    s"""WITH toks AS (
       |  SELECT doc_id AS id, string_split($normText, ' ') AS tk FROM documents),
       |d AS (SELECT id, list_distinct(list_transform(generate_series(1, len(tk) - 1),
       |      i -> tk[i] || ' ' || tk[i + 1])) AS sh FROM toks),
       |e AS (SELECT id, unnest(sh) AS s FROM d),
       |sizes AS (SELECT id, count(*)::BIGINT AS n FROM e GROUP BY 1),
       |sg AS (SELECT id, i,
       |    min(CAST(md5_number_lower(i::VARCHAR || ':' || s)
       |        & 281474976710655 AS BIGINT)) AS m
       |  FROM e, range($slots) r(i) GROUP BY 1, 2),
       |sl AS (SELECT id, list(m ORDER BY i) AS ms FROM sg GROUP BY 1),
       |pa AS (SELECT a.id AS id_a, b.id AS id_b, a.ms AS ma, b.ms AS mb,
       |    na.n AS n_a, nb.n AS n_b
       |  FROM sl a JOIN sl b ON a.id < b.id
       |  JOIN sizes na ON na.id = a.id JOIN sizes nb ON nb.id = b.id),
       |it AS (SELECT x.id AS id_a, y.id AS id_b, count(*)::BIGINT AS inter
       |  FROM e x JOIN e y ON x.s = y.s AND x.id < y.id GROUP BY 1, 2),
       |j AS (SELECT pa.*,
       |    (coalesce(it.inter, 0) * 1000000)
       |      // (n_a + n_b - coalesce(it.inter, 0)) AS jppm
       |  FROM pa LEFT JOIN it ON it.id_a = pa.id_a AND it.id_b = pa.id_b),
       |cfg AS (${cfgSelects.mkString("\nUNION ALL\n")})
       |SELECT bands, rows_per_band, n_truth, n_candidates, tp,
       |  (CASE WHEN n_truth > 0 THEN (tp * 1000000) // n_truth
       |        ELSE 0 END)::BIGINT AS recall_ppm,
       |  (CASE WHEN n_candidates > 0 THEN (tp * 1000000) // n_candidates
       |        ELSE 0 END)::BIGINT AS precision_ppm
       |FROM cfg ORDER BY bands""".stripMargin
  }

  /** The q116/q121 shared signature CTE chain: replay the decode
    * stub's md5-derived 8×8 luma grid (48-bit cells, variant salt
    * inverts ~1/16 of cells) and assemble the 64-bit aHash as UBIGINT
    * in `sig(ref, s)`.
    */
  private def ahashSigCtes: String =
    s"""refs AS (SELECT DISTINCT
       |    'img://g' || (doc_id % 40)::VARCHAR || '/v' || (doc_id % 3)::VARCHAR
       |      AS ref,
       |    'g' || (doc_id % 40)::VARCHAR AS key, (doc_id % 3) AS v
       |  FROM documents),
       |cells AS (SELECT ref, key, v, unnest(range(64)) AS j FROM refs),
       |luma AS (SELECT ref, j,
       |    CASE WHEN v > 0 AND (md5_number_lower(key || ':' || v || ':' || j)
       |        & 15) = 0
       |      THEN 281474976710655 - (md5_number_lower(key || ':' || j)
       |        & 281474976710655)
       |      ELSE (md5_number_lower(key || ':' || j) & 281474976710655)
       |    END AS l
       |  FROM cells),
       |sig AS (SELECT ref,
       |    sum(CASE WHEN l > 140737488355328 THEN (1::UBIGINT << j)
       |        ELSE 0::UBIGINT END)::UBIGINT AS s
       |  FROM luma GROUP BY 1)""".stripMargin

  /** q116: image aHash near-dup — [[ahashSigCtes]] + the q26-style
    * banded candidate join + hamming verify.
    */
  private def q116Sql(maxDist: Int, bands: Int, bitsPerBand: Int): String = {
    val mask = (1L << bitsPerBand) - 1
    s"""WITH $ahashSigCtes,
       |banded AS (SELECT ref, s, g.band,
       |    (s >> (g.band * $bitsPerBand)) & $mask AS bucket
       |  FROM sig CROSS JOIN generate_series(0, ${bands - 1}) AS g(band)),
       |pairs AS (SELECT DISTINCT a.ref AS ref_a, b.ref AS ref_b,
       |    a.s AS sa, b.s AS sb
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.ref < b.ref)
       |SELECT ref_a, ref_b, bit_count(xor(sa, sb))::INT AS hamming
       |FROM pairs WHERE bit_count(xor(sa, sb)) <= $maxDist
       |ORDER BY ref_a, ref_b""".stripMargin
  }

  /** q121: aHash banding audit — [[ahashSigCtes]] feeding the q110
    * audit tail: the shared-machinery story holds in SQL exactly as in
    * Spark (one all-pairs frame, per-config bit-predicate candidacy).
    */
  private def q121Sql(maxDist: Int, configs: Seq[(Int, Int)]): String = {
    val values = configs.map { case (b, w) => s"($b, $w)" }.mkString(", ")
    val maxBands = configs.map(_._1).max
    s"""WITH $ahashSigCtes,
       |ap AS (SELECT a.ref AS ia, b.ref AS ib, a.s AS sa, b.s AS sb,
       |    bit_count(xor(a.s, b.s)) AS hd
       |  FROM sig a JOIN sig b ON a.ref < b.ref),
       |cfg(bands, bpb) AS (VALUES $values),
       |c AS (SELECT cfg.bands, cfg.bpb, ap.ia, ap.ib,
       |    any_value(ap.hd) AS hd,
       |    max(CASE WHEN ((ap.sa >> (g.b * cfg.bpb)) &
       |                   ($bandMask)) =
       |                  ((ap.sb >> (g.b * cfg.bpb)) &
       |                   ($bandMask))
       |        THEN 1 ELSE 0 END) AS is_cand
       |  FROM ap CROSS JOIN cfg
       |  JOIN generate_series(0, ${maxBands - 1}) g(b) ON g.b < cfg.bands
       |  GROUP BY 1, 2, 3, 4),
       |agg AS (SELECT bands, bpb AS bits_per_band,
       |    sum(CASE WHEN hd <= $maxDist THEN 1 ELSE 0 END)::BIGINT AS n_truth,
       |    sum(is_cand)::BIGINT AS n_candidates,
       |    sum(CASE WHEN is_cand = 1 AND hd <= $maxDist THEN 1 ELSE 0 END)::BIGINT AS tp
       |  FROM c GROUP BY 1, 2)
       |SELECT bands, bits_per_band, n_truth, n_candidates, tp,
       |  (CASE WHEN n_truth > 0 THEN (tp * 1000000) // n_truth
       |        ELSE 0 END)::BIGINT AS recall_ppm,
       |  (CASE WHEN n_candidates > 0 THEN (tp * 1000000) // n_candidates
       |        ELSE 0 END)::BIGINT AS precision_ppm
       |FROM agg ORDER BY bands""".stripMargin
  }

  /** q108: q106's training chain (minus the token totals) + a per-doc
    * symbolization chain d_i that applies the same rank-i rule each
    * round. Doc symbol form mirrors Curation.bpeEncode: whitespace
    * runs collapse to chr(1), every char gains a trailing space, the
    * sentinel+space pair collapses to a space — words end up separated
    * by two spaces, chars by one, with a leading space.
    */
  private def q108Sql(merges: Int): String = {
    val rounds = (1 to merges).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS (SELECT lst[i] AS l, lst[i + 1] AS r, sum(cnt)::BIGINT AS pc
         |  FROM (SELECT cnt, lst, unnest(generate_series(1, len(lst) - 1)) AS i
         |        FROM (SELECT cnt, string_split(trim(sym), ' ') AS lst FROM $prev))
         |  GROUP BY 1, 2),
         |b$i AS (SELECT l, r FROM p$i ORDER BY pc DESC, l, r LIMIT 1),
         |w$i AS (SELECT w, cnt,
         |    replace(sym, ' ' || b$i.l || ' ' || b$i.r || ' ',
         |            ' ' || b$i.l || b$i.r || ' ') AS sym
         |  FROM $prev CROSS JOIN b$i),
         |d$i AS (SELECT doc_id, n_words, n_base,
         |    replace(sym, ' ' || b$i.l || ' ' || b$i.r || ' ',
         |            ' ' || b$i.l || b$i.r || ' ') AS sym
         |  FROM d${i - 1} CROSS JOIN b$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH w0 AS (SELECT w, count(*)::BIGINT AS cnt,
       |    ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sym
       |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
       |        FROM documents)
       |  WHERE w <> '' GROUP BY 1),
       |d0 AS (SELECT doc_id,
       |    len(list_filter(string_split_regex(trim(text), '\\s+'),
       |        x -> x <> ''))::BIGINT AS n_words,
       |    length(regexp_replace(trim(text), '\\s+', '', 'g'))::BIGINT AS n_base,
       |    ' ' || replace(regexp_replace(regexp_replace(trim(text), '\\s+',
       |        chr(1), 'g'), '(.)', '\\1 ', 'g'), chr(1) || ' ', ' ') AS sym
       |  FROM documents),
       |$rounds,
       |enc AS (SELECT doc_id, n_words, n_base,
       |    len(list_filter(string_split(sym, ' '), x -> x <> ''))::BIGINT
       |      AS n_symbols
       |  FROM d$merges)
       |SELECT doc_id, n_words, n_base, n_symbols,
       |  (CASE WHEN n_base > 0 THEN (n_symbols * 1000000) // n_base
       |        ELSE 0 END)::BIGINT AS compression_ppm
       |FROM enc ORDER BY doc_id""".stripMargin
  }

  /** q109: q46's component labels (recursive-CTE transitive closure of
    * the SimHash pair set, min-id label — the unique fixpoint the
    * Spark label-propagation loop converges to), singletons rooted at
    * their own id, then the md5-48 per-mille bucket split.
    */
  private def q109Sql: String =
    s"""WITH RECURSIVE ${simhashCtes(bands = 4, bitsPerBand = 16, probeHamming = 0)},
       |good AS (SELECT id_a, id_b FROM pairs WHERE bit_count(xor(sa, sb)) <= 6),
       |e AS (SELECT id_a AS u, id_b AS v FROM good
       |      UNION SELECT id_b, id_a FROM good),
       |reach(id, lbl) AS (
       |  SELECT u, u FROM e
       |  UNION
       |  SELECT e2.u, r.lbl FROM e e2 JOIN reach r ON r.id = e2.v),
       |comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
       |j AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_root
       |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
       |b AS (SELECT doc_id, cluster_root,
       |    (CAST(md5_number_lower(cluster_root::VARCHAR)
       |          & 281474976710655 AS BIGINT) % 1000) AS bucket FROM j)
       |SELECT doc_id, cluster_root, bucket,
       |  CASE WHEN bucket < 800 THEN 'train'
       |       WHEN bucket < 900 THEN 'valid' ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin

  /** q103: unrolled synchronous label propagation over q99's dense
    * 500-node synthetic graph (same edge synthesis).
    */
  /** q106: BPE merge training — `merges` unrolled rounds over the w0
    * word-type CTE. Round i: p_i counts adjacent symbol pairs (list
    * index + unnest(generate_series), weighted by word count), b_i is
    * the (pc desc, l, r) arg-max, w_i rewrites via literal `replace`
    * (left-to-right non-overlapping — identical to Spark's
    * StringReplace, the op's contract), t_i totals the corpus tokens
    * after the rewrite.
    */
  /** CDC chunk-dedup oracle at a given (window, divisor) — shared by
    * q105 (8, 16) and q120 (6, 8). Replays the boundary rule (md5-48
    * of each trailing `window`-char substring ≡ 0 mod `divisor`),
    * cut-point lists, chunk fingerprints and the corpus-wide
    * first-occurrence (doc, pos) dedup via row_number.
    */
  private def cdcSql(window: Int, divisor: Int): String =
    s"""WITH d AS (SELECT doc_id, text AS t, length(text) AS len
       |  FROM documents),
       |bi AS (SELECT doc_id, t,
       |    unnest(generate_series($window, len)) AS i FROM d),
       |b AS (SELECT doc_id, i FROM bi
       |  WHERE (md5_number_lower(substr(t, i - ${window - 1}, $window))
       |         & 281474976710655) % $divisor = 0),
       |cuts AS (SELECT d.doc_id, d.t, d.len,
       |    list_sort(list_distinct(list_prepend(0,
       |      list_append(coalesce(list(b.i), []), d.len)))) AS c
       |  FROM d LEFT JOIN b ON b.doc_id = d.doc_id GROUP BY 1, 2, 3),
       |ck AS (SELECT doc_id, t, c,
       |    unnest(generate_series(0, len(c) - 2)) AS k FROM cuts),
       |occ AS (SELECT doc_id, k AS pos,
       |    (c[k + 2] - c[k + 1])::BIGINT AS clen,
       |    md5(substr(t, c[k + 1] + 1, c[k + 2] - c[k + 1])) AS fp
       |  FROM ck),
       |r AS (SELECT *, row_number() OVER (PARTITION BY fp
       |    ORDER BY doc_id, pos) AS rn FROM occ),
       |pd AS (SELECT doc_id, count(*)::BIGINT AS n_chunks,
       |    sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_chunks,
       |    sum(CASE WHEN rn > 1 THEN clen ELSE 0 END)::BIGINT AS dup_chars
       |  FROM r GROUP BY 1)
       |SELECT d.doc_id, coalesce(pd.n_chunks, 0)::BIGINT AS n_chunks,
       |  coalesce(pd.dup_chunks, 0)::BIGINT AS dup_chunks,
       |  coalesce(pd.dup_chars, 0)::BIGINT AS dup_chars,
       |  (CASE WHEN d.len > 0
       |        THEN (coalesce(pd.dup_chars, 0) * 1000000) // d.len
       |        ELSE 0 END)::BIGINT AS dedup_ppm
       |FROM d LEFT JOIN pd USING (doc_id) ORDER BY d.doc_id""".stripMargin

  private def q106Sql(merges: Int): String = {
    val rounds = (1 to merges).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS (SELECT lst[i] AS l, lst[i + 1] AS r, sum(cnt)::BIGINT AS pc
         |  FROM (SELECT cnt, lst, unnest(generate_series(1, len(lst) - 1)) AS i
         |        FROM (SELECT cnt, string_split(trim(sym), ' ') AS lst FROM $prev))
         |  GROUP BY 1, 2),
         |b$i AS (SELECT l, r, pc FROM p$i ORDER BY pc DESC, l, r LIMIT 1),
         |w$i AS (SELECT w, cnt,
         |    replace(sym, ' ' || b$i.l || ' ' || b$i.r || ' ',
         |            ' ' || b$i.l || b$i.r || ' ') AS sym
         |  FROM $prev CROSS JOIN b$i),
         |t$i AS (SELECT sum(cnt * len(string_split(trim(sym), ' ')))::BIGINT AS tok
         |  FROM w$i)""".stripMargin
    }.mkString(",\n")
    val union = (1 to merges).map { i =>
      s"""SELECT $i::INT AS merge_rank, l AS lhs, r AS rhs,
         |  pc AS pair_count, l || r AS new_symbol,
         |  (SELECT tok FROM t$i) AS corpus_tokens_after FROM b$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH w0 AS (SELECT w, count(*)::BIGINT AS cnt,
       |    ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sym
       |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
       |        FROM documents)
       |  WHERE w <> '' GROUP BY 1),
       |$rounds
       |SELECT * FROM (
       |$union
       |) ORDER BY merge_rank""".stripMargin
  }

  private def q103Sql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""w$i AS (SELECT a, min({'nc': -cnt, 'l': label})['l'] AS new_label
         |  FROM (SELECT nb.a, l.label, count(*)::BIGINT AS cnt
         |        FROM nb JOIN l${i - 1} l ON nb.b = l.id GROUP BY 1, 2)
         |  GROUP BY 1),
         |l$i AS (SELECT n.id, coalesce(w$i.new_label, n.id) AS label
         |  FROM nodes n LEFT JOIN w$i ON n.id = w$i.a)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT (l_orderkey % 500) + 1 AS src,
       |    ((l_orderkey * 3 + l_partkey) % 500) + 1 AS dst FROM lineitem),
       |nb AS (SELECT DISTINCT a, b FROM (
       |  SELECT src AS a, dst AS b FROM e WHERE src <> dst
       |  UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
       |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |l0 AS (SELECT id, id AS label FROM nodes),
       |$rounds
       |SELECT id AS url_key, label::BIGINT AS label FROM l$iters
       |ORDER BY url_key""".stripMargin
  }

  /** q91: HITS hub/authority, `iters` unrolled rounds — auth half-step
    * then hub half-step, each sum-normalized to 10⁶ with floor
    * division exactly like GraphOps.hits (h₀ = 10⁶ on every node).
    */
  private def q91Sql(iters: Int = 3): String = {
    def half(out: String, in: String, joinCol: String, keyCol: String): String =
      s"""${out}r AS (SELECT e.$keyCol AS id, sum(p.s) AS raw
         |  FROM edges e JOIN $in p ON p.id = e.$joinCol GROUP BY 1),
         |$out AS (SELECT n.id,
         |    (coalesce(r.raw, 0) * 1000000 //
         |     greatest((SELECT sum(raw) FROM ${out}r), 1))::BIGINT AS s
         |  FROM nodes n LEFT JOIN ${out}r r USING (id))""".stripMargin
    val rounds = (1 to iters).map { i =>
      half(s"a$i", s"h${i - 1}", "src", "dst") + ",\n" +
        half(s"h$i", s"a$i", "dst", "src")
    }.mkString(",\n")
    s"""WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
       |edges AS (SELECT l_orderkey AS src,
       |    ((l_orderkey + l_partkey * 7) % m) + 1 AS dst FROM lineitem, mx),
       |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |h0 AS (SELECT id, 1000000::BIGINT AS s FROM nodes),
       |$rounds
       |SELECT n.id AS url_key, h$iters.s AS hub_ppm, a$iters.s AS auth_ppm
       |FROM nodes n JOIN h$iters ON h$iters.id = n.id
       |JOIN a$iters ON a$iters.id = n.id
       |ORDER BY url_key""".stripMargin
  }

  /** q87: the Morton interleave of the low `bits` bits of two columns,
    * as a flat bit-or of placed bits (DuckDB has `&`/`|`/`<<`/`>>` on
    * BIGINT; no loop needed — the term list is generated).
    */
  private def mortonTerms(a: String, b: String, bits: Int): String =
    (0 until bits).flatMap { i =>
      Seq(s"((($a >> $i) & 1) << ${2 * i})", s"((($b >> $i) & 1) << ${2 * i + 1})")
    }.mkString("(", " | ", ")")

  /** q64: BPE-style merge induction, `rounds` rounds unrolled as CTEs.
    * Round r: enumerate every adjacent (overlapping) token pair of the
    * sentinel-form corpus, pick the argmax (count desc, pair asc), and
    * merge it everywhere with `replace` (left-to-right non-overlapping
    * in both engines). Sentinel form: each token wrapped in chr(1), so
    * a pair pattern can never straddle token boundaries.
    */
  private def q64Sql(rounds: Int): String = {
    val S = "chr(1)"
    val SS = s"$S || $S"
    def body(s: String) = s"substring($s, 2, length($s) - 2)"
    val head =
      s"""WITH d0 AS (SELECT doc_id,
         |    $S || array_to_string(string_split_regex(trim(text), '\\s+'), $SS) || $S AS s
         |  FROM documents WHERE length(trim(text)) > 0)""".stripMargin
    // The chr(2) sentinel keeps m$r non-empty when a round finds no
    // adjacent pairs (corpus fully merged to single tokens): cnt = -1
    // loses to any real pair, and when it does win the replace pattern
    // contains the SS separator, which a pair-free corpus cannot
    // contain — the round is a no-op, matching the Spark side's
    // exhausted early-exit instead of CROSS JOIN-ing d$r with an empty
    // relation and wiping the corpus.
    val roundCtes = (0 until rounds).map { r =>
      s"""t$r AS (SELECT doc_id, string_split(${body("s")}, $SS) AS l FROM d$r),
         |p$r AS (SELECT l[u] AS a, l[u + 1] AS b
         |  FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS u FROM t$r)),
         |m$r AS (SELECT a, b FROM (
         |    SELECT a, b, count(*) AS cnt FROM p$r GROUP BY 1, 2
         |    UNION ALL SELECT chr(2) AS a, chr(2) AS b, -1 AS cnt
         |  ) ORDER BY cnt DESC, a, b LIMIT 1),
         |d${r + 1} AS (SELECT doc_id,
         |  replace(s, $S || m$r.a || $SS || m$r.b || $S,
         |    $S || m$r.a || ' ' || m$r.b || $S) AS s
         |  FROM d$r CROSS JOIN m$r)""".stripMargin
    }
    val fin = s"d$rounds"
    s"""$head,
       |${roundCtes.mkString(",\n")},
       |n0 AS (SELECT doc_id, len(l)::BIGINT AS n_orig FROM t0)
       |SELECT $fin.doc_id,
       |  len(string_split(${body(s"$fin.s")}, $SS))::BIGINT AS n_tokens,
       |  n0.n_orig - len(string_split(${body(s"$fin.s")}, $SS))::BIGINT AS n_merged,
       |  md5($fin.s) AS seq_md5
       |FROM $fin JOIN n0 USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** q79: fixed-point Lloyd k-means, `iters` update rounds unrolled as
    * CTEs. Mirrors [[graft.datatools.Similarity.kmeansAssign]]:
    * `::DOUBLE[]` before the scale multiply (the Spark side widens
    * float → double the same way), struct min = lexicographic
    * (dist, j) argmin, `//` = Spark DIV = Scala `/` (all truncate
    * toward zero, so negative coordinate sums agree), and the
    * NOT-IN branch carries empty clusters' previous centroids.
    */
  /** Shared k-means CTE chain (`WITH ints … fin`): integer Lloyd
    * rounds exactly as `Similarity.kmeansAssign` — `fin` holds the
    * final (vec_id, v, j, dist) assignment. Used by q79 and q101.
    */
  private def kmeansCtes(k: Int, iters: Int, dim: Int): String = {
    def assign(src: String, cent: String): String =
      s"""SELECT vec_id, v, b['j'] AS j, b['d'] AS dist FROM (
         |  SELECT i.vec_id, i.v,
         |    min({'d': list_sum([ (i.v[x] - c.v[x]) * (i.v[x] - c.v[x])
         |                         for x in generate_series(1, $dim) ]),
         |         'j': c.j::BIGINT}) AS b
         |  FROM $src i CROSS JOIN $cent c GROUP BY 1, 2)""".stripMargin
    val head =
      s"""WITH ints AS (SELECT vec_id,
         |    list_transform(embedding::DOUBLE[],
         |      x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS v
         |  FROM embeddings),
         |c0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::BIGINT AS j, v
         |  FROM (SELECT vec_id, v FROM ints ORDER BY vec_id LIMIT $k))""".stripMargin
    val rounds = (0 until iters).map { r =>
      s"""a$r AS (${assign("ints", s"c$r")}),
         |s$r AS (SELECT j, i, sum(val)::BIGINT AS s, count(*)::BIGINT AS n
         |  FROM (SELECT j, unnest(v) AS val,
         |        unnest(generate_series(1, $dim)) AS i FROM a$r)
         |  GROUP BY 1, 2),
         |c${r + 1} AS (SELECT j, list(s // n ORDER BY i) AS v FROM s$r GROUP BY 1
         |  UNION ALL SELECT j, v FROM c$r WHERE j NOT IN (SELECT j FROM s$r))""".stripMargin
    }
    s"""$head,
       |${rounds.mkString(",\n")},
       |fin AS (${assign("ints", s"c$iters")})""".stripMargin
  }

  private def q79Sql(k: Int, iters: Int, dim: Int): String =
    s"""${kmeansCtes(k, iters, dim)}
       |SELECT vec_id, j::INT AS cluster, dist::BIGINT AS dist
       |FROM fin ORDER BY vec_id""".stripMargin

  /** q101: SemDeDup — the q79 assignment plus within-cluster round-6
    * cosine pairs; the farther-from-centroid member of each pair ≥ tau
    * drops (dist tie → the larger id drops).
    */
  private def q101Sql(k: Int, iters: Int, dim: Int, tau: Double): String =
    s"""${kmeansCtes(k, iters, dim)},
       |vec AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |jj AS (SELECT f.vec_id, f.j AS cluster, f.dist, v.ev
       |  FROM fin f JOIN vec v USING (vec_id)),
       |drops AS (SELECT DISTINCT CASE WHEN a.dist <= b.dist THEN b.vec_id
       |    ELSE a.vec_id END AS vec_id
       |  FROM jj a JOIN jj b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE round(list_cosine_similarity(a.ev, b.ev), 6) >= $tau)
       |SELECT f.vec_id, f.j::INT AS cluster, f.dist::BIGINT AS dist,
       |  (d.vec_id IS NULL) AS kept
       |FROM fin f LEFT JOIN drops d USING (vec_id)
       |ORDER BY f.vec_id""".stripMargin
}
