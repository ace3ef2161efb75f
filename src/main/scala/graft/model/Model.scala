package graft.model

/** Core data model of the engine.
  *
  * The unit of work is a document made of ordered spans — the Spark
  * re-expression of the reference's per-request file set
  * (`pkg/modules/api/context.go:45-59`: working dir + form values + files).
  * Per-row invariant vs the reference pipeline: span-sequence equality on
  * (kind, text, media_ref, order).
  */
final case class DocSpan(
    kind: String,      // text | html | markdown | media | pdf | page | embed
    text: String,      // payload for text-like kinds ("" for media)
    media_ref: String, // ref into a media table for media kinds ("" otherwise)
    offset: Int        // within-document span order, 0-based dense
)

final case class Doc(doc_id: String, spans: Seq[DocSpan])

/** Crawl seed (FIXTURES.md §1 `seeds`). `seq` is the deterministic
  * tiebreak so crawl order is a pure function of data, never of task
  * scheduling (SURVEY.md §7.4).
  */
final case class SeedUrl(url: String, priority: Double, seq: Long)

/** Robots/allow-deny rule — the Spark analog of the reference's outbound
  * allow/deny regex lists (`pkg/gotenberg/outbound.go:258-340`). Broadcast
  * as a small Dataset and joined to the frontier.
  */
final case class RobotsRule(
    host_pattern: String, // regex over the normalized URL
    rule: String,         // "allow" | "deny"
    deny_private_ips: Boolean,
    deny_public_ips: Boolean
)

/** Synthetic DNS row (determinism stand-in for resolution pinning,
  * `outbound.go:121-166`).
  */
final case class HostIps(host: String, ips: Seq[String])

/** One frontier entry after canonicalization/scheduling (FIXTURES.md §1
  * `frontier`). `host_hash` is the salted host hash — the partition key
  * that defuses hot-domain skew (SURVEY.md §2.8, §4).
  */
final case class FrontierEntry(
    url: String,        // raw URL as submitted
    url_canon: String,  // canonicalized URL
    url_hash: Long,     // murmur3 of url_canon
    host: String,
    host_hash: Int,     // salted host hash (partition key)
    priority: Double,
    seq: Long,
    round: Int
)

/** Final URL-seen set row. */
final case class SeenUrl(url_canon: String, url_hash: Long, round_first_seen: Int)

/** Result of fetching one frontier entry (synthetic fetch in sandbox —
  * deterministic doc keyed by url_hash, standing in for the Chromium
  * navigate + wait barrier of `chromium/tasks.go:396-441`).
  */
final case class FetchResult(
    url_canon: String,
    url_hash: Long,
    host: String,
    round: Int,
    status: Int,
    bytes: Long,
    doc: Doc,
    outlinks: Seq[String],
    error: String, // "" on success; classified per events.go:376-433 otherwise
    cookies_applied: Int = 0, // request-context cookies matching domain/path (events.go:123-180)
    headers_applied: Int = 0, // scoped extra headers matching the request URL
    duration_ms: Long = 0L,   // simulated fetch duration (deadline budget input)
    redirects: Int = 0,       // 3xx hops followed before the terminal response
    final_url: String = ""    // terminal URL of the redirect chain ("" = no redirect)
)

/** Politeness + scheduling configuration — ports the supervisor envelope:
  * per-host concurrency ≤ 6 (`chromium/chromium.go:454,668`), queue cap
  * (`supervisor.go:302-317`), budget reset per round (restart-after
  * semantics, `supervisor.go:539-602`).
  */
final case class CrawlConfig(
    numPartitions: Int = 32,
    saltsPerHost: Int = 4,       // skew salting factor
    hostBudgetPerRound: Int = 6, // token bucket per host per round
    maxQueuePerPartition: Int = 1 << 20,
    bloomExpectedItems: Long = 1L << 20, // sized ONCE for the crawl's expected total
    bloomFpp: Double = 0.01,
    // deltas at or below this size reach the driver bloom as the
    // url_hashes the admission already gathered in an accumulator
    // (Politeness.HashCollector, O(delta·8B) driver bytes, no job of
    // their own); larger deltas overflow it and take the distributed
    // delta-bloom OR-merge (one job, fixed-size driver transfer)
    bloomCollectThreshold: Long = 1L << 19,
    cuckooBuckets: Int = 64, // fixed sketch partitioning (↑ on big clusters)
    // per-row fetch deadline: soft timeout + the 5 s grace the reference
    // grants before the hard kill (`api/api.go:511`,
    // `api/middlewares.go:398-443`); rows over soft+5000 ms route to the
    // error channel instead of hanging an executor slot
    softTimeoutMs: Long = 30000L,
    outlinksPerDoc: Int = 4,
    maxRounds: Int = 3,
    seed: Long = 42L,
    // OPT-IN per-round document near-dup: each round's converted docs
    // dedup incrementally against the accumulated minhash_index
    // (delta-append table — prior rounds' signatures are read, never
    // recomputed); near-dup pairs land in doc_dup_pairs. Off by
    // default: not part of the crawl headline, and the synthetic web's
    // short templated span texts make LSH bucket load quadratic in a
    // way real crawled documents are not (see IncrementalDedupSpec for
    // the store-backed batch shape).
    dedupDocs: Boolean = false,
    dedupThreshold: Double = 0.9,
    // shingle width for the doc index — pinned by the checkpoint
    // manifest on resume (a different k would make old signatures
    // incomparable, like resuming with different cuckooBuckets)
    dedupShingleK: Int = 3,
    // OPT-IN snapshot maintenance: every `compactEvery` committed
    // rounds, fold the cross-round delta tables into the just-committed
    // snapshot and EXPIRE the subsumed ones — Iceberg's
    // rewrite_data_files + expire_snapshots. Every delta table
    // (url_seen_delta, minhash_index, output_spans, fetch_log,
    // doc_dup_pairs, metrics) is folded by RENAME-only relocation
    // (SnapshotStore.relocateDeltas, no Spark job), so expiry never
    // deletes live rows and maintenance never rewrites a table. What
    // expiry does drop is superseded per-round STATE (old
    // frontier/pending/sketch snapshots — exactly what Iceberg expiry
    // drops). Keeps the delta-union read O(rounds-since-maintenance);
    // 0 = off by default.
    compactEvery: Int = 0,
    // OPT-IN write-audit-publish: each round's snapshot is STAGED
    // (manifest flagged, CURRENT untouched), a structural audit runs
    // against the staged id (seen-delta row count reconciles with the
    // admission count; no null/foreign-round rows), and only a passing
    // audit PUBLISHES. A failing audit abandons the staged snapshot
    // and fails the round with readers still on the last good
    // snapshot — Iceberg's WAP pattern as a crawl-round gate. Off by
    // default: the audit is one extra count job per round.
    wapAudit: Boolean = false
)

/** Split options (`pkg/gotenberg/pdfengine.go:140-160`): mode ∈
  * {"", "intervals", "pages"}; span = N pages per part (intervals) or a
  * page-range expression (pages); unify merges page-mode output.
  */
final case class SplitOptions(mode: String = "", span: String = "", unify: Boolean = false)

/** Encryption options (`pdfengine.go:200-230`; qpdf semantics
  * `qpdf/qpdf.go:359-407`: owner password defaults to user password,
  * AES-256).
  */
final case class EncryptOptions(
    userPassword: String = "",
    ownerPassword: String = "",
    allowPrinting: Boolean = true,
    allowModifying: Boolean = true,
    allowCopying: Boolean = true,
    allowAnnotating: Boolean = true,
    allowFillingForms: Boolean = true,
    allowAccessibility: Boolean = true
)

/** Bookmark tree node (`pdfengine.go:246-259`). Children are flattened to
  * (title, page, depth, path) rows in the columnar form to keep the type
  * finite; the recursive case class is used in-operator.
  */
final case class Bookmark(title: String, page: Int, children: Seq[Bookmark] = Nil)

/** Stamp/watermark descriptor (`pdfengine.go:162-198`). */
final case class StampOptions(
    source: String = "",     // text | image | pdf payload reference
    sourceKind: String = "", // "" disables (no-op guard, §4 SURVEY.md)
    pages: String = "",
    options: Map[String, String] = Map.empty
)

/** Chromium-side page option subset that affects dataflow semantics
  * (F6/F13; `chromium/chromium.go:119-242`).
  */
final case class PageOptions(
    failOnHttpStatusCodes: Seq[Int] = Seq(499, 599),
    failOnResourceHttpStatusCodes: Seq[Int] = Nil,
    ignoreResourceHttpStatusDomains: Seq[String] = Nil,
    singlePage: Boolean = false,
    generateDocumentOutline: Boolean = false,
    generateTaggedPdf: Boolean = false,
    omitBackground: Boolean = false,
    printBackground: Boolean = false
)
