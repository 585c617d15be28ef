package graft.model

/** Typed data model of the crawl engine (SURVEY.md §1, FIXTURES.md §1/§3).
  * All pipeline stages are `Dataset[T]` over these case classes
  * (north_rule: typed Dataset pipeline, Catalyst-only). */

/** One interleaved document span (BASELINE.json input_hint):
  * `kind` is "text" or "media"; text spans carry `text` (media_ref = ""),
  * media spans carry the normalized `media_ref` URL (text = "").
  * `offset` is the 0-based position in document order — the per-row
  * span-sequence invariant (kind, text, media_ref, order) keys off it. */
case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** Per-host scheduler state (reference `VisitState.java:79-138`).
  * `nextFetch` is in virtual rounds (wall-clock politeness delays become
  * round-stamped virtual time, SURVEY.md §7.4). */
case class HostState(
    schemeAuthority: String,
    hostHash: Long,
    ipHash: Long,
    nextFetch: Long,
    stored: Long,
    robotsDone: Boolean,
    purged: Boolean,
    /** consecutive same-class failures; the per-class wait/retry tables
      * (reference ParsingThread.java:75-116,276-312) drive backoff
      * `wait << retries`, URL drop, or host purge */
    retries: Int,
    /** last fetch-exception class, or null (VisitState.lastExceptionClass) */
    lastError: String,
    /** robots.txt disallow prefixes once fetched (null before; the robots
      * state rides ON the host row — no separate robots join per round) */
    robotsPrefixes: Seq[String])

/** Per-IP politeness state (reference `WorkbenchEntry.java:52-80`). */
case class IpState(ipHash: Long, nextFetch: Long)

/** Result of one (synthetic) fetch+parse (reference `FetchData.java:60-74`
  * + `ParsingThread` outputs). `links` is the parser's ordered-deduplicated
  * link set (SetLinkReceiver) in document order; spans follow the
  * input_hint schema. `excClass` != null marks a fetch exception (status
  * 0, no body); `digest` is the HTML-parse digest, `binaryDigest` the
  * raw-body fallback used when parseFilter rejects the response. */
case class FetchResult(
    url: String,
    urlHash: Long,
    schemeAuthority: String,
    host: String,
    hostHash: Long,
    ipHash: Long,
    seq: Long,
    status: Int,
    isRobots: Boolean,
    excClass: String,
    truncated: Boolean,
    contentType: String,
    digest: String,
    binaryDigest: String,
    robotsPrefixes: Seq[String],
    spans: Seq[Span],
    links: Seq[String],
    round: Int,
    /** pre-aggregated telemetry, computed in the fetch map so the metrics
      * aggregation never has to decompress the (heavy) spans/links columns
      * of the cached fetch batch */
    nBytes: Long = 0L,
    nMedia: Int = 0,
    nLinks: Int = 0,
    /** META-declared charset with the ISO-8859-1 fallback (the reference's
      * guessedCharset, HTMLParser.java:467,691-717 — the WARC
      * BUBING_GUESSED_CHARSET header analog); null for non-HTML results */
    guessedCharset: String = null)

/** Per-round, per-partition lineage + fetch/parse metrics (north_rule). */
case class RoundMetrics(
    round: Int,
    partition_id: Int,
    fetched: Long,
    robots_fetched: Long,
    parsed: Long,
    failed: Long,
    links_out: Long,
    bytes_fetched: Long,
    media_spans: Long,
    dedup_in: Long,
    dedup_out: Long,
    duplicates: Long)
