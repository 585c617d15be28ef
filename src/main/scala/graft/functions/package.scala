package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column => mkCol, expression => toExpr}

/** Column-level API over the custom Catalyst expressions (SURVEY.md §2.11). */
package object functions {

  /** BUbiNG's 64-bit MurmurHash3 (NOT Spark's hash/xxhash64). */
  def murmur64(c: Column, seed: Long = 0L): Column = mkCol(Murmur64Bubing(toExpr(c), seed))

  /** URL normalization; null for malformed specs (BURL.parse). */
  def burl_parse(c: Column): Column = mkCol(BurlParse(toExpr(c)))

  /** `burl_parse` of each element of a string array. */
  def burl_parse_each(c: Column): Column = mkCol(BurlParseEach(toExpr(c)))

  def burl_scheme(c: Column): Column = mkCol(BurlPart(toExpr(c), "scheme"))
  def burl_host(c: Column): Column = mkCol(BurlPart(toExpr(c), "host"))
  def burl_scheme_authority(c: Column): Column = mkCol(BurlPart(toExpr(c), "schemeAuthority"))
  def burl_path_query(c: Column): Column = mkCol(BurlPart(toExpr(c), "pathQuery"))
  def burl_path(c: Column): Column = mkCol(BurlPart(toExpr(c), "path"))

  /** `String.toLowerCase(Locale.ROOT)`; unlike Spark's `lower`, never
    * loads ICU. */
  def lower_root(c: Column): Column = mkCol(LowerRoot(toExpr(c)))

  /** Exact k-smallest-by-seq heads per group as one hash aggregation
    * (map-side partial combine; no window sort). */
  def topk_heads(seq: Column, url: Column, urlHash: Column, k: Int): Column =
    mkCol(TopKHeads(toExpr(seq), toExpr(url), toExpr(urlHash), k)
      .toAggregateExpression())

  /** A long value injected as a plan reference object (not an inlined
    * literal): round-varying scalars keep codegen sources stable. The
    * `tag` keeps distinct uses from unifying in the reference table. */
  def ref_long(value: Long, tag: String): Column = mkCol(RefLong(value, tag))

  /** Deterministic synthetic DNS: host -> ip id in [0, space). */
  def ip_of_host(c: Column, space: Long = 1L << 20): Column = mkCol(IpOfHost(toExpr(c), space))

  /** Random-hyperplane LSH bucket of a numeric array over `planes`
    * hash-derived ±1 planes (see [[PlaneBuckets]]). */
  def plane_bucket(v: Column, planes: Int): Column =
    mkCol(PlaneBucket(toExpr(v.cast("array<double>")), planes))

  /** True iff pathQuery passes the robots disallow-prefix filter. */
  def respects_robots(pathQuery: Column, prefixes: Column): Column =
    mkCol(RespectsRobots(toExpr(pathQuery), toExpr(prefixes)))

  /** True iff the path has < threshold duplicate consecutive segments. */
  def duplicate_segments_lt(path: Column, threshold: Int): Column =
    mkCol(DuplicateSegmentsLT(toExpr(path), threshold))

  /** Page digest (hex MD5) over the span sequence, host-seeded. */
  def digest_of_spans(host: Column, spans: Column, status: Column, location: Column): Column =
    mkCol(DigestOfSpans(Seq(toExpr(host), toExpr(spans), toExpr(status), toExpr(location))))

  /** True iff any bloom filter in the bank might contain the long value
    * (codegen'd; the scan-probe sieve's prefilter). */
  def might_contain_bank(c: Column,
      bank: Seq[org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]]): Column =
    mkCol(MightContainBank(toExpr(c), bank.toIndexedSeq))

  /** Catalyst BloomFilterAggregate over a long column: builds the same
    * `spark.util.sketch.BloomFilter` as `df.stat.bloomFilter`, but as an
    * AGGREGATE EXPRESSION — so the filter build can RIDE an existing job
    * (fused with a count, or observed on a write) instead of costing its
    * own pass over the data. Yields the serialized filter as binary
    * (null for zero rows); decode with [[bloom_from_bytes]]. NOTE: the
    * session confs `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`/
    * `maxNumBits` clamp the size — raise them for large `expectedItems`. */
  def bloom_agg(c: Column, expectedItems: Long, fpp: Double): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val items = math.max(expectedItems, 1024L)
    val numBits = math.max(64L,
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(items, fpp))
    mkCol(new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      toExpr(c), Literal(items), Literal(numBits)).toAggregateExpression())
  }

  def bloom_from_bytes(b: Array[Byte]): org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(b)

  /** 64-bit SimHash over whitespace tokens. `mod > 0` switches the token
    * hash to the SQL-expressible modular polynomial (oracle twin mode). */
  def simhash64(text: Column, mod: Long = 0L): Column = mkCol(SimHash64(toExpr(text), mod))

  /** MinHash signature: n min-hashes over char k-shingles -> array<long>.
    * `mod > 0` = SQL-expressible rolling-polynomial twin mode. */
  def minhashes(text: Column, k: Int, n: Int, mod: Long = 0L): Column =
    mkCol(MinHashes(toExpr(text), k, n, mod))

  /** Min rolling-hash (winnowing-style) document fingerprint.
    * `mod > 0` = SQL-expressible rolling-polynomial twin mode. */
  def rolling_fingerprint(text: Column, window: Int = 16, mod: Long = 0L): Column =
    mkCol(RollingFingerprint(toExpr(text), window, mod))
}
