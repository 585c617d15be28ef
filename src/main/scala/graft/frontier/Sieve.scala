package graft.frontier

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** The URL-seen sieve: exact, order-preserving batch deduplication — the
  * Spark reading of the Mercator sieve (`sieve/MercatorSieve.java:274-391`,
  * SURVEY.md §2.3/§2.6).
  *
  * Semantics (verified against `MercatorSieveTest.java:297-337` fixtures):
  *   - duplicates *within* a batch: first enqueue wins
  *     (MercatorSieve.java:311-318 — stabilized sort by hash, first kept);
  *   - URLs already in the seen store are dropped (sorted-merge, :311-344);
  *   - survivors exit in FIRST-ENQUEUE ORDER (:349-363 re-sorts surviving
  *     positions back to input order).
  *
  * Two implementations of the membership check, exact and equivalent:
  *  - [[newUrls]] — the direct shape: a plain anti-join against the seen
  *    store, the Spark reading of the reference's batched sort-merge
  *    against its sorted hash file. The round path uses it while the
  *    crawl is below `CrawlConfig.bloomMinSeen`;
  *  - [[newUrlsScanProbe]] — the scale path: the seen store is only
  *    ever SCANNED, never shuffled/sorted/broadcast — a bloom built over
  *    the batch reverses the probe, and the (small) `present` set carries
  *    the exact anti-join, one plan whose join (broadcast or shuffle of
  *    `present`) adaptive query execution picks at run time from the
  *    size it observes. The round path uses it from
  *    `CrawlConfig.bloomMinSeen` on. Mercator's sequential store merge
  *    (`MercatorSieve.java:311-344`) reads its whole store once per
  *    flush; the scan-probe reproduces exactly that I/O pattern, where a
  *    plain SMJ anti-join would re-SHUFFLE the full accumulated store
  *    every round.
  *
  * The scan-probe's batch bloom is sized for its batch and released
  * when the call returns; nothing carries over to the next round.
  */
object Sieve {

  /** fpp of the batch bloom that reverses the seen probe: the share of
    * seen hashes outside the batch that still reach the exact anti-join of
    * [[newUrlsScanProbe]]. */
  val BatchBloomFpp = 0.001

  /** Within-batch first-wins dedup + anti-join against `seen`, preserving
    * first-enqueue order via the explicit order columns.
    *
    * @param candidates must have `urlHash` plus the order columns
    * @param seen       table with column `urlHash` (may be empty)
    * @param orderCols  lexicographic first-enqueue order of the batch
    * @return candidate rows that are genuinely new, one per urlHash
    */
  def newUrls(candidates: DataFrame, seen: DataFrame, orderCols: Seq[String]): DataFrame =
    // First-wins within the batch (MercatorSieve.java:311-318), via partial
    // aggregation rather than a window: map-side combine makes a heavily
    // duplicated URL (skewed key) cost one row per partition, not a sort.
    Ranking.firstPerKey(candidates, "urlHash", orderCols)
      .join(seen, Seq("urlHash"), "left_anti")

  /** Round-path sieve that never shuffles the seen store (the 10^10-seen
    * scale path). Shape:
    *
    *  1. within-batch first-wins dedup (one batch-sized shuffle — the only
    *     large exchange);
    *  2. a bloom built distributed over the batch REVERSES the probe:
    *     `present = seen WHERE batchBloom.mightContain(hash)` is a pure
    *     SCAN of the seen store — seen is never shuffled, sorted, or
    *     broadcast, at any batch size;
    *  3. exact anti-join of the batch against `present`, with no join hint:
    *     adaptive query execution picks the join at run time. `present` is
    *     a subset of `seen`, so while the static estimate of `seen` fits the
    *     broadcast threshold the planner broadcasts `present` directly;
    *     above it, only the filtered `present` rows are shuffled (the batch
    *     keeps the urlHash partitioning of its dedup), and AQE re-plans to
    *     a broadcast once it sees they are small.
    *
    * This is the Spark reading of Mercator's sequential store merge
    * (`MercatorSieve.java:311-344`): one sequential pass over the store per
    * flush, work ∝ batch. Returns the new-URL batch MATERIALIZED via `mat`
    * (callers pass localCheckpoint), so the output is safe for the
    * order-sensitive rank pass and is scanned — not recomputed — by its
    * several consumers. The broadcast batch bloom is released once `mat`
    * has returned.
    *
    * @param batchBloom filter over every candidate urlHash (the Crawler
    *                   builds it with [[bloomAggParallel]] at
    *                   [[BatchBloomFpp]]); null means an empty batch
    */
  def newUrlsScanProbe(candidates: DataFrame, seen: DataFrame,
      orderCols: Seq[String], mat: DataFrame => DataFrame,
      batchBloom: BloomFilter): DataFrame = {
    val deduped = Ranking.firstPerKey(candidates, "urlHash", orderCols)
    // empty batch: nothing can be present in seen
    if (batchBloom == null) return mat(deduped)
    val bb = candidates.sparkSession.sparkContext.broadcast(batchBloom)
    try mat(deduped.join(
      seen.where(graft.functions.might_contain_bank(col("urlHash"), Seq(bb))),
      Seq("urlHash"), "left_anti"))
    finally bb.unpersist(blocking = false)
  }

  /** Row count + bloom filter over `hashCol` in ONE pass, with a PARALLEL
    * final merge. A plain global `agg(bloom_agg)` funnels every map task's
    * partial filter into a single final task, whose wall is
    * deserialize+OR over (numPartials × filterBytes) — measured 3-4 s of
    * SERIAL time per round on the bench crawl (the filters are ~10 MB and
    * the map side runs 64 tasks), squarely on the sieve gate's critical
    * path, and growing with cluster partition counts. Grouping by
    * partition id first merges in `groups` parallel tasks; the driver ORs
    * the few group filters (identically-sized, so `mergeInPlace` is
    * valid). Returns (rowCount, mergedFilter or null for an empty input).
    *
    * Driver-transfer bound: each group ships a FULL-SIZE filter to the
    * driver, so the collect is groups × filterBytes — at large `expected`
    * (e.g. a 10^8-URL batch filter ≈ 180 MB at the 0.1% batch fpp) a
    * 16-way group split would be ~2.9 GB, past the default
    * spark.driver.maxResultSize cliff the delta-bloom redesign documented
    * (Crawler's bloom_agg comment). `groups` is therefore clamped so the
    * transfer stays ≤ 256 MB: big filters degrade gracefully toward the
    * single-final-task shape (whose serial merge cost they amortize far
    * better than small filters anyway). */
  def bloomAggParallel(df: DataFrame, hashCol: String, expected: Long,
      fpp: Double, groups: Int): (Long, BloomFilter) = {
    import graft.functions.bloom_agg
    val filterBytes = math.max(8L,
      BloomFilter.optimalNumOfBits(math.max(expected, 1024L), fpp) / 8)
    val maxGroups = math.max(1L, (256L << 20) / filterBytes)
    val g = math.max(1, math.min(groups.toLong, maxGroups).toInt)
    val rows = df
      .groupBy((spark_partition_id() % g).as("__g"))
      .agg(count(lit(1)).as("c"), bloom_agg(col(hashCol), expected, fpp).as("bf"))
      .collect()
    var n = 0L
    var merged: BloomFilter = null
    rows.foreach { r =>
      n += r.getLong(1)
      if (!r.isNullAt(2)) {
        val b = BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](2)))
        if (merged == null) merged = b else merged.mergeInPlace(b)
      }
    }
    (n, merged)
  }

  /** Assign dense, deterministic `seq` numbers to the per-round batch of
    * new URLs: `startSeq + rank` in the batch's first-enqueue order (the
    * reference re-sorts each sieve flush globally, `MercatorSieve.java:349`).
    *
    * Distributed two-phase rank with CALLER-SUPPLIED buckets — no
    * RangePartitioner (whose sampling pass re-executes the upstream
    * pipeline and is order-sensitive), no single-partition global window:
    *  1. `bucket` is a pure, monotone function of the leading order
    *     column(s) (e.g. a linear split of the known parentSeq range), so
    *     bucket ids agree with the global order and are identical at any
    *     parallelism;
    *  2. one tiny aggregation counts rows per bucket -> rank offsets;
    *  3. a per-bucket window ranks within buckets and adds the offset.
    * The input should be materialized (cached/localCheckpoint) by the
    * caller — the count and rank passes both read it.
    *
    * Returns the ranked frame and the batch row count (so callers do not
    * need a separate count() job).
    *
    * @param bucket monotone bucket id expression (any integral type)
    * @param startSeq last already-used seq; assigned seqs start at
    *                 `startSeq + 1`
    */
  def assignSeq(newUrls: DataFrame, orderCols: Seq[String], startSeq: Long,
      bucket: Column): (DataFrame, Long) = {
    val spark = newUrls.sparkSession
    val order = orderCols.map(col)
    val withPid = newUrls.withColumn("__pid", bucket.cast("long"))
    val counts = withPid.groupBy("__pid").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    var acc = startSeq
    val offsets = counts.map { case (pid, n) => val o = (pid, acc); acc += n; o }
    val offsetDf = spark.createDataFrame(offsets.toSeq).toDF("__pid", "__offset")
    val wLocal = Window.partitionBy("__pid").orderBy(order: _*)
    val ranked = withPid
      .withColumn("__local", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsetDf), Seq("__pid"))
      .withColumn("seq", col("__offset") + col("__local"))
      .drop("__pid", "__local", "__offset")
    (ranked, acc - startSeq)
  }

  /** Monotone bucket id for [[assignSeq]]: a linear split of `[lo, hi]`
    * into `parts` buckets by the leading order column. */
  def linearBuckets(c: Column, lo: Long, hi: Long, parts: Int): Column = {
    import graft.functions.ref_long
    // lo/hi vary per round: reference-backed values keep the rank stage's
    // generated code identical across rounds (codegen cache hits)
    if (hi <= lo) lit(0L)
    else least(lit(parts - 1L), greatest(lit(0L),
      ((c - ref_long(lo, "bklo")) * lit(parts.toLong)) /
        ref_long(hi - lo + 1L, "bkspan"))).cast("long")
  }
}
