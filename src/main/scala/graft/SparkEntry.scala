package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analytics.{Dedup, Multimodal, Similarity, TextStats}
import graft.core.FilterDsl
import graft.frontier.Sieve
import graft.functions._

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2), each with an equivalent DuckDB oracle where the
  * semantics are ANSI-SQL-expressible (custom expressions like
  * murmur64/burl_parse/minhash are covered by unit tests + rows-only).
  *
  * Float-safety: money sums go through DECIMAL or integer cents so the
  * result is order-independent and bit-identical to DuckDB; plain double
  * sums appear only where addends are integral-valued. */
object SparkEntry {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"

  /** Delete the memoized ANN-index / mini-crawl scratch dirs (every
    * [[graft.util.ScratchDirs]] dir of the process) and reset the memos
    * (idempotent; call after the last query of a harness run). Those dirs
    * are FIXED-SIZE whatever the sf dir (the ANN indexes hold the
    * embeddings table, the mini-crawl config is a constant), so their
    * tmpfs footprint does not grow with the scale factor. */
  def cleanupTempDirs(): Unit = {
    graft.util.ScratchDirs.cleanup()
    annIndexMemo.clear(); ivfMemo.clear(); crawlMemo.clear()
  }

  /** Deterministic synthetic URL stream derived from `events` — the same
    * construction is written in SQL inside the oracles, so the crawl
    * operators (sieve/politeness/budget/filters) are DuckDB-checkable. */
  private def urlStream(s: SparkSession, dir: String): DataFrame = {
    s.read.parquet(t(dir, "events")).select(
      col("event_id").as("seq"),
      (col("user_id") % 8).as("ip"),
      concat(lit("h"), (col("user_id") % 40).cast("string"), lit(".example")).as("host"),
      concat(lit("http://h"), (col("user_id") % 40).cast("string"), lit(".example/p"),
        (col("event_id") % 500).cast("string")).as("url"))
  }

  private val urlStreamSql =
    """SELECT event_id AS seq,
      |       user_id % 8 AS ip,
      |       'h' || CAST(user_id % 40 AS VARCHAR) || '.example' AS host,
      |       'http://h' || CAST(user_id % 40 AS VARCHAR) || '.example/p' ||
      |         CAST(event_id % 500 AS VARCHAR) AS url
      |FROM events""".stripMargin

  /** Flagship query on sf=0.001; driver smoke-checks rows>0: the sieve
    * (first-enqueue-order distinct) over the derived URL stream. */
  def entry(spark: SparkSession): DataFrame =
    qSieveFirstSeen(spark, "/root/testdata/sf0.001")

  // ---------------- crawl-semantic operators ----------------

  /** Mercator-sieve semantics: first-seen seq per URL + enqueue rank,
    * ranked like the crawl's sieve ([[graft.frontier.Sieve.assignSeq]]):
    * monotone buckets over first_seq's range, a per-bucket window plus
    * bucket offsets — no single-partition global window. */
  private def qSieveFirstSeen(s: SparkSession, dir: String): DataFrame = {
    val firsts = urlStream(s, dir).groupBy("url").agg(min("seq").as("first_seq"))
    val r = firsts.agg(min("first_seq"), max("first_seq")).head()
    def bound(i: Int) = if (r.isNullAt(i)) 0L else r.getAs[Number](i).longValue
    val (ranked, _) = Sieve.assignSeq(firsts, Seq("first_seq"), startSeq = 0L,
      Sieve.linearBuckets(col("first_seq"), bound(0), bound(1),
        s.conf.get("spark.sql.shuffle.partitions").toInt))
    ranked.withColumnRenamed("seq", "enqueue_rank")
  }

  /** Dual politeness: rank-1 per host, then rank-1 per IP (SURVEY §2.5). */
  private def qPolitenessRank(s: SparkSession, dir: String): DataFrame = {
    val urls = urlStream(s, dir)
    val wHost = Window.partitionBy("host").orderBy("seq")
    val wIp = Window.partitionBy("ip").orderBy(col("seq"), col("host"))
    urls.withColumn("host_rank", row_number().over(wHost)).where(col("host_rank") === 1)
      .withColumn("ip_rank", row_number().over(wIp)).where(col("ip_rank") === 1)
      .select("ip", "host", "url", "seq")
  }

  /** Per-host budget: first 3 URLs per host in seq order. */
  private def qHostBudget(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("host").orderBy("seq")
    urlStream(s, dir)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 3)
      .select("host", "url", "seq", "rnk")
  }

  /** Filter DSL compiled to Catalyst over a derived URL table. */
  private def qFilterDsl(s: SparkSession, dir: String): DataFrame = {
    val urls = s.read.parquet(t(dir, "events")).select(
      col("event_id").as("seq"),
      concat(
        when(col("user_id") % 5 === 0, "ftp").otherwise("http"),
        lit("://h"), (col("user_id") % 40).cast("string"), lit(".example/p"),
        (col("event_id") % 500).cast("string"),
        when(col("event_id") % 7 === 0, ".jpg").otherwise("")).as("url"))
    val dsl = "( SchemeEquals(http) or SchemeEquals(https) ) and URLShorterThan(40) and not PathEndsWithOneOf(.jpg)"
    urls.where(FilterDsl.compile(dsl, FilterDsl.urlContext(col("url"))))
      .select("seq", "url")
  }

  /** robots.txt prefix filter over pathQuery (binary-search matcher). */
  private def qRobotsCheck(s: SparkSession, dir: String): DataFrame = {
    val urls = urlStream(s, dir)
      .withColumn("path_query", concat(lit("/p"), (col("seq") % 13).cast("string")))
    urls.select(col("url"), col("path_query"),
      respects_robots(col("path_query"), array(lit("/p1"), lit("/p3"))).as("allowed"))
  }

  /** DuplicateSegmentsLessThan(3) over constructed paths. */
  private def qDupSegments(s: SparkSession, dir: String): DataFrame = {
    val urls = s.read.parquet(t(dir, "events")).select(
      col("event_id").as("seq"),
      when(col("event_id") % 4 === 0, "/a/b/a/b/x")
        .when(col("event_id") % 4 === 1, "/p/q/x")
        .when(col("event_id") % 4 === 2, "/a/a/a")
        .otherwise("/ok").as("path"))
    urls.select(col("seq"), col("path"),
      duplicate_segments_lt(col("path"), 3).as("accepted"))
  }

  // ---------------- relational core (scan/agg/join/window/sort) ----------------

  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(t(dir, "lineitem"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        count(lit(1)).as("count_order"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        (sum("l_quantity") / count(lit(1))).as("avg_qty"))

  /** Broadcast join + exact integer-cents revenue + top-N. */
  private def qJoinTopN(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(t(dir, "lineitem"))
    val orders = s.read.parquet(t(dir, "orders"))
    val revenue = li
      .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
      .withColumn("disc", round(col("l_discount") * 100).cast("long"))
      .groupBy("l_orderkey")
      .agg(sum(col("cents") * (lit(100L) - col("disc"))).as("revenue_c4"))
    revenue.join(broadcast(orders.select(col("o_orderkey"), col("o_custkey"))),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("orderkey"), col("o_custkey").as("custkey"), col("revenue_c4"))
      .orderBy(col("revenue_c4").desc, col("orderkey"))
      .limit(10)
  }

  /** Window ranking: first 2 shipments per supplier. */
  private def qWindowShipments(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    s.read.parquet(t(dir, "lineitem"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 2)
      .select(col("l_suppkey").as("suppkey"), col("l_orderkey").as("orderkey"),
        col("l_linenumber").as("linenumber"),
        unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"), col("rn"))
  }

  /** Event-time tumbling window aggregation (hourly). */
  private def qEventsHourly(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(t(dir, "events"))
      .withColumn("hour_id", floor(unix_micros(col("ts").cast("timestamp")) / 3.6e9).cast("long"))
      .groupBy("hour_id", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"),
        countDistinct("user_id").as("n_users"))

  // ---------------- training-data pipeline operators ----------------

  private def qExactDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(s.read.parquet(t(dir, "documents")), "doc_id", "text")

  private def qTokenCount(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))

  private def qQuality(s: SparkSession, dir: String): DataFrame =
    TextStats.qualityFeatures(s.read.parquet(t(dir, "documents")), "doc_id", "text")

  private def qLangId(s: SparkSession, dir: String): DataFrame =
    TextStats.langId(s.read.parquet(t(dir, "documents")), "doc_id", "text")

  private def qMediaBytes(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(t(dir, "documents"))
      .select(col("doc_id"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))

  // ---- rows-only (custom expressions; semantics covered by unit tests) ----

  /** BURL normalization (THE identity operator) over a constructed spec
    * family whose canonical form is SQL-expressible: lowercase scheme+host,
    * drop :80, %20-encode the space, resolve /../, strip the fragment. */
  private def qBurlNormalize(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(t(dir, "documents"))
      .select(col("doc_id"),
        concat(lit("HTTP://Host"), (col("doc_id") % 97).cast("string"),
          lit(".Example:80/A b/"), (col("doc_id") % 7).cast("string"),
          lit("/../x#frag")).as("spec"))
      .withColumn("url", burl_parse(col("spec")))
      .withColumn("host", burl_host(col("url")))

  /** murmur64 of the normalized URL — the custom-hash half of the old
    * q_burl_normalize, split out so the normalization itself gets a full
    * DuckDB oracle (rows-only: the hash is covered by golden vectors). */
  private def qUrlHash(s: SparkSession, dir: String): DataFrame =
    qBurlNormalize(s, dir).select(col("doc_id"), murmur64(col("url")).as("url_hash"))

  /** Span-stream content digest (digest_of_spans): content-equality
    * classes over the interleaved span model, host-seeded, digit/ws runs
    * coalesced — a store-side re-digest that groups markup variants with
    * identical span content (DigestAppendable semantics minus tags). */
  private def qSpanDigest(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(t(dir, "documents"))
      .select(col("doc_id").cast("long").as("doc_id"),
        concat(lit("d"), col("doc_id").cast("string"), lit(".example")).as("host"),
        array(
          struct(lit("text").as("kind"), col("text").as("text"),
            lit("").as("media_ref"), lit(0).as("offset")),
          struct(lit("media").as("kind"), lit("").as("text"),
            concat(lit("http://m.example/"), col("doc_id").cast("string"), lit(".jpg"))
              .as("media_ref"), lit(1).as("offset"))).as("spans"))
      .select(col("doc_id"),
        digest_of_spans(col("host"), col("spans"), lit(200),
          lit(null).cast("string")).as("span_digest"))

  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    TextStats.fingerprints(s.read.parquet(t(dir, "documents")), "doc_id", "text")

  // full-width (no .limit cap): the banded self-joins are skew-capped
  // (capBuckets) and bound-tested, so the driver exercises them at the
  // whole documents table's width
  private def qSimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashCandidatePairs(
      s.read.parquet(t(dir, "documents")), "doc_id", "text", maxHamming = 16)

  private def qMinhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidatePairs(
      s.read.parquet(t(dir, "documents")), "doc_id", "text",
      shingleK = 5, numHashes = 32, bands = 8, minEstJaccard = 0.3)

  /** Exact n-gram Jaccard verification stage over a deterministic
    * (SQL-expressible) candidate-pair set: adjacent doc ids. The
    * LSH-candidates -> Jaccard composition is covered by AnalyticsSpec. */
  private def qNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(t(dir, "documents"))
    val ids = docs.select(col("doc_id"))
    val pairs = ids.where(col("doc_id") % 3 === 0).select(col("doc_id").as("id1"))
      .join(ids.select(col("doc_id").as("id2")), col("id2") === col("id1") + 1)
    Dedup.ngramJaccard(pairs, docs, "doc_id", "text", n = 3)
  }

  /** Query vector (vec_id=0) shared by every ANN query. */
  private def queryVec(s: SparkSession, dir: String): Array[Double] =
    s.read.parquet(t(dir, "embeddings")).where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray

  private def qAnnBrute(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(
      s.read.parquet(t(dir, "embeddings")).where(col("vec_id") =!= 0),
      "vec_id", "embedding", queryVec(s, dir), 10)

  /** LSH post-filter ANN — kept deliberately as the REFERENCE POINT the
    * partitioned layouts are measured against: it computes the same
    * probe-ball result with a full-corpus scan (the plan you'd get
    * WITHOUT the bucketed/IVF layout), so the q_ann_lsh vs
    * q_ann_lsh_bucketed / q_ann_ivf wall-time gap in BENCH is exactly
    * the value of partition pruning. Not a 100-TB plan by construction;
    * the scale paths are the *_bucketed/_ivf variants, whose results are
    * driver-checked via the *_full exact-probe queries. */
  private def qAnnLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(
      s.read.parquet(t(dir, "embeddings")).where(col("vec_id") =!= 0),
      "vec_id", "embedding", queryVec(s, dir), 10)

  /** Bucket-partitioned LSH index, built once per (session, sf-dir) —
    * shared by the pruned query and its exact-probe (*_full) checker so
    * both read the SAME index (index parameters live here only). */
  private val annIndexMemo = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def lshIndex(s: SparkSession, dir: String): String =
    annIndexMemo.computeIfAbsent(s.sparkContext.applicationId + dir, _ => {
      val p = graft.util.ScratchDirs.create("graft-ann-index")
      Similarity.writeBucketed(
        s.read.parquet(t(dir, "embeddings")).where(col("vec_id") =!= 0),
        "vec_id", "embedding", p, planes = 8)
      p
    })

  /** IVF (k-means cell) index, built once per (session, sf-dir) — shared
    * by the pruned query and its exact-probe checker. */
  private val ivfMemo = new java.util.concurrent.ConcurrentHashMap[String, (String, Array[Array[Double]])]()
  private def ivfIndex(s: SparkSession, dir: String): (String, Array[Array[Double]]) =
    ivfMemo.computeIfAbsent(s.sparkContext.applicationId + dir, _ => {
      val p = graft.util.ScratchDirs.create("graft-ann-ivf")
      val c = Similarity.writeIvf(
        s.read.parquet(t(dir, "embeddings")).where(col("vec_id") =!= 0),
        "vec_id", "embedding", p, cells = 32, seed = 42L)
      (p, c)
    })

  /** ANN over the bucket-partitioned LSH layout (the 100-TB path: the
    * probe ball prunes bucket directories instead of scanning the corpus). */
  private def qAnnLshBucketed(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopKBucketed(s, lshIndex(s, dir), queryVec(s, dir), 10, planes = 8)

  /** ANN over the IVF layout — the trained coarse-quantizer alternative to
    * the hash-plane buckets; reads only the nprobe nearest cells. */
  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val (path, centroids) = ivfIndex(s, dir)
    Similarity.ivfTopK(s, path, centroids, queryVec(s, dir), 10, nprobe = 8)
  }

  /** rank column matching bruteForceTopK's output shape (k rows only). */
  private def withRank(df: DataFrame): DataFrame =
    df.withColumn("rank",
        row_number().over(Window.orderBy(col("cosine").desc, col("id"))).cast("long"))
      .select("rank", "id", "cosine")

  /** IVF probe with nprobe == cells: degrades to the exact full scan over
    * the SAME partitioned layout/plan shape, so the layout's results (not
    * just its plan) are driver-checked against the brute-force oracle. */
  private def qAnnIvfFull(s: SparkSession, dir: String): DataFrame = {
    val (path, centroids) = ivfIndex(s, dir)
    withRank(Similarity.ivfTopK(s, path, centroids, queryVec(s, dir), 10,
      nprobe = centroids.length))
  }

  /** LSH-bucketed probe with the full hamming ball: every bucket probed =
    * the exact full scan over the bucket-partitioned layout — same oracle
    * as q_ann_brute. */
  private def qAnnLshBucketedFull(s: SparkSession, dir: String): DataFrame =
    withRank(Similarity.lshTopKBucketed(s, lshIndex(s, dir), queryVec(s, dir), 10,
      planes = 8, hammingBall = 8))

  /** META http-equiv charset scan (the reference's guessedCharset,
    * HTMLParser.java:467,691-736) over deterministic markup: the declared
    * charset is a pure function of doc_id, so the oracle is plain SQL
    * while the Spark side runs the real scanner. Covers the http-equiv
    * form, the modern `<meta charset=...>` form (NOT honored — faithful
    * to the reference), and the ISO-8859-1 default. */
  private def qCharset(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.parquet(t(dir, "documents"))
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val meta = (id % 4) match {
          case 0 => "<meta http-equiv=\"content-type\" content=\"text/html; charset=UTF-8\">"
          case 1 => "<meta charset=\"utf-8\">" // modern form: reference ignores it
          case 2 => "<META HTTP-EQUIV='Content-Type' CONTENT='text/html; charset=windows-1252'>"
          case _ => ""
        }
        val html = s"<html><head>$meta<title></title></head><body><p>$text</p></body></html>"
        (id, graft.parse.HtmlParser.guessedCharset(html))
      }.toDF("doc_id", "guessed_charset")
  }

  // full-width (r4 ran .limit(2000)): the bucketed self-join is skew-capped
  // (capBuckets) and bound-tested, so the driver exercises the whole table
  private def qEmbeddingNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairs(
      s.read.parquet(t(dir, "embeddings")), "vec_id", "embedding",
      planes = 6, minCosine = 0.2)

  /** Coordinate-sign-bucketed near-dup pairs — the oracle-carrying
    * variant of the family (bucket id and cosine are plain SQL). */
  private def qEmbeddingNearDupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairsCoordSign(
      s.read.parquet(t(dir, "embeddings")), "vec_id", "embedding",
      planes = 6, minCosine = 0.2)

  // full-width (r4 ran .limit(1000)): the batched-feature contract is
  // bound-tested; the mapInPandas-shaped plumbing sees the whole table
  private def qMediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = s.read.parquet(t(dir, "documents"))
      .select(col("doc_id").cast("string").as("doc_id"),
        array(struct(lit("media").as("kind"), lit("").as("text"),
          concat(lit("http://m.example/img"), col("doc_id")).as("media_ref"),
          lit(0).as("offset"))).as("spans"))
    // project the float[] feature to a scalar digest: the driver's
    // canonicalizer (pandas sort) cannot order ndarray cells
    Multimodal.extractFeatures(Multimodal.mediaTable(docs, s)).toDF
      .withColumn("feature_sig",
        xxhash64(array_join(transform(col("feature"),
          f => round(f.cast("double") * 10000).cast("long").cast("string")), ",")))
      .drop("feature")
  }

  /** One mini-crawl shared by the crawl-output queries (memoized per
    * session so Verify runs the engine once, not four times). */
  private val crawlMemo = new java.util.concurrent.ConcurrentHashMap[String, frontier.Crawler]()
  private def miniCrawl(s: SparkSession): frontier.Crawler =
    crawlMemo.computeIfAbsent(s.sparkContext.applicationId, _ => {
      val work = graft.util.ScratchDirs.create("graft-q-crawl")
      val cfg = frontier.CrawlConfig(
        web = synth.SyntheticWeb.Config(sites = 60, degree = 4, maxDepth = 2),
        nSeeds = 6, maxRounds = 4, burst = 2, statePartitions = 4)
      val c = new frontier.Crawler(s, work, cfg)
      c.run()
      c
    })

  /** HTML parse surface (HtmlParser links+spans from markup) over
    * deterministic markup rendered from the documents table; the span
    * sequence is SQL-expressible, so this gets a full DuckDB oracle. */
  private def qParseSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.parquet(t(dir, "documents"))
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val url = s"http://d$id.example/page"
        val html = s"""<html><body><p>$text</p><img src="http://m.example/$id.jpg"></body></html>"""
        graft.parse.HtmlParser.parse(url, html).spans.map(sp =>
          (id, sp.offset, sp.kind, sp.text, sp.media_ref))
      }
      .toDF("doc_id", "offset", "kind", "span_text", "media_ref")
  }

  /** graph map: every stored URL -> dense node id, duplicates mapped to
    * their archetype (GenerateGraphMap) — rows-only over the mini-crawl. */
  private def qGraphMap(s: SparkSession, dir: String): DataFrame =
    analytics.StoreQuery.graphMap(miniCrawl(s).docs())

  /** log2 histogram of per-host bytes/round (StatsThread B/s analog). */
  private def qSpeedHistogram(s: SparkSession, dir: String): DataFrame =
    analytics.CrawlStats.speedHistogram(miniCrawl(s).docs())

  /** End-to-end mini-crawl (frontier+scheduler) — rows-only smoke. */
  private def qCrawlE2e(s: SparkSession, dir: String): DataFrame =
    miniCrawl(s).trace()

  /** duplicate -> archetype resolution over the crawl store. */
  private def qStoreArchetypes(s: SparkSession, dir: String): DataFrame =
    analytics.StoreQuery.archetypes(miniCrawl(s).docs())

  /** per-round fetch/parse/dedup progress from the lineage metrics. */
  private def qCrawlProgress(s: SparkSession, dir: String): DataFrame =
    analytics.CrawlStats.progress(miniCrawl(s).metrics())

  /** log2 histogram of per-host pending-queue sizes. */
  private def qQueueHistogram(s: SparkSession, dir: String): DataFrame =
    analytics.CrawlStats.queueSizeHistogram(miniCrawl(s).frontierState())

  /** host-level media-ref edge graph from the stored spans. */
  private def qMediaEdges(s: SparkSession, dir: String): DataFrame =
    analytics.StoreQuery.mediaEdges(miniCrawl(s).docs())

  // ---- constructed-input twins of the crawl-output analytics ----
  // The mini-crawl queries above exercise the operators over the engine's
  // own store (rows-only; the engine is oracle-checked by CrawlerSpec);
  // these run the SAME analytics functions over tables deterministically
  // derived from events/documents, so their results get full DuckDB
  // oracles (the q_span_digest / q_parse_spans pattern).

  /** queueSizeHistogram over a constructed frontier (hostHash from events). */
  private def qQueueHistogramSynth(s: SparkSession, dir: String): DataFrame =
    analytics.CrawlStats.queueSizeHistogram(
      s.read.parquet(t(dir, "events")).select((col("user_id") % 97).as("hostHash")))

  /** speedHistogram over a constructed docs table: schemeAuthority and
    * round are pure functions of doc_id, bytes = span text length. */
  private def qSpeedHistogramSynth(s: SparkSession, dir: String): DataFrame =
    analytics.CrawlStats.speedHistogram(
      s.read.parquet(t(dir, "documents")).select(
        concat(lit("http://d"), (col("doc_id") % 50).cast("string"),
          lit(".example")).as("schemeAuthority"),
        (col("doc_id") % 4).cast("int").as("round"),
        array(struct(lit("text").as("kind"), col("text").as("text"),
          lit("").as("media_ref"), lit(0).as("offset"))).as("spans")))

  /** mediaEdges over constructed docs: page URL and media ref are pure
    * functions of doc_id, so the host edge graph is plain SQL while the
    * Spark side runs the real span-explode + burl_host extraction. */
  private def qMediaEdgesSynth(s: SparkSession, dir: String): DataFrame =
    analytics.StoreQuery.mediaEdges(
      s.read.parquet(t(dir, "documents")).select(
        concat(lit("http://d"), (col("doc_id") % 20).cast("string"),
          lit(".example/p"), col("doc_id").cast("string")).as("doc_id"),
        array(
          struct(lit("media").as("kind"), lit("").as("text"),
            concat(lit("http://m"), (col("doc_id") % 7).cast("string"),
              lit(".example/img"), col("doc_id").cast("string"), lit(".jpg"))
              .as("media_ref"), lit(0).as("offset")),
          struct(lit("text").as("kind"), col("text").as("text"),
            lit("").as("media_ref"), lit(1).as("offset"))).as("spans")))

  /** archetypes over a constructed duplicate-bearing store: digest groups
    * doc_ids mod 100, store order (round, doc_id) picks the archetype. */
  private def qStoreArchetypesSynth(s: SparkSession, dir: String): DataFrame =
    analytics.StoreQuery.archetypes(
      s.read.parquet(t(dir, "documents")).select(
        col("doc_id"),
        (col("doc_id") % 4).cast("int").as("round"),
        concat(lit("dg"), (col("doc_id") % 100).cast("string")).as("digest")))

  /** graphMap (dense archetype node ids via the bucketed two-phase rank)
    * over a constructed store: single round, digest groups mod 100, the
    * group minimum is the archetype — the dense-rank + dup-resolution
    * semantics are plain SQL. */
  private def qGraphMapSynth(s: SparkSession, dir: String): DataFrame = {
    val d = s.read.parquet(t(dir, "documents")).select(
      col("doc_id"), lit(0).cast("int").as("round"),
      concat(lit("dg"), (col("doc_id") % 100).cast("string")).as("digest"))
    val mins = d.groupBy("digest").agg(min("doc_id").as("__m"))
    analytics.StoreQuery.graphMap(
      d.join(mins, Seq("digest"))
        .withColumn("is_duplicate", col("doc_id") =!= col("__m")).drop("__m"))
  }

  /** statusClassBreakdown (1xx..5xx counters) over a constructed trace. */
  private def qStatusClassesSynth(s: SparkSession, dir: String): DataFrame =
    analytics.CrawlStats.statusClassBreakdown(
      s.read.parquet(t(dir, "events")).select(
        when(col("event_id") % 10 < 6, 200)
          .when(col("event_id") % 10 < 8, 404)
          .when(col("event_id") % 10 === 8, 301)
          .otherwise(500).as("status")))

  /** spanKindMix (contentType counter analog) over constructed spans:
    * text span always, media span for even doc_ids. */
  private def qSpanKindMixSynth(s: SparkSession, dir: String): DataFrame =
    analytics.CrawlStats.spanKindMix(
      s.read.parquet(t(dir, "documents")).select(
        (col("doc_id") % 3).cast("int").as("round"),
        when(col("doc_id") % 2 === 0,
          array(
            struct(lit("text").as("kind"), col("text").as("text"),
              lit("").as("media_ref"), lit(0).as("offset")),
            struct(lit("media").as("kind"), lit("").as("text"),
              lit("http://m.example/x.jpg").as("media_ref"), lit(1).as("offset"))))
        .otherwise(
          array(
            struct(lit("text").as("kind"), col("text").as("text"),
              lit("").as("media_ref"), lit(0).as("offset")))).as("spans")))

  // ---- oracle-twin mode for the hash-based dedup/fingerprint family ----
  // The production queries (q_minhash_pairs, q_simhash_pairs,
  // q_fingerprint) are rows-only: their murmur hashes are not
  // DuckDB-expressible. These twins run the UNCHANGED pipeline code
  // (MinHashes/SimHash64/RollingFingerprint expressions, banding,
  // capBuckets skew guard, self-join, est-jaccard/hamming) with the
  // expressions' `mod > 0` twin mode — a modular base-31 polynomial hash —
  // which DuckDB recomputes from the DIRECT per-shingle/per-window
  // definition. A driver green therefore checks the rolling-update
  // recurrences (h' = ((h - c_out*31^(k-1))*31 + c_in) mod m) against the
  // direct algebra, plus the banding + bucket-cap semantics, end to end.

  private val TwinMod = 1000000007L

  /** Constructed near-dup corpus: every doc plus a suffixed copy, so the
    * candidate-pair outputs are non-trivially populated. */
  private def nearDupDocs(s: SparkSession, dir: String): DataFrame = {
    val d = s.read.parquet(t(dir, "documents")).select(col("doc_id").as("id"), col("text"))
    d.union(d.select((col("id") + 1000000L).as("id"),
      concat(col("text"), lit(" near dup tail")).as("text")))
  }

  private def qMinhashPairsSynth(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidatePairs(
      nearDupDocs(s, dir).where(length(col("text")) >= 8),
      "id", "text", shingleK = 8, numHashes = 16, bands = 4,
      minEstJaccard = 0.25, maxBucketSize = 10, mod = TwinMod)

  // maxHamming=3 + cap 64: the synthetic docs share a word pool, so twin
  // signatures correlate — a loose radius admits O(docs²) correlated
  // pairs at sf0.1; the tight radius keeps the output near-dup-dominated
  // and the bench-time self-join bounded
  private def qSimhashPairsSynth(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashCandidatePairs(
      nearDupDocs(s, dir)
        .where(size(filter(split(col("text"), " "), t => length(t) > 0)) > 0),
      "id", "text", maxHamming = 3, maxBucketSize = 64, mod = TwinMod)

  private def qFingerprintSynth(s: SparkSession, dir: String): DataFrame =
    TextStats.fingerprints(
      s.read.parquet(t(dir, "documents")).select(col("doc_id"), col("text")),
      "doc_id", "text", window = 16, mod = TwinMod)

  /** Multimodal plumbing in twin-hash mode: ref hash, payload bytes, and
    * the stub decode become modular-polynomial (DuckDB recomputes all of
    * them), while the real pipeline — span explode, distinct, typed
    * Dataset encoders, the per-partition batched-decode contract — runs
    * unchanged. feature_sig joins the (integer-valued) feature vector
    * without xxhash so the oracle can rebuild it. */
  private def qMediaFeaturesSynth(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(t(dir, "documents"))
      .select(col("doc_id").cast("string").as("doc_id"),
        array(struct(lit("media").as("kind"), lit("").as("text"),
          concat(lit("http://m.example/img"), col("doc_id")).as("media_ref"),
          lit(0).as("offset"))).as("spans"))
    Multimodal.extractFeatures(Multimodal.mediaTable(docs, s, TwinMod), TwinMod).toDF
      .withColumn("feature_sig",
        array_join(transform(col("feature"), f => f.cast("long").cast("string")), ","))
      .drop("feature")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sieve_first_seen" -> (qSieveFirstSeen(_, _)),
    "q_politeness_rank" -> (qPolitenessRank(_, _)),
    "q_host_budget" -> (qHostBudget(_, _)),
    "q_filter_dsl" -> (qFilterDsl(_, _)),
    "q_robots_check" -> (qRobotsCheck(_, _)),
    "q_dup_segments" -> (qDupSegments(_, _)),
    "q1_agg" -> (q1Agg(_, _)),
    "q_join_topn" -> (qJoinTopN(_, _)),
    "q_window_shipments" -> (qWindowShipments(_, _)),
    "q_events_hourly" -> (qEventsHourly(_, _)),
    "q_exact_dedup" -> (qExactDedup(_, _)),
    "q_token_count" -> (qTokenCount(_, _)),
    "q_quality" -> (qQuality(_, _)),
    "q_lang_id" -> (qLangId(_, _)),
    "q_media_bytes" -> (qMediaBytes(_, _)),
    "q_burl_normalize" -> (qBurlNormalize(_, _)),
    "q_url_hash" -> (qUrlHash(_, _)),
    "q_span_digest" -> (qSpanDigest(_, _)),
    "q_fingerprint" -> (qFingerprint(_, _)),
    "q_simhash_pairs" -> (qSimhashPairs(_, _)),
    "q_minhash_pairs" -> (qMinhashPairs(_, _)),
    "q_ngram_jaccard" -> (qNgramJaccard(_, _)),
    "q_ann_brute" -> (qAnnBrute(_, _)),
    "q_ann_lsh" -> (qAnnLsh(_, _)),
    "q_ann_lsh_bucketed" -> (qAnnLshBucketed(_, _)),
    "q_ann_lsh_bucketed_full" -> (qAnnLshBucketedFull(_, _)),
    "q_ann_ivf" -> (qAnnIvf(_, _)),
    "q_ann_ivf_full" -> (qAnnIvfFull(_, _)),
    "q_charset" -> (qCharset(_, _)),
    "q_embedding_neardup" -> (qEmbeddingNearDup(_, _)),
    "q_embedding_neardup_exact" -> (qEmbeddingNearDupExact(_, _)),
    "q_media_features" -> (qMediaFeatures(_, _)),
    "q_parse_spans" -> (qParseSpans(_, _)),
    "q_graph_map" -> (qGraphMap(_, _)),
    "q_speed_histogram" -> (qSpeedHistogram(_, _)),
    "q_crawl_e2e" -> (qCrawlE2e(_, _)),
    "q_store_archetypes" -> (qStoreArchetypes(_, _)),
    "q_crawl_progress" -> (qCrawlProgress(_, _)),
    "q_queue_histogram" -> (qQueueHistogram(_, _)),
    "q_media_edges" -> (qMediaEdges(_, _)),
    "q_queue_histogram_synth" -> (qQueueHistogramSynth(_, _)),
    "q_speed_histogram_synth" -> (qSpeedHistogramSynth(_, _)),
    "q_media_edges_synth" -> (qMediaEdgesSynth(_, _)),
    "q_store_archetypes_synth" -> (qStoreArchetypesSynth(_, _)),
    "q_graph_map_synth" -> (qGraphMapSynth(_, _)),
    "q_status_classes_synth" -> (qStatusClassesSynth(_, _)),
    "q_span_kind_mix_synth" -> (qSpanKindMixSynth(_, _)),
    "q_minhash_pairs_synth" -> (qMinhashPairsSynth(_, _)),
    "q_simhash_pairs_synth" -> (qSimhashPairsSynth(_, _)),
    "q_fingerprint_synth" -> (qFingerprintSynth(_, _)),
    "q_media_features_synth" -> (qMediaFeaturesSynth(_, _))
  )

  def oracleSql: Map[String, String] = Map(
    "q_sieve_first_seen" ->
      s"""SELECT url, first_seq,
         |       CAST(row_number() OVER (ORDER BY first_seq) AS BIGINT) AS enqueue_rank
         |FROM (SELECT url, min(seq) AS first_seq FROM ($urlStreamSql) GROUP BY url)""".stripMargin,
    "q_politeness_rank" ->
      s"""WITH u AS ($urlStreamSql),
         |h AS (SELECT *, row_number() OVER (PARTITION BY host ORDER BY seq) AS host_rank FROM u)
         |SELECT ip, host, url, seq FROM (
         |  SELECT *, row_number() OVER (PARTITION BY ip ORDER BY seq, host) AS ip_rank
         |  FROM h WHERE host_rank = 1) WHERE ip_rank = 1""".stripMargin,
    "q_host_budget" ->
      s"""SELECT host, url, seq, rnk FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY host ORDER BY seq) AS BIGINT) AS rnk
         |  FROM ($urlStreamSql)) WHERE rnk <= 3""".stripMargin,
    "q_filter_dsl" ->
      """WITH u AS (
        |  SELECT event_id AS seq,
        |         (CASE WHEN user_id % 5 = 0 THEN 'ftp' ELSE 'http' END) ||
        |         '://h' || CAST(user_id % 40 AS VARCHAR) || '.example/p' ||
        |         CAST(event_id % 500 AS VARCHAR) ||
        |         (CASE WHEN event_id % 7 = 0 THEN '.jpg' ELSE '' END) AS url
        |  FROM events)
        |SELECT seq, url FROM u
        |WHERE url LIKE 'http://%' AND length(url) < 40 AND url NOT LIKE '%.jpg'""".stripMargin,
    "q_robots_check" ->
      s"""SELECT url, '/p' || CAST(seq % 13 AS VARCHAR) AS path_query,
         |       NOT (('/p' || CAST(seq % 13 AS VARCHAR)) LIKE '/p1%'
         |         OR ('/p' || CAST(seq % 13 AS VARCHAR)) LIKE '/p3%') AS allowed
         |FROM ($urlStreamSql)""".stripMargin,
    "q_dup_segments" ->
      """SELECT event_id AS seq,
        |       CASE WHEN event_id % 4 = 0 THEN '/a/b/a/b/x'
        |            WHEN event_id % 4 = 1 THEN '/p/q/x'
        |            WHEN event_id % 4 = 2 THEN '/a/a/a'
        |            ELSE '/ok' END AS path,
        |       event_id % 4 <> 2 AS accepted
        |FROM events""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       count(*) AS count_order,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       sum(l_quantity) / count(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_topn" ->
      """SELECT l_orderkey AS orderkey, o_custkey AS custkey, revenue_c4 FROM (
        |  SELECT l_orderkey,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |             (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c4
        |  FROM lineitem GROUP BY l_orderkey) r
        |JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY revenue_c4 DESC, orderkey LIMIT 10""".stripMargin,
    "q_window_shipments" ->
      """SELECT l_suppkey AS suppkey, l_orderkey AS orderkey, l_linenumber AS linenumber,
        |       epoch_us(l_shipdate) AS ship_us, rn FROM (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS BIGINT) AS rn
        |  FROM lineitem) WHERE rn <= 2""".stripMargin,
    "q_events_hourly" ->
      """SELECT CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hour_id,
        |       event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
        |       count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_exact_dedup" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keeper
        |FROM documents GROUP BY 1""".stripMargin,
    "q_token_count" ->
      "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents",
    "q_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS DOUBLE) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
        |  CAST(length(text) AS DOUBLE) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) AS avg_token_len,
        |  ( CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS DOUBLE)
        |  + CAST((length(text) - length(replace(text, ' and ', ''))) / 5 AS DOUBLE)
        |  + CAST((length(text) - length(replace(text, ' of ', ''))) / 4 AS DOUBLE)
        |  + CAST((length(text) - length(replace(text, ' a ', ''))) / 3 AS DOUBLE)
        |  + CAST((length(text) - length(replace(text, ' to ', ''))) / 4 AS DOUBLE)
        |  ) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) AS stopword_ratio,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
        |    / greatest(CAST(length(text) AS DOUBLE), 1.0) AS digit_ratio,
        |  least(1.0, (( CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS DOUBLE)
        |  + CAST((length(text) - length(replace(text, ' and ', ''))) / 5 AS DOUBLE)
        |  + CAST((length(text) - length(replace(text, ' of ', ''))) / 4 AS DOUBLE)
        |  + CAST((length(text) - length(replace(text, ' a ', ''))) / 3 AS DOUBLE)
        |  + CAST((length(text) - length(replace(text, ' to ', ''))) / 4 AS DOUBLE)
        |  ) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)) * 4)
        |  * (1.0 - CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
        |    / greatest(CAST(length(text) AS DOUBLE), 1.0)) AS quality
        |FROM documents""".stripMargin,
    "q_lang_id" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST((length(p)-length(replace(p,' the ','')))/5
        |       + (length(p)-length(replace(p,' and ','')))/5
        |       + (length(p)-length(replace(p,' of ','')))/4 AS BIGINT) AS s_en,
        |    CAST((length(p)-length(replace(p,' el ','')))/4
        |       + (length(p)-length(replace(p,' la ','')))/4
        |       + (length(p)-length(replace(p,' de ','')))/4
        |       + (length(p)-length(replace(p,' que ','')))/5 AS BIGINT) AS s_es,
        |    CAST((length(p)-length(replace(p,' der ','')))/5
        |       + (length(p)-length(replace(p,' und ','')))/5
        |       + (length(p)-length(replace(p,' die ','')))/5 AS BIGINT) AS s_de,
        |    CAST((length(p)-length(replace(p,' le ','')))/4
        |       + (length(p)-length(replace(p,' la ','')))/4
        |       + (length(p)-length(replace(p,' et ','')))/4
        |       + (length(p)-length(replace(p,' les ','')))/5 AS BIGINT) AS s_fr
        |  FROM (SELECT doc_id, ' ' || text || ' ' AS p FROM documents))
        |SELECT doc_id,
        |  CASE WHEN greatest(s_en,s_es,s_de,s_fr) = 0 THEN 'und'
        |       WHEN s_en = greatest(s_en,s_es,s_de,s_fr) THEN 'en'
        |       WHEN s_es = greatest(s_en,s_es,s_de,s_fr) THEN 'es'
        |       WHEN s_de = greatest(s_en,s_es,s_de,s_fr) THEN 'de'
        |       ELSE 'fr' END AS lang_pred,
        |  greatest(s_en,s_es,s_de,s_fr) AS lang_score
        |FROM s""".stripMargin,
    "q_media_bytes" ->
      "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents",
    "q_burl_normalize" ->
      """SELECT doc_id,
        |  'HTTP://Host' || CAST(doc_id % 97 AS VARCHAR) || '.Example:80/A b/' ||
        |    CAST(doc_id % 7 AS VARCHAR) || '/../x#frag' AS spec,
        |  'http://host' || CAST(doc_id % 97 AS VARCHAR) || '.example/A%20b/x' AS url,
        |  'host' || CAST(doc_id % 97 AS VARCHAR) || '.example' AS host
        |FROM documents""".stripMargin,
    "q_span_digest" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  md5('d' || CAST(doc_id AS VARCHAR) || '.example' || chr(0) ||
        |      regexp_replace(text, '[0-9\s]+', ' ', 'g') ||
        |      chr(0) || '"http://m.example/' || CAST(doc_id AS VARCHAR) || '.jpg"' || chr(0)
        |  ) AS span_digest
        |FROM documents""".stripMargin,
    "q_parse_spans" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, 0 AS "offset", 'text' AS kind,
        |       text AS span_text, '' AS media_ref
        |FROM documents
        |UNION ALL
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, 1 AS "offset", 'media' AS kind,
        |       '' AS span_text,
        |       'http://m.example/' || CAST(doc_id AS VARCHAR) || '.jpg' AS media_ref
        |FROM documents""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(
        |      list_transform(range(1, greatest(len(string_split(text,' ')) - 3, 0) + 2),
        |        i -> array_to_string((string_split(text,' '))[i : i + 2], ' ')),
        |      x -> length(x) > 0)) AS grams
        |  FROM documents)
        |SELECT p.id1, p.id2,
        |  CASE WHEN CAST(len(g1.grams) + len(g2.grams)
        |              - len(list_intersect(g1.grams, g2.grams)) AS DOUBLE) = 0 THEN 0.0
        |       ELSE CAST(len(list_intersect(g1.grams, g2.grams)) AS DOUBLE)
        |          / CAST(len(g1.grams) + len(g2.grams)
        |              - len(list_intersect(g1.grams, g2.grams)) AS DOUBLE) END AS jaccard
        |FROM (SELECT a.doc_id AS id1, b.doc_id AS id2
        |      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |      WHERE a.doc_id % 3 = 0) p
        |JOIN g g1 ON g1.doc_id = p.id1
        |JOIN g g2 ON g2.doc_id = p.id2""".stripMargin,
    "q_ann_brute" -> annBruteOracleSql,
    // exact-probe variants over the PARTITIONED ANN layouts (nprobe=cells /
    // full hamming ball degrade to the exact scan): same oracle as brute
    "q_ann_ivf_full" -> annBruteOracleSql,
    "q_ann_lsh_bucketed_full" -> annBruteOracleSql,
    "q_embedding_neardup_exact" ->
      """WITH v AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |b AS (
        |  SELECT id, v,
        |    (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END)
        |  + (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END)
        |  + (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END)
        |  + (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END)
        |  + (CASE WHEN v[5] >= 0 THEN 16 ELSE 0 END)
        |  + (CASE WHEN v[6] >= 0 THEN 32 ELSE 0 END) AS bucket
        |  FROM v)
        |SELECT l.id AS id1, r.id AS id2,
        |       list_cosine_similarity(l.v, r.v) AS cosine
        |FROM b l JOIN b r ON l.bucket = r.bucket AND l.id < r.id
        |WHERE list_cosine_similarity(l.v, r.v) >= 0.2""".stripMargin,
    "q_charset" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN 'UTF-8'
        |       WHEN doc_id % 4 = 2 THEN 'windows-1252'
        |       ELSE 'ISO-8859-1' END AS guessed_charset
        |FROM documents""".stripMargin,
    "q_queue_histogram_synth" ->
      """SELECT CAST(floor(log2(queue_len)) AS INT) AS log2_bin,
        |       count(*) AS n_hosts
        |FROM (SELECT user_id % 97 AS hostHash, count(*) AS queue_len
        |      FROM events GROUP BY 1)
        |GROUP BY 1""".stripMargin,
    "q_speed_histogram_synth" ->
      """SELECT CAST(floor(log2(greatest(bytes_per_round, 1))) AS INT) AS log2_bps,
        |       count(*) AS n_host_rounds,
        |       CAST(sum(bytes_per_round) AS BIGINT) AS total_bytes
        |FROM (SELECT doc_id % 50 AS sa, doc_id % 4 AS round,
        |             CAST(sum(length(text)) AS BIGINT) AS bytes_per_round
        |      FROM documents GROUP BY 1, 2)
        |GROUP BY 1""".stripMargin,
    "q_media_edges_synth" ->
      """SELECT 'd' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS src_host,
        |       'm' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS dst_host,
        |       count(*) AS "count"
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "q_store_archetypes_synth" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 AS round,
        |         'dg' || CAST(doc_id % 100 AS VARCHAR) AS digest
        |  FROM documents),
        |f AS (
        |  SELECT digest, doc_id AS arch FROM (
        |    SELECT digest, doc_id,
        |           row_number() OVER (PARTITION BY digest ORDER BY round, doc_id) AS rn
        |    FROM d) WHERE rn = 1)
        |SELECT d.doc_id, d.digest, f.arch AS archetype,
        |       d.doc_id <> f.arch AS is_duplicate_of_archetype
        |FROM d JOIN f USING (digest)""".stripMargin,
    "q_graph_map_synth" ->
      """WITH d AS (
        |  SELECT doc_id, 'dg' || CAST(doc_id % 100 AS VARCHAR) AS digest
        |  FROM documents),
        |m AS (SELECT digest, min(doc_id) AS arch FROM d GROUP BY 1),
        |n AS (SELECT digest, arch AS archetype_url,
        |             CAST(row_number() OVER (ORDER BY arch) AS BIGINT) - 1 AS node
        |      FROM m)
        |SELECT d.doc_id AS url, n.node, n.archetype_url
        |FROM d JOIN n USING (digest)""".stripMargin,
    "q_status_classes_synth" ->
      """SELECT CAST(floor(s / 100) AS INT) AS status_class, count(*) AS n
        |FROM (SELECT CASE WHEN event_id % 10 < 6 THEN 200
        |                  WHEN event_id % 10 < 8 THEN 404
        |                  WHEN event_id % 10 = 8 THEN 301
        |                  ELSE 500 END AS s FROM events)
        |GROUP BY 1""".stripMargin,
    "q_span_kind_mix_synth" ->
      """SELECT round, kind, count(*) AS n_spans FROM (
        |  SELECT CAST(doc_id % 3 AS INT) AS round, 'text' AS kind FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id % 3 AS INT) AS round, 'media' AS kind
        |  FROM documents WHERE doc_id % 2 = 0)
        |GROUP BY 1, 2""".stripMargin,
    // the twin-mode hash recomputed from the DIRECT definition (the Spark
    // side maintains it with the rolling recurrence — a green checks the
    // algebra); polynomial: fold (acc*31 + codepoint) mod 1e9+7
    "q_minhash_pairs_synth" ->
      s"""WITH d AS (
         |  SELECT doc_id AS id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS id, text || ' near dup tail' AS text FROM documents),
         |f AS (SELECT id, text FROM d WHERE length(text) >= 8),
         |bs AS (SELECT id, list_transform(range(1, length(text) - 8 + 2),
         |         i -> list_reduce(list_transform(range(i, i + 8),
         |                j -> CAST(ascii(text[j:j]) AS BIGINT)),
         |                (a, c) -> (a * 31 + c) % $TwinMod)) AS bases FROM f),
         |sg AS (SELECT id, list_transform(range(0, 16),
         |         p -> list_min(list_transform(bases,
         |                b -> ((2 * p + 1) * b + p * 7919) % $TwinMod))) AS sig FROM bs),
         |bd AS (SELECT id, b.band, array_to_string(sig[b.band * 4 + 1 : b.band * 4 + 4], '_') AS key
         |       FROM sg, (SELECT unnest(range(0, 4)) AS band) b),
         |cp AS (SELECT * FROM bd QUALIFY count(*) OVER (PARTITION BY band, key) <= 10),
         |pr AS (SELECT DISTINCT l.id AS id1, r.id AS id2
         |       FROM cp l JOIN cp r ON l.band = r.band AND l.key = r.key AND l.id < r.id),
         |ej AS (SELECT pr.id1, pr.id2,
         |         CAST(list_sum(list_transform(range(1, 17),
         |           i -> CASE WHEN s1.sig[i] = s2.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16
         |           AS est_jaccard
         |       FROM pr JOIN sg s1 ON s1.id = pr.id1 JOIN sg s2 ON s2.id = pr.id2)
         |SELECT id1, id2, est_jaccard FROM ej WHERE est_jaccard >= 0.25""".stripMargin,
    "q_simhash_pairs_synth" ->
      s"""WITH d AS (
         |  SELECT doc_id AS id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS id, text || ' near dup tail' AS text FROM documents),
         |tk AS (SELECT id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks FROM d),
         |f AS (SELECT id, toks FROM tk WHERE len(toks) > 0),
         |th AS (SELECT id, list_transform(toks,
         |         t -> list_reduce(list_transform(range(1, length(t) + 1),
         |                j -> CAST(ascii(t[j:j]) AS BIGINT)),
         |                (a, c) -> (a * 31 + c) % $TwinMod)) AS hs FROM f),
         |sg AS (SELECT id, CAST(list_sum(list_transform(range(0, 30),
         |         b -> CASE WHEN list_sum(list_transform(hs,
         |                h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |              THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sh FROM th),
         |bd AS (SELECT id, sh, b.band, (sh >> (b.band * 8)) & 255 AS key
         |       FROM sg, (SELECT unnest(range(0, 8)) AS band) b),
         |cp AS (SELECT * FROM bd QUALIFY count(*) OVER (PARTITION BY band, key) <= 64)
         |SELECT DISTINCT l.id AS id1, r.id AS id2, bit_count(xor(l.sh, r.sh)) AS hamming
         |FROM cp l JOIN cp r ON l.band = r.band AND l.key = r.key AND l.id < r.id
         |WHERE bit_count(xor(l.sh, r.sh)) <= 3""".stripMargin,
    "q_fingerprint_synth" ->
      s"""SELECT doc_id,
         |  CASE WHEN length(text) = 0 THEN 0
         |       WHEN length(text) <= 16 THEN
         |         list_reduce(list_transform(range(1, length(text) + 1),
         |           j -> CAST(ascii(text[j:j]) AS BIGINT)), (a, c) -> (a * 31 + c) % $TwinMod)
         |       ELSE list_min(list_transform(range(1, length(text) - 16 + 2),
         |         i -> list_reduce(list_transform(range(i, i + 16),
         |                j -> CAST(ascii(text[j:j]) AS BIGINT)),
         |                (a, c) -> (a * 31 + c) % $TwinMod)))
         |  END AS fingerprint
         |FROM documents""".stripMargin,
    "q_media_features_synth" ->
      s"""WITH refs AS (
         |  SELECT DISTINCT 'http://m.example/img' || CAST(doc_id AS VARCHAR) AS ref
         |  FROM documents),
         |h1 AS (SELECT ref, list_reduce(list_transform(range(1, length(ref) + 1),
         |         j -> CAST(ascii(ref[j:j]) AS BIGINT)),
         |         (a, c) -> (a * 31 + c) % $TwinMod) AS h FROM refs),
         |pb AS (SELECT h, 64 + (h % 192) AS n FROM h1),
         |hp AS (SELECT h, n, list_reduce(list_transform(range(0, n),
         |         i -> (h >> CAST((i % 8) * 8 AS INT)) & 255),
         |         (a, c) -> (a * 31 + c) % $TwinMod) AS h2 FROM pb)
         |SELECT h AS media_id, 'image' AS kind, CAST(n AS INT) AS n_bytes,
         |       CAST(16 + (h2 % 64) AS INT) AS width,
         |       CAST(16 + ((h2 >> 7) % 64) AS INT) AS height,
         |       array_to_string(list_transform(range(0, 8),
         |         i -> (h2 >> CAST(i * 8 AS INT)) & 255), ',') AS feature_sig
         |FROM hp""".stripMargin
  )

  private val annBruteOracleSql =
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0)
      |SELECT CAST(row_number() OVER (ORDER BY cosine DESC, id) AS BIGINT) AS "rank", id, cosine
      |FROM (
      |  SELECT vec_id AS id,
      |         list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT v FROM q)) AS cosine
      |  FROM embeddings WHERE vec_id <> 0
      |  ORDER BY cosine DESC, id LIMIT 10)""".stripMargin
}
