package graft.frontier

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Burl, FilterDsl, Robots}
import graft.functions._
import graft.model._
import graft.parse.HtmlParser
import graft.synth.SyntheticWeb

/** Per-exception-class scheduling rule (reference per-class tables,
  * `ParsingThread.java:75-116`): `wait` in virtual rounds (backoff is
  * `wait << retries`), `maxRetries` before the URL is dropped, `killer`
  * = exhausting retries purges the whole host. */
case class ExcRule(waitRounds: Long, maxRetries: Int, killer: Boolean)

/** Crawl configuration. Politeness delays are in *virtual rounds*: the
  * reference's wall-clock `schemeAuthorityDelay`/`ipDelay`
  * (`StartupConfiguration`, `ParsingThread.java:271-274,317`) become
  * round-stamped virtual time (`now = round`), which preserves the
  * scheduling ORDER — the quantity BASELINE requires — independent of
  * wall-clock jitter and parallelism (SURVEY.md §7.4). */
case class CrawlConfig(
    web: SyntheticWeb.Config = SyntheticWeb.Config(),
    nSeeds: Int = 8,
    hostDelay: Long = 2,
    ipDelay: Long = 1,
    /** keep-alive burst: URLs fetched per host per round (FetchingThread.java:298,390) */
    burst: Int = 1,
    /** per-host URL budget (maxUrlsPerSchemeAuthority, Frontier.java:615-618) */
    maxUrlsPerHost: Long = Long.MaxValue,
    maxRounds: Int = 8,
    /** schedule filter DSL applied per outlink (StartupConfiguration.java:182-184);
      * media refs (.jpg) are excluded from scheduling like the reference's
      * stock configs do */
    scheduleFilter: String =
      "( SchemeEquals(http) or SchemeEquals(https) ) and URLShorterThan(2048) " +
        "and DuplicateSegmentsLessThan(3) and not PathEndsWithOneOf(.jpg)",
    /** fetch filter DSL applied to URLs about to be fetched
      * (FetchingThread.java:300-303); failing URLs are discarded */
    fetchFilter: String = "true",
    /** parse filter: responses failing it are not parsed — binary digest,
      * no links, no spans (ParsingThread.java:359) */
    parseFilter: String = "true",
    /** follow filter: responses failing it contribute no outlinks
      * (ParsingThread.java:343 NULL_LINK_RECEIVER) */
    followFilter: String = "true",
    /** store filter: responses failing it are not written to the docs
      * store (ParsingThread.java:398) */
    storeFilter: String = "true",
    /** blacklisted hosts, dropped at enqueue time before the sieve
      * (FrontierEnqueuer / blacklist gates, ParsingThread.java:186-195) */
    blacklistHosts: Seq[String] = Nil,
    /** blacklisted synthetic IP ids (ip_of_host space) — the reference's
      * IP blacklist (FetchingThread.java:310-347, DNSThread.java:81-93) */
    blacklistIps: Seq[Long] = Nil,
    /** body truncation (responseBodyMaxByteSize, FetchData.java:313,331-332):
      * the raw markup is cut at this many chars BEFORE parsing (the
      * reference truncates the response stream) */
    maxBodyChars: Int = Int.MaxValue,
    /** adaptive front sizing (Frontier.java:824-835): at most this many
      * IPs in flight per round, doubled whenever a round saturates it;
      * Long.MaxValue = unbounded (the saturation-benchmark setting) */
    initialFrontSize: Long = Long.MaxValue,
    frontGrowth: Int = 2,
    /** false = hosts start with robotsDone (benchmark mode) */
    robotsEnabled: Boolean = true,
    /** false = skip the docs/digests store writes AND the duplicate-page
      * link gate (frontier-only benchmark; the north metric is URLs
      * scheduled+deduped/sec — the store is the WARC-sink side) */
    storeDocs: Boolean = true,
    /** below this seen size the round sieve uses the plain anti-join
      * (`Sieve.newUrls`); at or above it, the scan-probe
      * (`Sieve.newUrlsScanProbe`, one plan whose present-set join AQE
      * picks at run time). Both are exact. Kept as a crossover
      * because forcing the scan-probe on every round measured slower on
      * crawls whose seen set stays below it (crawl_wide, seen 400 to ~45k
      * read from disk, no seen-bloom bank: slower in 7 of 8 seeds, median
      * op wall 22.6 -> 23.6 s); the side above 50k has no measurement.
      * Long.MaxValue keeps the plain anti-join throughout */
    bloomMinSeen: Long = 50000L,
    ipSpace: Long = 1L << 20,
    /** multi-agent IP-delay attenuation (StartupConfiguration.java:213-226,
      * ParsingThread.java:271-274): with k hosts sharing an IP the
      * effective per-IP delay is max(ipDelay, ipDelay * ipDelayFactor *
      * knownAgents * k/(k+1)); inert at the reference default (factor 0)
      * and in single-agent runs (knownAgents 1), exactly like BUbiNG */
    ipDelayFactor: Double = 0.0,
    knownAgents: Int = 1,
    /** state-snapshot cadence in rounds (1 = commit every round, the
      * Iceberg per-round-commit analog) */
    checkpointEvery: Int = 1,
    /** shuffle/write parallelism for the state tables */
    statePartitions: Int = 32,
    /** compact the frontier (drop tombstoned rows) once this many
      * tombstones accumulate (WorkbenchVirtualizer.java:132-143 GC analog).
      * Between compactions every round re-checkpoints the whole tombstone
      * set and its selection broadcasts it (the pending-frontier anti-join,
      * which compaction reuses), so this also bounds both */
    tombstoneCompactRows: Long = 2L << 20,
    /** storage level for in-memory state blocks between snapshots */
    stateStorage: String = "MEMORY_AND_DISK")

/** One URL selected for fetching this round. `attempt` = how many times
  * this host's current problem has been attempted (0 when the host is
  * clean) — drives the deterministic failure model. */
case class FetchUnit(
    url: String,
    schemeAuthority: String,
    host: String,
    pathQuery: String,
    urlHash: Long,
    hostHash: Long,
    ipHash: Long,
    seq: Long,
    isRobots: Boolean,
    attempt: Int)

/** The frontier + fetch scheduler: BUbiNG's Agent/Frontier/Workbench loop
  * re-expressed as an iterative batch DAG over snapshot-checkpointed state
  * tables (SURVEY.md §3.2 "Spark reading").
  *
  * One round =
  * {{{
  *   heads    = frontier.groupBy(hostHash).agg(topk_heads(k'))   // ONE pass,
  *              // partial-agg: shuffle = k' narrow rows per host, no sort
  *   selected = hosts ⋈ heads ⋈ ips  (politeness windows, rank-1 per IP,
  *              adaptive front cap)
  *   fetched  = selected heads -> render+parse HTML (typed Dataset map:
  *              HtmlParser links/spans/digest), exception state machine
  *   newUrls  = links |> scheduleFilter |> sieve (exact anti-join or
  *              scan-probe, first-enqueue order) |> budget
  *   state'   = append frontier delta; tombstone consumed rows; update
  *              hosts/ips via broadcast of the per-round host aggregate
  *   pending  = frontier ⋉̸ broadcast(tombstones) — read by `heads`, and
  *              materialized at compaction and snapshot
  * }}}
  *
  * Per-round cost: one linear scan of the frontier (the heads
  * aggregation — CPU-parallel, shuffle ∝ hosts·k') plus work ∝ the
  * selected burst and the new-link batch. No full-frontier sort, window,
  * or join-back remains on the round path.
  *
  * State layout under `workDir` (the Iceberg-snapshot analog):
  * {{{
  *   state/round=N/{frontier,hosts,ips,scalars}          (snapshots)
  *   seen/round=N, docs/round=N, digests/round=N,
  *   trace/round=N, metrics/round=N                      (append-only)
  * }}}
  * Between snapshots the frontier (a union of checkpointed deltas), hosts,
  * ips and tombstones are threaded in memory (`localCheckpoint` truncates
  * lineage); seen and digests are always read back from their append-only
  * tables, so in-memory and resumed rounds plan alike. `run()` resumes
  * from the last complete snapshot and deterministically re-executes
  * rounds after it.
  */
object Crawler {

  /** Per-host head-window slack beyond `burst`: robots-disallowed /
    * fetch-filtered URLs among the first `burst + HeadSlack` heads are
    * skipped within the same round (the reference skips them one at a
    * time at the queue head); a pathological host with more consecutive
    * disallowed heads defers the rest to later rounds. */
  val HeadSlack = 8

  /** Per-exception-class wait/retry/killer tables — static, like the
    * reference's (ParsingThread.java:75-116). */
  val ExceptionRules: Map[String, ExcRule] = Map(
    "socket_timeout" -> ExcRule(waitRounds = 1, maxRetries = 4, killer = false),
    "connection_closed" -> ExcRule(waitRounds = 1, maxRetries = 2, killer = false),
    "unknown_host" -> ExcRule(waitRounds = 2, maxRetries = 1, killer = true),
    "ssl_unverified" -> ExcRule(waitRounds = 1, maxRetries = 0, killer = true))

  /** Rule for exception classes absent from [[ExceptionRules]] (the
    * reference's defaultReturnValue: 1h wait, 5 retries, non-killer). */
  val ExceptionDefault: ExcRule = ExcRule(waitRounds = 1, maxRetries = 3, killer = false)

  /** Digest-keyed exact-duplicate flags for one round's parsed pages:
    * within-batch (smaller seq wins) + across-rounds against the
    * accumulated digests store. With `probe` (bounded bursts — the normal
    * case) the store is probed via a broadcast of the burst's digest set:
    * ONE scan of the store, no shuffle — a left-outer join against the big
    * store side would otherwise sort-merge-shuffle the ENTIRE accumulated
    * digests table every round (at a real crawl's 10^9-docs store, a
    * per-round full-table shuffle). Above the threshold, SMJ. */
  private[graft] def flagDuplicates(pages: DataFrame, digestsSeen: DataFrame,
      probe: Boolean): DataFrame = {
    val firstDigest = pages.groupBy("digest").agg(min("seq").as("__minSeq"))
    val withBatch = pages
      .join(firstDigest, Seq("digest"))
      .withColumn("__dupInBatch", col("seq") > col("__minSeq"))
    val withAcross =
      if (probe) {
        val present = digestsSeen
          .join(broadcast(pages.select("digest").distinct()), Seq("digest"), "left_semi")
        withBatch.join(
          broadcast(present.select(col("digest"), lit(true).as("__dupAcross"))),
          Seq("digest"), "left")
      } else withBatch.join(
        digestsSeen.select(col("digest"), lit(true).as("__dupAcross")),
        Seq("digest"), "left")
    withAcross.withColumn("is_duplicate",
      col("__dupInBatch") || coalesce(col("__dupAcross"), lit(false)))
  }

  /** The pending frontier: the append-only table minus its `tombstones`
    * (hashes of fetched/dropped rows, `tombstoneRows` of them), as a
    * broadcast left-anti join — a scan-side filter, no frontier shuffle or
    * sort. The one deletion path: `select` reads it every round, and
    * compaction/snapshot materialize it. The tombstone set is at most
    * `tombstoneCompactRows` plus one round's delta, so compaction
    * broadcasts nothing `select` does not already broadcast. */
  private[graft] def pendingFrontier(frontier: DataFrame, tombstones: DataFrame,
      tombstoneRows: Long): DataFrame =
    if (tombstoneRows == 0) frontier
    else frontier.join(broadcast(tombstones), Seq("urlHash"), "left_anti")

  /** Shared daemon pool for the concurrent per-round actions. */
  private[frontier] lazy val actionPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-round-action")
        t.setDaemon(true)
        t
      }))
}

class Crawler(spark: SparkSession, workDir: String, cfg: CrawlConfig) {
  import spark.implicits._

  // TopKHeads is a TypedImperativeAggregate: keep it hash-based up to a
  // sane number of distinct hosts per partition, then let it fall back to
  // the memory-safe in-partition sort-based aggregation (the default
  // threshold of 128 keys would force the sort fallback immediately)
  spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
  // each round compiles ~200 distinct codegen units; the default 100-entry
  // codegen cache THRASHES across rounds and re-Janino-compiles the whole
  // loop every round. spark.sql.codegen.cache.maxEntries is a static conf
  // that a built session rejects, so the session's builder must raise it
  // (Main, Bench and build.sbt's forked JVMs set 10000)
  // Confs SCOPED to run() (set before the first round, restored after the
  // last) because they govern every query on the session, and harnesses
  // share sessions:
  //  - codegen class names without the stage id: round-varying scalars are
  //    plan references (ref_long), so a steady round's sources repeat the
  //    previous round's — but whole-stage class names embed the stage id,
  //    which shifts as the frontier union grows, so the
  //    sources only hit the codegen cache once the id is left out;
  //  - bloom_agg (the fused filter builds) is clamped by the runtime-filter
  //    size caps (default 4M items / 67M bits — far below a large round's
  //    link batch); raise them so the fused filters keep their sized fpp
  //    instead of silently degrading (the caps also govern Spark's own
  //    InjectRuntimeFilter).
  private val runConfs = Seq(
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> (256L << 20).toString,
    "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> (8L << 30).toString)
  private def withRunConfs[T](body: => T): T = {
    val prev = runConfs.map { case (k, v) =>
      val old = spark.conf.getOption(k); spark.conf.set(k, v); k -> old
    }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val stateLevel = org.apache.spark.storage.StorageLevel.fromString(cfg.stateStorage)
  private def lc(df: DataFrame): DataFrame = df.localCheckpoint(true, stateLevel)

  /** Run independent Spark ACTIONS concurrently from driver threads: the
    * round's sinks and state materializations form independent DAG
    * branches, and per-job fixed latency (scheduling + codegen + task
    * launch) is the local-mode wall-clock floor — overlapping the jobs
    * turns a sum of latencies into a max. Output DATA is unchanged
    * (branches share only already-materialized caches). */
  private def inParallel(tasks: (() => Unit)*): Unit = {
    if (tasks.size <= 1) { tasks.foreach(_()); return }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = Crawler.actionPool
    val fs = tasks.map(t => Future(t()))
    fs.foreach(Await.result(_, Duration.Inf))
  }

  private val fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(workDir), spark.sparkContext.hadoopConfiguration)

  private def stateDir(round: Int, table: String) = f"$workDir/state/round=$round%05d/$table"
  private def appendDir(table: String, round: Int) = f"$workDir/$table/round=$round%05d"

  private def exists(path: String): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(path))

  /** parallel pre-merge width for the per-round bloom aggregations (see
    * Sieve.bloomAggParallel): one group per state partition spreads the
    * OR work across the executor (measured: 8 groups still left 2.3 s
    * serial-ish merge stages per round at 16t); the driver-side final
    * merge stays ≤ statePartitions filters — a fixed, cluster-size-
    * independent cost */
  private val bloomMergeGroups = math.max(1, cfg.statePartitions)

  /** heads window size: burst + slack for same-round robots/fetch-filter
    * skips at the queue head */
  private val kHeads = math.max(1, cfg.burst + Crawler.HeadSlack)

  /** fetched-page batches at or below this size probe the digests store
    * in [[Crawler.flagDuplicates]] via a broadcast of their digest set
    * (scan, no shuffle); above it, sort-merge join. The URL sieve has no
    * such constant: AQE picks its present-set join at run time */
  private val ProbeThreshold = 2L << 20

  private val gatesTrivial =
    cfg.parseFilter == "true" && cfg.followFilter == "true" && cfg.storeFilter == "true"

  /** with robots off and a trivial fetch filter the head gate cannot drop
    * anything: skip the per-head predicate work entirely (bench path) */
  private val windowGatesActive = cfg.robotsEnabled || cfg.fetchFilter != "true"

  /** Pending deletions of the append-only frontier: fetched/dropped rows
    * are tombstoned by hash and physically removed only at
    * compaction/snapshot. `set` is ONE checkpointed block of `rows`
    * hashes, rebuilt with each round's delta and coalesced to
    * `statePartitions` (a union's partition counts add up). */
  private case class Tombstones(set: DataFrame, rows: Long)
  private def noTombstones = Tombstones(Seq.empty[Long].toDF("urlHash"), 0L)

  private def withTombstones(tombs: Tombstones, delta: DataFrame): Tombstones = {
    val set = lc(tombs.set.unionByName(delta).coalesce(cfg.statePartitions))
    Tombstones(set, set.count())
  }

  /** In-memory state threaded between rounds (lineage truncated via
    * localCheckpoint); rebuilt from the last parquet snapshot on resume. */
  private case class LiveState(round: Int, maxSeq: Long, frontSize: Long,
      frontier: DataFrame, hosts: DataFrame, ips: DataFrame,
      tombs: Tombstones, pendingRows: Long) {
    def pending: DataFrame = Crawler.pendingFrontier(frontier, tombs.set, tombs.rows)
    def frames: Seq[DataFrame] = Seq(frontier, hosts, ips, tombs.set)
  }
  private var live: Option[LiveState] = None

  // ---------------- initialization (round 0) ----------------

  /** Seed the crawl: normalize seeds, sieve them (dedup), write round-0 state. */
  def init(): Unit = {
    val seeds = (0 until cfg.nSeeds)
      .map(i => (SyntheticWeb.seedUrl(i, cfg.web), i)) // explicit seed-list order
      .toDF("spec", "linkIdx")
    val candidates = seeds
      .withColumn("url", burl_parse(col("spec")))
      .where(col("url").isNotNull)
      .withColumn("parentSeq", lit(-1L))
      .withColumn("urlHash", murmur64(col("url")))
      .select("url", "urlHash", "parentSeq", "linkIdx")

    val order = Seq("parentSeq", "linkIdx")
    val parts = math.max(1, cfg.statePartitions)
    // nothing is seen yet: the sieve is the within-batch first-wins dedup
    val batch = lc(Ranking.firstPerKey(candidates, "urlHash", order))
    // the rank pass's bucket counts are the frontier's row count
    val (newUrls, maxSeq) = Sieve.assignSeq(batch, order, startSeq = -1L, // seqs from 0
      Sieve.linearBuckets(col("linkIdx"), 0, cfg.nSeeds - 1L, parts * 8))

    val frontier = toFrontier(newUrls).transform(lc)
    Checkpoints.release(Seq(batch))
    var hosts: DataFrame = null
    var ips: DataFrame = null
    inParallel(
      () => frontier.select("urlHash")
        .write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(appendDir("seen", 0)),
      () => hosts = newHostsFrom(frontier, spark.emptyDataset[HostState].toDF).transform(lc),
      () => ips = newIpsFrom(frontier, spark.emptyDataset[IpState].toDF).transform(lc))
    writeState(0, frontier, hosts, ips, maxSeq, cfg.initialFrontSize)
    live = Some(LiveState(0, maxSeq, cfg.initialFrontSize, frontier, hosts, ips,
      noTombstones, pendingRows = maxSeq))
  }

  /** Narrow frontier row: url + three hashes + seq. `seq` is the global
    * first-enqueue order (the sieve's output order, reference
    * `MercatorSieve.java:349-363`). The row is deliberately NARROW:
    * schemeAuthority/pathQuery/host are re-derived from `url` only for
    * the (politeness-bounded) selected burst, so per-round frontier scans
    * move the minimum bytes (the reference's prefix-omission byte-array
    * layout, `Frontier.java:118-124`, compresses for the same reason).
    * `hostHash` = murmur64(schemeAuthority) — the visit-state key AND the
    * partitioning key (BubingJob.java:47-52). */
  private def toFrontier(newUrls: DataFrame): DataFrame =
    newUrls.select(
      col("url"),
      col("urlHash"),
      murmur64(burl_scheme_authority(col("url"))).as("hostHash"),
      ip_of_host(burl_host(col("url")), cfg.ipSpace).as("ipHash"),
      col("seq"))

  private def newHostsFrom(frontierDelta: DataFrame, hosts: DataFrame): DataFrame =
    frontierDelta.groupBy("hostHash")
      .agg(min("url").as("__u"), first("ipHash").as("ipHash"))
      .join(hosts.select("hostHash"), Seq("hostHash"), "left_anti")
      .select(
        burl_scheme_authority(col("__u")).as("schemeAuthority"),
        col("hostHash"), col("ipHash"),
        lit(0L).as("nextFetch"), lit(0L).as("stored"),
        lit(!cfg.robotsEnabled).as("robotsDone"), lit(false).as("purged"),
        lit(0).as("retries"), lit(null).cast("string").as("lastError"),
        lit(null).cast("array<string>").as("robotsPrefixes"))

  private def newIpsFrom(frontierDelta: DataFrame, ips: DataFrame): DataFrame =
    frontierDelta.select("ipHash").distinct()
      .join(ips.select("ipHash"), Seq("ipHash"), "left_anti")
      .withColumn("nextFetch", lit(0L))
      .select("ipHash", "nextFetch")

  private def writeState(round: Int, frontier: DataFrame, hosts: DataFrame,
      ips: DataFrame, maxSeq: Long, frontSize: Long): Unit = {
    // Frontier and hosts are laid out by hostHash — the reference's
    // agent-assignment function (BubingJob.java:47-52); at cluster scale
    // this becomes Iceberg bucket partitioning so the per-round
    // frontier/hosts joins are co-partitioned (SURVEY.md §4).
    inParallel(
      () => frontier.repartition(cfg.statePartitions, col("hostHash"))
        .write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(stateDir(round, "frontier")),
      () => hosts.repartition(math.max(1, cfg.statePartitions / 4), col("hostHash"))
        .write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(stateDir(round, "hosts")),
      () => ips.repartition(math.max(1, cfg.statePartitions / 4), col("ipHash"))
        .write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(stateDir(round, "ips")))
    // scalars LAST: its _SUCCESS is the snapshot-completeness marker
    Seq((maxSeq, round, frontSize))
      .toDF("maxSeq", "round", "frontSize")
      .coalesce(1).write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(stateDir(round, "scalars"))
  }

  /** Append-only tables are round=N partition dirs: one partition-
    * discovering scan with pruning, not a union of per-round reads. The
    * schema is given, so a read launches no schema-inference job. */
  private def readSeen(uptoRound: Int): DataFrame =
    spark.read.schema("urlHash BIGINT, round INT").parquet(s"$workDir/seen")
      .where(col("round") <= uptoRound).select("urlHash")

  private def readDigests(uptoRound: Int): DataFrame =
    if (!exists(s"$workDir/digests")) Seq.empty[String].toDF("digest")
    else spark.read.schema("digest STRING, round INT").parquet(s"$workDir/digests")
      .where(col("round") <= uptoRound).select("digest")

  private def loadState(round: Int): LiveState = {
    val sc = spark.read.parquet(stateDir(round, "scalars")).collect()(0)
    val maxSeq = sc.getAs[Long]("maxSeq")
    val frontSize = sc.getAs[Long]("frontSize")
    val frontier = spark.read.parquet(stateDir(round, "frontier"))
    LiveState(round, maxSeq, frontSize, frontier,
      spark.read.parquet(stateDir(round, "hosts")),
      spark.read.parquet(stateDir(round, "ips")),
      noTombstones, pendingRows = frontier.count())
  }

  private def maxRoundIn(dir: String, complete: String => Boolean): Int = {
    if (!exists(dir)) return -1
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("round=") => s.stripPrefix("round=").toInt }
      .filter(r => complete(f"$dir/round=$r%05d"))
      .foldLeft(-1)(math.max)
  }

  /** Last round with a complete state snapshot, or -1. */
  def lastCompleteRound(): Int =
    maxRoundIn(s"$workDir/state", d => exists(s"$d/scalars/_SUCCESS"))

  /** Last round with trace appends or a snapshot (>= lastCompleteRound). */
  private def lastAppendRound(): Int =
    math.max(maxRoundIn(s"$workDir/trace", _ => true), lastCompleteRound())

  // ---------------- per-class exception rule columns ----------------

  private def ruleCol(c: Column, f: ExcRule => Any): Column =
    Crawler.ExceptionRules.foldLeft(lit(f(Crawler.ExceptionDefault))) {
      case (acc, (name, rule)) => when(c === name, lit(f(rule))).otherwise(acc)
    }

  // ---------------- one round ----------------

  /** Execute round `round` (state `round-1` from memory or snapshot).
    * Returns the number of fetch attempts. The phases below are code
    * structure, not barriers: each builds lazy plans, and the Spark jobs
    * run at three points — the trace write in [[fetchParse]], the
    * overlapped tail in [[sieve]], the state materializations here and in
    * [[commit]]. */
  def runRound(round: Int): Long = {
    val st = live.filter(_.round == round - 1).getOrElse(loadState(round - 1))
    val sel = select(st, round)
    val f = fetchParse(sel.units, round)
    if (f.count == 0) {
      commitZeroFetch(st, round, sel)
      f.cached.unpersist(); sel.selected.unpersist()
      return 0
    }

    val (linkSources, docs) = store(gates(f.rows), round, f.count)
    val links = parseLinks(linkSources)
    val hostsU = hostTransition(
      if (windowGatesActive) advanceWindowOnly(st.hosts, sel.windowOnlyHosts, round)
      else st.hosts,
      f.rows, round)
    // completed page URLs (any real HTTP status) leave the frontier;
    // exception URLs stay (retry) unless dropped; disallowed heads leave
    val tombstoneDelta = f.rows
      .where(!col("isRobots") && col("excClass").isNull).select("urlHash")
      .unionByName(sel.disallowed)
      .unionByName(hostsU.where(col("__drop")).select(col("__dropHash").as("urlHash")))

    var duplicates = 0L
    var tombs: Tombstones = null
    val sv = sieve(st, round, links, f, independent = Seq(
      // (the trace sink already ran — it doubles as the fetch-cache
      // materialization job, with the round scalars observed on it)
      () => if (cfg.storeDocs) writeRobots(f.rows, round),
      () => if (cfg.storeDocs) duplicates = writeDocs(docs, round),
      // materializes the hostsU cache (+ hostAgg broadcast) through the
      // dropped-URL leg
      () => tombs = withTombstones(st.tombs, tombstoneDelta)))

    val dedupOut =
      if (cfg.maxUrlsPerHost == Long.MaxValue) sv.count else sv.newDelta.count()
    val hostsNext = hostsU.select(hostCols.map(col): _*)
      .unionByName(newHostsFrom(sv.newDelta, st.hosts))
    val ipsNext = ipTransition(st, hostsU, round)
      .unionByName(newIpsFrom(sv.newDelta, st.ips))
    val metrics = roundMetrics(f.rows, sv.dedupIn, dedupOut, duplicates)

    // all state materializations + the metrics sink are independent
    val snap = snapshotDue(round)
    val frontActive = st.frontSize < Long.MaxValue
    var hostsMem = hostsNext
    var ipsMem = ipsNext
    var selHosts = 0L
    inParallel(
      () => metrics.write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(appendDir("metrics", round)),
      () => if (!snap) hostsMem = hostsNext.transform(lc),
      () => if (!snap) ipsMem = ipsNext.transform(lc),
      () => if (frontActive) selHosts = f.rows.select("hostHash").distinct().count())

    // adaptive front growth: a saturated round multiplies the cap
    val frontSizeNext =
      if (!frontActive || selHosts < st.frontSize) st.frontSize
      else {
        val grown = st.frontSize * cfg.frontGrowth
        if (grown > 0) grown else Long.MaxValue
      }
    commit(LiveState(round, st.maxSeq + sv.count, frontSizeNext,
      st.frontier.unionByName(sv.newDelta), hostsMem, ipsMem,
      tombs, st.pendingRows + dedupOut - (tombs.rows - st.tombs.rows)), snap)

    f.cached.unpersist(); sel.selected.unpersist()
    links.unpersist(); hostsU.unpersist()
    if (cfg.storeDocs) docs.unpersist()
    Checkpoints.release(Seq(sv.input))
    f.count
  }

  /** One round's fetch selection. `selected` is cached (unpersist at round
    * end); `disallowed` holds the hashes of the heads the window gate
    * dropped and `windowOnlyHosts` the hosts whose whole window it
    * dropped. */
  private case class Selection(selected: DataFrame, units: Dataset[FetchUnit],
      disallowed: DataFrame, windowOnlyHosts: DataFrame)

  /** Politeness selection (SURVEY.md §2.5 workbench) and the fetch units of
    * the selected hosts: robots.txt first, then the gated head window. */
  private def select(st: LiveState, round: Int): Selection = {
    val frontier = st.pending

    // ONE pass over the frontier: per-host head window (k' smallest seqs)
    // via hash aggregation with map-side combine — the shuffle carries at
    // most k' narrow rows per host per partition; no window sort, no
    // full-frontier ordering. Priority = head seq (FIFO per host,
    // VisitState.java:284-304); the inner join doubles as the
    // has-pending-work filter.
    val heads = frontier.groupBy("hostHash")
      .agg(topk_heads(col("seq"), col("url"), col("urlHash"), kHeads).as("heads"))

    val nowC = ref_long(round.toLong, "now")
    val ipReady = st.ips.where(col("nextFetch") <= nowC).select("ipHash")
    val eligible = st.hosts
      .where(!col("purged") && col("nextFetch") <= nowC)
      .join(heads, Seq("hostHash")) // inner: only hosts with pending work
      .join(ipReady.hint("broadcast"), Seq("ipHash"), "left_semi")
      .withColumn("priority", element_at(col("heads"), 1).getField("seq"))
    // one host per IP per round (one VisitState in flight per
    // WorkbenchEntry, ParsingThread.java:271-274); priority (= a seq) is
    // globally unique, so the rank-1 choice is total without tiebreaks —
    // computed as a min-by AGGREGATION (map-side partial combine), not a
    // window sort
    val hostRow = struct(col("hostHash"), col("schemeAuthority"),
      col("retries"), col("lastError"), col("robotsPrefixes"),
      col("robotsDone"), col("heads"))
    val rank1 = eligible
      .groupBy("ipHash")
      .agg(min(struct(col("priority"), hostRow.as("r"))).as("w"))
      .select(col("ipHash"), col("w.priority").as("priority"),
        col("w.r.hostHash").as("hostHash"),
        col("w.r.schemeAuthority").as("schemeAuthority"),
        col("w.r.retries").as("retries"), col("w.r.lastError").as("lastError"),
        col("w.r.robotsPrefixes").as("robotsPrefixes"),
        col("w.r.robotsDone").as("robotsDone"), col("w.r.heads").as("heads"))
    // adaptive front sizing (Frontier.java:824-835): cap the in-flight IP
    // set; grown at commit when a round saturates it. Cached: the
    // selection pipeline (heads agg + rank-1) feeds both the robots and
    // the page branch — without the cache the frontier aggregation would
    // execute once per branch
    val selected =
      (if (st.frontSize < Long.MaxValue)
        rank1.orderBy("priority").limit(math.min(st.frontSize, Int.MaxValue.toLong).toInt)
      else rank1).cache()

    // robots.txt jumps the host queue (VisitState.java:193-216)
    val attemptCol =
      when(col("lastError").isNull, lit(0)).otherwise(col("retries") + 1).as("attempt")
    val robotsUnits = selected.where(!col("robotsDone")).select(
      concat(col("schemeAuthority"), lit("/robots.txt")).as("url"),
      col("schemeAuthority"),
      burl_host(col("schemeAuthority")).as("host"),
      lit("/robots.txt").as("pathQuery"),
      murmur64(concat(col("schemeAuthority"), lit("/robots.txt"))).as("urlHash"),
      col("hostHash"), col("ipHash"),
      lit(-1L).as("seq"),
      lit(true).as("isRobots"),
      attemptCol)

    // head-window fetch gate: robots prefixes (riding on the host row — no
    // robots join) + fetchFilter; disallowed heads are dropped in-round,
    // first `burst` survivors are fetched. The heads array is ALREADY
    // seq-sorted, so the burst is an array filter + slice — no per-host
    // window, no exchange.
    def headKeep(h: Column): Column = {
      val u = h.getField("url")
      (col("robotsPrefixes").isNull ||
        respects_robots(burl_path_query(u), col("robotsPrefixes"))) &&
        FilterDsl.compile(cfg.fetchFilter, FilterDsl.urlContext(u))
    }
    val pageHosts = selected.where(col("robotsDone"))
    val gated =
      if (windowGatesActive) pageHosts
        .withColumn("__kept", filter(col("heads"), h => headKeep(h)))
        .withColumn("__dropped", filter(col("heads"), h => !headKeep(h)))
      else pageHosts
        .withColumn("__kept", col("heads"))
        .withColumn("__dropped", slice(col("heads"), lit(1), lit(0)))
    val disallowed = gated
      .select(explode(col("__dropped")).as("h")).select(col("h.urlHash").as("urlHash"))
    val windowOnlyHosts = gated
      .where(size(col("__kept")) === 0 && size(col("__dropped")) > 0)
      .select("hostHash")
    val pageUnits = gated
      .select(col("hostHash"), col("schemeAuthority"), col("ipHash"),
        col("retries"), col("lastError"),
        explode(slice(col("__kept"), 1, cfg.burst)).as("h"))
      .select(col("h.url").as("url"), col("schemeAuthority"),
        burl_host(col("h.url")).as("host"),
        burl_path_query(col("h.url")).as("pathQuery"),
        col("h.urlHash").as("urlHash"), col("hostHash"), col("ipHash"),
        col("h.seq").as("seq"), lit(false).as("isRobots"), attemptCol)

    // oversplit ONLY the fetch stage: page render+parse cost is lognormal
    // per host, so at partitions==threads the heaviest tasks leave cores
    // idle at the stage tail; 4x granularity lets the scheduler pack.
    // The repartition shuffles just the (small) unit rows, and the finer
    // layout carries through to the equally-heavy link-parse stage that
    // reads the cached fetch batch.
    val units = robotsUnits.unionByName(pageUnits)
      .repartition(cfg.statePartitions * 4, col("urlHash"))
      .as[FetchUnit]
    Selection(selected, units, disallowed, windowOnlyHosts)
  }

  /** One round's fetch batch. `cached` is the typed fetch cache (unpersist
    * at round end), `rows` its burst-aborted view; the scalars come from
    * the trace-write Observation: attempt count, raw-outlink upper bound,
    * and the seq bounds that drive the deterministic rank buckets. */
  private case class Fetched(cached: Dataset[FetchResult], rows: DataFrame,
      count: Long, linksUpper: Long, loSeq: Long, hiSeq: Long)

  /** Synthetic fetch + REAL parse (typed Dataset map; pure functions): the
    * page is rendered to markup and run through HtmlParser — links, spans,
    * and digest come from the markup, as in the reference ParsingThread ->
    * HTMLParser path. Runs ONE job: the trace sink. */
  private def fetchParse(units: Dataset[FetchUnit], round: Int): Fetched = {
    // the map closure captures these locals only, never the Crawler
    val webCfg = cfg.web
    val maxBody = cfg.maxBodyChars
    val rnd = round
    val fetched0: Dataset[FetchResult] = units.map { u =>
      val exc = SyntheticWeb.fetchExceptionAt(u.url, u.attempt, webCfg)
      if (exc != null) {
        FetchResult(u.url, u.urlHash, u.schemeAuthority, u.host, u.hostHash, u.ipHash,
          u.seq, 0, u.isRobots, exc, truncated = false, contentType = null,
          digest = null, binaryDigest = null, robotsPrefixes = null,
          spans = Nil, links = Nil, round = rnd)
      } else if (u.isRobots) {
        val prefixes = Robots.parse(SyntheticWeb.robotsContent(u.host, webCfg), "graft").toSeq
        FetchResult(u.url, u.urlHash, u.schemeAuthority, u.host, u.hostHash, u.ipHash,
          u.seq, 200, isRobots = true, excClass = null, truncated = false,
          contentType = "text/plain", digest = null, binaryDigest = null,
          robotsPrefixes = prefixes, spans = Nil, links = Nil, round = rnd)
      } else {
        val status = SyntheticWeb.status(u.url, webCfg)
        if (status == 200) {
          val raw = SyntheticWeb.pageHtml(u.url, webCfg)
          val truncated = raw.length > maxBody
          val html = if (truncated) raw.substring(0, maxBody) else raw
          val pr = HtmlParser.parse(u.url, html)
          // binary (non-parsed) digest is host-seeded (BinaryParser.java:75-81
          // hashes host + NUL + body): identical bodies on DIFFERENT hosts
          // stay distinct unless crossAuthorityDuplicates
          val bin = f"${graft.core.MurmurHash3Bubing.hashString(u.host + "\u0000" + html)}%016x"
          var nb = 0L
          var nm = 0
          pr.spans.foreach { s =>
            nb += s.text.length
            if (s.kind == "media") nm += 1
          }
          FetchResult(u.url, u.urlHash, u.schemeAuthority, u.host, u.hostHash, u.ipHash,
            u.seq, status, isRobots = false, excClass = null, truncated = truncated,
            contentType = "text/html", digest = pr.digest, binaryDigest = bin,
            robotsPrefixes = null, spans = pr.spans, links = pr.links, round = rnd,
            nBytes = nb, nMedia = nm, nLinks = pr.links.size,
            guessedCharset = pr.guessedCharset)
        } else {
          FetchResult(u.url, u.urlHash, u.schemeAuthority, u.host, u.hostHash, u.ipHash,
            u.seq, status, isRobots = false, excClass = null, truncated = false,
            contentType = "text/html", digest = null, binaryDigest = null,
            robotsPrefixes = null, spans = Nil, links = Nil, round = rnd)
        }
      }
    }.cache()

    // an exception aborts the host's keep-alive burst: results after the
    // first failing seq are voided (urls stay pending) — the reference
    // processes a visit state's burst sequentially and stops on error
    val fetched: DataFrame =
      if (webCfg.failEvery <= 0) fetched0.toDF
      else {
        val failCut = fetched0.toDF.where(col("excClass").isNotNull)
          .groupBy("hostHash").agg(min("seq").as("__failSeq"))
        fetched0.toDF.join(broadcast(failCut), Seq("hostHash"), "left")
          .where(col("__failSeq").isNull || col("seq") <= col("__failSeq"))
          .drop("__failSeq")
      }

    // ONE job: the trace sink (the crawl-ordering artifact; round =
    // partition dir) materializes the fetch cache AND carries the round
    // scalars via an Observation riding the write — the separate
    // statistics pass over the cached batch is fused away. Zero-fetch
    // rounds write an empty trace partition (harmless to readers).
    val traceObs = org.apache.spark.sql.Observation()
    fetched
      .select(col("seq"), col("url"), col("isRobots"), col("status"), col("excClass"),
        col("nLinks"))
      .observe(traceObs, count(lit(1)).as("cnt"),
        min("seq").as("lo"), max("seq").as("hi"),
        sum("nLinks").as("nl")) // raw-outlink upper bound, sizes the batch bloom
      .drop("nLinks")
      .write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(appendDir("trace", round))
    val obs = traceObs.get
    def long(key: String): Long = obs(key) match {
      case null => 0L
      case l: java.lang.Long => l.longValue()
    }
    Fetched(fetched0, fetched, long("cnt"), long("nl"), long("lo"), long("hi"))
  }

  /** A round that fetched nothing. With no dropped heads either it is a
    * politeness wait and the state carries forward. Otherwise the head gate
    * DID drop URLs: commit their tombstones and advance the all-disallowed
    * hosts' nextFetch, or the identical empty round would repeat until
    * maxRounds (mirrored in OracleCrawler). Nothing but the trace is
    * appended. */
  private def commitZeroFetch(st: LiveState, round: Int, sel: Selection): Unit = {
    val snap = snapshotDue(round)
    val tombs = if (windowGatesActive) withTombstones(st.tombs, sel.disallowed) else st.tombs
    val droppedRows = tombs.rows - st.tombs.rows
    if (droppedRows == 0) commit(st.copy(round = round, tombs = tombs), snap)
    else {
      val hosts = advanceWindowOnly(st.hosts, sel.windowOnlyHosts, round)
      commit(st.copy(round = round,
        hosts = if (snap) hosts else hosts.transform(lc),
        tombs = tombs, pendingRows = st.pendingRows - droppedRows), snap)
    }
  }

  /** Response filter gates (parse/follow/store,
    * ParsingThread.java:343,359,398) over the round's parsed pages. */
  private def gates(fetched: DataFrame): DataFrame = {
    val pages = fetched.where(!col("isRobots") && col("status") === 200)
    if (gatesTrivial) return pages.withColumn("__store", lit(true))
    val emptySpans = lit(null).cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>")
    val respCtx = FilterDsl.urlContext(col("url")).copy(
      contentType = Some(col("contentType")),
      status = Some(col("status")),
      text = Some(array_join(transform(col("spans"), s => s.getField("text")), " ")),
      digest = Some(col("digest")),
      isHttpResponse = Some(lit(true)))
    pages
      .withColumn("__parse", FilterDsl.compile(cfg.parseFilter, respCtx))
      .withColumn("__follow", FilterDsl.compile(cfg.followFilter, respCtx))
      .withColumn("__store", FilterDsl.compile(cfg.storeFilter, respCtx))
      .withColumn("digest", when(col("__parse"), col("digest")).otherwise(col("binaryDigest")))
      .withColumn("spans", when(col("__parse"), col("spans")).otherwise(emptySpans))
      .withColumn("links",
        when(col("__parse") && col("__follow"), col("links"))
          .otherwise(lit(null).cast("array<string>")))
  }

  /** Store side: digest-keyed exact duplicate detection against earlier
    * rounds' digests. Digests cover ALL parsed pages; the store filter gates
    * only the sink. Returns (link sources, docs — cached when store is on). */
  private def store(pages: DataFrame, round: Int,
      fetchedCount: Long): (DataFrame, DataFrame) =
    if (!cfg.storeDocs) (pages, pages.limit(0))
    else {
      val flagged = Crawler
        .flagDuplicates(pages, readDigests(round - 1), probe = fetchedCount <= ProbeThreshold)
        .cache()
      // duplicate pages contribute no outlinks (ParsingThread.java:408-410)
      (flagged.where(!col("is_duplicate")), flagged)
    }

  /** Robots store sink (the robots WARC stream, ParsingThread.java:325-327):
    * every robots.txt response. */
  private def writeRobots(fetched: DataFrame, round: Int): Unit =
    fetched
      .where(col("isRobots"))
      .select(col("url"), col("schemeAuthority"), col("status"),
        col("excClass"), col("robotsPrefixes"))
      .write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(appendDir("robots_fetches", round))

  /** Docs + digests sinks; returns the round's duplicate count. The
    * duplicates telemetry rides the docs write as an observed aggregate
    * BELOW the store filter (all flagged pages flow through the metrics
    * point) — no separate count job over the batch. */
  private def writeDocs(docs: DataFrame, round: Int): Long = {
    val dupObs = org.apache.spark.sql.Observation()
    docs
      .observe(dupObs,
        sum(col("is_duplicate").cast("long")).as("dups"))
      .where(col("__store"))
      .select(col("url").as("doc_id"), col("schemeAuthority"), col("spans"),
        col("digest"), col("status"), col("is_duplicate"), col("truncated"),
        col("guessedCharset").as("guessed_charset"),
        size(coalesce(col("links"), array())).as("n_links"),
        // external outdegree: links whose host differs from the page's.
        // DELIBERATE DEVIATION from ParsingThread.java:386-389, which
        // counts a null-host (unparseable-host) link as external
        // (!currentHost.equals(null-host) is true); here `=!=` is
        // null-false, so such links are EXCLUDED — chosen for ANSI-SQL
        // oracle expressibility (null-safe inequality round-trips
        // through DuckDB; the reference's null-is-external does not)
        size(filter(coalesce(col("links"), array()),
          l => burl_host(l) =!= burl_host(col("url"))))
          .as("n_links_ext")) // round = partition dir
      .write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(appendDir("docs", round))
    docs.where(!col("is_duplicate")).select("digest").distinct()
      .write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(appendDir("digests", round))
    dupObs.get("dups") match {
      case null => 0L
      case l: java.lang.Long => l.longValue()
    }
  }

  /** Outlink extraction -> schedule filter -> blacklists (SURVEY.md §3.2):
    * the sieve's candidate batch, cached (unpersist at round end). */
  private def parseLinks(linkSources: DataFrame): DataFrame = {
    // link-typed schedule-filter context (the reference filters
    // Filter<Link> over (source, target), ParsingThread.java:181-184,
    // Link.java:26-39): the parent host column rides along only when the
    // DSL actually references it — burl_host per link is hot-path cost
    val linkTyped = cfg.scheduleFilter.contains("SameHost")
    // each link is parsed ONCE, inside the explode: a filter over a
    // projected `burl_parse(spec)` is pushed below the projection with the
    // parse substituted into every atom, and FilterExec shares no
    // subexpressions, so the schedule filter would re-parse per atom
    val rawLinks = linkSources
      .select((col("seq").as("parentSeq") +:
        (if (linkTyped) Seq(burl_host(col("url")).as("srcHost")) else Nil)) :+
        posexplode(burl_parse_each(coalesce(col("links"), array())))
          .as(Seq("linkIdx", "url")): _*)
    val hostBlacklistGate =
      if (cfg.blacklistHosts.isEmpty) lit(true)
      else !burl_host(col("url")).isin(cfg.blacklistHosts: _*)
    val ipBlacklistGate =
      if (cfg.blacklistIps.isEmpty) lit(true)
      else !ip_of_host(burl_host(col("url")), cfg.ipSpace).isin(cfg.blacklistIps: _*)
    val schedCtx0 = FilterDsl.urlContext(col("url"))
    val schedCtx =
      if (linkTyped) schedCtx0.copy(srcHost = Some(col("srcHost")), dstHost = schedCtx0.host)
      else schedCtx0
    rawLinks
      .where(col("url").isNotNull)
      .where(FilterDsl.compile(cfg.scheduleFilter, schedCtx))
      .where(hostBlacklistGate && ipBlacklistGate)
      .withColumn("urlHash", murmur64(col("url")))
      .select("url", "urlHash", "parentSeq", "linkIdx")
      .cache()
  }

  /** Hosts whose ENTIRE head window was disallowed consumed their window
    * without a fetch: their nextFetch advances like a fetch (otherwise an
    * all-disallowed window repeats forever); mirrored in
    * OracleCrawler.windowOnly. */
  private def advanceWindowOnly(hosts: DataFrame, windowOnlyHosts: DataFrame,
      round: Int): DataFrame =
    hosts
      .join(broadcast(windowOnlyHosts.withColumn("__wo", lit(true))), Seq("hostHash"), "left")
      .withColumn("nextFetch",
        when(coalesce(col("__wo"), lit(false)), ref_long(round + cfg.hostDelay, "nowHostDelay"))
          .otherwise(col("nextFetch")))
      .drop("__wo")

  private val hostCols = Seq("schemeAuthority", "hostHash", "ipHash", "nextFetch", "stored",
    "robotsDone", "purged", "retries", "lastError", "robotsPrefixes")

  /** Per-host state machine (reference ParsingThread.java:253-312): the
    * host rows after this round's fetches, plus `__t` (touched), `__drop`
    * and `__dropHash` (the URL an exhausted non-killer class drops).
    * Cached (unpersist at round end). */
  private def hostTransition(hosts: DataFrame, fetched: DataFrame, round: Int): DataFrame = {
    val hostAgg = fetched.groupBy("hostHash").agg(
      sum(when(!col("isRobots") && col("excClass").isNull && col("status") === 200, 1L)
        .otherwise(0L)).as("__stored"),
      sum(when(!col("isRobots") && col("excClass").isNull, 1L).otherwise(0L)).as("__done"),
      max(col("isRobots") && col("excClass").isNull).as("__robotsFetched"),
      min(when(col("excClass").isNotNull,
        struct(col("seq"), col("excClass"), col("urlHash"), col("isRobots")))).as("__exc"),
      first(when(col("isRobots") && col("excClass").isNull, col("robotsPrefixes")),
        ignoreNulls = true).as("__prefixes"))

    val excC = col("__exc").getField("excClass")
    val excIsRobots = coalesce(col("__exc").getField("isRobots"), lit(false))
    val touched = col("__touched")
    // any non-exception fetch this round clears lastError BEFORE the
    // exception is classified (bursts are seq-ordered; voided results sit
    // after the exception, successes before it)
    val anyOk = coalesce(col("__done"), lit(0L)) > 0 || coalesce(col("__robotsFetched"), lit(false))
    val lastAfterOk = when(anyOk, lit(null).cast("string")).otherwise(col("lastError"))
    // reference retry-counter quirk (ParsingThread.java:282-289): reset
    // only when the previous class was null; a class SWITCH keeps retries
    val retriesNew = when(excC.isNull, col("retries"))
      .when(lastAfterOk.isNull, lit(0))
      .when(lastAfterOk === excC, col("retries") + 1)
      .otherwise(col("retries"))
    val retryable = retriesNew < ruleCol(excC, _.maxRetries.toLong)
    val killC = ruleCol(excC, _.killer)
    // purge: killer class exhausted, or ANY repeated robots error
    // (ParsingThread.java:299-302), or the per-host budget reached
    val purgeByExc = excC.isNotNull && !retryable && (killC || excIsRobots)
    val dropUrl = excC.isNotNull && !retryable && !killC && !excIsRobots

    // all transition columns are computed against the ORIGINAL host row in
    // one select (no withColumn chains — later columns must not see
    // earlier overwrites)
    val hostDelayRef = ref_long(round + cfg.hostDelay, "nowHostDelay")
    val backoff = ref_long(round.toLong, "now") +
      ruleCol(excC, _.waitRounds) * pow(lit(2.0), retriesNew.cast("double")).cast("long")
    val storedNew = col("stored") + coalesce(col("__stored"), lit(0L))
    hosts
      .join(broadcast(hostAgg.withColumn("__touched", lit(true))), Seq("hostHash"), "left")
      .select(
        col("schemeAuthority"), col("hostHash"), col("ipHash"),
        when(touched.isNull, col("nextFetch"))
          .when(excC.isNull, hostDelayRef)
          .when(retryable, backoff)
          .otherwise(hostDelayRef).as("nextFetch"),
        storedNew.as("stored"),
        (col("robotsDone") || coalesce(col("__robotsFetched"), lit(false))).as("robotsDone"),
        (col("purged") || coalesce(touched && purgeByExc, lit(false)) ||
          storedNew >= cfg.maxUrlsPerHost).as("purged"),
        when(touched.isNull, col("retries"))
          .when(excC.isNull, when(anyOk, lit(0)).otherwise(col("retries")))
          .otherwise(retriesNew).as("retries"),
        when(touched.isNull, col("lastError"))
          .when(excC.isNull || !retryable, lit(null).cast("string"))
          .otherwise(excC).as("lastError"),
        coalesce(col("__prefixes"), col("robotsPrefixes")).as("robotsPrefixes"),
        coalesce(touched, lit(false)).as("__t"),
        coalesce(touched && dropUrl, lit(false)).as("__drop"),
        when(coalesce(touched && dropUrl, lit(false)),
          col("__exc").getField("urlHash")).as("__dropHash"))
      .cache()
  }

  /** Per-IP politeness after the round: touched IPs wait `ipDelay`, scaled
    * by the multi-agent model when it is on. Touched IPs come from the
    * (cached) host transition instead of a fresh scan+distinct of the
    * fetch batch: selection is rank-1 per IP, so touched hosts already
    * have pairwise-distinct IPs. */
  private def ipTransition(st: LiveState, hostsU: DataFrame, round: Int): DataFrame = {
    val ipTouched = hostsU.where(col("__t")).select("ipHash")
    val ipsBase = st.ips
      .join(broadcast(ipTouched.withColumn("__hit", lit(true))), Seq("ipHash"), "left")
    val updated =
      if (cfg.knownAgents > 1 && cfg.ipDelayFactor != 0) {
        // multi-agent IP-delay model (ParsingThread.java:271-274): delay
        // scales with the pre-round count k of non-purged hosts on the IP
        val kCounts = st.hosts.where(!col("purged"))
          .join(broadcast(ipTouched), Seq("ipHash"), "left_semi")
          .groupBy("ipHash").agg(count(lit(1)).as("__k"))
        val k = coalesce(col("__k"), lit(1L)).cast("double")
        val delayEff = greatest(lit(cfg.ipDelay),
          (lit(cfg.ipDelay * cfg.ipDelayFactor * cfg.knownAgents) * k / (k + lit(1.0)))
            .cast("long"))
        ipsBase.join(broadcast(kCounts), Seq("ipHash"), "left")
          .withColumn("nextFetch",
            when(col("__hit"), ref_long(round.toLong, "now") + delayEff).otherwise(col("nextFetch")))
          .drop("__k")
      } else ipsBase
        .withColumn("nextFetch",
          when(col("__hit"), ref_long(round + cfg.ipDelay, "nowIpDelay")).otherwise(col("nextFetch")))
    updated.drop("__hit")
  }

  /** Sieve output: `input` is the lc'd new-URL batch (pre-budget, all of it
    * is "seen"), `count` its size, `newDelta` the lc'd frontier rows that
    * survive the budget. */
  private case class Sieved(input: DataFrame, dedupIn: Long, count: Long, newDelta: DataFrame)

  /** The overlapped round tail, DEPENDENCY-driven (no phase barrier): the
    * caller's `independent` sinks and state folds run alongside the SIEVE
    * (the gate), and the rank chain and seen append — which need ONLY the
    * materialized sieve output — are submitted from the gate's thread the
    * moment it completes, without waiting for the independent branches. A
    * barrier here made every phase tail run its longest branch alone while
    * the rest of the executor idled (occupancy 0.64 at 16t vs 0.84 at 4t).
    * Output data is unchanged: branches share only already-materialized
    * caches. */
  private def sieve(st: LiveState, round: Int, links: DataFrame, f: Fetched,
      independent: Seq[() => Unit]): Sieved = {
    val order = Seq("parentSeq", "linkIdx")
    val seen = readSeen(round - 1)
    var dedupIn = 0L
    var input: DataFrame = null
    var out = 0L
    var newDelta: DataFrame = null
    // from bloomMinSeen on, the seen store is only ever SCANNED, never
    // shuffled/sorted/broadcast (scan-probe; an SMJ re-shuffles all
    // accumulated seen hashes every round), and AQE picks the join against
    // the bloom-filtered present set at run time. The candidate count and
    // the batch bloom come out of ONE aggregation over the link cache
    // (bloom_agg riding the count job) — separately they cost two full
    // passes over the widest per-round stream.
    val gate = () => {
      if (st.maxSeq >= cfg.bloomMinSeen) {
        val (c, bb) = Sieve.bloomAggParallel(links, "urlHash",
          math.max(f.linksUpper, 1024L), Sieve.BatchBloomFpp, bloomMergeGroups)
        dedupIn = c
        input = Sieve.newUrlsScanProbe(links, seen, order, lc, bb)
      } else {
        dedupIn = links.count()
        input = Sieve.newUrls(links, seen, order).transform(lc)
      }
    }
    val dependents = Seq(
      () => {
        // 8x-oversplit buckets: parentSeq density is uneven (popular
        // hosts sit at low seqs), so fine-grained monotone buckets keep
        // the rank window's tasks balanced. First new seq is exactly
        // maxSeq (dense continuation of enqueue order).
        val (ranked, n) = Sieve.assignSeq(input, order, startSeq = st.maxSeq - 1L,
          Sieve.linearBuckets(col("parentSeq"), f.loSeq, f.hiSeq,
            math.max(8, cfg.statePartitions * 8)))
        out = n
        // (measured: repartitioning the delta by hostHash here costs more
        // shuffle bytes than the heads aggregation's partial buffers save
        // — the delta rows outnumber hosts; the frontier is re-clustered
        // by hostHash only at compaction/snapshot)
        newDelta = lc(budget(toFrontier(ranked.select("url", "urlHash", "seq")), st.hosts)
          .select(st.frontier.columns.map(col): _*))
      },
      // seen append: ALL sieved urls (even budget-dropped ones are "seen"
      // — the reference sieve recorded them before append()'s budget
      // re-check)
      () => input.select("urlHash")
        .write.options(graft.util.FastLocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(appendDir("seen", round)))
    // the gate chain is submitted first: jobs are scheduled FIFO and the
    // sieve is the round's critical path (submitted last, behind the
    // tombstone fold, crawl_wide's op_wall_s rose ~9%: 0 of 5 seed pairs
    // faster)
    inParallel((() => { gate(); inParallel(dependents: _*) }) +: independent: _*)
    Sieved(input, dedupIn, out, newDelta)
  }

  /** Per-host URL budget, enforced at sieve exit like Frontier.append
    * (Frontier.java:810-814). */
  private def budget(newFrontier: DataFrame, hosts: DataFrame): DataFrame =
    if (cfg.maxUrlsPerHost == Long.MaxValue) newFrontier
    else {
      val withStored = newFrontier
        .join(hosts.select("hostHash", "stored"), Seq("hostHash"), "left")
        .na.fill(0L, Seq("stored"))
      val k = math.min(cfg.maxUrlsPerHost, Int.MaxValue.toLong).toInt
      Ranking.topKPerKey(withStored, "hostHash", Seq("seq"), k, rankCol = "__r")
        .where(col("stored") + col("__r") <= cfg.maxUrlsPerHost)
        .drop("__r", "stored")
    }

  /** Per-partition lineage + metrics (north_rule): per-partition rows carry
    * only per-partition quantities; round-global quantities live on ONE
    * partition_id=-1 row. */
  private def roundMetrics(fetched: DataFrame, dedupIn: Long, dedupOut: Long,
      duplicates: Long): DataFrame = {
    val cols = Seq("partition_id", "fetched", "robots_fetched", "parsed", "failed",
      "links_out", "bytes_fetched", "media_spans", "dedup_in", "dedup_out", "duplicates")
    val perPartition = fetched
      .withColumn("partition_id", spark_partition_id())
      .groupBy("partition_id")
      .agg(count(lit(1)).as("fetched"),
        sum(when(col("isRobots") && col("excClass").isNull, 1L).otherwise(0L)).as("robots_fetched"),
        sum(when(col("status") === 200 && !col("isRobots"), 1L).otherwise(0L)).as("parsed"),
        sum(when(col("excClass").isNotNull, 1L).otherwise(0L)).as("failed"),
        // bytes + media-span + link counters (reference Frontier
        // transferredBytes / contentType-class counters) come from the
        // fetch-map-precomputed scalars: aggregating the raw spans/links
        // columns here forced a full decompression of the fat columns of
        // the cached fetch batch just for telemetry
        sum("nLinks").cast("long").as("links_out"),
        sum("nBytes").cast("long").as("bytes_fetched"),
        sum("nMedia").cast("long").as("media_spans"))
      .na.fill(0L, Seq("bytes_fetched", "media_spans"))
      .withColumn("dedup_in", lit(0L))
      .withColumn("dedup_out", lit(0L))
      .withColumn("duplicates", lit(0L))
    val globalRow = Seq((-1, 0L, 0L, 0L, 0L, 0L, 0L, 0L, dedupIn, dedupOut, duplicates))
      .toDF(cols: _*)
    perPartition.select(cols.map(col): _*).unionByName(globalRow) // round = partition dir
  }

  /** Snapshot cadence in rounds (1 = commit every round, the Iceberg
    * per-round-commit analog). */
  private def snapshotDue(round: Int): Boolean =
    cfg.checkpointEvery <= 1 || round % cfg.checkpointEvery == 0

  /** The one commit path of every executed round. `next.frontier` is the
    * append-only table and `next.tombs` its pending deletions. On the
    * snapshot cadence (`snap`) the compacted state tables are written and
    * read back; otherwise the state stays in memory (`next.hosts` and
    * `next.ips` are then already materialized) and the frontier is
    * compacted once `tombstoneCompactRows` tombstones accumulate
    * (WorkbenchVirtualizer.java:132-143 GC analog). Checkpoint blocks the
    * committed state no longer reads are released. */
  private def commit(next: LiveState, snap: Boolean): Unit = {
    val committed =
      if (snap) {
        writeState(next.round, next.pending, next.hosts, next.ips, next.maxSeq, next.frontSize)
        next.copy(frontier = spark.read.parquet(stateDir(next.round, "frontier")),
          hosts = spark.read.parquet(stateDir(next.round, "hosts")),
          ips = spark.read.parquet(stateDir(next.round, "ips")),
          tombs = noTombstones)
      } else if (next.tombs.rows >= cfg.tombstoneCompactRows)
        // amortized GC; re-spread by hostHash: the append-only union has
        // one partition set per round, and hostHash layout lets the next
        // heads groupBy skip its exchange entirely
        next.copy(
          frontier = next.pending.repartition(cfg.statePartitions * 4, col("hostHash")).transform(lc),
          tombs = noTombstones)
      else next
    Checkpoints.release(live.toSeq.flatMap(_.frames) ++ next.frames, kept = committed.frames)
    live = Some(committed)
  }

  /** Force a snapshot of the current live state (used at end of run). */
  private def snapshotLive(): Unit = live.foreach { st =>
    if (!exists(stateDir(st.round, "scalars") + "/_SUCCESS")) {
      writeState(st.round, st.pending, st.hosts, st.ips, st.maxSeq, st.frontSize)
    }
  }

  /** (round, fetched, wall-sec) per executed round — bench/probe telemetry
    * for the fixed-cost-vs-round-size analysis. */
  val roundWalls = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
  /** Optional monotonic counter sampled at round boundaries (bench wiring:
    * cumulative executorRunTime ms from a SparkListener). roundRunMs(i) is
    * the delta across round i — the per-round occupancy numerator. Listener
    * events are posted asynchronously, so a tail of a round's stages can
    * smear into the next sample; the smear is a few ms against multi-second
    * rounds and is disclosed where the numbers are published. */
  var roundCounter: () => Long = () => 0L
  val roundRunMs = scala.collection.mutable.ArrayBuffer.empty[Long]
  /** wall seconds of the outside-the-round-loop phases (probe/bench
    * telemetry): seed init and the final forced snapshot. */
  var initWall = 0.0
  var snapshotWall = 0.0

  /** Run (or resume) the crawl up to cfg.maxRounds; returns rounds executed.
    * A round with zero fetches is a politeness wait, not necessarily the
    * end: the crawl is drained only when the frontier itself is empty. */
  def run(): Int = withRunConfs {
    var round = lastCompleteRound()
    if (round < 0) {
      val ti = System.nanoTime()
      init(); round = 0
      initWall = (System.nanoTime() - ti) / 1e9
    }
    var executed = 0
    var drained = false
    while (round < cfg.maxRounds && !drained) {
      round += 1
      val t0 = System.nanoTime()
      val c0 = roundCounter()
      val n = runRound(round)
      val wall = (System.nanoTime() - t0) / 1e9
      roundWalls += ((round, n, wall))
      roundRunMs += roundCounter() - c0
      executed += 1
      if (n == 0)
        drained = live.forall(_.pendingRows <= 0)
    }
    val ts = System.nanoTime()
    snapshotLive()
    snapshotWall = (System.nanoTime() - ts) / 1e9
    live.foreach(st => Checkpoints.release(st.frames))
    live = None
    executed
  }

  /** The crawl-order trace: (round, seq, url, isRobots, status, excClass),
    * ordered. One partition-discovering scan (round = partition column). */
  def trace(): DataFrame = {
    if (!exists(s"$workDir/trace"))
      Seq.empty[(Int, Long, String, Boolean, Int, String)]
        .toDF("round", "seq", "url", "isRobots", "status", "excClass")
    else spark.read.parquet(s"$workDir/trace")
      .where(col("round") <= lastAppendRound())
      .select("round", "seq", "url", "isRobots", "status", "excClass")
      .orderBy("round", "seq")
  }

  /** All stored docs so far (single pruned scan; round = partition col). */
  def docs(): DataFrame =
    spark.read.parquet(s"$workDir/docs")
      .where(col("round") <= lastAppendRound())

  /** Final URL-seen membership (hashes). */
  def seenHashes(): DataFrame = readSeen(lastAppendRound())

  /** Frontier state table at the last snapshot. */
  def frontierState(): DataFrame =
    spark.read.parquet(stateDir(lastCompleteRound(), "frontier"))

  /** Hosts state table at the last snapshot. */
  def hostsState(): DataFrame =
    spark.read.parquet(stateDir(lastCompleteRound(), "hosts"))

  /** All per-round metrics (single pruned scan; round = partition col). */
  def metrics(): DataFrame = {
    if (!exists(s"$workDir/metrics")) spark.emptyDataset[RoundMetrics].toDF
    else spark.read.parquet(s"$workDir/metrics")
      .where(col("round") <= lastAppendRound())
      .select("round", "partition_id", "fetched", "robots_fetched", "parsed",
        "failed", "links_out", "bytes_fetched", "media_spans",
        "dedup_in", "dedup_out", "duplicates")
  }

  /** All stored robots.txt responses (the robots WARC stream analog;
    * single pruned scan, round = partition col). */
  def robotsFetches(): DataFrame = {
    if (!exists(s"$workDir/robots_fetches"))
      Seq.empty[(String, String, Int, String, Seq[String], Int)]
        .toDF("url", "schemeAuthority", "status", "excClass", "robotsPrefixes", "round")
    else spark.read.parquet(s"$workDir/robots_fetches")
      .where(col("round") <= lastAppendRound())
  }
}
