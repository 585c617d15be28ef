package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.frontier.{CrawlConfig, Crawler}
import graft.synth.SyntheticWeb

/** Benchmark main (driver contract): prints ONE JSON line.
  *
  * Two parts:
  *  1. per-query wall times for every SparkEntry query on
  *     $SPARK_GRAFT_SF_DIR at local[$SPARK_GRAFT_CPUS];
  *  2. the BASELINE north metric — frontier throughput (URLs
  *     scheduled+deduped/sec) for an identical synthetic crawl executed at
  *     local[8] and local[32], with scaling efficiency between them
  *     (BASELINE.md protocol; the in-sandbox stand-in for N vs 4N
  *     executors). Byte-identical crawl equality across the two runs is
  *     asserted via an order-independent trace checksum.
  *
  * `value` = URLs scheduled+deduped/sec at local[32] (the headline).
  * Also writes BENCH.md with the same numbers.
  */
object Bench {

  private def session(threads: Int): SparkSession = {
    // shuffle + checkpoint blocks on tmpfs: local-mode /tmp disk throughput
    // otherwise becomes the bottleneck at every thread count (a cluster has
    // per-executor NVMe for this)
    val localDir = s"/dev/shm/graft-bench-spark-$threads"
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"graft-bench-$threads")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.local.dir", localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.locality.wait", "0")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Saturation config: the frontier data path (select -> fetch -> parse ->
    * sieve) at full width — robots/docs-store/budget byways off, large
    * batches per round so compute dominates the per-round job overhead.
    * Their SEMANTICS are covered by the oracle-parity test suite. */
  private def benchConfig(threads: Int, scale: Int) = CrawlConfig(
    web = SyntheticWeb.Config(sites = 2000000, degree = 20, maxDepth = 3),
    nSeeds = 100000 * scale,
    hostDelay = 1, ipDelay = 1, burst = 8,
    maxRounds = 4,
    robotsEnabled = false,
    storeDocs = false,
    checkpointEvery = 99, // snapshot only at end: in-memory state threading
    statePartitions = threads,
    stateStorage = "DISK_ONLY") // tmpfs-backed blocks: off the JVM heap

  /** One measured crawl run. `throttled` = the run's own roundWalls show a
    * mid-run hypervisor slowdown (see [[isThrottled]]). `initWall`/
    * `snapWall` split out the one-time phases (seed init, final snapshot)
    * so the JSON also carries a steady-state (round-loop-only) view: at a
    * real crawl's round counts the one-time cost amortizes away, and under
    * a clamped window it inflates disproportionately (probe: init 27.7 s
    * clamped vs ~6 s healthy at 16t), so the split keeps the headline
    * interpretable either way. */
  case class CrawlRun(rate: Double, processed: Long, wall: Double, chk: String,
    traceRows: Long, roundWalls: Seq[(Int, Long, Double)],
    roundRunMs: Seq[Long], threads: Int, throttled: Boolean,
    initWall: Double, snapWall: Double) {
    def roundSum: Double = roundWalls.map(_._3).sum
    /** Executor occupancy per round: runTime / (threads × wall). In-band
      * evidence for the serial-tail question — no separate probe run. */
    def roundOcc: Seq[Double] =
      roundWalls.zip(roundRunMs).map { case ((_, _, w), rt) =>
        if (w > 0) rt / 1000.0 / (threads * w) else 0.0
      }
    /** Whole round-loop occupancy (one-time init/snapshot excluded). */
    def occupancy: Double = {
      val w = roundSum
      if (w > 0) roundRunMs.sum / 1000.0 / (threads * w) else 0.0
    }
  }

  /** Detect mid-run hypervisor throttling from the run's own telemetry:
    * the BEST (minimum) per-URL pace among full-width rounds (round 1 is
    * seeds + codegen warmup, excluded) is the least-clamped moment of the
    * run, and any full-width round running >2.5× slower per URL than it
    * marks the run throttled. Anchoring on the minimum rather than round 2
    * also catches a clamp that begins AT round 2 and lifts later (the
    * round-2 anchor was blind to it). The identical crawl's healthy rounds
    * stay within ~1.4× of each other (BASELINE.md round-size table); the
    * BENCH_r04 throttle window ran rounds 3-4 at ~8× round 2. Limitation,
    * by construction: a clamp covering EVERY full-width round leaves no
    * healthy in-run reference and is not detectable here — that case is
    * caught by the cross-run selection (best clean wall of 2 per level)
    * and the pre-crawl machine calibrations. */
  def isThrottled(roundWalls: Seq[(Int, Long, Double)]): Boolean = {
    val byRound = roundWalls.filter(_._2 > 0).sortBy(_._1)
    if (byRound.size < 2) return false
    val full = byRound.tail // drop round 1 (seed/warmup round)
    val paces = full.map { case (_, urls, wall) => wall / urls }
    val best = paces.min
    paces.exists(_ > 2.5 * best)
  }

  /** Cumulative executorRunTime (ms) over completed stages: the per-round
    * occupancy numerator, sampled through `Crawler.roundCounter`. */
  final class RunTimeListener extends SparkListener {
    @volatile var runTime = 0L
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val m = sc.stageInfo.taskMetrics
      if (m != null) runTime += m.executorRunTime
    }
  }

  /** Full JSON string literal (quotes + escape of backslash, quote, and
    * ALL control chars; Verify's oracle_sql.json writer uses it too):
    * exception messages with newlines must not corrupt the bench line. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def crawlBench(threads: Int, scale: Int): CrawlRun = {
    val spark = session(threads)
    try {
      // workDir on tmpfs: the per-round seen/trace/metrics appends are on
      // the data path; /tmp is a spinning virtual disk on this box and its
      // contention inverted the 8-vs-32 scaling in round 1
      val work = graft.util.ScratchDirs.create(s"graft-bench-$threads")
      val cfg = benchConfig(threads, scale)
      val crawler = new Crawler(spark, work, cfg)
      // per-round executorRunTime sampling → in-band occupancy telemetry
      val ml = new RunTimeListener
      spark.sparkContext.addSparkListener(ml)
      crawler.roundCounter = () => ml.runTime
      val t0 = System.nanoTime()
      crawler.run()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(ml)
      crawler.roundWalls.foreach { case (r, n, w) =>
        println(f"[crawler] round=$r fetched=$n wall=$w%.1fs")
      }
      val m = crawler.metrics().agg(
        sum("fetched").as("fetched"), sum("dedup_in").as("dedup_in")).collect()(0)
      val processed = m.getLong(0) + m.getLong(1)
      // order-independent trace checksum (commutative sum of row hashes)
      val chk = crawler.trace()
        .select(xxhash64(col("round"), col("seq"), col("url"), col("status"))
          .cast("decimal(38,0)").as("h"))
        .agg(sum("h")).collect()(0).getDecimal(0).toString
      val traceRows = crawler.trace().count()
      // tmpfs hygiene: each run leaves ~1 GB of state on /dev/shm;
      // repeated bench invocations would otherwise exhaust it
      graft.util.ScratchDirs.delete(work)
      val walls = crawler.roundWalls.toSeq
      CrawlRun(processed / wall, processed, wall, chk, traceRows, walls,
        crawler.roundRunMs.toSeq, threads,
        isThrottled(walls), crawler.initWall, crawler.snapshotWall)
    } finally spark.stop()
  }

  /** Pure-CPU scaling calibration: the same hash work on plain JVM
    * threads at a given parallelism — measures what thread-scaling this
    * (virtualized) box can deliver AT ALL, independent of Spark. The
    * frontier's scaling efficiency should be read against this ceiling. */
  private def calibrateOnce(threads: Int, perThread: Long): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val t0 = System.nanoTime()
    val futs = (0 until threads).map { i =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          val buf = Array.tabulate[Byte](64)(b => (b + i).toByte)
          var h = 0L
          var n = 0L
          while (n < perThread) {
            h = graft.core.MurmurHash3Bubing.hash(buf, 0, 64, h)
            n += 1
          }
          h
        }
      })
    }
    futs.foreach(_.get())
    pool.shutdown()
    threads * perThread / ((System.nanoTime() - t0) / 1e9)
  }

  /** warm up the JIT, then take the best of 3 (hypervisor steal spikes
    * otherwise distort single measurements) */
  private def calibrate(threads: Int): Double = {
    calibrateOnce(threads, 5000000L)
    (1 to 3).map(_ => calibrateOnce(threads, 30000000L)).max
  }

  /** MEMORY-BANDWIDTH calibration: the same murmur hashing but streamed
    * over a per-thread 128 MB buffer (far beyond LLC), so the measurement
    * is bounded by the box's shared memory system rather than core count.
    * The frontier's real work (parse, materialize, shuffle, cache scans —
    * tens of GB per run) is memory-shaped, so THIS is the scaling ceiling
    * it can actually reach on a single shared-bus machine; on a real
    * N->4N EXECUTOR cluster each executor brings its own memory system
    * and this ceiling does not transfer. */
  private def calibrateMemOnce(threads: Int, passes: Int): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val bufs = Array.fill(threads)(new Array[Byte](128 << 20))
    bufs.foreach(b => java.util.Arrays.fill(b, 7.toByte))
    val t0 = System.nanoTime()
    val futs = (0 until threads).map { i =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          val buf = bufs(i)
          var h = 0L
          var p = 0
          while (p < passes) {
            var off = 0
            while (off + 1024 <= buf.length) {
              h = graft.core.MurmurHash3Bubing.hash(buf, off, 1024, h)
              off += 1024
            }
            p += 1
          }
          h
        }
      })
    }
    futs.foreach(_.get())
    pool.shutdown()
    val bytes = threads.toLong * passes * (128L << 20)
    bytes / ((System.nanoTime() - t0) / 1e9)
  }

  private def calibrateMem(threads: Int): Double = {
    calibrateMemOnce(threads, 1)
    (1 to 2).map(_ => calibrateMemOnce(threads, 3)).max
  }

  /** Dependent-random-load calibration kernel, shared by two access
    * shapes that differ only in working-set size:
    *  - 128 MB/thread ([[calibrateMemRandom]]): beyond any cache at any
    *    thread count — DRAM-LATENCY-bound (independent miss chains per
    *    thread, scales ~linearly);
    *  - 48 MB/thread ([[calibrateMemCache]]): LLC-CAPACITY shape — at low
    *    thread counts the hot sets could fit the shared L3 (260 MiB on
    *    this box), at 4× the threads they evict each other.
    * Each load's address depends on the previous value (xorshift walk
    * mixed with the running sum), like a hash-table probe chain. */
  private def calibrateMemDependentOnce(threads: Int, accesses: Long,
      bufBytes: Int, seed: Long): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val words = bufBytes / 8
    val bufs = Array.fill(threads)(Array.tabulate[Long](words)(i => i * 0x9e3779b97f4a7c15L))
    val t0 = System.nanoTime()
    val futs = (0 until threads).map { i =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          val buf = bufs(i)
          var x = seed + i
          var h = 0L
          var n = 0L
          while (n < accesses) {
            x ^= x << 13; x ^= x >>> 7; x ^= x << 17
            h += buf(java.lang.Math.floorMod(x + h, words.toLong).toInt)
            n += 1
          }
          h
        }
      })
    }
    futs.foreach(_.get())
    pool.shutdown()
    threads * accesses / ((System.nanoTime() - t0) / 1e9)
  }

  private def calibrateMemRandom(threads: Int): Double = {
    calibrateMemDependentOnce(threads, 2000000L, 128 << 20, 0x12345678L)
    (1 to 2).map(_ =>
      calibrateMemDependentOnce(threads, 8000000L, 128 << 20, 0x12345678L)).max
  }

  private def calibrateMemCache(threads: Int): Double = {
    calibrateMemDependentOnce(threads, 4000000L, 48 << 20, 0x9e3779b9L)
    (1 to 2).map(_ =>
      calibrateMemDependentOnce(threads, 16000000L, 48 << 20, 0x9e3779b9L)).max
  }

  /** Time each query's full evaluation (count action). A query that THROWS
    * is recorded with its error (class: message), never as a plausible wall
    * time — a broken query must be visible in the BENCH output as an
    * error, not a fast number (BenchSpec checks the forced-failure path). */
  def timeQueries(spark: SparkSession, sfDir: String,
      qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)])
      : Seq[(String, Double, Option[String])] =
    qs.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
        }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // scale 1 = 100k seeds, ~18M URLs scheduled+deduped: rounds still big
    // enough that distributed work dominates the per-round job-latency
    // floor (burst-8-vs-32 probe, BASELINE.md), while the full symmetric
    // best-of-2 protocol (4 runs) fits the time budget even on a degraded
    // box — r4's scale=2 forced the asymmetric 1-run fallback exactly when
    // the window was worst, producing an uninterpretable headline
    val scale = sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALE", "1").toInt
    // N vs 4N parallelism pair (BASELINE two-cluster-size criterion);
    // both levels should sit inside the box's linear-scaling region —
    // `calibrate` reports what that region even allows (4->16 is this
    // box's linear pair; 8->32 saturates the hypervisor's CPU delivery,
    // see BASELINE.md §6)
    val levels = sys.env.getOrElse("SPARK_GRAFT_BENCH_LEVELS", "4,16")
      .split(",").map(_.trim.toInt)
    val (nLo, nHi) = (levels.head, levels.last)

    // ---- part 1: per-query timings (skippable for frontier-only runs) ----
    val results =
      if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY"))
        Seq.empty[(String, Double, Option[String])]
      else {
        val spark = session(cpus)
        // warm the session BEFORE the clock starts: the first action on a
        // fresh session pays scheduler/codegen/parquet-footer warmup that
        // belongs to the session, not to whichever query sorts first —
        // r1-r4 charged ~5 s of it to q1_agg (the r4 verdict read 5.71 s
        // as "warmup, not a plan problem"; now the attribution is explicit).
        // Guarded: a missing/corrupt warmup table must not abort the bench
        // (the per-query try/catch would have caught it before this line
        // existed; queries then carry their own error markers)
        try spark.read.parquet(s"$sfDir/region.parquet")
          .groupBy("r_regionkey").count().count()
        catch { case _: Exception => () }
        // crawl-engine queries are benched below as the frontier run
        val skip = Set("q_crawl_e2e", "q_store_archetypes", "q_crawl_progress",
          "q_queue_histogram", "q_media_edges", "q_graph_map", "q_speed_histogram")
        val r = timeQueries(spark, sfDir,
          SparkEntry.queries.toSeq.sortBy(_._1).filterNot(q => skip(q._1)))
        SparkEntry.cleanupTempDirs() // ANN-index / mini-crawl memo dirs
        spark.stop()
        r
      }

    // single source for the part-1 JSON fragments (used by both the
    // queries-only line and the full JSON): error strings go through a
    // FULL JSON string escape — exception messages routinely contain
    // newlines ("Job aborted...\nCaused by: ..."), which a quote-only
    // escape would splice into the line as invalid JSON
    val qs = results.collect { case (k, v, None) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val qErrs = results.collect { case (k, _, Some(e)) =>
      "\"" + k + "\":" + jsonStr(e) }.mkString("{", ",", "}")
    val totalQuerySec = results.map(_._2).sum

    // queries-only mode: iterate on the query surface without spending
    // the frontier section's sustained wide load (the hypervisor budget
    // it drains is the one the driver-of-record run needs — BASELINE.md
    // round-5 throttle notes). Emits the part-1 JSON and SKIPS BENCH.md,
    // which stays owned by full-protocol runs.
    if (sys.env.contains("SPARK_GRAFT_BENCH_QUERIES_ONLY")) {
      println(s"""{"metric":"queries_only","queries":$qs,"query_errors":$qErrs,"sf":"$sfDir","total_query_sec":${f"$totalQuerySec%.2f"}}""")
      return
    }

    // ---- part 2: frontier throughput at two parallelism levels ----
    val calibLo = calibrate(nLo)
    val calibHi = calibrate(nHi)
    val calibEff = (calibHi / calibLo) / (nHi.toDouble / nLo)
    val memLo = calibrateMem(nLo)
    val memHi = calibrateMem(nHi)
    val memEff = (memHi / memLo) / (nHi.toDouble / nLo)
    val memRndLo = calibrateMemRandom(nLo)
    val memRndHi = calibrateMemRandom(nHi)
    val memRndEff = (memRndHi / memRndLo) / (nHi.toDouble / nLo)
    val memCacheLo = calibrateMemCache(nLo)
    val memCacheHi = calibrateMemCache(nHi)
    val memCacheEff = (memCacheHi / memCacheLo) / (nHi.toDouble / nLo)
    // the hypervisor's CPU delivery fluctuates run-to-run and degrades
    // under sustained load (±30% observed, ~8× in the worst recorded
    // window — BENCH_r04). Protocol, robust to throttled windows:
    //  1. one run per level, order lo-hi;
    //  2. the symmetric second pair (hi-lo) runs as a UNIT if it fits the
    //     budget — each level then holds one early and one late slot, and
    //     the selection rule favors no level. (Running only hi2 would let
    //     a best-of-2 hi face a single-slot lo, which can inflate.)
    //  3. a level whose EVERY run is self-detected throttled (roundWalls
    //     pace test, [[isThrottled]]) has no clean measurement: re-run it
    //     once while budget remains, else the JSON carries throttled=true
    //     so the headline is labeled as a box artifact, not an engine
    //     measurement.
    // Crawl equality is asserted across all runs at both levels.
    val pairStart = System.nanoTime()
    def elapsed = (System.nanoTime() - pairStart) / 1e9
    // 750 s for the crawl section: at scale=1 the full symmetric 4-run
    // protocol measures ~550-650 s even on a partly degraded box (r5
    // local: lo 181.5 + hi 86.0 per pair), and the whole bench stays
    // under r4's 986 s total; 500 s forced the asymmetric fallback on
    // exactly the windows where symmetry mattered most
    val budget = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAIR_BUDGET_SEC", "750").toDouble
    val loRuns = scala.collection.mutable.ArrayBuffer(crawlBench(nLo, scale))
    val hiRuns = scala.collection.mutable.ArrayBuffer(crawlBench(nHi, scale))
    val symmetric = elapsed + hiRuns.head.wall + loRuns.head.wall <= budget
    if (symmetric) {
      hiRuns += crawlBench(nHi, scale)
      loRuns += crawlBench(nLo, scale)
    }
    var rescued = 0
    if (hiRuns.forall(_.throttled) && elapsed + hiRuns.map(_.wall).min <= budget) {
      hiRuns += crawlBench(nHi, scale); rescued += 1
    }
    if (loRuns.forall(_.throttled) && elapsed + loRuns.map(_.wall).min <= budget) {
      loRuns += crawlBench(nLo, scale); rescued += 1
    }
    // best CLEAN wall per level; only if a level has no clean run at all
    // does a throttled wall become the number of record (flagged below)
    def best(rs: Seq[CrawlRun]): CrawlRun = {
      val clean = rs.filterNot(_.throttled)
      (if (clean.nonEmpty) clean else rs).minBy(_.wall)
    }
    val bHi = best(hiRuns.toSeq)
    val bLo = best(loRuns.toSeq)
    val throttled = bHi.throttled || bLo.throttled
    val identical = (hiRuns ++ loRuns).forall(h =>
      bLo.chk == h.chk && bLo.traceRows == h.traceRows && bLo.processed == h.processed)
    val efficiency = (bLo.wall / bHi.wall) / (nHi.toDouble / nLo)
    // steady-state twin: round-loop walls only (seed init + final snapshot
    // excluded). At a real crawl's round counts the one-time phases
    // amortize away; under a clamped window they inflate disproportionately
    // — the split keeps the headline interpretable either way. The
    // HEADLINE stays the full-run number.
    val efficiencyRounds = (bLo.roundSum / bHi.roundSum) / (nHi.toDouble / nLo)
    val wallsJson = (lbl: String, rs: Seq[CrawlRun]) =>
      s""""$lbl":[${rs.map(r => f"${r.wall}%.1f").mkString(",")}]"""
    val flagsJson = (lbl: String, rs: Seq[CrawlRun]) =>
      s""""$lbl":[${rs.map(_.throttled).mkString(",")}]"""
    val roundWallsJson = (lbl: String, r: CrawlRun) =>
      s""""$lbl":[${r.roundWalls.map(w => f"${w._3}%.1f").mkString(",")}]"""
    val roundOccJson = (lbl: String, r: CrawlRun) =>
      s""""$lbl":[${r.roundOcc.map(o => f"$o%.2f").mkString(",")}]"""
    val selection =
      (if (symmetric) "best clean wall of 2 per level, symmetric, order lo-hi-hi-lo"
       else "1 run per level, order lo-hi (degraded: budget; late slot on hi deflates efficiency)") +
      (if (rescued > 0) s" + $rescued throttle-recovery rerun(s)" else "")

    val json =
      f"""{"metric":"frontier_urls_scheduled_deduped_per_sec","value":${bHi.rate}%.1f,"unit":"urls/sec","queries":$qs,"query_errors":$qErrs,"sf":"$sfDir","total_query_sec":$totalQuerySec%.2f,"frontier":{"levels":[$nLo,$nHi],"local${nLo}_urls_per_sec":${bLo.rate}%.1f,"local${nHi}_urls_per_sec":${bHi.rate}%.1f,"scaling_efficiency":$efficiency%.3f,"scaling_efficiency_rounds_only":$efficiencyRounds%.3f,"init_wall_lo_sec":${bLo.initWall}%.1f,"init_wall_hi_sec":${bHi.initWall}%.1f,"snapshot_wall_lo_sec":${bLo.snapWall}%.1f,"snapshot_wall_hi_sec":${bHi.snapWall}%.1f,"throttled":$throttled,"cpu_calibration_efficiency":$calibEff%.3f,"mem_calibration_efficiency":$memEff%.3f,"mem_random_calibration_efficiency":$memRndEff%.3f,"mem_llc_calibration_efficiency":$memCacheEff%.3f,"urls_processed":${bHi.processed},"urls_processed_lo":${bLo.processed},"wall_lo_sec":${bLo.wall}%.1f,"wall_hi_sec":${bHi.wall}%.1f,${wallsJson("wall_lo_runs", loRuns.toSeq)},${wallsJson("wall_hi_runs", hiRuns.toSeq)},${flagsJson("throttled_lo_runs", loRuns.toSeq)},${flagsJson("throttled_hi_runs", hiRuns.toSeq)},${roundWallsJson("round_walls_lo", bLo)},${roundWallsJson("round_walls_hi", bHi)},${roundOccJson("round_occ_lo", bLo)},${roundOccJson("round_occ_hi", bHi)},"occupancy_lo":${f"${bLo.occupancy}%.3f"},"occupancy_hi":${f"${bHi.occupancy}%.3f"},"selection":"$selection","identical_crawl":$identical}}"""
    println(json)

    val md =
      f"""# BENCH — frontier throughput (in-sandbox N vs 4N evidence)
         |
         |Protocol per BASELINE.md: identical synthetic frontier crawl
         |(sites=${benchConfig(nLo, scale).web.sites}, degree=20, maxDepth=3,
         |seeds=${benchConfig(nLo, scale).nSeeds}, burst=8, ${benchConfig(nLo, scale).maxRounds} rounds,
         |seed 42; robots/docs-store byways off — their semantics are covered
         |by the oracle-parity tests; fetch+parse renders real markup through
         |HtmlParser) executed at local[$nLo] and local[$nHi] in one JVM
         |sequence — the sandbox stand-in for N vs 4N executor clusters.
         |
         |Selection rule: $selection. A run is self-detected THROTTLED when
         |its own per-round telemetry shows a full-width round running
         |>2.5x slower per URL than the same run's BEST full-width round
         |(the BENCH_r04 failure mode: a mid-sequence hypervisor slowdown
         |ran rounds 3-4 at ~8x round 2 and produced a 4x-deflated
         |headline; the min-pace anchor also catches a clamp that begins at
         |round 2 and lifts later); the best CLEAN wall per level is
         |the number of record, a throttle-recovery rerun triggers when a
         |level has no clean run, and throttled=${throttled} below says
         |whether the recorded numbers still include a throttled level.
         |All walls: hi=[${hiRuns.map(r => f"${r.wall}%.1f").mkString(", ")}]s
         |(throttled: ${hiRuns.map(_.throttled).mkString(", ")}),
         |lo=[${loRuns.map(r => f"${r.wall}%.1f").mkString(", ")}]s
         |(throttled: ${loRuns.map(_.throttled).mkString(", ")}).
         |Selected runs' round walls: lo=[${bLo.roundWalls.map(w => f"${w._3}%.1f").mkString(", ")}]s,
         |hi=[${bHi.roundWalls.map(w => f"${w._3}%.1f").mkString(", ")}]s.
         |Per-round executor occupancy (runTime/(threads×wall), listener-
         |sampled at round boundaries, so a stage tail can smear ~ms into
         |the next round): lo=[${bLo.roundOcc.map(o => f"$o%.2f").mkString(", ")}],
         |hi=[${bHi.roundOcc.map(o => f"$o%.2f").mkString(", ")}];
         |round-loop occupancy lo=${f"${bLo.occupancy}%.2f"}, hi=${f"${bHi.occupancy}%.2f"} —
         |in-band evidence for how much of any efficiency gap is serial
         |tails vs per-thread CPU inflation (BASELINE.md floor model).
         |
         || parallelism | URLs scheduled+deduped | wall (s) | throughput (urls/sec) |
         ||---|---|---|---|
         || local[$nLo]  | ${bLo.processed} | ${bLo.wall}%.1f | ${bLo.rate}%.1f |
         || local[$nHi] | ${bHi.processed} | ${bHi.wall}%.1f | ${bHi.rate}%.1f |
         |
         |**Scaling efficiency (T$nLo/T$nHi)/($nHi/$nLo) = $efficiency%.3f** (target >= 0.8).
         |Steady-state twin (round-loop walls only; seed init
         |lo=${bLo.initWall}%.1f s / hi=${bHi.initWall}%.1f s and final snapshot
         |lo=${bLo.snapWall}%.1f s / hi=${bHi.snapWall}%.1f s excluded — one-time
         |phases that amortize away at real crawl lengths): $efficiencyRounds%.3f.
         |Machine calibration, same plain-JVM murmur hashing at $nLo vs $nHi threads:
         |  - pure-CPU (cache-resident 64B buffers): **$calibEff%.3f**
         |    ($calibLo%.0f -> $calibHi%.0f hashes/s) — the core-count ceiling;
         |  - memory-streaming (128 MB/thread buffers, beyond LLC): **$memEff%.3f**
         |    (${memLo / 1e9}%.1f -> ${memHi / 1e9}%.1f GB/s) — the shared-bus STREAMING ceiling;
         |  - memory RANDOM-ACCESS, no reuse (dependent loads, 128 MB/thread): **$memRndEff%.3f**
         |    (${memRndLo / 1e6}%.1f -> ${memRndHi / 1e6}%.1f Maccess/s) — DRAM-latency-bound,
         |    scales almost linearly (independent miss chains);
         |  - LLC-CAPACITY (dependent loads over a 48 MB/thread hot set WITH
         |    reuse): **$memCacheEff%.3f** (${memCacheLo / 1e6}%.1f -> ${memCacheHi / 1e6}%.1f Maccess/s) —
         |    at $nLo threads the hot sets fit the shared 260 MiB L3, at $nHi they
         |    evict each other; this is the access shape of the engine's hash
         |    tables and cache scans, and the mechanism behind the measured
         |    CPU-per-URL inflation of the identical crawl at $nHi threads.
         |The frontier's work is memory-shaped (parse + materialize + cache
         |scans, tens of GB per run; executor CPU-time for the IDENTICAL
         |crawl inflates with thread count from bus contention), so the
         |memory-streaming number is the ceiling this single-bus box
         |permits; a real N->4N EXECUTOR scale-up adds a memory system per
         |executor and does not share this ceiling.
         |Crawl equality across parallelism: identical_crawl=$identical
         |(order-independent xxhash64 trace checksum + row counts).
         |
         |Per-query wall times (sf=$sfDir, local[$cpus]): see BENCH JSON line.
         |(The session is warmed by one trivial aggregation before the
         |per-query clock starts, so the alphabetically-first query no
         |longer absorbs ~5 s of scheduler/codegen warmup as in r1-r4.)
         |""".stripMargin
    Files.writeString(java.nio.file.Paths.get("BENCH.md"), md)
  }
}
