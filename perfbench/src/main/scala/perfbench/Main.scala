package perfbench

import java.nio.file.Paths

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark JVM. `run.py` builds and launches it; it can also be started
  * by hand with the options and classpath that `sbt writeLaunch` records:
  *
  * {{{
  *   java <options> -cp <classpath> perfbench.Main --mode run \
  *     --workload crawl_wide --seed 1 --seconds 10 --trace 0 \
  *     --root <scratch dir> --data perfbench/data/sf0.01 --goldens perfbench/goldens
  * }}}
  *
  * Modes: `run` (one measured run; the line starting with
  * `PERFBENCH_RESULT` holds the result) and `goldens` (crawl digests at
  * local[1] and at local[4], which must agree, and query leaf hashes,
  * printed as golden-file lines). */
object Main {

  /** Spark's local parallelism: every workload runs at local[4]. */
  val Threads = 4

  final case class Opts(
      mode: String = "run",
      workload: String = "crawl_wide",
      seed: Long = 1L,
      seconds: Int = 10,
      trace: Boolean = false,
      root: String = "",
      data: String = "",
      goldens: String = "",
      spans: String = "",
      launchMs: Long = 0L,
      seeds: Seq[Long] = Nil)

  def parse(args: Seq[String]): Opts = args match {
    case Seq() => Opts()
    case Seq(flag, v, rest @ _*) =>
      val o = parse(rest)
      flag match {
        case "--mode" => o.copy(mode = v)
        case "--workload" => o.copy(workload = v)
        case "--seed" => o.copy(seed = v.toLong)
        case "--seconds" => o.copy(seconds = v.toInt)
        case "--trace" => o.copy(trace = v == "1")
        case "--root" => o.copy(root = v)
        case "--data" => o.copy(data = v)
        case "--goldens" => o.copy(goldens = v)
        case "--spans" => o.copy(spans = v)
        case "--launch-ms" => o.copy(launchMs = v.toLong)
        case "--seeds" => o.copy(seeds = v.split(",").toSeq.map(_.trim.toLong))
        case other => throw new IllegalArgumentException(s"unknown option $other")
      }
    case Seq(flag) => throw new IllegalArgumentException(s"option $flag needs a value")
  }

  /** A local[threads] session, set up as every run sets it up: built, then
    * warmed by one small parquet scan and aggregation (as `graft.Bench`
    * does), so that the scheduler, codegen and parquet warm-up of a fresh
    * session is counted in set-up time and not in the first operation. */
  def session(threads: Int, scratch: Scratch, data: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.local.dir", scratch.root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.root.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.locality.wait", "0")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.read.parquet(s"$data/region.parquet").groupBy("r_regionkey").count().collect()
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    require(o.root.nonEmpty, "--root is required")
    val scratch = new Scratch(Paths.get(o.root))
    Runtime.getRuntime.addShutdownHook(new Thread(() => graft.SparkEntry.cleanupTempDirs()))
    try o.mode match {
      case "run" => println("PERFBENCH_RESULT " + run(o, scratch))
      case "goldens" => goldens(o, scratch)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    } finally {
      graft.SparkEntry.cleanupTempDirs()
      SparkSession.getActiveSession.foreach(_.stop())
      scratch.close()
    }
  }

  private def setupSeconds(o: Opts): Double =
    (System.currentTimeMillis() - o.launchMs) / 1000.0

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** The result object: every wanted metric in catalogue order. */
  def result(ops: Ops, wanted: Seq[(String, String)], measured: Map[String, Double]): String = {
    val missing = wanted.map(_._1).filterNot(measured.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    Json.obj(
      "correct" -> (ops.failed == 0 && ops.attempted > 0),
      "attempted" -> ops.attempted,
      "failed" -> ops.failed,
      "metrics" -> ListMap(wanted.map { case (name, unit) =>
        name -> ListMap("value" -> measured(name), "unit" -> unit)
      }: _*))
  }

  /** One measured run; returns the result object as JSON. */
  def run(o: Opts, scratch: Scratch): String = {
    require(Catalog.Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    val spark = session(Threads, scratch, o.data)
    val setup = setupSeconds(o)
    println(Calibration.summary(Threads))
    val goldens = if (o.goldens.isEmpty) Goldens.empty else Goldens.load(Paths.get(o.goldens))
    val ops = new Ops(println)
    val bench = new WorkloadRun(spark, o, scratch, goldens, ops)
    val measured =
      if (!o.trace) bench.endToEnd() ++ Seq("setup_s" -> setup, "peak_rss_mb" -> peakRssMb())
      else {
        val layers = bench.traced()
        val t0 = System.nanoTime()
        val kernels = Kernels.all(spark, o.seed)
        println(f"traced: kernels took ${(System.nanoTime() - t0) / 1e9}%.1f s")
        val names = (layers ++ kernels).map(_._1).toSet
        val na = Catalog.PerLayer.map(_._1).filterNot(names)
        println(s"n/a on ${o.workload} (reported as 0): ${na.mkString(" ")}")
        layers ++ kernels ++ na.map(_ -> 0.0)
      }
    val failedRatio = if (ops.attempted == 0) 1.0 else ops.failed.toDouble / ops.attempted
    println(f"ops: attempted=${ops.attempted} failed=${ops.failed} failed_ops_ratio=$failedRatio%.4f")
    result(ops, if (o.trace) Catalog.PerLayer else Catalog.EndToEnd, measured.toMap)
  }

  /** Prints golden-file lines: for crawl_wide, the crawl digest of each
    * seed at local[1] and at local[4] (exit 1 if they disagree or a crawl
    * breaks an invariant); for query_surface, each leaf's result hash at
    * local[4]. */
  def goldens(o: Opts, scratch: Scratch): Unit = {
    val seeds = if (o.seeds.nonEmpty) o.seeds else Seq(o.seed)
    if (o.workload == "query_surface") {
      val spark = session(Threads, scratch, o.data)
      Catalog.Leaves.foreach { case (leaf, _) =>
        println(s"$leaf\t${Queries.runLeaf(spark, o.data, leaf)}")
      }
    } else {
      val byLevel = Seq(1, Threads).map { threads =>
        val spark = session(threads, scratch, o.data)
        val lines = seeds.map { seed =>
          val work = scratch.newDir("golden")
          val cfg = Shapes.wide(seed)
          val crawl = Crawls.run(spark, work, cfg, new Tracer(false), "crawl")
          Checks.crawlInvariants(crawl.crawler, cfg, crawl.urls - crawl.dedupIn, crawl.digest)
            .foreach(why => sys.error(s"seed $seed at local[$threads]: $why"))
          Scratch.delete(work)
          s"$seed\t${crawl.digest}"
        }
        spark.stop()
        lines
      }
      byLevel(0).foreach(println)
      if (byLevel(0) != byLevel(1)) {
        System.err.println(s"local[1] and local[$Threads] disagree:\n${byLevel(1).mkString("\n")}")
        sys.exit(1)
      }
    }
  }
}

/** One measured unit of work: `items` done (URLs or leaves), its wall, and
  * the geometric mean of its steps' (rounds' or leaves') walls. */
final case class Sample(items: Double, wall: Double, stepGeomean: Double)

/** The closed loop of one workload: one client, the next operation starts
  * when the previous one has returned, until `--seconds` have passed (at
  * least one operation always runs). */
final class WorkloadRun(spark: SparkSession, o: Main.Opts, scratch: Scratch, goldens: Goldens, ops: Ops) {
  import Main.{geomean, median}

  private val isCrawl = o.workload == "crawl_wide"
  private val deadline = System.nanoTime() + o.seconds * 1000000000L
  private def timeLeft: Boolean = System.nanoTime() < deadline
  private val off = new Tracer(false)

  // ---- crawl_wide ---------------------------------------------------------

  private val cfg = Shapes.wide(o.seed)
  private var lastCrawl: Option[CrawlRun] = None

  /** The invariants every crawl must keep, then the seed's golden digest. A
    * seed without a golden says so and prints its digest, to be set
    * against the same seed's digest on another commit. */
  private def checkCrawl(r: CrawlRun): Option[String] =
    Checks.crawlInvariants(r.crawler, cfg, r.urls - r.dedupIn, r.digest).orElse {
      if (!goldens.crawl.contains(o.seed))
        println(s"golden: none for ${o.workload} seed ${o.seed}, invariants only; crawl digest ${r.digest}")
      goldens.checkCrawl(o.seed, r.digest)
    }

  /** A fresh crawl in its own work dir; the last one is kept for the traced
    * measurements. */
  private def crawlOp(tracer: Tracer): Option[Sample] = {
    dropLastCrawl()
    val work = scratch.newDir("crawl")
    lastCrawl = ops.run("crawl")(tracer.span("op")(
      Crawls.run(spark, work, cfg, tracer, "Crawler.run")))(checkCrawl)
    lastCrawl.map(c => Sample(c.urls.toDouble, c.wall, geomean(c.roundWalls)))
  }

  private def dropLastCrawl(): Unit = {
    lastCrawl.foreach(c => Scratch.delete(c.work))
    lastCrawl = None
  }

  // ---- query_surface ------------------------------------------------------

  private val leafOrder = Queries.order(o.seed)
  private var lastLeafWalls: Map[String, Double] = Map.empty

  /** (result hash, wall) of one leaf. */
  private def timedLeaf(tracer: Tracer, leaf: String): (String, Double) = {
    val t0 = System.nanoTime()
    val hash = tracer.span(leaf)(Queries.runLeaf(spark, o.data, leaf))
    (hash, (System.nanoTime() - t0) / 1e9)
  }

  /** Every leaf once, after dropping SparkEntry's memoized index builds so
    * that each pass pays for them. A pass with a failed leaf yields no
    * sample. */
  private def queryOp(tracer: Tracer): Option[Sample] = tracer.span("op") {
    graft.SparkEntry.cleanupTempDirs()
    val done = leafOrder.flatMap { leaf =>
      ops.run(leaf)(timedLeaf(tracer, leaf)) { case (hash, _) =>
        if (!goldens.leaves.contains(leaf)) println(s"golden: none for $leaf; result hash $hash")
        goldens.checkLeaf(leaf, hash)
      }.map { case (_, wall) => leaf -> wall }
    }
    lastLeafWalls = done.toMap
    println("leaf walls: " + done.sortBy(-_._2).map { case (l, w) => f"$l=$w%.2f" }.mkString(" "))
    if (done.size < leafOrder.size) None
    else Some(Sample(done.size, done.map(_._2).sum, geomean(done.map(_._2))))
  }

  private def op(tracer: Tracer): Option[Sample] =
    if (isCrawl) crawlOp(tracer) else queryOp(tracer)

  // ---- end-to-end ---------------------------------------------------------

  def endToEnd(): Seq[(String, Double)] = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    do op(off).foreach(samples += _) while (timeLeft)
    dropLastCrawl()
    val what = if (isCrawl) "URLs" else "leaves"
    samples.foreach(s => println(f"sample: wall ${s.wall}%.2f s, ${s.items / s.wall}%.2f $what/s"))
    Seq(
      "op_wall_s" -> median(samples.map(_.wall).toSeq),
      "step_geomean_s" -> median(samples.map(_.stepGeomean).toSeq))
  }

  // ---- traced run ---------------------------------------------------------

  /** The same closed loop as [[endToEnd]] with every operation traced: spans
    * in memory, Spark jobs from the listener. Per-layer metrics come from
    * the last operation. */
  def traced(): Seq[(String, Double)] = {
    val sc = spark.sparkContext
    val tracer = new Tracer(true)
    val listener = new JobListener
    sc.addSparkListener(listener)
    CodeGenerator.resetCompileTime()
    val samples = mutable.ArrayBuffer.empty[Sample]
    do op(tracer).foreach(samples += _) while (timeLeft)
    val compileMs = CodeGenerator.compileTime / 1e6
    Tracer.drain(sc)
    val opsMs = tracer.spans.filter(_.name == "op").map(s => s.end - s.start).sum
    val overheadPct = 100 * listener.busyNs / 1e6 / opsMs
    println(f"tracing overhead: the listener was busy ${listener.busyNs / 1e6}%.1f ms, " +
      f"$overheadPct%.3f%% of the traced operations' ${opsMs / 1000.0}%.1f s; traced " +
      (if (isCrawl) f"crawl URLs/s ${median(samples.map(s => s.items / s.wall).toSeq)}%.1f" +
        " (compare the sample lines of the end-to-end runs)"
      else f"query total ${median(samples.map(_.wall).toSeq)}%.2f s (compare op_wall_s of the end-to-end runs)"))

    val layer = if (isCrawl) crawlLayers(tracer, listener) else queryLayers()
    Tracer.drain(sc)
    sc.removeSparkListener(listener)
    dropLastCrawl()

    if (o.spans.nonEmpty) {
      val path = Paths.get(o.spans)
      Tracer.writeJsonLines(path, tracer.spans, listener.jobsBetween(0L, Long.MaxValue))
      println(s"spans: ${tracer.spans.size} benchmark spans and their jobs written to $path")
    }

    val opSpan = tracer.last("op").get
    val jobs = listener.jobsBetween(opSpan.start, opSpan.end)
    val mb = 1024.0 * 1024.0
    val runtime = Seq(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.executor_run_s" -> jobs.map(_.runMs).sum / 1000.0,
      "spark.executor_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1000.0,
      "spark.shuffle_write_mb" -> jobs.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> jobs.map(_.shuffleRead).sum / mb,
      "spark.spill_mb" -> jobs.map(_.spill).sum / mb,
      "spark.input_mb" -> jobs.map(_.input).sum / mb,
      "spark.output_mb" -> jobs.map(_.output).sum / mb,
      "spark.codegen_compile_ms" -> compileMs,
      "trace.overhead_pct" -> overheadPct)
    runtime ++ layer
  }

  private def crawlLayers(tracer: Tracer, listener: JobListener): Seq[(String, Double)] = {
    val c = lastCrawl.get
    val span = tracer.last("Crawler.run").get
    val jobs = listener.jobsBetween(span.start, span.end)
    val roundsS = c.roundWalls.sum
    val roundsFrom = span.start + (c.crawler.initWall * 1000).toLong
    val roundsTo = span.end - (c.crawler.snapshotWall * 1000).toLong
    val roundRunS = listener.jobsBetween(roundsFrom, roundsTo).map(_.runMs).sum / 1000.0
    val covered = Tracer.covered(jobs.map(j => (j.start, j.end)), span.start, span.end)
    val frontier = c.crawler.frontierState()
    val pending = frontier.count()
    val pendingHosts = frontier.select("hostHash").distinct().count()
    val stateBytes = Scratch.bytesUnder(c.work).toDouble
    val sieveMs = Kernels.sieveNewUrlsMs(spark, c, cfg)
    // restore from the final snapshot, one more round, its snapshot
    val resume = Crawls.run(spark, c.work, cfg.copy(maxRounds = cfg.maxRounds + 1), tracer, "resume")
    Seq(
      "crawler.init_s" -> c.crawler.initWall,
      "crawler.rounds_s" -> roundsS,
      "crawler.snapshot_s" -> c.crawler.snapshotWall,
      "crawler.driver_self_s" -> (span.end - span.start - covered) / 1000.0,
      "crawler.jobs" -> jobs.size.toDouble,
      "crawler.occupancy" -> roundRunS / (Main.Threads * roundsS),
      "crawler.resume_s" -> resume.wall,
      "crawler.urls_per_s" -> c.urls / c.wall,
      "frontier.pending_rows" -> pending.toDouble,
      "frontier.pending_per_host" -> (if (pendingHosts == 0) 0.0 else pending.toDouble / pendingHosts),
      "frontier.hosts" -> c.crawler.hostsState().count().toDouble,
      "frontier.state_bytes_per_url" -> stateBytes / c.digest.seen,
      "sieve.busy_s" -> jobs.filter(_.frame.startsWith("graft.frontier.Sieve")).map(_.runMs).sum / 1000.0,
      "sieve.novel_ratio" -> (if (c.dedupIn == 0) 0.0 else c.dedupOut.toDouble / c.dedupIn),
      "sieve.new_urls_ms" -> sieveMs)
  }

  private def queryLayers(): Seq[(String, Double)] = {
    val walls = lastLeafWalls
    val modules = Catalog.Modules.map { m =>
      s"query.$m.module_s" -> Catalog.Leaves.filter(_._2 == m).flatMap(l => walls.get(l._1)).sum
    }
    Seq("query.total_s" -> walls.values.sum, "query.geomean_s" -> geomean(walls.values.toSeq)) ++
      modules ++ walls.map { case (leaf, w) => s"query.$leaf.leaf_s" -> w }
  }
}
