package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.frontier.{CrawlConfig, Crawler}
import graft.synth.SyntheticWeb

/** The crawl shape, a pure function of the workload seed, which becomes
  * `SyntheticWeb.Config.seed`. Nothing in it depends on the thread count, so
  * a crawl is the same at local[1] and at local[4]. */
object Shapes {

  /** Saturation shape of `graft.Bench`, scaled down: fetch+parse and the
    * sieve do the work, nothing is written per round. */
  def wide(seed: Long): CrawlConfig = CrawlConfig(
    web = SyntheticWeb.Config(sites = 20000, degree = 20, maxDepth = 3, seed = seed),
    nSeeds = 400,
    hostDelay = 1, ipDelay = 1, burst = 8,
    maxRounds = 4,
    robotsEnabled = false,
    storeDocs = false,
    checkpointEvery = 99, // one snapshot, at the end
    statePartitions = 4)
}

/** One finished `Crawler.run()`. `urls` is Σfetched + Σdedup_in from
  * `Crawler.metrics()`, the numerator of the frontier throughput. */
final case class CrawlRun(crawler: Crawler, work: Path, wall: Double, urls: Long,
    dedupIn: Long, dedupOut: Long, roundWalls: Seq[Double], digest: CrawlDigest)

object Crawls {

  /** Runs the crawler on `work` (fresh or finished) and fingerprints the
    * result. Only `run()` is inside `wall`. */
  def run(spark: SparkSession, work: Path, cfg: CrawlConfig, tracer: Tracer,
      spanName: String): CrawlRun = {
    val crawler = new Crawler(spark, work.toString, cfg)
    val firstNew = crawler.lastCompleteRound() + 1
    val t0 = System.nanoTime()
    tracer.span(spanName)(crawler.run())
    val wall = (System.nanoTime() - t0) / 1e9
    val m = crawler.metrics().where(col("round") >= firstNew)
      .agg(sum("fetched"), sum("dedup_in"), sum("dedup_out")).collect()(0)
    def long(i: Int) = if (m.isNullAt(i)) 0L else m.getLong(i)
    CrawlRun(crawler, work, wall, long(0) + long(1), long(1), long(2),
      crawler.roundWalls.map(_._3).toSeq, Checks.crawlDigest(crawler))
  }
}

/** The query surface: every leaf of `graft.SparkEntry.queries` in the
  * catalogue, in an order set by the seed. */
object Queries {

  def order(seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(Catalog.Leaves.map(_._1))

  /** Runs one leaf to completion: its full result is consumed by the
    * canonical hash, which is also its output check. */
  def runLeaf(spark: SparkSession, dataDir: String, leaf: String): String = {
    val fn = graft.SparkEntry.queries.getOrElse(leaf,
      throw new NoSuchElementException(s"SparkEntry has no query $leaf"))
    Checks.resultHash(fn(spark, dataDir))
  }
}
