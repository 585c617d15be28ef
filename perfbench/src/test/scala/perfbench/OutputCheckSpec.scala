package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.frontier.CrawlConfig

class OutputCheckSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val scratch = new Scratch(Files.createTempDirectory("perfbench-spec"))
  private lazy val spark = Main.session(2, scratch, "data/sf0.01")

  override def afterAll(): Unit = {
    spark.stop()
    scratch.close()
  }

  /** crawl_wide's shape, cut to a few seconds of work. */
  private def smallCrawl(seed: Long): CrawlDigest = {
    val cfg = Shapes.wide(seed).copy(nSeeds = 10, maxRounds = 2)
    val work = scratch.newDir("spec")
    try Crawls.run(spark, work, cfg, new Tracer(false), "crawl").digest
    finally Scratch.delete(work)
  }

  test("a leaf that throws is a failed operation and yields no time") {
    val ops = new Ops(_ => ())
    val r = ops.run("q_missing")(Queries.runLeaf(spark, "unused", "q_missing"))(_ => None)
    assert(r.isEmpty)
    assert(ops.attempted == 1 && ops.failed == 1)
  }

  test("a crawl whose checksum differs from its golden is a failed operation") {
    val got = smallCrawl(3)
    val wrong = got.copy(checksum = got.checksum + "1")
    val goldens = new Goldens(Map(3L -> wrong.toString), Map.empty)
    val ops = new Ops(_ => ())
    val r = ops.run("crawl")(got)(d => goldens.checkCrawl(3L, d))
    assert(r.isEmpty)
    assert(ops.attempted == 1 && ops.failed == 1)
    val right = new Goldens(Map(3L -> got.toString), Map.empty)
    assert(ops.run("crawl")(got)(d => right.checkCrawl(3L, d)).nonEmpty)
    assert(ops.attempted == 2 && ops.failed == 1)
  }

  test("a crawl that breaks an invariant fails its check, golden or not") {
    val cfg = Shapes.wide(4).copy(nSeeds = 10, maxRounds = 2)
    val work = scratch.newDir("spec")
    try {
      val r = Crawls.run(spark, work, cfg, new Tracer(false), "crawl")
      val fetched = r.urls - r.dedupIn
      def check(c: CrawlConfig, f: Long, d: CrawlDigest) = Checks.crawlInvariants(r.crawler, c, f, d)
      assert(check(cfg, fetched, r.digest).isEmpty)
      assert(check(cfg, fetched + 1, r.digest).nonEmpty)
      assert(check(cfg.copy(burst = 1), fetched, r.digest).nonEmpty)
      assert(check(cfg, fetched, r.digest.copy(seen = 0)).nonEmpty)
    } finally Scratch.delete(work)
  }

  test("a different seed changes the crawl checksum") {
    val a = smallCrawl(1)
    val b = smallCrawl(2)
    assert(a.checksum != b.checksum)
    assert(a == smallCrawl(1))
  }

  test("a different seed changes the order of the leaves, not the set") {
    val a = Queries.order(1)
    val b = Queries.order(2)
    assert(a != b)
    assert(a.sorted == b.sorted)
    assert(a.toSet == Catalog.Leaves.map(_._1).toSet)
    assert(a == Queries.order(1))
  }

  test("the canonical result hash ignores row and column order") {
    import spark.implicits._
    val df = Seq((1, "a", 2.5), (2, "b", -1.0), (2, "b", -1.0)).toDF("x", "y", "z")
    val shuffled = df.select("z", "x", "y").orderBy($"x".desc)
    assert(Checks.resultHash(df) == Checks.resultHash(shuffled))
    assert(Checks.resultHash(df) != Checks.resultHash(df.limit(2)))
    assert(Checks.resultHash(df) != Checks.resultHash(df.withColumnRenamed("y", "w")))
  }
}
