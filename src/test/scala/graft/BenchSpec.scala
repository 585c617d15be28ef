package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's own correctness: query failures must surface as
  * error markers (never as plausible wall times), and the throttle
  * detector must flag the recorded BENCH_r04 failure shape while passing
  * healthy round-wall profiles. */
class BenchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("timeQueries records a thrown query as an error marker, not a wall time") {
    val qs = Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "q_ok" -> ((s, _) => s.range(10).toDF("n")),
      "q_boom" -> ((_, _) => throw new IllegalStateException("forced failure")),
      // lazy failure: the plan only explodes at evaluation time (ANSI
      // divide-by-zero inside a filter, so count() cannot prune it) — the
      // action inside timeQueries must still catch it
      "q_lazy_boom" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        s.range(3).toDF("n").where(col("n") / (col("n") - col("n")) > 0)
      }))
    val r = Bench.timeQueries(spark, "/nonexistent", qs).map(t => t._1 -> t._3).toMap
    assert(r("q_ok").isEmpty)
    assert(r("q_boom").exists(_.contains("IllegalStateException")))
    assert(r("q_lazy_boom").isDefined)
  }

  test("per-round occupancy: runTime/(threads×wall), init/snapshot excluded") {
    val r = Bench.CrawlRun(rate = 1.0, processed = 10L, wall = 30.0, chk = "x",
      traceRows = 1L,
      roundWalls = Seq((1, 5L, 10.0), (2, 5L, 10.0)),
      roundRunMs = Seq(40000L, 80000L), threads = 8,
      throttled = false, initWall = 5.0, snapWall = 5.0)
    assert(math.abs(r.roundOcc.head - 0.5) < 1e-9) // 40 s over 8×10 s
    assert(math.abs(r.roundOcc(1) - 1.0) < 1e-9)
    // whole loop: 120 s runTime over 8 threads × 20 s round walls — the
    // 10 s of init+snapshot must NOT dilute the denominator
    assert(math.abs(r.occupancy - 0.75) < 1e-9)
    val empty = r.copy(roundWalls = Nil, roundRunMs = Nil)
    assert(empty.occupancy == 0.0 && empty.roundOcc.isEmpty)
  }

  test("roundCounter wiring fills per-round executorRunTime on a real crawl") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bench-occ").toString
    val cfg = graft.frontier.CrawlConfig(
      web = graft.synth.SyntheticWeb.Config(sites = 30, degree = 4, maxDepth = 2, seed = 42L),
      nSeeds = 4, hostDelay = 2, ipDelay = 1, burst = 2,
      maxUrlsPerHost = 12, maxRounds = 4, statePartitions = 4)
    val crawler = new graft.frontier.Crawler(spark, dir, cfg)
    val ml = new Bench.RunTimeListener
    spark.sparkContext.addSparkListener(ml)
    crawler.roundCounter = () => ml.runTime
    val rounds = crawler.run()
    spark.sparkContext.removeSparkListener(ml)
    assert(crawler.roundRunMs.size == rounds)
    assert(crawler.roundRunMs.size == crawler.roundWalls.size)
    // every round runs Spark jobs, so each delta must be positive
    // (modulo listener-bus smear, the SUM certainly is)
    assert(crawler.roundRunMs.sum > 0)
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("isThrottled flags the BENCH_r04 window and passes healthy profiles") {
    // the recorded throttle window: rounds 3-4 at ~8x round-2 pace
    val r04hi = Seq((1, 181943L, 14.3), (2, 1223077L, 30.9),
      (3, 1356671L, 263.6), (4, 1496552L, 260.0))
    assert(Bench.isThrottled(r04hi))
    // a healthy run: later rounds within ~1.4x of round-2 per-URL pace
    val healthy = Seq((1, 181943L, 6.1), (2, 1223077L, 28.4),
      (3, 1356671L, 41.2), (4, 1496552L, 43.9))
    assert(!Bench.isThrottled(healthy))
    // a clamp that begins AT round 2 and lifts later: the min-pace anchor
    // flags it (the old round-2 anchor was blind — later rounds looked
    // FASTER than the clamped reference)
    val clampedR2 = Seq((1, 181943L, 14.3), (2, 1223077L, 240.0),
      (3, 1356671L, 41.0), (4, 1496552L, 45.0))
    assert(Bench.isThrottled(clampedR2))
    // degenerate telemetry never flags
    assert(!Bench.isThrottled(Nil))
    assert(!Bench.isThrottled(Seq((1, 100L, 5.0))))
    assert(!Bench.isThrottled(Seq((1, 0L, 5.0), (2, 0L, 5.0))))
  }

  test("jsonStr escapes control chars so multi-line errors stay valid JSON") {
    assert(Bench.jsonStr("Job aborted\nCaused by: \"x\"\t\\") ==
      "\"Job aborted\\nCaused by: \\\"x\\\"\\t\\\\\"")
    assert(Bench.jsonStr("bell" + 7.toChar) == "\"bell\\u0007\"")
  }
}
