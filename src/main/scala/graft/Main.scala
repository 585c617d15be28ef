package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.frontier.{CrawlConfig, Crawler}
import graft.synth.SyntheticWeb

/** spark-submit entry point (SURVEY.md §7.1):
  * {{{
  *   graft.Main crawl  --workDir DIR [--sites N] [--degree N] [--maxDepth N]
  *                     [--seeds N] [--rounds N] [--burst N] [--budget N]
  *                     [--hostDelay N] [--ipDelay N]
  *   graft.Main trace  --workDir DIR            # print the crawl trace
  *   graft.Main metrics --workDir DIR           # print per-round metrics
  *   graft.Main explain <query> --data DIR      # formatted physical plan of
  *                                              # one SparkEntry.queries leaf
  * }}}
  * On a cluster, drop the `--master` default by submitting with
  * spark-submit; locally it runs on local[*].
  */
object Main {

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
          m(a.drop(2)) = args(i + 1); i += 2
        } else { m(a.drop(2)) = "true"; i += 1 }
      } else i += 1
    }
    m.toMap
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Main <crawl|trace|metrics> --workDir DIR [options]\n" +
        "       graft.Main explain <query> --data DIR")
      sys.exit(2)
    }
    val cmd = args(0)
    val opts = parseArgs(args.drop(1))
    val dirKey = if (cmd == "explain") "data" else "workDir"
    val dir = opts.getOrElse(dirKey, {
      System.err.println(s"error: $cmd requires --$dirKey DIR")
      sys.exit(2); ""
    })

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-" + cmd)
      .config("spark.sql.shuffle.partitions",
        opts.getOrElse("shufflePartitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    try {
      val cfg = CrawlConfig(
        web = SyntheticWeb.Config(
          sites = opts.getOrElse("sites", "1000").toInt,
          degree = opts.getOrElse("degree", "8").toInt,
          maxDepth = opts.getOrElse("maxDepth", "3").toInt,
          seed = opts.getOrElse("seed", "42").toLong),
        nSeeds = opts.getOrElse("seeds", "16").toInt,
        hostDelay = opts.getOrElse("hostDelay", "2").toLong,
        ipDelay = opts.getOrElse("ipDelay", "1").toLong,
        burst = opts.getOrElse("burst", "2").toInt,
        maxUrlsPerHost = opts.getOrElse("budget", Long.MaxValue.toString).toLong,
        maxRounds = opts.getOrElse("rounds", "8").toInt,
        statePartitions = opts.getOrElse("statePartitions",
          spark.sparkContext.defaultParallelism.toString).toInt)

      cmd match {
        case "crawl" =>
          val crawler = new Crawler(spark, dir, cfg)
          val resumedFrom = crawler.lastCompleteRound()
          val t0 = System.nanoTime()
          val rounds = crawler.run()
          val secs = (System.nanoTime() - t0) / 1e9
          val fetched = crawler.trace().count()
          val seen = crawler.seenHashes().count()
          println(f"crawl: rounds=$rounds (resumed from $resumedFrom) fetched=$fetched " +
            f"seen=$seen wall=${secs}%.1fs urls/sec=${(fetched + seen) / secs}%.0f")
        case "trace" =>
          new Crawler(spark, dir, cfg).trace().show(100, truncate = false)
        case "metrics" =>
          new Crawler(spark, dir, cfg).metrics().orderBy("round", "partition_id")
            .show(100, truncate = false)
        case "explain" =>
          val query = args.lift(1).flatMap(SparkEntry.queries.get).getOrElse {
            System.err.println("error: explain requires one of: " +
              SparkEntry.queries.keys.toSeq.sorted.mkString(" "))
            sys.exit(2)
          }
          try println(query(spark, dir).queryExecution.explainString(FormattedMode))
          finally SparkEntry.cleanupTempDirs()
        case other =>
          System.err.println(s"unknown command: $other"); sys.exit(2)
      }
    } finally spark.stop()
  }
}
