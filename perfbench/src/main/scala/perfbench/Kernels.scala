package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Burl, DuplicateSegments, MurmurHash3Bubing, Robots}
import graft.frontier.{CrawlConfig, Sieve}
import graft.functions._
import graft.model.Span
import graft.parse.HtmlParser
import graft.synth.SyntheticWeb

/** Hot-expression and single-thread kernel timings over inputs drawn from
  * the seed's synthetic web (the crawl_wide web). */
object Kernels {

  final case class Page(url: String, host: String, pathQuery: String, urlHash: Long,
      hostHash: Long, seq: Long, prefixes: Seq[String], status: Int, spans: Seq[Span])

  /** The first `n` distinct URLs reached breadth-first from the web's seed
    * roots, as raw link specs. */
  def urls(web: SyntheticWeb.Config, n: Int): Array[String] = {
    val seen = new java.util.LinkedHashSet[String]()
    val queue = scala.collection.mutable.Queue.empty[String]
    var i = 0
    while (seen.size < n && (queue.nonEmpty || i < web.sites)) {
      val u = if (queue.nonEmpty) queue.dequeue() else { i += 1; SyntheticWeb.seedUrl(i - 1, web) }
      if (seen.size < n && seen.add(u)) SyntheticWeb.successors(u, web).foreach(queue.enqueue(_))
    }
    seen.toArray(new Array[String](0))
  }

  private def noopSeconds(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** ns per row of `expr` beyond `bare` over the same cached rows; both run
    * as one task. Median of interleaved repetitions after one warm-up. */
  private def nsPerRow(rows: Long, bare: DataFrame, expr: DataFrame): Double = {
    noopSeconds(bare); noopSeconds(expr)
    val diffs = (1 to 3).map(_ => noopSeconds(expr) - noopSeconds(bare))
    Main.median(diffs) * 1e9 / rows
  }

  /** Expression timings at one task (the local[1] view) with a noop sink,
    * over 500k rows (40k for the span digest). */
  def functions(spark: SparkSession, web: SyntheticWeb.Config): Seq[(String, Double)] = {
    import spark.implicits._
    val raw = urls(web, 100000)
    val small = 10000
    val pages = raw.iterator.zipWithIndex.flatMap { case (spec, i) =>
      Option(Burl.parse(spec)).map { u =>
        val host = Burl.host(u)
        Page(u, host, Burl.pathAndQuery(u), MurmurHash3Bubing.hashString(u),
          MurmurHash3Bubing.hashString(Burl.schemeAndAuthority(u)), i.toLong,
          SyntheticWeb.robotsPrefixes(host, web), SyntheticWeb.status(u, web),
          if (i < small) SyntheticWeb.pageSpans(u, web) else Nil)
      }
    }.toSeq
    // each page repeated so that one pass outweighs the jitter of a job
    def copies(d: DataFrame, k: Int) =
      d.withColumn("copy", explode(sequence(lit(1), lit(k)))).drop("copy").coalesce(1).cache()
    val base = spark.createDataset(pages).toDF()
    val df = copies(base, 5)
    val n = df.count()
    val withSpans = copies(base.where(col("seq") < small), 4)
    val nSpans = withSpans.count()
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(n, 0.01)
    pages.iterator.filter(_.seq % 2 == 0).foreach(p => bloom.putLong(p.urlHash))
    val bank = Seq(spark.sparkContext.broadcast(bloom))
    val count1 = count(lit(1))
    try Seq(
      "fn.burl_parse_ns" -> nsPerRow(n, df.select($"url"), df.select(burl_parse($"url"))),
      "fn.murmur64_ns" -> nsPerRow(n, df.select($"url"), df.select(murmur64($"url"))),
      "fn.topk_heads_ns" -> nsPerRow(n, df.groupBy($"hostHash").agg(count1),
        df.groupBy($"hostHash").agg(topk_heads($"seq", $"url", $"urlHash", 16))),
      "fn.bloom_agg_ns" -> nsPerRow(n, df.agg(count1), df.agg(bloom_agg($"urlHash", n, 0.01))),
      "fn.might_contain_bank_ns" -> nsPerRow(n, df.select($"urlHash"),
        df.select(might_contain_bank($"urlHash", bank))),
      "fn.respects_robots_ns" -> nsPerRow(n, df.select($"pathQuery", $"prefixes"),
        df.select(respects_robots($"pathQuery", $"prefixes"))),
      "fn.digest_of_spans_ns" -> nsPerRow(nSpans, withSpans.select($"host", $"spans", $"status"),
        withSpans.select(digest_of_spans($"host", $"spans", $"status", lit(null).cast("string")))))
    finally { df.unpersist(); withSpans.unpersist(); bank.foreach(_.destroy()) }
  }

  @volatile private var sink = 0L

  /** ns per item of `f` on one thread, after 0.2 s of JIT warm-up. */
  private def loopNs[T](items: Array[T])(f: T => Any): Double = {
    def pass(): Unit = {
      var h = 0L
      var i = 0
      while (i < items.length) { h += f(items(i)).hashCode; i += 1 }
      sink += h
    }
    val warmUntil = System.nanoTime() + 200000000L
    while (System.nanoTime() < warmUntil) pass()
    val t0 = System.nanoTime()
    var passes = 0
    while (System.nanoTime() - t0 < 300000000L) { pass(); passes += 1 }
    (System.nanoTime() - t0).toDouble / (passes.toLong * items.length)
  }

  def loops(web: SyntheticWeb.Config): Seq[(String, Double)] = {
    val specs = urls(web, 4000)
    val parsed = specs.flatMap(s => Option(Burl.parse(s)))
    val pages = parsed.take(1000)
    val htmls = pages.map(u => (u, SyntheticWeb.pageHtml(u, web)))
    val paths = parsed.map(Burl.path)
    val robots = parsed.map(Burl.host).distinct.map(h => SyntheticWeb.robotsContent(h, web))
    Seq(
      "parse.html_parse_ns" -> loopNs(htmls) { case (u, h) => HtmlParser.parse(u, h) },
      "core.burl_parse_ns" -> loopNs(specs)(Burl.parse),
      "core.murmur_ns" -> loopNs(parsed)(MurmurHash3Bubing.hashString),
      "core.dup_segments_ns" -> loopNs(paths)(DuplicateSegments.lessThan(_, 3)),
      "core.robots_parse_ns" -> loopNs(robots)(Robots.parse(_, "BUbiNG").length),
      "synth.page_html_ns" -> loopNs(pages)(SyntheticWeb.pageHtml(_, web)))
  }

  def all(spark: SparkSession, seed: Long): Seq[(String, Double)] = {
    val web = Shapes.wide(seed).web
    functions(spark, web) ++ loops(web)
  }

  /** `Sieve.newUrls` on one round's worth of candidates (the crawl's mean
    * `dedup_in` per round), drawn from the links of the crawl's fetched
    * pages, against the crawl's own seen table. Median of 3, in ms. */
  def sieveNewUrlsMs(spark: SparkSession, crawl: CrawlRun, cfg: CrawlConfig): Double = {
    import spark.implicits._
    val web = cfg.web
    val seen = crawl.crawler.seenHashes().cache()
    seen.count()
    val perRound = math.max(1L, crawl.dedupIn / math.max(1, crawl.roundWalls.size))
    val batch = crawl.crawler.trace().select($"url", $"seq").as[(String, Long)]
      .flatMap { case (u, seq) =>
        SyntheticWeb.successors(u, web).zipWithIndex.map { case (s, i) => (s, seq, i) }
      }.toDF("spec", "srcSeq", "pos")
      .select(burl_parse($"spec").as("url"), $"srcSeq", $"pos").where($"url".isNotNull)
      .withColumn("urlHash", murmur64($"url"))
      .orderBy($"srcSeq", $"pos").limit(perRound.toInt).cache()
    batch.count()
    try {
      val run = () => noopSeconds(Sieve.newUrls(batch, seen, Seq("srcSeq", "pos")))
      run()
      Main.median((1 to 3).map(_ => run())) * 1000
    } finally { batch.unpersist(); seen.unpersist() }
  }
}
