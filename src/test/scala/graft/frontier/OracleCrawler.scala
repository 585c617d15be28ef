package graft.frontier

import scala.collection.mutable

import graft.core.{Burl, DuplicateSegments, MurmurHash3Bubing, Robots}
import graft.parse.HtmlParser
import graft.synth.SyntheticWeb

/** Reference-faithful single-threaded interpreter of the crawl semantics —
  * the oracle of SURVEY.md §5: "a scala port of the same oracle loop run
  * single-threaded" (the reference's own determinism config: 1 fetch
  * thread, keepAliveTime=0, fake DNS). The Spark `Crawler` at ANY
  * parallelism must reproduce this trace and seen-set exactly.
  *
  * The fetch/parse path calls the SAME pure functions as the engine
  * (SyntheticWeb.pageHtml -> HtmlParser.parse), so parity covers the real
  * parser surface. Response-filter gates are passed as Scala predicates;
  * tests supply lambdas equivalent to the DSL they configure.
  */
object OracleCrawler {

  case class TraceRow(round: Int, seq: Long, url: String, isRobots: Boolean, status: Int)

  /** Scala-side response-filter gates mirroring the config DSL strings.
    * `scheduleOk(srcUrl, dstUrl)` replaces the default schedule filter when
    * non-null (the reference's Filter&lt;Link&gt; shape, Link.java:26-39). */
  case class Gates(
      fetchOk: String => Boolean = _ => true,
      parseOk: String => Boolean = _ => true,
      followOk: String => Boolean = _ => true,
      storeOk: String => Boolean = _ => true,
      scheduleOk: (String, String) => Boolean = null)

  private class HostSt(val sa: String, val hostHash: Long, val ipHash: Long) {
    var nextFetch = 0L
    var stored = 0L
    var robotsDone = false
    var purged = false
    var retries = 0
    var lastError: String = null
    var robotsPrefixes: Array[String] = null // null until robots fetched
    /** pending urls by seq (FIFO per host) */
    val pending = mutable.TreeMap[Long, String]()
  }

  /** Matches the default CrawlConfig.scheduleFilter DSL. */
  private def passesScheduleFilter(url: String): Boolean = {
    val scheme = Burl.scheme(url)
    (scheme == "http" || scheme == "https") &&
      url.length < 2048 &&
      DuplicateSegments.lessThan(Burl.path(url), 3) &&
      !Burl.path(url).toLowerCase.endsWith(".jpg")
  }

  def run(cfg: CrawlConfig, gates: Gates = Gates()): (Vector[TraceRow], Set[Long]) = {
    val web = cfg.web
    val hosts = mutable.LinkedHashMap[String, HostSt]()
    val ipNextFetch = mutable.Map[Long, Long]()
    val seen = mutable.Set[Long]()
    val digestsSeen = mutable.Set[String]()
    val trace = mutable.ArrayBuffer[TraceRow]()
    var maxSeq = 0L
    var frontSize = cfg.initialFrontSize
    val kHeads = math.max(1, cfg.burst + Crawler.HeadSlack)
    val blacklist = cfg.blacklistHosts.toSet
    val blacklistIps = cfg.blacklistIps.toSet

    def rule(cls: String): ExcRule = Crawler.ExceptionRules.getOrElse(cls, Crawler.ExceptionDefault)

    /** Sieve + budget + frontier insert (first-enqueue order). */
    def enqueue(candidates: Seq[(Long, Long, String)],
        storedSnapshot: Map[String, Long], applyBudget: Boolean = true): Unit = {
      val ordered = candidates.sortBy(c => (c._1, c._2))
      val batchSeen = mutable.Set[Long]()
      val perHostRank = mutable.Map[String, Long]()
      for ((_, _, url) <- ordered) {
        val h = MurmurHash3Bubing.hashString(url)
        if (!batchSeen.contains(h) && !seen.contains(h)) {
          batchSeen += h
          seen += h // seen even if budget-dropped (Frontier.java:810-814)
          val sa = Burl.schemeAndAuthority(url)
          val rank = perHostRank.getOrElse(sa, 0L) + 1L
          perHostRank(sa) = rank
          val priorStored = storedSnapshot.getOrElse(sa, 0L)
          val seq = maxSeq
          maxSeq += 1
          if (!applyBudget || priorStored + rank <= cfg.maxUrlsPerHost) {
            val ipHash = Burl.ipOfHost(Burl.host(url), cfg.ipSpace)
            val host = hosts.getOrElseUpdate(sa, {
              val h0 = new HostSt(sa, MurmurHash3Bubing.hashString(sa), ipHash)
              h0.robotsDone = !cfg.robotsEnabled // benchmark mode skips robots
              h0
            })
            host.pending(seq) = url
            ipNextFetch.getOrElseUpdate(host.ipHash, 0L)
          }
        }
      }
    }

    // ---- init: seeds through the sieve (no schedule filter on seeds) ----
    val seedCandidates = (0 until cfg.nSeeds)
      .map(i => (-1L, i.toLong, Burl.parse(SyntheticWeb.seedUrl(i, web))))
      .filter(_._3 != null)
    enqueue(seedCandidates, Map.empty, applyBudget = false)

    // ---- rounds ----
    var round = 0
    var done = false
    while (round < cfg.maxRounds && !done) {
      round += 1
      val now = round.toLong
      val storedSnapshot = hosts.map { case (sa, h) => sa -> h.stored }.toMap

      // eligible hosts with pending work, rank-1 per IP by head seq
      // (head seqs are globally unique, so the choice is total)
      val byIp = mutable.Map[Long, HostSt]()
      for (h <- hosts.values) {
        if (!h.purged && h.nextFetch <= now && h.pending.nonEmpty &&
            ipNextFetch.getOrElse(h.ipHash, 0L) <= now) {
          byIp.get(h.ipHash) match {
            case Some(best) => if (h.pending.firstKey < best.pending.firstKey) byIp(h.ipHash) = h
            case None => byIp(h.ipHash) = h
          }
        }
      }
      // adaptive front sizing: cap in-flight IPs by head-seq priority
      val rank1 = byIp.values.toSeq.sortBy(_.pending.headOption.map(_._1).getOrElse(Long.MaxValue))
      val selected =
        if (frontSize < Long.MaxValue && rank1.size > frontSize) rank1.take(frontSize.toInt)
        else rank1

      // staged effects: committed only if the round fetches anything
      // (the Spark round short-circuits with no state change otherwise)
      case class PageFetch(h: HostSt, seq: Long, url: String, status: Int,
          digest: String, links: Seq[String])
      val roundTrace = mutable.ArrayBuffer[TraceRow]()
      val pageFetches = mutable.ArrayBuffer[PageFetch]()
      val windowDrops = mutable.ArrayBuffer[(HostSt, Long)]()
      /** hosts whose whole head window was robots/fetch-filter-disallowed */
      val windowOnly = mutable.ArrayBuffer[HostSt]()
      case class HostOutcome(h: HostSt, okPages: Seq[(Long, Int)], storedInc: Long,
          robotsFetched: Boolean, prefixes: Array[String],
          exc: Option[(Long, String, Boolean)]) // (seq, class, isRobots)
      val outcomes = mutable.ArrayBuffer[HostOutcome]()

      for (h <- selected.sortBy(_.sa)) {
        val attempt = if (h.lastError == null) 0 else h.retries + 1
        if (!h.robotsDone) {
          val robotsUrl = h.sa + "/robots.txt"
          val exc = SyntheticWeb.fetchExceptionAt(robotsUrl, attempt, web)
          if (exc != null) {
            roundTrace += TraceRow(round, -1L, robotsUrl, isRobots = true, 0)
            outcomes += HostOutcome(h, Nil, 0, robotsFetched = false, null,
              Some((-1L, exc, true)))
          } else {
            roundTrace += TraceRow(round, -1L, robotsUrl, isRobots = true, 200)
            val prefixes = Robots.parse(SyntheticWeb.robotsContent(Burl.host(h.sa), web), "graft")
            outcomes += HostOutcome(h, Nil, 0, robotsFetched = true, prefixes, None)
          }
        } else {
          // head window: first k' pending; in-window robots/fetch-filter
          // rejects are dropped this round, first `burst` survivors fetched
          val window = h.pending.take(kHeads).toSeq
          val (allowedW, disallowedW) = window.partition { case (_, url) =>
            (h.robotsPrefixes == null ||
              Robots.allowed(h.robotsPrefixes, Burl.pathAndQuery(url))) &&
              gates.fetchOk(url)
          }
          disallowedW.foreach { case (seq, _) => windowDrops += ((h, seq)) }
          val burst = allowedW.take(cfg.burst)
          if (burst.isEmpty && disallowedW.nonEmpty) windowOnly += h
          if (burst.nonEmpty) {
            var exc: Option[(Long, String, Boolean)] = None
            val okPages = mutable.ArrayBuffer[(Long, Int)]()
            var storedInc = 0L
            val it = burst.iterator
            while (it.hasNext && exc.isEmpty) {
              val (seq, url) = it.next()
              val e = SyntheticWeb.fetchExceptionAt(url, attempt, web)
              if (e != null) {
                roundTrace += TraceRow(round, seq, url, isRobots = false, 0)
                exc = Some((seq, e, false))
              } else {
                val status = SyntheticWeb.status(url, web)
                roundTrace += TraceRow(round, seq, url, isRobots = false, status)
                okPages += ((seq, status))
                if (status == 200) {
                  storedInc += 1
                  val raw = SyntheticWeb.pageHtml(url, web)
                  val html = if (raw.length > cfg.maxBodyChars)
                    raw.substring(0, cfg.maxBodyChars) else raw
                  val pr = HtmlParser.parse(url, html)
                  val digest =
                    if (gates.parseOk(url)) pr.digest
                    else f"${MurmurHash3Bubing.hashString(Burl.host(url) + "\u0000" + html)}%016x"
                  val links =
                    if (gates.parseOk(url) && gates.followOk(url)) pr.links else Nil
                  pageFetches += PageFetch(h, seq, url, status, digest, links)
                }
              }
            }
            outcomes += HostOutcome(h, okPages.toSeq, storedInc,
              robotsFetched = false, null, exc)
          }
        }
      }

      val fetchedAny = roundTrace.nonEmpty
      // window drops + all-disallowed-window host bumps commit even in
      // zero-fetch rounds: otherwise a host whose whole head window is
      // disallowed repeats the identical empty round until maxRounds
      windowDrops.foreach { case (h, seq) => h.pending.remove(seq) }
      windowOnly.foreach { h => h.nextFetch = now + cfg.hostDelay }
      // pre-round hosts-per-IP census for the ipDelayFactor model
      // (ParsingThread.java:271-274 entrySize); purged flags are the
      // PRE-round values (one host per IP per round, so in-round purges
      // never affect another outcome's count)
      val ipHostCount: Map[Long, Int] =
        if (cfg.knownAgents > 1 && cfg.ipDelayFactor != 0)
          hosts.values.filter(!_.purged).groupBy(_.ipHash).map { case (ip, hs) => ip -> hs.size }
        else Map.empty
      def ipDelayEff(ip: Long): Long =
        if (cfg.knownAgents > 1 && cfg.ipDelayFactor != 0) {
          val k = ipHostCount.getOrElse(ip, 1)
          math.max(cfg.ipDelay,
            (cfg.ipDelay * cfg.ipDelayFactor * cfg.knownAgents * k / (k + 1.0)).toLong)
        } else cfg.ipDelay
      if (fetchedAny) {
        trace ++= roundTrace

        // per-host state machine (ParsingThread.java:253-312)
        val touchedHosts = mutable.Set[String]()
        for (o <- outcomes) {
          val h = o.h
          touchedHosts += h.sa
          o.okPages.foreach { case (seq, _) => h.pending.remove(seq) } // dequeue 200+404
          h.stored += o.storedInc
          if (o.robotsFetched) { h.robotsDone = true; h.robotsPrefixes = o.prefixes }
          val anyOk = o.okPages.nonEmpty || o.robotsFetched
          o.exc match {
            case None =>
              h.nextFetch = now + cfg.hostDelay
              h.lastError = null
              if (anyOk) h.retries = 0
            case Some((seq, cls, isRobots)) =>
              val lastAfterOk = if (anyOk) null else h.lastError
              val retriesNew =
                if (lastAfterOk == null) 0
                else if (lastAfterOk == cls) h.retries + 1
                else h.retries // reference quirk: class switch keeps retries
              val r = rule(cls)
              if (retriesNew < r.maxRetries) {
                h.nextFetch = now + r.waitRounds * (1L << retriesNew)
                h.retries = retriesNew
                h.lastError = cls
              } else {
                h.retries = retriesNew
                h.lastError = null
                h.nextFetch = now + cfg.hostDelay
                if (r.killer || isRobots) h.purged = true
                else if (!isRobots) h.pending.remove(seq) // drop the URL
              }
          }
          if (h.stored >= cfg.maxUrlsPerHost) h.purged = true
          ipNextFetch(h.ipHash) = now + ipDelayEff(h.ipHash)
        }

        // duplicate detection over effective digests; duplicate pages
        // contribute no outlinks (ParsingThread.java:408-410); with the
        // docs store off the engine skips digesting (bench byway)
        val linkSources =
          if (!cfg.storeDocs) pageFetches.toSeq
          else {
            val firstByDigest = mutable.Map[String, Long]()
            pageFetches.foreach { p =>
              if (firstByDigest.get(p.digest).forall(p.seq < _)) firstByDigest(p.digest) = p.seq
            }
            // duplicate = digest already stored OR a smaller seq in-batch
            val nonDup = pageFetches.filter(p =>
              !digestsSeen.contains(p.digest) && firstByDigest(p.digest) == p.seq).toSeq
            digestsSeen ++= nonDup.map(_.digest)
            nonDup
          }

        val newLinks = mutable.ArrayBuffer[(Long, Long, String, String)]()
        linkSources.foreach { p =>
          p.links.zipWithIndex.foreach { case (l, i) => newLinks += ((p.seq, i.toLong, l, p.url)) }
        }
        val parsedLinks = newLinks.toSeq
          .map { case (ps, li, spec, src) => (ps, li, Burl.parse(spec), src) }
          .filter(_._3 != null)
          // link-typed schedule filter (reference Filter<Link> over
          // (source, target), ParsingThread.java:181-184)
          .filter(c =>
            if (gates.scheduleOk != null) gates.scheduleOk(c._4, c._3)
            else passesScheduleFilter(c._3))
          .filter(c => blacklist.isEmpty || !blacklist.contains(Burl.host(c._3)))
          .filter(c => blacklistIps.isEmpty ||
            !blacklistIps.contains(Burl.ipOfHost(Burl.host(c._3), cfg.ipSpace)))
          .map(c => (c._1, c._2, c._3))
        enqueue(parsedLinks, storedSnapshot)

        // adaptive front growth on saturation
        if (frontSize < Long.MaxValue && touchedHosts.size >= frontSize)
          frontSize = frontSize * cfg.frontGrowth
      }

      if (!fetchedAny && hosts.values.forall(h => h.pending.isEmpty || h.purged))
        done = true
    }

    (trace.toVector, seen.toSet)
  }
}
