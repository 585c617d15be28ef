package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.frontier.{CrawlConfig, Crawler}

/** A crawl's output fingerprint, computed as `graft.Bench` does: the
  * order-independent sum of per-row `xxhash64(round, seq, url, status)` over
  * the trace, the trace row count, and the size of the URL-seen set. */
final case class CrawlDigest(checksum: String, traceRows: Long, seen: Long) {
  override def toString: String = s"$checksum:$traceRows:$seen"
}

object Checks {

  def crawlDigest(c: Crawler): CrawlDigest = {
    val trace = c.trace()
    val row = trace
      .select(xxhash64(col("round"), col("seq"), col("url"), col("status"))
        .cast("decimal(38,0)").as("h"))
      .agg(sum("h"), count(lit(1))).collect()(0)
    val chk = Option(row.getDecimal(0)).map(_.toString).getOrElse("0")
    CrawlDigest(chk, row.getLong(1), c.seenHashes().count())
  }

  /** Checks that hold for every seed, so that a crawl is checked also when
    * its seed has no golden: the trace has exactly the `fetched` total of
    * `Crawler.metrics()` rows, fetches no URL twice and no host more than
    * `burst` times in a round, and every fetched URL is counted in the
    * seen set. None when all hold; otherwise the first that does not. */
  def crawlInvariants(c: Crawler, cfg: CrawlConfig, fetched: Long, d: CrawlDigest): Option[String] = {
    val perHostRound = c.trace()
      .groupBy(col("round"), expr("parse_url(url, 'HOST')").as("host")).count()
      .agg(max("count")).collect()(0)
    val maxPerHost = if (perHostRound.isNullAt(0)) 0L else perHostRound.getLong(0)
    val urls = c.trace().select(countDistinct(col("url"))).collect()(0).getLong(0)
    if (d.traceRows != fetched) Some(s"trace has ${d.traceRows} rows, metrics count $fetched fetches")
    else if (urls != d.traceRows) Some(s"trace fetches ${d.traceRows - urls} URLs more than once")
    else if (maxPerHost > cfg.burst) Some(s"a host is fetched $maxPerHost times in a round, burst is ${cfg.burst}")
    else if (d.seen < urls) Some(s"seen set has ${d.seen} URLs, fewer than the $urls fetched")
    else None
  }

  /** Canonical result hash of a query leaf, order-independent like
    * `tools/diff_verify.py`: columns sorted by name, rows as a multiset.
    * Map-typed values are hashed through their JSON form. Returns
    * `<columns-hash>:<row-hash-sum>:<rows>`. */
  def resultHash(df: DataFrame): String = {
    val names = df.columns
    val byName = names.indices.sortBy(i => (names(i), i))
    val positional = df.toDF(names.indices.map(i => s"c$i"): _*)
    val fields = positional.schema.fields
    val cols: Seq[Column] = byName.map { i =>
      val c = col(s"c$i")
      if (hasMap(fields(i).dataType)) to_json(struct(c)) else c
    }
    val hashed =
      if (cols.isEmpty) positional.select(lit(0L).as("h"))
      else positional.select(xxhash64(cols: _*).as("h"))
    val row = hashed.agg(sum(col("h").cast("decimal(38,0)")), count(lit(1))).collect()(0)
    val sumH = Option(row.getDecimal(0)).map(_.toString).getOrElse("0")
    val header = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.seqHash(byName.map(names(_))).toLong & 0xffffffffL)
    s"$header:$sumH:${row.getLong(1)}"
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
}

/** Golden outputs: crawl digests per seed and query leaf hashes for the
  * fixed query data. Files are tab-separated; `#` starts a comment line. */
final class Goldens(val crawl: Map[Long, String], val leaves: Map[String, String]) {

  /** None when the output matches or no golden exists; otherwise why not. */
  def checkCrawl(seed: Long, got: CrawlDigest): Option[String] =
    crawl.get(seed).filter(_ != got.toString).map(exp => s"crawl digest $got != golden $exp")

  def checkLeaf(leaf: String, got: String): Option[String] =
    leaves.get(leaf).filter(_ != got).map(exp => s"result hash $got != golden $exp")
}

object Goldens {
  private def rows(p: Path): Seq[Array[String]] =
    if (!Files.exists(p)) Nil
    else Files.readAllLines(p).asScala.toSeq.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))

  def load(dir: Path): Goldens = new Goldens(
    rows(dir.resolve("crawl.tsv")).map(r => r(0).toLong -> r(1)).toMap,
    rows(dir.resolve("queries.tsv")).map(r => r(0) -> r(1)).toMap)

  val empty = new Goldens(Map.empty, Map.empty)
}

/** Closed-loop operation accounting: an operation fails when it throws or
  * when its output check fails. A failed operation yields no result, so its
  * time is never reported. */
final class Ops(log: String => Unit) {
  private var attemptedN = 0
  private var failedN = 0
  def attempted: Int = attemptedN
  def failed: Int = failedN

  def run[T](name: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attemptedN += 1
    val verdict =
      try {
        val r = body
        check(r).toLeft(r)
      } catch {
        case NonFatal(e) =>
          Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
      }
    verdict.left.foreach { why =>
      failedN += 1
      log(s"FAILED $name: $why")
    }
    verdict.toOption
  }
}
