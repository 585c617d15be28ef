package graft.frontier

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Sieve semantics vs the reference's `MercatorSieveTest` (FIXTURES.md §6):
  * uniqueness, completeness, and FIRST-ENQUEUE output order. */
class SieveSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import graft.core.MurmurHash3Bubing

  private def batch(urls: Seq[String], startIdx: Long) = {
    import spark.implicits._
    urls.zipWithIndex.map { case (u, i) =>
      (u, MurmurHash3Bubing.hashString(u), 0L, startIdx + i)
    }.toDF("url", "urlHash", "parentSeq", "linkIdx")
  }

  private def emptySeen = {
    import spark.implicits._
    Seq.empty[Long].toDF("urlHash")
  }

  test("MercatorSieveTest.java:297-337 order fixture") {
    import spark.implicits._
    // flush 1: A0,A1,A0,A3 -> A0,A1,A3 ; flush 2: A0,A5,A2,A2,A5,A6 -> A5,A2,A6
    val b1 = batch(Seq("A0", "A1", "A0", "A3"), 0)
    val (out1, n1) = Sieve.assignSeq(Sieve.newUrls(b1, emptySeen, Seq("parentSeq", "linkIdx")),
      Seq("parentSeq", "linkIdx"), startSeq = -1L,
      Sieve.linearBuckets(org.apache.spark.sql.functions.col("linkIdx"), 0, 3, 4))
    assert(out1.orderBy("seq").select("url").as[String].collect().toSeq == Seq("A0", "A1", "A3"))

    val seen1 = out1.select("urlHash")
    val b2 = batch(Seq("A0", "A5", "A2", "A2", "A5", "A6"), 10)
    val (out2, n2) = Sieve.assignSeq(Sieve.newUrls(b2, seen1, Seq("parentSeq", "linkIdx")),
      Seq("parentSeq", "linkIdx"), startSeq = 2L,
      Sieve.linearBuckets(org.apache.spark.sql.functions.col("linkIdx"), 10, 15, 4))
    assert(out2.orderBy("seq").select("url").as[String].collect().toSeq == Seq("A5", "A2", "A6"))
    assert(out2.select("seq").as[Long].collect().sorted.toSeq == Seq(3L, 4L, 5L))
    assert(n1 == 3 && n2 == 3)
  }

  test("property: output == stable first-occurrence subsequence (random)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val urls = Vector.fill(500)("u" + rnd.nextInt(120))
    val expected = urls.distinct // first-occurrence order
    val b = batch(urls, 0)
    val (out, _) = Sieve.assignSeq(Sieve.newUrls(b, emptySeen, Seq("parentSeq", "linkIdx")),
      Seq("parentSeq", "linkIdx"), startSeq = -1L,
      Sieve.linearBuckets(org.apache.spark.sql.functions.col("linkIdx"), 0, 499, 4))
    assert(out.orderBy("seq").select("url").as[String].collect().toSeq == expected)
  }

  test("bloom-prefiltered path gives identical results to exact path") {
    import spark.implicits._
    val seenUrls = (0 until 200).map("s" + _)
    val seen = seenUrls.map(MurmurHash3Bubing.hashString).toDF("urlHash")
    val rnd = new scala.util.Random(11)
    val mixed = Vector.fill(400)(if (rnd.nextBoolean()) "s" + rnd.nextInt(300) else "n" + rnd.nextInt(150))
    val b = batch(mixed, 0)
    val order = Seq("parentSeq", "linkIdx")
    def urls(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("linkIdx").select("url").as[String].collect().toSeq
    val exact = urls(Sieve.newUrls(b, seen, order))
    assert(exact.nonEmpty && exact.forall(u => !seenUrls.contains(u)))
    // the scan-probe round path, with the batch bloom built as the crawl
    // builds it
    val (_, bloom) = Sieve.bloomAggParallel(b, "urlHash", mixed.size.toLong,
      Sieve.BatchBloomFpp, groups = 4)
    assert(urls(Sieve.newUrlsScanProbe(b, seen, order,
      mat = _.localCheckpoint(true), batchBloom = bloom)) == exact)
  }

  test("the scan-probe sieve keeps no cached block but its output's") {
    import spark.implicits._
    val seen = (0 until 200).map(i => MurmurHash3Bubing.hashString("s" + i)).toDF("urlHash")
    val rnd = new scala.util.Random(13)
    val mixed = Vector.fill(400)(if (rnd.nextBoolean()) "s" + rnd.nextInt(300) else "n" + rnd.nextInt(150))
    val b = batch(mixed, 0)
    def cached = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val (_, bloom) = Sieve.bloomAggParallel(b, "urlHash", mixed.size.toLong,
      Sieve.BatchBloomFpp, groups = 4)
    val before = cached
    val out = Sieve.newUrlsScanProbe(b, seen, Seq("parentSeq", "linkIdx"),
      mat = _.localCheckpoint(true), batchBloom = bloom)
    val outRdds = Checkpoints.rdds(Seq(out)).map(_.id).toSet
    // (an earlier test's blocks may be cleaned meanwhile, so compare
    // what the call added)
    assert(outRdds.size == 1 && cached -- before == outRdds)
    Checkpoints.release(Seq(out))
  }

  test("bloom_agg builds a filter with stat.bloomFilter membership semantics") {
    import graft.functions.{bloom_agg, bloom_from_bytes}
    import org.apache.spark.sql.functions.{col, count, lit}
    import spark.implicits._
    val hashes = (1L to 5000L).map(_ * 0x9e37L)
    val df = hashes.toDF("urlHash")
    val row = df.agg(count(lit(1)), bloom_agg(col("urlHash"), 5000, 0.01)).collect()(0)
    assert(row.getLong(0) == 5000L)
    val agg = bloom_from_bytes(row.getAs[Array[Byte]](1))
    val ref = df.stat.bloomFilter("urlHash", 5000, 0.01)
    // no false negatives, and fpp in the sized regime (same putLong path
    // as stat.bloomFilter -> identical membership semantics)
    assert(hashes.forall(agg.mightContainLong))
    val probes = (1L to 20000L).map(i => i * 31L + 7L).filterNot(hashes.contains)
    val fpAgg = probes.count(agg.mightContainLong)
    val fpRef = probes.count(ref.mightContainLong)
    assert(fpAgg <= probes.size / 50, s"bloom_agg fpp too high: $fpAgg/${probes.size}")
    assert(fpRef <= probes.size / 50)
    // empty input -> null bytes (caller treats as no filter)
    val empty = df.limit(0).agg(bloom_agg(col("urlHash"), 10, 0.01)).collect()(0)
    assert(empty.isNullAt(0))
    // an Observation on a write carries the filter too (the fused
    // delta-bloom path)
    val o = org.apache.spark.sql.Observation()
    val out = java.nio.file.Files.createTempDirectory("graft-bloomobs").toString
    df.observe(o, bloom_agg(col("urlHash"), 5000, 0.01).as("bf"))
      .write.mode("overwrite").parquet(out)
    val obsBloom = bloom_from_bytes(o.get("bf").asInstanceOf[Array[Byte]])
    assert(hashes.forall(obsBloom.mightContainLong))
    new scala.reflect.io.Directory(new java.io.File(out)).deleteRecursively()
  }

  test("bloomAggParallel: grouped pre-merge == single global aggregate") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val hashes = (1L to 8000L).map(_ * 0x5bd1L)
    val df = hashes.toDF("urlHash").repartition(13) // partials > groups
    val (n, merged) = Sieve.bloomAggParallel(df, "urlHash", 8000, 0.01, groups = 4)
    assert(n == 8000L)
    // no false negatives after the two-level merge, fpp still in regime
    assert(hashes.forall(merged.mightContainLong))
    val probes = (1L to 30000L).map(i => i * 37L + 11L).filterNot(hashes.contains)
    assert(probes.count(merged.mightContainLong) <= probes.size / 50)
    // sized like the single-aggregate filter (mergeInPlace compatibility
    // leans on this)
    val ref = df.stat.bloomFilter("urlHash", 8000, 0.01)
    assert(merged.bitSize() == ref.bitSize())
    // empty input -> (0, null)
    val (n0, m0) = Sieve.bloomAggParallel(df.limit(0), "urlHash", 10, 0.01, 4)
    assert(n0 == 0L && m0 == null)
  }
}
