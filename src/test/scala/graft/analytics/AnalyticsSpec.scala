package graft.analytics

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AnalyticsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
      (4L, "completely different content about spark engines and queries"),
      (5L, "el perro y el gato de la casa que ladra"),
      (6L, "1234 5678 90 numbers only 42 7")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups by content hash") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(g.length == 5) // 1&2 collapse
    val dup = g.find(_.getLong(1) == 2L).get
    assert(dup.getLong(2) == 1L) // keeper = min id
    val kept = Dedup.dropExactDuplicates(docs, "doc_id", "text")
    assert(kept.count() == 5)
    assert(kept.where(col("doc_id") === 2).count() == 0)
  }

  test("minhash LSH finds the near-dup pair and estimates jaccard") {
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      shingleK = 4, numHashes = 32, bands = 16, minEstJaccard = 0.4).collect()
    val keys = pairs.map(r => (r.getLong(1), r.getLong(0))).toSet // (id1,id2) order: select id1,id2? check below
    val asPairs = pairs.map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert(asPairs.contains((1L, 2L)), s"exact dup pair missing: $asPairs")
    assert(asPairs.contains((1L, 3L)) || asPairs.contains((2L, 3L)), s"near dup pair missing: $asPairs")
    // exact dups estimate 1.0
    val exactPair = pairs.find(r => r.getAs[Long]("id1") == 1L && r.getAs[Long]("id2") == 2L).get
    assert(exactPair.getAs[Double]("est_jaccard") == 1.0)
    assert(keys != null)
  }

  test("simhash: identical texts have distance 0; near dups are close") {
    import spark.implicits._
    // simhash needs enough tokens for one edit to stay within a few bits:
    val base = (1 to 120).map(i => s"token$i").mkString(" ")
    val longDocs = Seq(
      (1L, base),
      (2L, base),
      (3L, base.replace("token60", "changed")),
      (4L, (200 to 320).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashCandidatePairs(longDocs, "doc_id", "text", maxHamming = 12).collect()
    val m = pairs.map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")) -> r.getAs[Number]("hamming").intValue).toMap
    assert(m.get((1L, 2L)).contains(0))
    assert(m.get((1L, 3L)).exists(_ <= 12), s"near-dup too far: $m")
    assert(!m.contains((1L, 4L)))
  }

  test("ngram jaccard: exact dup = 1.0, near dup in (0,1), distinct low") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id1", "id2")
    val j = Dedup.ngramJaccard(pairs, docs, "doc_id", "text", n = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0.2 && j((1L, 3L)) < 1.0)
    assert(j((1L, 4L)) < 0.1)
  }

  test("brute-force cosine top-k is exact and ranked") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", Array(1.0, 0.0, 0.0), 3).collect()
    assert(top.map(_.getAs[Long]("id")).toSeq == Seq(2L, 1L, 3L) ||
      top.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L, 3L)) // cos(1)=1 > cos(2)≈0.994
    assert(top.head.getAs[Long]("rank") == 1L)
    val byId = top.map(r => r.getAs[Long]("id") -> r.getAs[Double]("cosine")).toMap
    assert(math.abs(byId(1L) - 1.0) < 1e-12)
    assert(byId(3L) == 0.0)
  }

  test("lsh top-k returns a subset consistent with brute force ranking") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val emb = (1L to 200L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val q = Array.fill(16)(rnd.nextGaussian())
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding", q, 10, planes = 4).collect()
    assert(lsh.nonEmpty)
    // every returned cosine must match the brute-force cosine for that id
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 200).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("cosine")).toMap
    lsh.foreach(r => assert(math.abs(brute(r.getAs[Long]("id")) - r.getAs[Double]("cosine")) < 1e-12))
  }

  test("bucket-partitioned LSH layout: partition-pruned scan, same results") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val emb = (1L to 300L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = Array.fill(16)(rnd.nextGaussian())
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-bucketed").toString
    try {
    Similarity.writeBucketed(emb, "vec_id", "embedding", dir, planes = 4)
    val viaFilter = Similarity.lshTopK(emb, "vec_id", "embedding", q, 10, planes = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val bucketed = Similarity.lshTopKBucketed(spark, dir, q, 10, planes = 4)
    val viaPartitions = bucketed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(viaFilter == viaPartitions, "bucketed layout changed the result set")
    // pruning is real: the scan must carry partition filters on `bucket`
    val planStr = bucketed.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") && planStr.contains("bucket"),
      s"expected partition pruning in plan:\n$planStr")
    } finally new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("IVF layout: full-probe equals brute force; pruned probe prunes partitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val emb = (1L to 300L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = Array.fill(16)(rnd.nextGaussian())
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-ivf").toString
    try {
    val centroids = Similarity.writeIvf(emb, "vec_id", "embedding", dir, cells = 8, seed = 42L)
    assert(centroids.length == 8 && centroids.head.length == 16)
    // probing ALL cells degrades to the exact scan: equal to brute force
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("cosine"))).toSet
    val full = Similarity.ivfTopK(spark, dir, centroids, q, 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(full == exact, "full-probe IVF must equal the exact scan")
    // pruned probe: k rows, cosines are true cosines, and the scan carries
    // partition filters on the cell column
    val pruned = Similarity.ivfTopK(spark, dir, centroids, q, 10, nprobe = 2)
    val rows = pruned.collect()
    assert(rows.length == 10)
    val bruteAll = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 300)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("cosine")).toMap
    rows.foreach(r => assert(math.abs(bruteAll(r.getLong(0)) - r.getDouble(1)) < 1e-12))
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") && planStr.contains("cell"),
      s"expected partition pruning on cell:\n$planStr")
    } finally new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("coordinate-sign near-dup pairs == brute-force same-bucket pairs above threshold") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vecs = (1L to 120L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val emb = vecs.toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDupPairsCoordSign(emb, "vec_id", "embedding",
        planes = 4, minCosine = 0.3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // brute-force expectation: same sign pattern on the first 4 coords,
    // cosine >= threshold
    def bucket(v: Array[Float]): Int =
      (0 until 4).map(p => if (v(p) >= 0) 1 << p else 0).sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val expect = (for {
      (i, vi) <- vecs; (j, vj) <- vecs
      if i < j && bucket(vi) == bucket(vj) && cos(vi, vj) >= 0.3
    } yield (i, j)).toSet
    assert(got == expect)
  }

  test("near-dup candidate builders launch no Spark job until an action") {
    import spark.implicits._
    // job starts arrive in posting order, so the ones between two marked
    // jobs are exactly the jobs launched in between
    val marker = "graft.test.marker"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.put(Option(e.properties).flatMap(p => Option(p.getProperty(marker)))
          .getOrElse("job"))
    }
    def mark(name: String): Unit = {
      spark.sparkContext.setLocalProperty(marker, name)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(marker, null)
    }
    def jobsUntil(name: String): Int = {
      var n = 0
      var e = ""
      while (e != name) {
        e = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        assert(e != null, s"marker $name never arrived")
        if (e == "job") n += 1
      }
      n
    }
    val emb = (1L to 40L).map(i => (i, Array.fill(8)((i % 7).toFloat - 3f)))
      .toDF("vec_id", "embedding")
    spark.sparkContext.addSparkListener(listener)
    try {
      mark("start")
      jobsUntil("start")
      val built = Seq(
        Dedup.minhashCandidatePairs(docs, "doc_id", "text", shingleK = 4),
        Dedup.simhashCandidatePairs(docs, "doc_id", "text"),
        Dedup.embeddingNearDupPairsCoordSign(emb, "vec_id", "embedding", planes = 4))
      mark("built")
      assert(jobsUntil("built") == 0, "building the near-dup DataFrames ran Spark jobs")
      // each still runs (and materializes its signatures) at its first action
      built.foreach(_.collect())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("LSH skew guard: a degenerate corpus (identical docs) stays bounded") {
    import spark.implicits._
    // 3000 identical docs + 4 distinct: without the bucket cap every band
    // bucket holds all 3000 -> ~4.5M pairs per band; with cap=100 the hot
    // buckets are skipped entirely and only the small docs pair up
    val degenerate = ((1 to 3000).map(i => (i.toLong, "boilerplate page text repeated verbatim")) ++
      Seq((9001L, "alpha beta gamma delta"), (9002L, "alpha beta gamma epsilon"),
        (9003L, "unrelated words entirely here"), (9004L, "another separate document text")))
      .toDF("doc_id", "text")
    val mh = Dedup.minhashCandidatePairs(degenerate, "doc_id", "text",
      shingleK = 4, numHashes = 16, bands = 4, minEstJaccard = 0.0, maxBucketSize = 100)
    assert(mh.count() <= 100L * 100 * 4, "minhash pair count not bounded")
    assert(!mh.select("id1").as[Long].collect().contains(1L), "hot bucket leaked pairs")
    val sh = Dedup.simhashCandidatePairs(degenerate, "doc_id", "text",
      maxHamming = 16, maxBucketSize = 100)
    assert(sh.count() <= 100L * 100 * 8, "simhash pair count not bounded")
    // the small near-dup pair still survives the guard
    val smallPairs = mh.where(col("id1") >= 9000).select("id1", "id2")
      .as[(Long, Long)].collect().toSet
    assert(smallPairs.contains((9001L, 9002L)), s"near-dup pair lost: $smallPairs")
  }

  test("text stats: tokens, quality, langid, fingerprints") {
    val q = TextStats.qualityFeatures(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(q(1L).getAs[Double]("n_tokens") == 9.0)
    assert(q(1L).getAs[Double]("stopword_ratio") > 0) // two 'the'... one inner ' the '
    assert(q(6L).getAs[Double]("digit_ratio") > 0.3)
    assert(q(6L).getAs[Double]("quality") < q(1L).getAs[Double]("quality"))

    val l = TextStats.langId(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(l(1L) == "en")
    assert(l(5L) == "es")
    assert(l(6L) == "und")

    val f = TextStats.fingerprints(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f(1L) == f(2L)) // identical docs -> identical fingerprint
    assert(f(1L) != f(4L))
  }

  test("twin-mode (mod) hashes: rolling recurrence == direct definition") {
    import spark.implicits._
    val m = 1000000007L
    def direct(s: String, from: Int, until: Int): Long = {
      var h = 0L
      (from until until).foreach(i => h = (h * 31 + s.charAt(i)) % m)
      h
    }
    val rnd = new scala.util.Random(7)
    val texts = (0 until 40).map { i =>
      val n = 1 + rnd.nextInt(120)
      (i.toLong, (0 until n).map(_ => (32 + rnd.nextInt(95)).toChar).mkString)
    }
    val df = texts.toDF("doc_id", "text")

    // rolling_fingerprint(mod): min over direct window hashes
    val fp = TextStats.fingerprints(df, "doc_id", "text", window = 16, mod = m)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.foreach { case (id, s) =>
      val expect =
        if (s.isEmpty) 0L
        else if (s.length <= 16) direct(s, 0, s.length)
        else (0 to s.length - 16).map(i => direct(s, i, i + 16)).min
      assert(fp(id) == expect, s"fingerprint mismatch for doc $id")
    }

    // minhashes(mod): per-j min over direct shingle hashes remixed
    val k = 8; val n = 16
    val sig = df.select(col("doc_id"),
        graft.functions.minhashes(col("text"), k, n, m).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.foreach { case (id, s) =>
      val expect =
        if (s.length < k) Seq.fill(n)(Long.MaxValue)
        else (0 until n).map { j =>
          (0 to s.length - k)
            .map(i => ((2L * j + 1) * direct(s, i, i + k) + j * 7919L) % m).min
        }
      assert(sig(id) == expect, s"minhash sig mismatch for doc $id")
    }

    // simhash64(mod): sign-sum over direct token hashes, low 30 bits
    val sh = df.select(col("doc_id"),
        graft.functions.simhash64(col("text"), m).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.foreach { case (id, s) =>
      val toks = s.split(" ").filter(_.nonEmpty)
      val expect = (0 until 30).map { b =>
        val c = toks.map(t => if (((direct(t, 0, t.length) >>> b) & 1L) == 1L) 1 else -1).sum
        if (c > 0) 1L << b else 0L
      }.sum
      assert(sh(id) == expect, s"simhash mismatch for doc $id")
    }
  }

  test("multimodal: media table + batched stub feature extraction") {
    import spark.implicits._
    val crawlDocs = Seq(
      ("d1", Seq(graft.model.Span("media", "", "http://a/img1.jpg", 0),
        graft.model.Span("text", "hello", "", 1))),
      ("d2", Seq(graft.model.Span("media", "", "http://a/img2.jpg", 0)))
    ).toDF("doc_id", "spans")
    val media = Multimodal.mediaTable(crawlDocs, spark)
    assert(media.count() == 2)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 2)
    feats.foreach { f =>
      assert(f.n_bytes >= 64 && f.width >= 16 && f.height >= 16)
      assert(f.feature.length == 8)
    }
    // deterministic across runs
    val again = Multimodal.extractFeatures(Multimodal.mediaTable(crawlDocs, spark)).collect()
    assert(feats.sortBy(_.media_id).map(_.feature.toSeq).toSeq ==
      again.sortBy(_.media_id).map(_.feature.toSeq).toSeq)
  }
}
