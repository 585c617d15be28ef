package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the plans we ship are the plans we want —
  * filters reach the parquet scan, small dims broadcast, scans prune
  * columns, hot paths stay in whole-stage codegen. Guards against silent
  * plan regressions (a correct-but-10x-slower operator is not done). */
class PlanQualitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The scan-probe sieve's batch bloom, built as the crawl builds it. */
  private def batchBloom(batch: org.apache.spark.sql.DataFrame) =
    graft.frontier.Sieve.bloomAggParallel(batch, "urlHash", batch.count(),
      graft.frontier.Sieve.BatchBloomFpp, groups = 4)._2

  /** AQE finalizes the plan only on execution; materialize then inspect. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("filter pushdown reaches the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .where(col("l_quantity") > 40 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_quantity")
    val plan = physicalPlan(df)
    assert(plan.contains("PushedFilters") &&
      (plan.contains("GreaterThan(l_quantity") || plan.contains("IsNotNull(l_quantity")),
      s"filters not pushed:\n$plan")
  }

  test("politeness heads: one object-hash aggregation, no frontier window/sort") {
    import spark.implicits._
    val frontier = (1L to 1000L)
      .map(i => (s"http://h${i % 37}.example/p$i", i, i % 37, i % 11, i))
      .toDF("url", "urlHash", "hostHash", "ipHash", "seq")
    val heads = frontier.groupBy("hostHash")
      .agg(graft.functions.topk_heads(col("seq"), col("url"), col("urlHash"), 4).as("heads"))
    val plan = finalPlan(heads)
    assert(plan.contains("ObjectHashAggregate") && plan.contains("topk_heads"),
      s"heads must be an object hash aggregation:\n$plan")
    assert(!plan.contains("Window"), s"no window on the frontier path:\n$plan")
    // correctness of the aggregate itself
    val h0 = heads.where(col("hostHash") === 0).select(explode(col("heads")).as("h"))
      .select(col("h.seq")).as[Long].collect().toSeq
    assert(h0 == (1L to 1000L).filter(_ % 37 == 0).sorted.take(4))
  }

  test("sieve seq assignment: no RangePartitioner sampling, bucketed rank") {
    import spark.implicits._
    val batch = (1L to 500L).map(i => (s"u$i", i, i / 50, i % 50)).toDF("url", "urlHash", "parentSeq", "linkIdx")
    val (ranked, n) = graft.frontier.Sieve.assignSeq(
      batch, Seq("parentSeq", "linkIdx"), startSeq = -1L,
      graft.frontier.Sieve.linearBuckets(col("parentSeq"), 0, 10, 4))
    val plan = finalPlan(ranked)
    assert(!plan.toLowerCase.contains("rangepartitioning"),
      s"rank must not range-partition (sampling pass):\n$plan")
    assert(n == 500)
  }

  test("column pruning: 2-column projection reads a 2-column schema") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val plan = physicalPlan(df)
    assert(plan.contains("ReadSchema"), plan)
    val readSchema = plan.split("ReadSchema:")(1).takeWhile(_ != '\n')
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"),
      s"scan reads more columns than projected: $readSchema")
  }

  test("q_join_topn uses a broadcast hash join") {
    val plan = physicalPlan(SparkEntry.queries("q_join_topn")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("q1_agg is a two-phase hash aggregate inside whole-stage codegen") {
    val plan = finalPlan(SparkEntry.queries("q1_agg")(spark, sf))
    assert(plan.contains("HashAggregate"), plan)
    // "*(n)" prefixes mark whole-stage-codegen stages in the plan string
    assert(plan.contains("*(1)"), s"no codegen stage:\n$plan")
    // partial aggregation before the exchange (map-side combine)
    assert(plan.indexOf("HashAggregate") < plan.lastIndexOf("HashAggregate"), plan)
  }

  test("murmur64 expression participates in whole-stage codegen") {
    import graft.functions._
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(murmur64(col("text")).as("h"))
      .where(col("h") =!= 0)
    val plan = finalPlan(df)
    assert(plan.contains("*(1)"), s"murmur64 fell out of codegen:\n$plan")
    // the custom expression itself sits INSIDE the codegen stage
    assert(plan.contains("*(1) Project [murmur64_bubing") ||
      plan.contains("*(1) Filter NOT (murmur64_bubing"), plan)
  }

  test("sieve anti-join on hashes plans as a hash/SMJ anti join") {
    import spark.implicits._
    val batch = (1L to 1000L).map(i => (s"u$i", i, 0L, i)).toDF("url", "urlHash", "parentSeq", "linkIdx")
    val seen = (1L to 500L).toDF("urlHash")
    val out = graft.frontier.Sieve.newUrls(batch, seen, Seq("parentSeq", "linkIdx"))
    val plan = physicalPlan(out)
    assert(plan.contains("LeftAnti"), s"expected anti join:\n$plan")
  }

  test("exact dedup groups aggregate without a window (no sort-based skew)") {
    val plan = physicalPlan(SparkEntry.queries("q_exact_dedup")(spark, sf))
    assert(plan.contains("HashAggregate") && !plan.contains("Window"), plan)
  }

  test("bloom prefilter is a codegen'd expression, not a Scala UDF") {
    import spark.implicits._
    // localCheckpoint: RDD-backed inputs like the real round path (over a
    // LocalRelation the optimizer evaluates the prefilter eagerly and no
    // physical Filter remains to inspect)
    val batch = (1L to 2000L).map(i => (s"u$i", i, 0L, i))
      .toDF("url", "urlHash", "parentSeq", "linkIdx").localCheckpoint(true)
    val seen = (1L to 900L).toDF("urlHash").localCheckpoint(true)
    // identity `mat` keeps the batch-bloom prefilter of the present set in
    // the final plan
    val out = graft.frontier.Sieve.newUrlsScanProbe(batch, seen, Seq("parentSeq", "linkIdx"),
      mat = identity, batchBloom = batchBloom(batch))
    val plan = finalPlan(out)
    assert(!plan.contains("UDF"), s"sieve prefilter fell back to a Scala UDF:\n$plan")
    assert(plan.contains("might_contain_bank"), s"expected the bank expression:\n$plan")
    // the prefilter stage is inside whole-stage codegen
    assert(plan.contains("*(1)"), s"no codegen stage around the prefilter:\n$plan")
    // and the result is still exact
    assert(out.select("urlHash").as[Long].collect().toSet == (901L to 2000L).toSet)
  }

  test("scan-probe sieve never shuffles the seen store") {
    import spark.implicits._
    // seen is 100k rows; the batch is 3000. If the membership check ever
    // shuffled the seen store (the r2 SMJ shape), total shuffle-write
    // records would exceed 100k; the scan-probe path shuffles only
    // batch-sized data. Measured with a real task-metrics listener — the
    // internal joins execute inside materializations and are not visible
    // in the final plan string.
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffled.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    val batch = (99001L to 102000L).map(i => (s"u$i", i, 0L, i))
      .toDF("url", "urlHash", "parentSeq", "linkIdx").localCheckpoint(true)
    val seen = (1L to 100000L).toDF("urlHash").localCheckpoint(true)
    val bloom = batchBloom(batch)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = graft.frontier.Sieve.newUrlsScanProbe(batch, seen,
        Seq("parentSeq", "linkIdx"), mat = df => df.localCheckpoint(true),
        batchBloom = bloom)
      assert(out.select("urlHash").as[Long].collect().toSet == (100001L to 102000L).toSet)
      assert(!finalPlan(out).contains("SortMergeJoin"))
      // repeated runs of the one plan: same exact result, still no SMJ
      val outFast = graft.frontier.Sieve.newUrlsScanProbe(batch, seen,
        Seq("parentSeq", "linkIdx"), mat = df => df.localCheckpoint(true),
        batchBloom = bloom)
      assert(outFast.select("urlHash").as[Long].collect().toSet == (100001L to 102000L).toSet)
      assert(!finalPlan(outFast).contains("SortMergeJoin"))
      val outFb = graft.frontier.Sieve.newUrlsScanProbe(batch, seen,
        Seq("parentSeq", "linkIdx"), mat = df => df.localCheckpoint(true),
        batchBloom = bloom)
      assert(outFb.select("urlHash").as[Long].collect().toSet == (100001L to 102000L).toSet)
      // let straggler stage-completed events drain
      var last = -1L
      var stable = 0
      while (stable < 3 && last < 1000000L) {
        Thread.sleep(200)
        val v = shuffled.get
        if (v == last) stable += 1 else { stable = 0; last = v }
      }
      // three sieve runs, each shuffling only batch-sized data (~3k rows);
      // any leak of the 100k-row seen store would blow far past this
      assert(shuffled.get < 30000L,
        s"scan-probe shuffled ${shuffled.get} records — the seen store leaked into a shuffle")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("scan-probe sieve: AQE picks the present-set join at run time") {
    import spark.implicits._
    // the never-shuffles shape (100k seen, 3000-row batch); identity `mat`
    // keeps the anti-join in the final adaptive plan
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffled.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    val batch = (99001L to 102000L).map(i => (s"u$i", i, 0L, i))
      .toDF("url", "urlHash", "parentSeq", "linkIdx").localCheckpoint(true)
    val seen = (1L to 100000L).toDF("urlHash").localCheckpoint(true)
    val order = Seq("parentSeq", "linkIdx")
    val bloom = batchBloom(batch)
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    def run(): (Set[Long], String) = {
      val out = graft.frontier.Sieve.newUrlsScanProbe(batch, seen, order,
        mat = identity, batchBloom = bloom)
      (out.select("urlHash").as[Long].collect().toSet, finalPlan(out))
    }
    spark.sparkContext.addSparkListener(listener)
    val (broadcastRun, shuffleRun) = try {
      // run 1: the static planner may not broadcast; AQE may, up to 10 MB
      // (the static threshold's default; left unset, the adaptive
      // threshold falls back to the static -1), and it sees that the
      // present set is small
      spark.conf.set(keys(0), "-1")
      spark.conf.set(keys(1), "10MB")
      val r1 = run()
      // run 2: no broadcast at all -> a shuffle join against present
      spark.conf.set(keys(1), "-1")
      val r2 = run()
      var last = -1L
      var stable = 0
      while (stable < 3 && last < 1000000L) {
        Thread.sleep(200)
        val v = shuffled.get
        if (v == last) stable += 1 else { stable = 0; last = v }
      }
      (r1, r2)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    assert(broadcastRun._2.contains("BroadcastHashJoin") && broadcastRun._2.contains("LeftAnti"),
      s"expected AQE to broadcast the present set:\n${broadcastRun._2}")
    assert(!shuffleRun._2.contains("BroadcastHashJoin") && shuffleRun._2.contains("LeftAnti"),
      s"expected a shuffle anti-join:\n${shuffleRun._2}")
    val exact = graft.frontier.Sieve.newUrls(batch, seen, order)
      .select("urlHash").as[Long].collect().toSet
    assert(exact == (100001L to 102000L).toSet)
    assert(broadcastRun._1 == exact && shuffleRun._1 == exact)
    // both runs shuffle batch-sized data only; the 100k-row seen store
    // never reaches an exchange
    assert(shuffled.get < 30000L,
      s"scan-probe shuffled ${shuffled.get} records — the seen store leaked into a shuffle")
  }

  test("q_sieve_first_seen ranks without a single-partition window") {
    val plan = finalPlan(SparkEntry.queries("q_sieve_first_seen")(spark, sf))
    assert(plan.contains("Window") && !plan.contains("SinglePartition"),
      s"the enqueue rank must not move every URL to one partition:\n$plan")
  }

  test("pending frontier (select, compaction, snapshot) is a broadcast left-anti join") {
    import spark.implicits._
    val frontier = (1L to 5000L).map(i => (s"u$i", i, i % 37, i % 11, i))
      .toDF("url", "urlHash", "hostHash", "ipHash", "seq").localCheckpoint(true)
    // a tombstone set of RDD-backed rows (the crawl keeps one checkpointed
    // set; a union of two plans the same)
    val tombs = (1L to 2500L by 7).toDF("urlHash").localCheckpoint(true)
      .unionByName((2501L to 5000L by 7).toDF("urlHash").localCheckpoint(true))
    val out = graft.frontier.Crawler.pendingFrontier(frontier, tombs, tombs.count())
    val plan = finalPlan(out)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected a broadcast left-anti join:\n$plan")
    assert(!plan.contains("might_contain_bank"), s"no bloom prefilter:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"the frontier must not be sorted:\n$plan")
    val dead = ((1L to 2500L by 7) ++ (2501L to 5000L by 7)).toSet
    assert(out.select("urlHash").as[Long].collect().toSet == (1L to 5000L).toSet -- dead)
    assert(graft.frontier.Crawler.pendingFrontier(frontier, tombs.limit(0), 0L) eq frontier)
  }

  test("digest-dedup probe path: no full digests-store shuffle for a bounded burst") {
    import spark.implicits._
    val pages = (1L to 50L).map(i => (s"d${i % 20}", i)).toDF("digest", "seq")
    val store = (1 to 5000).map(i => s"s$i").toDF("digest")
    val flagged = graft.frontier.Crawler.flagDuplicates(pages, store, probe = true)
    val plan = finalPlan(flagged)
    assert(!plan.contains("SortMergeJoin"),
      s"bounded burst must probe the digests store, not SMJ it:\n$plan")
    // parity with the SMJ path
    val full = graft.frontier.Crawler.flagDuplicates(pages, store, probe = false)
    val a = flagged.select("digest", "seq", "is_duplicate").collect().map(_.toSeq).toSet
    val b = full.select("digest", "seq", "is_duplicate").collect().map(_.toSeq).toSet
    assert(a == b, "probe and SMJ dedup paths disagree")
  }
}
