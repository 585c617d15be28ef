package graft.analytics

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Focused equivalence tests for the r06 optimization internals: the
  * hyperplane bucket kernel, the precomputed-norm cosine, and
  * the no-fork local filesystem must all be BIT-identical / semantically
  * identical to the formulations they replaced (the driver's oracle gate
  * depends on exact doubles). */
class OptimizedInternalsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def randVecs(n: Int, dim: Int, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (1L to n.toLong).map(i => (i, Array.fill(dim)(rnd.nextGaussian())))
      .toDF("id", "v")
  }

  /** The per-row SQL bucket formula `plane_bucket` replaced, kept as the
    * reference: plane p's weight for index i is pmod(xxhash64("p_i"), 2)*2-1. */
  private def refBucket(vec: Column, planes: Int): Column =
    (0 until planes).map { p =>
      val prod = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x * (pmod(xxhash64(concat_ws("_", lit(p), i)), lit(2)) * 2 - 1)),
        lit(0.0), (acc, x) => acc + x)
      when(prod >= 0, lit(1L)).otherwise(lit(0L)) * (1L << p)
    }.reduce(_ + _)

  /** plane_bucket evaluated in Spark (generated code, then interpreted
    * eval) and by the driver-side kernel, each against [[refBucket]]. */
  private def checkAgainstRef(vecs: Seq[Seq[java.lang.Double]], planes: Int): Seq[Long] = {
    import graft.functions.{plane_bucket, PlaneBuckets}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("v", ArrayType(DoubleType, containsNull = true))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      vecs.zipWithIndex.map { case (v, i) => Row(i, v) }, 2), schema)
    def evalIn(conf: Map[String, String]): Map[Int, (Long, Long)] = {
      val old = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        // separate from the reference: a projection holding the formula's
        // CodegenFallback expressions is not whole-stage codegen'd
        val q = df.select(col("id"), plane_bucket(col("v"), planes))
        val wscg = q.queryExecution.executedPlan.collect {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.toString }
        assert(wscg.exists(_.contains("plane_bucket")) == conf.isEmpty, wscg)
        val ref = df.select(col("id"), refBucket(col("v"), planes)).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        q.collect().map(r => r.getInt(0) -> (r.getLong(1), ref(r.getInt(0)))).toMap
      } finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val codegen = evalIn(Map.empty)
    val interpreted = evalIn(Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    vecs.indices.map { i =>
      val (got, ref) = codegen(i)
      val v = vecs(i)
      val driver = PlaneBuckets.bucket(
        if (v == null) null else new GenericArrayData(v.toArray[Any]), planes)
      assert(got == ref && interpreted(i) == (ref, ref) && driver == ref,
        s"${String.valueOf(v)}: codegen $got, interpreted ${interpreted(i)._1}, driver $driver, formula $ref")
      if (v != null && !v.contains(null))
        assert(PlaneBuckets.bucket(v.map(_.doubleValue).toArray, planes) == ref)
      ref
    }
  }

  test("plane_bucket equals the per-row formula on random vectors of mixed dimension") {
    val rnd = new scala.util.Random(11)
    val vecs = Seq.fill(120)(Seq.fill(1 + rnd.nextInt(12))(
      java.lang.Double.valueOf(rnd.nextGaussian())))
    val buckets = checkAgainstRef(vecs, planes = 8)
    assert(buckets.distinct.size > 16) // the planes split the vectors
  }

  test("plane_bucket equals the per-row formula on degenerate vectors") {
    def d(xs: Double*): Seq[java.lang.Double] = xs.map(java.lang.Double.valueOf)
    val nan = Double.NaN
    val inf = Double.PositiveInfinity
    val cases = Seq(
      d(), // sequence(0, -1) has two entries: the zip pads with nulls
      null,
      Seq[java.lang.Double](1.0, null, 2.0),
      d(1.0, nan, 2.0),
      d(0.0, 0.0, 0.0),
      d(1.0),
      d(inf), d(-inf), d(inf, -inf), d(1.0, -inf, 3.0))
    val buckets = checkAgainstRef(cases, planes = 4)
    // the formula's values, measured with Spark 4.1 (ANSI on)
    assert(buckets.take(6) == Seq(0L, 0L, 0L, 15L, 15L, 15L))
  }

  test("lshTopK with a query longer than the corpus dimension still completes") {
    // weight(p, i) depends only on (p, i): the query bucket is computed
    // with a table sized by the query's own length, so a dimension
    // mismatch must not throw (the old per-row expression completed too)
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val emb = (1L to 40L).map(i => (i, Array.fill(6)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = Array.fill(8)(rnd.nextGaussian())
    val rows = Similarity.lshTopK(emb, "vec_id", "embedding", q, 5, planes = 3).collect()
    assert(rows.length <= 5) // completes; probe ball may or may not match
  }

  test("normExpr + cosineWithNorms are bit-identical to the one-shot cosine") {
    val rnd = new scala.util.Random(17)
    val v = randVecs(60, 8, 17)
    val q = Array.fill(8)(rnd.nextGaussian())
    val qArr = array(q.map(lit): _*)
    val oneShot = v.select(col("id"), Similarity.cosine(col("v"), qArr).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val split = v.withColumn("nrm", Similarity.normExpr(col("v")))
      .select(col("id"), Similarity.cosineWithNorms(col("v"), qArr,
        col("nrm"), lit(Similarity.localNorm(q))).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // BIT identity, not approximate: same fold order, same operand order
    oneShot.foreach { case (id, c) =>
      assert(java.lang.Double.doubleToRawLongBits(c) ==
        java.lang.Double.doubleToRawLongBits(split(id)), s"id=$id $c vs ${split(id)}")
    }
    // zero-norm guard preserved
    import spark.implicits._
    val z = Seq((9L, Array(0.0, 0.0))).toDF("id", "v")
      .withColumn("nrm", Similarity.normExpr(col("v")))
    val zc = z.select(Similarity.cosineWithNorms(col("v"), array(lit(1.0), lit(0.0)),
      col("nrm"), lit(1.0)).as("c")).head().getDouble(0)
    assert(zc == 0.0)
  }

  test("localNorm equals the Spark-evaluated normExpr of the literal vector") {
    val rnd = new scala.util.Random(19)
    val q = Array.fill(12)(rnd.nextGaussian())
    val sparkNorm = spark.range(1)
      .select(Similarity.normExpr(array(q.map(lit): _*)).as("n")).head().getDouble(0)
    assert(java.lang.Double.doubleToRawLongBits(Similarity.localNorm(q)) ==
      java.lang.Double.doubleToRawLongBits(sparkNorm))
  }

  test("FastLocalFileSystem writes are readable and carry the standard permissions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fastfs").toString
    try {
      val df = (1L to 50L).map(i => (i, i % 5)).toDF("id", "part")
      df.repartition(col("part")).write.partitionBy("part")
        .options(graft.util.FastLocalFs.writeOptions)
        .mode("overwrite").parquet(dir)
      // the partition column comes back type-inferred (int), hence getAs[Number]
      val back = spark.read.parquet(dir).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toSet
      assert(back == (1L to 50L).map(i => (i, i % 5)).toSet)
      // the partition dirs exist and files are owner-readable/writable
      val sub = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part="))
      assert(sub.length == 5)
      sub.foreach { d => assert(d.canRead && d.canExecute) }
    } finally new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }
}
