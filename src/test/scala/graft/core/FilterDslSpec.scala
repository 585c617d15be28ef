package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Filter DSL grammar + atom semantics (reference `FiltersTest.java:94-205`,
  * grammar `FilterParser.jj:58-180`). */
class FilterDslSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def urls = {
    import spark.implicits._
    Seq(
      "http://a.example.com/x/y.html",
      "https://b.example.org/img/pic.jpg",
      "ftp://c.example.com/file",
      "http://www.example.com/a/b/a/b/a/b/z",
      "http://short.io/"
    ).toDF("url")
  }

  private def keep(dsl: String): Seq[String] = {
    import spark.implicits._
    urls.where(FilterDsl.compile(dsl, FilterDsl.urlContext(col("url"))))
      .select("url").as[String].collect().toSeq
  }

  test("scheme and boolean composition, all operator spellings") {
    val expected = Seq("http://a.example.com/x/y.html", "https://b.example.org/img/pic.jpg",
      "http://www.example.com/a/b/a/b/a/b/z", "http://short.io/")
    assert(keep("SchemeEquals(http) or SchemeEquals(https)") == expected)
    assert(keep("SchemeEquals(http) || SchemeEquals(https)") == expected)
    assert(keep("SchemeEquals(http) ∨ SchemeEquals(https)") == expected)
    assert(keep("not SchemeEquals(ftp)") == expected)
    assert(keep("! SchemeEquals(ftp)") == expected)
    assert(keep("~ SchemeEquals(ftp)") == expected)
  }

  test("host predicates") {
    assert(keep("HostEquals(short.io)") == Seq("http://short.io/"))
    assert(keep("HostEndsWith(.example.com)").size == 3) // a., c. (ftp), www.
    assert(keep("HostEndsWithOneOf(.example.com,.example.org)").size == 4)
  }

  test("path / url predicates") {
    assert(keep("PathEndsWithOneOf(.jpg,.png)") == Seq("https://b.example.org/img/pic.jpg"))
    assert(keep("URLShorterThan(17)") == Seq("http://short.io/"))
    assert(keep("URLMatchesRegex(http://[as].*)") ==
      Seq("http://a.example.com/x/y.html", "http://short.io/"))
    assert(keep("DuplicateSegmentsLessThan(3)").size == 4) // a/b x3 rejected
  }

  test("constants, parens, precedence (and binds tighter than or)") {
    assert(keep("true").size == 5)
    assert(keep("false").isEmpty)
    // or of and-chains: (ftp and true) or HostEquals(short.io)
    assert(keep("SchemeEquals(ftp) and true or HostEquals(short.io)").toSet ==
      Set("ftp://c.example.com/file", "http://short.io/"))
    assert(keep("SchemeEquals(ftp) and ( true or HostEquals(short.io) )") ==
      Seq("ftp://c.example.com/file"))
  }

  test("PathEndsWithOneOf lower-cases with JVM Locale.ROOT semantics, never Spark's lower") {
    import spark.implicits._
    val urls = Seq(
      "http://a.example/img/Pic.JPG", "http://a.example/img/pic.jpg",
      "http://a.example/x/%C3%A9t%C3%A9.PnG", "http://a.example/caf%C3%A9.Jpeg",
      "http://a.example/\u00C9T\u00C9.PNG", "http://a.example/\u0130.jpg",
      "http://a.example/stra\u00DFe.GIF", "http://a.example/\u03A3\u039F\u03A6\u039F\u03A3",
      "http://a.example/q.txt?x=.jpg", "http://a.example/").toDF("url")
      .localCheckpoint(true) // an RDD input keeps the filter in the plan
    for (list <- Seq(".jpg", ".JPG,.png", "\u00E9.png,%C3%A9.png", ".Jpeg,SSE.gif,\u00DFe.gif",
        "\u03C3\u03BF\u03C6\u03BF\u03C3,.JPG", "i\u0307.jpg")) {
      val suffixes = list.split(",").toSeq
      val kept = urls.where(FilterDsl.compile(s"PathEndsWithOneOf($list)",
        FilterDsl.urlContext(col("url"))))
      val expected = urls.as[String].collect().filter(u => suffixes.exists(s =>
        Burl.path(u).toLowerCase(java.util.Locale.ROOT).endsWith(s.toLowerCase(java.util.Locale.ROOT))))
      assert(kept.as[String].collect().toSeq == expected.toSeq, list)
      val plan = kept.queryExecution.optimizedPlan.toString
      assert(plan.contains("lower_root(") && !plan.contains("lower("),
        s"the filter must not use Spark's ICU lower:\n$plan")
    }
  }

  test("codegen'd URL expressions equal the core functions, with and without codegen") {
    import spark.implicits._
    import graft.functions._
    val specs = Seq("http://a.b/c/../a", "HTTP://A/B", "http://foo/Top/World/Espa\u00F1ol/",
      "http://a/b c/", "http://a b/", "a%00", ":a))/", "http://a.b", "./a",
      "http://x.example/a/b/a/b/a/b/z?q=1", "https://H.example:443/IMG/P.JPG", null)
    // RDD inputs: over a local relation the optimizer evaluates the
    // projections itself, and no generated code would run
    val arr = Seq(specs).toDF("links").localCheckpoint(true)
    val df = arr.select(posexplode(col("links")).as(Seq("i", "spec")))
    def run(): Seq[Seq[Any]] = df
      .select(col("i"), burl_parse(col("spec")).as("u"))
      .select(col("i") +: col("u") +: Seq(
        burl_scheme(col("u")), burl_host(col("u")), burl_scheme_authority(col("u")),
        burl_path_query(col("u")), burl_path(col("u")),
        duplicate_segments_lt(burl_path(col("u")), 3), lower_root(col("u"))): _*)
      .orderBy("i").collect().map(_.toSeq.tail).toSeq
    val expected = specs.map { spec =>
      val u = if (spec == null) null else Burl.parse(spec)
      if (u == null) Seq.fill(8)(null)
      else Seq(u, Burl.scheme(u), Burl.host(u), Burl.schemeAndAuthority(u),
        Burl.pathAndQuery(u), Burl.path(u), DuplicateSegments.lessThan(Burl.path(u), 3),
        u.toLowerCase(java.util.Locale.ROOT))
    }
    assert(run() == expected)
    val each = arr.select(burl_parse_each(col("links"))).as[Seq[String]]
    assert(each.collect().head == specs.map(s => if (s == null) null else Burl.parse(s)))
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      assert(run() == expected)
      assert(each.collect().head == specs.map(s => if (s == null) null else Burl.parse(s)))
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("parse errors are loud") {
    intercept[IllegalArgumentException](FilterDsl.compile("Bogus(x)", FilterDsl.urlContext(col("url"))))
    intercept[IllegalArgumentException](FilterDsl.compile("SchemeEquals(http", FilterDsl.urlContext(col("url"))))
    intercept[IllegalArgumentException](FilterDsl.compile("and and", FilterDsl.urlContext(col("url"))))
  }

  test("status/content-type atoms read the right columns") {
    import spark.implicits._
    val rows = Seq((200, "text/html"), (404, "text/plain"), (302, "image/png"))
      .toDF("status", "contentType")
    val ctx = FilterDsl.FilterContext(
      status = Some(col("status")), contentType = Some(col("contentType")))
    assert(rows.where(FilterDsl.compile("StatusCategory(2)", ctx)).count() == 1)
    assert(rows.where(FilterDsl.compile("ContentTypeStartsWith(text/)", ctx)).count() == 2)
    assert(rows.where(FilterDsl.compile("StatusCategory(3) and ContentTypeStartsWith(image/)", ctx)).count() == 1)
    // missing column -> loud error
    intercept[IllegalArgumentException](
      rows.where(FilterDsl.compile("HostEquals(x)", ctx)).count())
  }
}
