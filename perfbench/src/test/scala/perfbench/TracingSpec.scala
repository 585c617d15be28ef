package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracingSpec extends AnyFunSuite {

  test("covered time is the union of overlapping intervals, clipped to the span") {
    assert(Tracer.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 35L) == 25L)
    assert(Tracer.covered(Nil, 0L, 10L) == 0L)
  }

  test("the innermost engine frame of a call site names its class") {
    val site = "org.apache.spark.sql.Dataset.count(Dataset.scala:1)\n" +
      "graft.frontier.Sieve$.newUrls(Sieve.scala:80)\ngraft.frontier.Crawler.runRound(Crawler.scala:9)"
    assert(JobListener.innermostGraftFrame(site) == "graft.frontier.Sieve")
    assert(JobListener.innermostGraftFrame(null) == "")
  }

  test("spans nest and a disabled tracer records nothing") {
    val t = new Tracer(true)
    t.span("outer")(t.span("inner")(()))
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    val off = new Tracer(false)
    off.span("x")(())
    assert(off.spans.isEmpty)
  }
}
