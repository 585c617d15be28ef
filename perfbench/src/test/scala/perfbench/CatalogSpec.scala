package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

class CatalogSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val benchmark = mapper.readTree(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))

  private def names(node: JsonNode): Seq[String] = node.elements().asScala.map(_.get("name").asText).toSeq

  /** The metric names of a result line as the benchmark prints it. */
  private def printed(wanted: Seq[(String, String)]): Set[String] = {
    val line = Main.result(new Ops(_ => ()), wanted, wanted.map(_._1 -> 1.5).toMap)
    mapper.readTree(line).get("metrics").fieldNames().asScala.toSet
  }

  test("printed end-to-end metric names equal BENCHMARK.json end_to_end") {
    assert(printed(Catalog.EndToEnd) == names(benchmark.get("end_to_end")).toSet)
  }

  test("printed per-layer metric names equal BENCHMARK.json per_layer") {
    assert(printed(Catalog.PerLayer) == names(benchmark.get("per_layer")).toSet)
  }

  test("units and workloads agree with BENCHMARK.json") {
    val units = (benchmark.get("end_to_end").elements().asScala ++ benchmark.get("per_layer").elements().asScala)
      .map(m => m.get("name").asText -> m.get("unit").asText).toMap
    (Catalog.EndToEnd ++ Catalog.PerLayer).foreach { case (n, u) => assert(units(n) == u, n) }
    assert(names(benchmark.get("workloads")) == Catalog.Workloads)
  }

  test("every SparkEntry query is run or named as crawl-backed") {
    val listed = Catalog.Leaves.map(_._1) ++ Catalog.CrawlBackedLeaves
    assert(listed.toSet == graft.SparkEntry.queries.keySet)
    assert(listed.distinct.size == listed.size)
  }

  test("a result line carries the contract keys and counts") {
    val ops = new Ops(_ => ())
    ops.run("ok")(1)(_ => None)
    val node = mapper.readTree(Main.result(ops, Catalog.EndToEnd, Catalog.EndToEnd.map(_._1 -> 2.0).toMap))
    assert(node.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
    assert(node.get("correct").asBoolean && node.get("attempted").asInt == 1 && node.get("failed").asInt == 0)
    assert(node.get("metrics").get("setup_s").get("unit").asText == "s")
  }
}
