package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** [[Bench.run]]'s two lines, driven directly so no spec writes the
  * committed `bench_out.json`.
  */
class BenchSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"
  private val cheap = Seq("p1_point_lookup", "a4_sum_per_group")

  /** The line must be exactly one JSON object: the parser reads one
    * value and nothing may follow it.
    */
  private def parseOne(line: String): JsonNode = {
    val parser = new ObjectMapper().createParser(line)
    val node: JsonNode = parser.readValueAsTree()
    assert(node.isObject, line)
    assert(parser.nextToken() == null, s"trailing content after the object: $line")
    node
  }

  private def keys(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  test("run reports each query's median, their total and the sf tag; the file line adds cpus and spreads") {
    val (line, fileLine) = Bench.run(spark, sfDir,
      cheap.map(n => n -> SparkEntry.queries(n)).toMap, trials = 1)
    val out = parseOne(line)
    assert(keys(out) == Set("metric", "value", "unit", "queries", "sf"))
    assert(out.get("metric").asText == "total" && out.get("unit").asText == "sec")
    assert(out.get("sf").asText == "sf0.001")
    val qs = out.get("queries")
    assert(keys(qs) == cheap.toSet)
    cheap.foreach(n => assert(qs.get(n).asDouble > 0, n))
    assert(math.abs(out.get("value").asDouble - cheap.map(qs.get(_).asDouble).sum) < 0.011)

    val file = parseOne(fileLine)
    assert(keys(file) == keys(out) ++ Set("cpus", "spread"))
    assert(file.get("cpus").asInt == spark.sparkContext.defaultParallelism)
    val spread = file.get("spread")
    assert(keys(spread) == cheap.toSet)
    cheap.foreach { n =>
      val mm = spread.get(n)
      assert(mm.size == 2 && mm.get(0).asDouble > 0 && mm.get(0).asDouble <= mm.get(1).asDouble, n)
    }
  }

  test("a query that throws records -1 and the other query is still measured") {
    val boom: Bench.Query = (_, _) => throw new IllegalStateException("boom")
    val (line, fileLine) = Bench.run(spark, sfDir,
      Map("a_boom" -> boom, cheap.head -> SparkEntry.queries(cheap.head)), trials = 2)
    val qs = parseOne(line).get("queries")
    assert(qs.get("a_boom").asDouble == -1.0)
    assert(qs.get(cheap.head).asDouble > 0)
    // a failed query is left out of the total
    assert(parseOne(line).get("value").asDouble == qs.get(cheap.head).asDouble)
    val spread = parseOne(fileLine).get("spread")
    assert(spread.get("a_boom").get(0).asDouble == -1.0 && spread.get("a_boom").get(1).asDouble == -1.0)
  }
}
