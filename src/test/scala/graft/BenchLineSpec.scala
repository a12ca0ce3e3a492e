package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Bench's stdout line, built from fixed readings: no Spark job runs. */
class BenchLineSpec extends AnyFunSuite {

  private def keys(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  test("the bench line keeps every arm, names the arm that threw, and bounds each ratio block") {
    val queries = (1 to 200).map(i => f"query_$i%03d" -> i / 100.0) :+ ("broken_query" -> -1.0)
    val headline = Seq("suite20_cold" -> 4.1, "suite20_warm" -> 0.5,
      "suite20_warm_tuned" -> 0.3, "suite20_cached" -> 0.12)
    val sf1 = Seq("dedup_minhash" -> 4.5, "suite20" -> 6.25, "semdedup_scaled" -> 7.0)
    val text = Bench.line(0.12, queries, headline, Seq("broken_query"),
      Seq("query_001" -> ((0.004, 0.006))), Seq("sweep10x" -> Nil, "sf1" -> sf1),
      Map("query_002" -> 0.05, "sf1:suite20" -> 0.31), "/data/sf0.1")
    assert(!text.contains("\n"), "one line")
    val json = new ObjectMapper().readTree(text)

    assert(keys(json) == Set("metric", "value", "unit", "queries", "failed", "op_verify_sec",
      "sf1", "amb_worst", "sf"), "a skipped block publishes no key")
    assert(json.get("metric").asText == "suite20_inmemory_sec")
    assert(json.get("value").asDouble == 0.12)
    assert(json.get("sf").asText == "/data/sf0.1")

    val q = json.get("queries")
    assert(keys(q) == (queries ++ headline).map(_._1).toSet, "nothing is trimmed")
    assert(q.get("query_200").asDouble == 2.0)
    assert(q.get("suite20_cached").asDouble == 0.12)
    assert(q.get("broken_query").asDouble == -1.0, "a thrown arm keeps -1 under its key")
    assert(json.get("failed").elements().asScala.map(_.asText).toSeq == Seq("broken_query"))

    val op = json.get("op_verify_sec").get("query_001")
    assert(op.size == 2 && op.get(0).asDouble == 0.0 && op.get(1).asDouble == 0.01)

    val block = json.get("sf1")
    assert(keys(block) == Set("worst", "worst_q", "n", "bound", "ratios"))
    assert(block.get("bound").asDouble == 15.0)
    assert(block.get("worst").asDouble == 7.0 && block.get("worst_q").asText == "semdedup_scaled")
    assert(block.get("n").asInt == 3)
    assert(keys(block.get("ratios")) == sf1.map(_._1).toSet)

    assert(json.get("amb_worst").get("q").asText == "sf1:suite20")
    assert(json.get("amb_worst").get("v").asDouble == 0.31)
  }

  test("every operator arm has the full query its verify split subtracts from") {
    assert(Queries.operatorArms.keySet.subsetOf(SparkEntry.queries.keySet),
      (Queries.operatorArms.keySet -- SparkEntry.queries.keySet).mkString(", "))
  }
}
