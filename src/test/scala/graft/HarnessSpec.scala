package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The driver-facing output of the mains: Bench's two JSON lines and the
  * JSON string escaper Verify writes `oracle_sql.json` with. Pure — no
  * Spark session. */
class HarnessSpec extends AnyFunSuite {
  private val json = new ObjectMapper()

  private def fields(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  private def queries(n: JsonNode): Map[String, Double] =
    n.get("queries").fields().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap

  /** 171 keys with millisecond-exact times, the slowest at 17.1 s. */
  private val keys = (1 to 171).map(i => f"q_key_$i%03d")
  private def timings(fail: Set[String]): Seq[Harness.Timing] =
    keys.zipWithIndex.map { case (k, i) => (k, (i + 1) / 10.0, !fail(k)) }

  test("bench lines: both parse as JSON with the driver's keys in order") {
    val best = timings(Set.empty)
    val pass1 = best.map { case (k, v, ok) => (k, v + 1.0, ok) }
    val (full, compact) = Harness.benchLines(best, pass1, "/data/sf0.1")
    val f = json.readTree(full)
    assert(fields(f) == Seq("metric", "value", "unit", "queries", "queries_pass1", "errors", "sf"))
    assert(f.get("metric").asText == "total" && f.get("unit").asText == "sec")
    assert(f.get("sf").asText == "/data/sf0.1")
    assert(queries(f) == best.map { case (k, v, _) => k -> v }.toMap)
    assert(fields(f.get("queries")) == keys)
    assert(f.get("queries_pass1").get("q_key_001").asDouble == 1.1)
    val c = json.readTree(compact)
    assert(fields(c) == Seq("metric", "value", "unit", "queries", "n_queries", "n_omitted",
      "omitted_sum", "queries_full", "errors", "sf"))
    assert(c.get("queries_full").asText == "bench/driver_full_last.json")
    assert(c.get("value").asDouble == f.get("value").asDouble)
    assert(c.get("n_queries").asInt == 171)
  }

  test("compact line: at most 20 keys, the slowest, and value == sum(queries) + omitted_sum") {
    val (_, compact) = Harness.benchLines(timings(Set.empty), timings(Set.empty), "sf")
    val c = json.readTree(compact)
    val qs = queries(c)
    assert(qs.size == 20 && c.get("n_omitted").asInt == 171 - 20)
    assert(qs.keySet == keys.takeRight(20).toSet)
    val sum = qs.values.sum + c.get("omitted_sum").asDouble
    assert(math.abs(c.get("value").asDouble - sum) < 0.0005, s"$sum vs ${c.get("value")}")
    assert(math.abs(c.get("value").asDouble - (1 to 171).map(_ / 10.0).sum) < 0.0005)
  }

  test("failed keys are negated, listed in errors and left out of the total") {
    val failed = Set("q_key_003", "q_key_170")
    val best = timings(failed)
    val (full, compact) = Harness.benchLines(best, best, "sf")
    for (line <- Seq(full, compact)) {
      val n = json.readTree(line)
      assert(n.get("errors").elements().asScala.map(_.asText).toSet == failed)
      assert(queries(n)("q_key_003") == -0.3 && queries(n)("q_key_170") == -17.0)
      val okSum = best.collect { case (_, v, true) => v }.sum
      assert(math.abs(n.get("value").asDouble - okSum) < 0.0005)
    }
    // failures are always shown in the compact line; the arithmetic holds
    // over the keys that succeeded
    val c = json.readTree(compact)
    val kept = queries(c).values.filter(_ > 0).sum + c.get("omitted_sum").asDouble
    assert(math.abs(c.get("value").asDouble - kept) < 0.0005)
  }

  test("JSON string escaper round-trips quotes, backslashes and control chars") {
    val s = "a\"b\\c\nd\re\tf\u0001g SELECT 'x' — ü"
    assert(json.readTree(Harness.jsonString(s)).asText == s)
    (0 until 0x20).map(_.toChar.toString).foreach { c =>
      assert(json.readTree(Harness.jsonString(c)).asText == c)
    }
    assert(Harness.jsonString("\u0001") == "\"\\u0001\"")
  }
}
