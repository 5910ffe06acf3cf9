package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** The stdout artifact contract that cost round 9 its bench number:
  * the driver parses the JSON line out of the last ~2000 chars of
  * output, so the line must stay <= BenchLine.MaxLen (1500) at any
  * registry size, parse as JSON, and carry the gc_hot bomb detector.
  */
class BenchLineSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private def mkResults(n: Int): Map[String, Double] =
    (1 to n).map(i => f"q_synthetic_query_name_$i%03d" -> (i % 37) * 0.173).toMap

  test("line fits MaxLen at current and 2x registry size, and parses") {
    for (n <- Seq(50, 259, 520)) {
      val res = mkResults(n)
      val gc = res.keys.map(_ -> 10L).toMap
      val line = BenchLine.build(res, gc, Seq.empty, 32, 79, 123,
        "/root/testdata/sf0.1", canaryS = 1.234)
      assert(line.length <= BenchLine.MaxLen, s"n=$n length=${line.length}")
      val node = mapper.readTree(line)
      assert(node.get("metric").asText() == "total")
      assert(node.get("value").asDouble() > 0)
      assert(node.get("unit").asText() == "sec")
      assert(node.has("queries"))
      // the calibration canary survives every degradation rung: it is
      // the cross-round env normalizer (r13 VERDICT #1)
      assert(node.get("canary_s").asDouble() == 1.23, s"n=$n canary")
      // whatever survives degradation, the most expensive query must
      // be present by name with its time
      val mostExpensive = res.maxBy { case (k, v) => (v, k) }._1
      assert(node.get("queries").has(mostExpensive), s"n=$n dropped $mostExpensive")
    }
  }

  test("canary_s omitted when not measured (negative sentinel)") {
    val line = BenchLine.build(mkResults(10),
      mkResults(10).keys.map(_ -> 1L).toMap, Seq.empty, 32, 79, 123, "sf")
    assert(!mapper.readTree(line).has("canary_s"))
  }

  test("gc_hot lists a query holding >20% of a >=2s suite GC total") {
    val res = mkResults(100)
    val gc = res.keys.map(_ -> 10L).toMap + ("q_synthetic_query_name_007" -> 3000L)
    val line = BenchLine.build(res, gc, Seq.empty, 32, 79, 123, "sf")
    val node = mapper.readTree(line)
    assert(node.has("gc_hot"))
    assert(node.get("gc_hot").get(0).asText() == "q_synthetic_query_name_007")
    assert(line.length <= BenchLine.MaxLen)
  }

  test("gc_hot absent when suite GC total is below the 2s floor") {
    val res = mkResults(100)
    val gc = res.keys.map(_ -> 1L).toMap + ("q_synthetic_query_name_007" -> 500L)
    val line = BenchLine.build(res, gc, Seq.empty, 32, 79, 123, "sf")
    assert(!mapper.readTree(line).has("gc_hot"))
  }

  test("failed queries survive every degradation rung") {
    val res = mkResults(520) + ("q_broken" -> -1.0)
    val gc = res.keys.map(_ -> 0L).toMap
    val line = BenchLine.build(res, gc, Seq("q_broken"), 32, 79, 123, "sf")
    val node = mapper.readTree(line)
    assert(node.get("failed").get(0).asText() == "q_broken")
    // a failed query's -1 must not count into the total
    assert(node.get("value").asDouble() >= 0)
    assert(line.length <= BenchLine.MaxLen)
  }

  test("execution order is name-sorted (r12 VERDICT #2)") {
    // A Map's iteration order is hash order — the very instability the
    // sort kills — so feed names through a Map to prove independence.
    val names = Map("q_zeta" -> 1, "q_alpha" -> 2, "q_mid" -> 3, "q_beta" -> 4).keys
    assert(BenchLine.order(names) == Seq("q_alpha", "q_beta", "q_mid", "q_zeta"))
  }

  test("order is deterministic on the real registry and covers it exactly") {
    val names = SparkEntry.queries.keys
    val o1 = BenchLine.order(names)
    assert(o1 == BenchLine.order(names))
    assert(o1.sorted == names.toSeq.sorted)
    assert(o1 == o1.sorted, "default order must be the name sort itself")
  }

  test("empty results still render a parseable line") {
    val line = BenchLine.build(Map.empty, Map.empty, Seq.empty, 32, 79, 123, "sf")
    assert(mapper.readTree(line).get("value").asDouble() == 0.0)
    assert(line.length <= BenchLine.MaxLen)
  }
}
