package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Bench's result lines as a pure function of the timed passes. */
class BenchReportSpec extends AnyFunSuite {
  private val parentFullKeys = Seq("metric", "value", "unit",
    "value_normalized", "canary_ref", "queries", "timings", "prewarmed",
    "failed", "loadavg_before", "loadavg_after", "canary", "canary_spread",
    "canary_median", "contended", "max_query_spread", "value_min", "attempts",
    "attempt_chosen", "spilled_bytes", "spilled", "sf")
  private val parentCompactKeys = Seq("metric", "value", "unit",
    "value_normalized", "canary_ref", "value_min", "contended",
    "canary_spread", "canary_median", "attempts", "loadavg", "n_queries",
    "prewarmed", "failed", "slowest", "full_results", "sf")
  // parent keys with `warmed` inserted right after `prewarmed`
  private def withWarmed(keys: Seq[String]): Seq[String] =
    keys.flatMap(k => if (k == "prewarmed") Seq(k, "warmed") else Seq(k))

  private val odd = "quote\"and\\backslash_query"
  private val names = odd +: (1 until 288).map(i =>
    f"synthetic_query_${i}%03d_" + "with_a_deliberately_long_name_" * 3)
  private def attempt(scale: Double, canary: Seq[Double]): Bench.Attempt =
    Bench.Attempt(names.zipWithIndex.map { case (n, i) =>
      val ts = Seq(0.10, 0.12, 0.11).map(t => (t + i * 0.01) * scale)
      Bench.QueryResult(n, Bench.median(ts), ok = i != 7, ts,
        if (i % 50 == 0) 1024L * (i + 1) else 0L)
    }, canary, "1.00 0.50 0.25", "2.00 1.00 0.50")
  // first pass contended (canary spread 4.5x), second clean
  private val attempts =
    Seq(attempt(1.0, Seq(0.2, 0.9, 0.3)), attempt(1.1, Seq(0.25, 0.24, 0.26)))
  private val (full, compact) =
    Bench.report(attempts, warmed = false, prewarmed = true, "/data/sf0.1")
  private val mapper = new ObjectMapper()
  private def keys(line: String): Seq[String] =
    mapper.readTree(line).fieldNames.asScala.toSeq

  test("both lines parse as single-line JSON objects") {
    Seq(full, compact).foreach { l =>
      assert(mapper.readTree(l).isObject)
      assert(!l.contains('\n'))
    }
  }

  test("the full line carries every parent key, in order, plus warmed") {
    assert(keys(full) === withWarmed(parentFullKeys))
    val j = mapper.readTree(full)
    assert(!j.get("warmed").asBoolean && j.get("prewarmed").asBoolean)
    assert(j.get("queries").size === 288)
    assert(j.get("queries").has(odd) && j.get("timings").get(odd).size === 3)
    assert(j.get("failed").size === 1 && j.get("failed").get(0).asText === names(7))
    assert(j.get("attempt_chosen").asInt === 2)
    assert(j.get("attempts").size === 2 && j.get("attempts").get(0).get("contended").asBoolean)
    assert(j.get("value").asDouble === attempts(1).total)
    assert(j.get("spilled").get(odd).asLong === 1024L)
    assert(full.contains("\"canary_ref\":0.249,"))
  }

  test("the compact line stays within 1800 chars by shrinking the slowest list") {
    assert(compact.length <= Bench.CompactMaxChars)
    assert(keys(compact) === withWarmed(parentCompactKeys))
    val j = mapper.readTree(compact)
    val slowest = j.get("slowest").fieldNames.asScala.toSeq
    assert(slowest.nonEmpty && slowest.size < 15)
    assert(slowest.head === names.last)
    assert(j.get("n_queries").asInt === 288)
    assert(j.get("loadavg").asText === "1.00 0.50 0.25 -> 2.00 1.00 0.50")
  }
}
