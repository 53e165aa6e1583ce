package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench stdout line IS the driver's round-over-round ground
  * truth: the r11–r13 lines silently failed its parse and PERF lost
  * three rounds of per-query comparisons (`prev_bench_ok: false`,
  * r14 verdict item 2). This spec pins the contract without a Spark
  * session: the line must be one newline-free JSON object carrying
  * every catalog query's wall median under `queries`, no longer than
  * the r9–r14 lines that parsed, and its short keys must be
  * lossless — which requires the `takeWhile(_ != '_')` prefixes to
  * stay unique across the catalog. Per-query executor CPU lives in
  * BENCH_FULL.json, whose record must carry every query. Jackson
  * (shipped with Spark) stands in for the parser that reads the line. */
class BenchLineSpec extends AnyFunSuite {

  private val keys = SparkEntry.queries.keys.toSeq.sorted

  test("catalog keys shorten to UNIQUE prefixes — the short line stays lossless") {
    val pre = keys.map(_.takeWhile(_ != '_'))
    val dup = pre.groupBy(identity).collect { case (p, g) if g.size > 1 => p }
    assert(dup.isEmpty,
      s"duplicate short prefixes ${dup.mkString(", ")} — the short-line " +
        "fallback would merge distinct queries; rename one of them")
  }

  /** The r9–r14 stdout lines were 2.2–2.4k chars and parsed (r14: 2,417);
    * r15's per-query CPU section doubled the line to 4.6k. One short
    * entry per query is ~12 chars, so the catalog's 161 queries cannot
    * fit a 2,000-char window at all; this bound admits one per-query
    * section and rejects a second. */
  private val MaxLineChars = 2500

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  test("rendered line is one bounded JSON object with every query's wall") {
    val (base, rest) = keys.partition(Bench.ExactBaselines)
    assert(base.toSet == Set("e01_self_knn", "e02_cosine_pairs"))
    val line = Bench.renderLine(
      rest.map(_ -> 0.123), base.map(_ -> 1.234),
      total = 12.345, baseTotal = 2.468, cpuTotal = 99.999,
      sfDir = "testdata/sf0.1")
    assert(!line.contains("\n") && !line.contains("\r"),
      "the driver parses ONE line; embedded newlines break it")
    assert(line.length <= MaxLineChars,
      s"stdout line is ${line.length} chars, over $MaxLineChars — " +
        "per-query detail beyond the wall median belongs in BENCH_FULL.json")

    val node = mapper.readTree(line)
    assert(node.get("metric").asText() == "total")
    assert(node.get("unit").asText() == "sec")
    assert(math.abs(node.get("value").asDouble() - 12.345) < 1e-9)
    assert(node.get("exact_baselines_total").isNumber)
    assert(node.get("cpu_total").isNumber)
    assert(node.get("sf").asText().endsWith("sf0.1"))
    assert(!node.has("queries_cpu"))

    val qs = node.get("queries")
    def k(full: String) = full.takeWhile(_ != '_')
    rest.foreach(q => assert(qs.has(k(q)), s"queries missing ${k(q)}"))
    assert(qs.size() == rest.size)
    base.foreach(b =>
      assert(node.get("exact_baselines").has(k(b)), s"baseline ${k(b)}"))
  }

  test("BENCH_FULL record carries every query's wall spread AND cpu") {
    val full = Bench.renderFull(
      keys.map(_ -> Seq((0.1, 0.01), (0.2, 0.02), (0.3, 0.03))),
      total = 12.345, baseTotal = 2.468, cpuTotal = 99.999, repeats = 3,
      sfDir = "testdata/sf0.1")
    assert(!full.contains("\n"))
    val node = mapper.readTree(full)
    assert(node.get("repeats").asInt() == 3)
    val qs = node.get("queries")
    assert(qs.size() == keys.size)
    keys.foreach { q =>
      val e = qs.get(q)
      assert(e != null, s"BENCH_FULL missing $q")
      assert(e.get("wall").asDouble() == 0.2 && e.get("cpu").asDouble() == 0.02)
      assert(e.get("min").asDouble() == 0.1 && e.get("max").asDouble() == 0.3)
    }
  }
}
