package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's short-stdout-line contract (VERDICT r16 Next #2):
  * the `queries` map carries the top-30 most expensive queries and the
  * whole line must survive the driver's 2000-char stdout tail cap —
  * measured here against the REAL declared query-name set, not a
  * synthetic one, so a future long-named query that would push the
  * line over the cap fails this suite instead of silently truncating
  * the artifact back to `parsed: null`. The additive `failed` key
  * names the queries that threw, so a crash is never read as a fast
  * success.
  */
class BenchShortLineSpec extends AnyFunSuite {

  test("top-30 map is descending by median, name-tiebroken, k-capped") {
    val medians = Seq("b" -> 2.0, "a" -> 2.0, "c" -> 5.0, "d" -> 0.001)
    val json = Bench.shortQueriesJson(medians, k = 3)
    assert(json === """{"c":5.000,"a":2.000,"b":2.000}""")
  }

  test("full short line stays under the driver 2000-char tail cap " +
      "with the real 188 query names at worst-case magnitudes") {
    // worst realistic case: every declared query named, three-digit
    // medians (999.999 s — far beyond anything the suite produces)
    val medians = SparkEntry.queries.keys.map(_ -> 999.999).toSeq
    val topQs = Bench.shortQueriesJson(medians)
    // worst-case `failed`: the ten longest names listed
    val failed = Bench.failedJson(medians.map(_._1).sortBy(-_.length).take(10))
    val short = Bench.shortLine(187961.81199999998, topQs, medians.size,
      "/data/bench/testdata/sf0.1", "bench_full.json", 123456789L, 32.15,
      8.876543210987654, 3, failed)
    assert(short.length < 1900,
      s"short bench line ${short.length} chars — too close to the " +
        "2000-char driver tail cap")
    // and it parses as JSON with the map populated
    assert(topQs.startsWith("{\"") && topQs.count(_ == ':') === 30)
  }

  test("the original short-line keys stay, in order, and failed is additive") {
    val short = Bench.shortLine(1.5, "{}", 0, "sf", "d.json", 0L, 0.0, 0.0, 3,
      Bench.failedJson(Nil))
    val keys = "\"([a-z_]+)\":".r.findAllMatchIn(short).map(_.group(1)).toSeq
    assert(keys === Seq("metric", "value", "unit", "total_sec", "queries",
      "queries_n", "sf", "detail", "steal_delta", "load_end", "membw_gbps",
      "trials", "failed", "n", "queries"))
    assert(short.endsWith(""""failed":{"n":0,"queries":[]}}"""))
  }

  test("a query that throws is recorded as failed, not timed as a success") {
    val ok = Bench.timed("fine")(())
    val crash = Bench.timed("crash")(throw new IllegalStateException("boom"))
    assert(!ok.failed && crash.failed)
    assert(crash.seconds >= 0.0)
    // the short line names the failing queries (sorted, capped at k)
    // and counts all of them
    assert(Bench.failedJson(Seq("q_b", "q_a", "q_c"), k = 2) ===
      """{"n":3,"queries":["q_a","q_b"]}""")
  }
}
