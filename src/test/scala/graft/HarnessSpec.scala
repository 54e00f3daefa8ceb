package graft

import java.nio.file.Files

/** The shared harness around the query registry: query selection, the
  * session settings every entry point shares, and Prof's per-query report. */
class HarnessSpec extends SparkSpec {

  test("selection rejects an unknown query name and names it") {
    val e = intercept[IllegalArgumentException](
      Session.selected(Some("q_filter_eq,q_no_such")))
    assert(e.getMessage.contains("\"q_no_such\""), e.getMessage)
    assert(!e.getMessage.contains("\"q_filter_eq\""), e.getMessage)
    assert(Session.selected(Some("q_filter_eq")).keySet == Set("q_filter_eq"))
    assert(Session.selected(None).keySet == SparkEntry.queries.keySet)
  }

  test("the test session carries Session.builder's format settings") {
    for ((k, v) <- Session.settings) assert(spark.conf.get(k) == v, k)
  }

  test("Prof reports q_filter_eq's jobs and writes its plan") {
    val dir = Files.createTempDirectory("graft_prof")
    // the sf0.001 tables committed with the benchmark
    val r = Prof.report(spark, "bench/data/sf0.001", "q_filter_eq", dir)
    assert(r.jobs >= 1 && r.stages >= 1 && r.tasks >= 1, r.line)
    assert(r.plan == dir.resolve("q_filter_eq.txt"))
    assert(Files.readString(r.plan).contains("Scan parquet"), r.line)
  }
}
