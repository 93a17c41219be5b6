package graft

/** The driver's t1 smoke contract: `SparkEntry.entry` returns >0 rows on
  * sf0.001, and every query name has either an oracle or a documented
  * rows-only status.
  */
class EntrySpec extends GraftSuite {

  test("entry returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracles without queries: $extra")
  }

  test("every query is oracle-checked (no rows-only queries remain)") {
    // round 2 closed the six rows-only gaps: xxh64 is replicated in DuckDB
    // SQL (XxhSql) for minhash/simhash/KMV, the LSH planes and the winnow
    // rolling hash are plain SQL arithmetic, and the decode family's byte
    // stats are recomputable from the ASCII text (roundtrip identity)
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty, s"unexpected rows-only set: $rowsOnly")
  }

  test("fast-sum mode drops decimal casts from the plan, same results shape") {
    import graft.ops.Oracle
    def q5 = SparkEntry.queries("q5_region_revenue")(spark, sfDir)
    // the exact sum converts each row by the micro-unit kernel
    val exactPlan = q5.queryExecution.optimizedPlan.toString
    assert(exactPlan.contains("exact_micros"), exactPlan.take(2000))
    val exactRows = q5.count()
    try {
      spark.conf.set(Oracle.ExactSumsKey, "false")
      val fastPlan = q5.queryExecution.optimizedPlan.toString
      assert(!fastPlan.contains("exact_micros"), fastPlan.take(2000))
      assert(!fastPlan.contains("decimal(28,6)"), fastPlan.take(2000))
      // same groups come back; values carry float-sum semantics instead of
      // the DuckDB bit-parity contract
      assert(q5.count() == exactRows)
    } finally spark.conf.set(Oracle.ExactSumsKey, "true")
  }
}
