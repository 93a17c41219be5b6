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

  test("every DECIMAL(28,6) sum of a double runs the exact_micros kernel") {
    val queries = Seq("q5_region_revenue", "events_hourly_incremental",
      "events_anomaly_zscore", "events_cohort_ltv", "events_ab_quantiles",
      "events_power_mde", "events_ab_ks", "agg_salted", "window_rolling_30d")
    for (name <- queries) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("exact_micros"), s"$name: ${plan.take(2000)}")
    }
  }
}
