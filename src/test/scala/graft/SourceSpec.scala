package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DSv2 SyntheticSource specs: limit/filter/column pushdown must reach the
  * scan (the physical completion of the reference's limit-bearing TableScan).
  */
class SourceSpec extends GraftSuite {

  private def synth(rows: Long): DataFrame =
    spark.read.format("graft.sources.SyntheticSource")
      .option("rows", rows.toString).load()

  private def scanDesc(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .mkString("\n")
  }

  test("full scan returns the deterministic sequence") {
    val got = synth(10).collect().map(r => (r.getLong(0), r.getDouble(1),
      r.getString(2)))
    assert(got.length == 10)
    assert(got(3) == ((3L, 1.5, "t3")))
  }

  test("limit is pushed into the scan (PushedLimit visible, count correct)") {
    val df = synth(1000000).limit(7)
    assert(df.count() == 7)
    val desc = scanDesc(df)
    assert(desc.contains("PushedLimit: 7"), s"limit not pushed:\n$desc")
  }

  test("range filters on id narrow the generated interval") {
    val df = synth(1000000).filter(col("id") >= 100L && col("id") < 110L)
    assert(df.count() == 10)
    val desc = scanDesc(df)
    assert(desc.contains("range=[100,110)"), s"filter not pushed:\n$desc")
    assert(desc.contains("GreaterThanOrEqual(id,100)"), desc)
  }

  test("column pruning reaches the scan") {
    val df = synth(100).select("tag")
    df.collect()
    val desc = scanDesc(df)
    assert(desc.contains("ReadSchema: struct<tag:string"),
      s"columns not pruned:\n$desc")
  }

  test("ungrouped count/min/max push into the scan as a 1-row answer") {
    val df = synth(5000000)
      .agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
        max(col("id")).as("mx"))
    val row = df.collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) ==
      ((5000000L, 0L, 4999999L)))
    val desc = scanDesc(df)
    assert(desc.contains("PushedAggregation"),
      s"aggregate not pushed:\n$desc")
    // the 5M-row table was never generated: the scan answered from range
    // arithmetic (a generate-then-aggregate plan would show SyntheticScan)
    assert(!desc.contains("SyntheticScan range"),
      s"data rows were generated for a pushed aggregate:\n$desc")
  }

  test("aggregate pushdown composes with pushed range filters") {
    val df = synth(5000000).filter(col("id") >= 1000L && col("id") < 4000L)
      .agg(count(lit(1)).as("n"), max(col("id")).as("mx"))
    val row = df.collect()(0)
    assert((row.getLong(0), row.getLong(1)) == ((3000L, 3999L)))
    val desc = scanDesc(df)
    assert(desc.contains("range=[1000,4000)"), s"filter lost:\n$desc")
    assert(desc.contains("PushedAggregation"), s"aggregate lost:\n$desc")
  }

  test("grouped aggregates do NOT push (the scan only answers exact shapes)") {
    val df = synth(1000).groupBy("tag").agg(count(lit(1)).as("n"))
    assert(df.collect().length == 10)
    val desc = scanDesc(df)
    assert(!desc.contains("PushedAggregation"),
      s"grouped aggregate wrongly claimed complete pushdown:\n$desc")
  }

  test("unsupported filters stay in the plan as residuals (correct results)") {
    // tag filter is not pushable; results must still be correct
    val df = synth(100).filter(col("tag") === "t3" && col("id") < 50L)
    val ids = df.collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(3L, 13L, 23L, 33L, 43L))
  }

  test("limit combined with filter composes (min of both constraints)") {
    val df = synth(1000000).filter(col("id") >= 10L).limit(5)
    assert(df.count() == 5)
    val first = df.orderBy("id").collect().map(_.getLong(0))
    assert(first.head >= 10L)
  }

  test("residual (non-pushable) filter blocks complete aggregate pushdown") {
    // ADVICE r4: canPushAgg's exactness rests on the framework invariant
    // that V2ScanRelationPushDown skips pushDownAggregates whenever
    // residual post-scan filters remain. Assert it, don't assume it: a
    // tag filter stays residual, so the ungrouped count/min/max must NOT
    // claim complete pushdown — and the values must come from the real
    // row stream (100 ids, 10 with tag t3), not the unfiltered range.
    val df = synth(100).filter(col("tag") === "t3")
      .agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
        max(col("id")).as("mx"))
    val row = df.collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) ==
      ((10L, 3L, 93L)), row.toString)
    val desc = scanDesc(df)
    assert(!desc.contains("PushedAggregation"),
      s"aggregate wrongly pushed past a residual filter:\n$desc")
    // mixed pushable + residual: the id range IS absorbed, the aggregate
    // still must not push (the residual tag filter remains post-scan)
    val df2 = synth(100).filter(col("tag") === "t3" && col("id") >= 50L)
      .agg(count(lit(1)).as("n"), max(col("id")).as("mx"))
    val r2 = df2.collect()(0)
    assert((r2.getLong(0), r2.getLong(1)) == ((5L, 93L)), r2.toString)
    val d2 = scanDesc(df2)
    assert(!d2.contains("PushedAggregation"),
      s"aggregate wrongly pushed past a residual filter:\n$d2")
    assert(d2.contains("range=[50,100)"), s"pushable range filter lost:\n$d2")
  }

  test("runtime filtering: a selective broadcast dim dynamically narrows " +
      "the generated id range (DSv2 dynamic partition pruning)") {
    graft.sources.SyntheticSource.lastRuntimeFilter = None
    val fact = synth(1000000)
    // the build side must keep a live selective Filter node for the
    // planner to insert a DynamicPruningSubquery (a local Seq folds to a
    // LocalRelation and the predicate disappears — range() does not)
    val dim = spark.range(0, 42)
      .select((col("id") * 5 + 100).as("id"), pmod(col("id"), lit(7)).as("g"))
      .filter(col("g") === 1)
    val wantIds = (0L until 42L).filter(_ % 7 == 1).map(_ * 5 + 100)
    val joined = fact.join(dim, Seq("id"))
    val got = joined.collect().map(_.getLong(0)).sorted.toSeq
    assert(got == wantIds, s"got=$got")
    // the runtime In-filter reached the scan and the re-planned range is
    // the [min, max] envelope of the surviving build keys — 245 fact
    // partitions (1e6/4096) collapse to ONE
    val rf = graft.sources.SyntheticSource.lastRuntimeFilter
    assert(rf.isDefined, "runtime filter never reached the scan — DPP " +
      "did not fire")
    val (ids, rLo, rHi) = rf.get
    assert(ids == wantIds, s"ids=$ids")
    assert(rLo == wantIds.min && rHi == wantIds.max + 1,
      s"range=[$rLo,$rHi)")
    // and the executed plan carries the dynamic pruning expression
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(2000))
  }

  test("scan_source_join: the range filter and pruning reach the DSv2 " +
      "scan under a broadcast join with parquet") {
    val df = graft.ops.Relational.queries("scan_source_join")(spark, sfDir)
    df.collect()
    val desc = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    // the 1M-row option must never materialize: [0,100) generates in the
    // scan itself, and only (id, tag) are read
    assert(desc.contains("range=[0,100)"), s"filter not pushed:\n$desc")
    assert(desc.contains("ReadSchema: struct<id:bigint,tag:string"),
      s"columns not pruned:\n$desc")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("storage-partitioned join: two key-grouped DSv2 scans join on tag " +
      "with ZERO exchanges, and results match the plain layout") {
    import org.apache.spark.sql.functions._
    def t(rows: Int, byTag: Boolean) = spark.read
      .format("graft.sources.SyntheticSource")
      .option("rows", rows.toString).option("byTag", byTag.toString).load()
    def joined(byTag: Boolean) =
      t(4000, byTag).select(col("id").as("ida"), col("tag"))
        .join(t(2000, byTag).select(col("id").as("idb"), col("tag")),
          Seq("tag"))
        .groupBy("tag")
        .agg(count(lit(1)).as("n"), sum(col("ida")).as("sum_ida"))
        .orderBy("tag")
    val before = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val spj = joined(byTag = true)
      val got = spj.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val plan = spj.queryExecution.executedPlan.toString
      // the layout IS the join distribution: no exchange anywhere before
      // the final presentation sort
      val joinPart = plan.split("Sort").last
      assert(joinPart.contains("SortMergeJoin") ||
        joinPart.contains("ShuffledHashJoin"), plan)
      assert(!joinPart.contains("Exchange hashpartitioning"),
        s"storage-partitioned join still shuffled:\n$plan")
      // ground truth from the plain (range-partitioned) layout
      val want = joined(byTag = false).collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == want, s"got=$got want=$want")
      // t0: 400 A-ids (0,10,…,3990; sum 798000) × 200 B-rows
      assert(got.length == 10 && got.head == (("t0", 80000L, 159600000L)),
        got.toString)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      before.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
        v => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v))
    }
  }

  test("scan_source_spj contract query: shuffle-hash join, zero exchanges " +
      "before the join") {
    // the caller holds the non-default value, so a query that set the
    // conf on the caller's session would show
    val key = "spark.sql.sources.v2.bucketing.enabled"
    val caller = spark.newSession()
    caller.conf.set(key, "false")
    val df = graft.ops.Relational.queries("scan_source_spj")(caller, sfDir)
    df.collect()
    assert(caller.conf.getOption(key) == Some("false"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan)
    // the only acceptable exchange is the final single-partition sort,
    // never a hashpartitioning under the join
    assert(!plan.contains("Exchange hashpartitioning"),
      s"SPJ contract query shuffled before the join:\n$plan")
  }
}
