package graft

import org.apache.spark.sql.execution.CollectLimitExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.execution.SparkPlan

/** Golden plan-shape tests over SQL, mirroring the reference's YAML harness
  * (`datafusion-dolomite-integration/resources/limit.yaml` +
  * `tests/utils/mod.rs:20-84`): each case = SQL + expected plan properties,
  * run through the [[GraftSession]] session, [[graft.rules.GraftExtensions]]
  * installed.
  * Where the reference compares its `explain` strings against empty tables,
  * we assert on normalized `optimizedPlan`/`executedPlan` shapes over real
  * parquet — plus the physical properties the reference's stub never
  * enforced (pushed filters, pruned scan schema).
  */
class GoldenPlanSpec extends GraftSuite {

  private def registerTables(): Unit =
    Seq("lineitem", "orders", "customer").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    }

  private def executed(sql: String): SparkPlan = {
    val df = spark.sql(sql)
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
  }

  // golden case 1 (limit.yaml case "select * from t1"): plain scan+project
  test("select * => single relation scan, no shuffle") {
    registerTables()
    val plan = spark.sql("SELECT * FROM lineitem").queryExecution.optimizedPlan
    assert(plan.collectLeaves().size == 1)
    assert(!plan.treeString.contains("Join"))
  }

  // golden case 2 (limit.yaml "select * from t1 limit 5"): limit reaches scan
  test("limit 5 => CollectLimitExec directly over the scan") {
    registerTables()
    val plan = executed("SELECT * FROM lineitem LIMIT 5")
    val collectLimits = plan.collect { case c: CollectLimitExec => c }
    assert(collectLimits.size == 1,
      s"expected CollectLimitExec:\n${plan.treeString}")
    assert(!plan.treeString.contains("Exchange"),
      s"limit must not shuffle:\n${plan.treeString}")
  }

  test("nested limits collapse to the minimum") {
    registerTables()
    val opt = spark.sql(
      "SELECT * FROM (SELECT * FROM lineitem LIMIT 50) LIMIT 80")
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.expressions.IntegerLiteral
    import org.apache.spark.sql.catalyst.plans.logical.GlobalLimit
    val limits = opt.collect { case GlobalLimit(IntegerLiteral(n), _) => n }
    assert(limits == Seq(50), s"expected single limit 50:\n${opt.treeString}")
  }

  test("filter + projection are pushed into the parquet scan") {
    registerTables()
    val df = spark.sql(
      """SELECT l_orderkey, l_quantity FROM lineitem
        |WHERE l_quantity > 30.0""".stripMargin)
    val scan = df.queryExecution.executedPlan.collectLeaves().head
    val s = scan.toString
    assert(s.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"filter not pushed:\n$s")
    assert(s.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$s")
  }

  // Join2HashJoinStrategy: above the broadcast threshold our strategy fires
  test("large equi join => ShuffledHashJoinExec from Join2HashJoinStrategy") {
    registerTables()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // note: under AQE, finished query stages are leaves — assert on the
      // nested tree string, which prints stage-internal plans.
      val s = executed(
        """SELECT o_orderstatus, count(*) AS n
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |GROUP BY o_orderstatus""".stripMargin).toString
      assert(s.contains("ShuffledHashJoin"), s"expected ShuffledHashJoin:\n$s")
      assert(!s.contains("SortMergeJoin"), s"built-in SMJ overrode strategy:\n$s")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  // below the threshold the strategy defers => Catalyst broadcasts
  test("small equi join stays broadcast (strategy defers under threshold)") {
    registerTables()
    val s = executed(
      """SELECT c_custkey, count(o_orderkey) AS n
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin).toString
    assert(s.contains("BroadcastHashJoin"), s"expected BroadcastHashJoin:\n$s")
  }

  test("aggregation is partial+final (map-side combine before the shuffle)") {
    registerTables()
    val s = executed(
      "SELECT l_returnflag, sum(l_quantity) FROM lineitem GROUP BY l_returnflag")
      .toString
    assert(s.contains("partial_sum"), s"expected map-side partial agg:\n$s")
    assert(s.contains("functions=[sum("), s"expected final agg:\n$s")
  }

  test("rank-filter window plans with WindowGroupLimit (per-group top-k pruning)") {
    registerTables()
    val s = executed(
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC) AS rn
        |  FROM orders) t WHERE rn <= 3""".stripMargin).toString
    assert(s.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit pruning:\n$s")
  }

  test("correlated scalar subquery decorrelates into an aggregate + join") {
    registerTables()
    spark.read.parquet(s"$sfDir/customer.parquet").createOrReplaceTempView("c_v")
    val opt = spark.sql(
      """SELECT c_custkey FROM c_v c
        |WHERE c_acctbal = (SELECT max(c2.c_acctbal) FROM c_v c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin)
      .queryExecution.optimizedPlan.toString
    assert(!opt.contains("scalar-subquery"),
      s"subquery not decorrelated:\n$opt")
    assert(opt.contains("Join"), s"expected decorrelated join:\n$opt")
  }

  test("PPJoin dedup materializes the doc table once (InMemory reuse on all sides)") {
    val df = graft.ops.DedupOps.queries("dedup_ngram_jaccard")(spark, sfDir)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    // persisted (df-ordered + hash-sorted) doc table feeds the prefix index
    // and BOTH verify sides from cache — no recomputation of the shingle
    // df-join per consumer
    assert(s.contains("InMemoryTableScan") || s.contains("TableCacheQueryStage"),
      s"doc table not cached:\n${s.take(3000)}")
    // the exact-verify kernel stays inside codegen
    assert(s.contains("jaccard_sorted_longs"), s.take(2000))
  }

  test("IVF search broadcasts the probe map and query set (no corpus shuffle)") {
    val df = graft.ops.SimilarityOps.queries("sim_ann_ivf")(spark, sfDir)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    // the corpus-side joins (probes, query vectors) must be broadcasts:
    // at 100 TB the inverted lists are partition-pruned, never shuffled
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoop"),
      s"expected broadcast joins in IVF plan:\n${s.take(3000)}")
    assert(!s.contains("SortMergeJoin"),
      s"corpus must not shuffle for a sort-merge join:\n${s.take(3000)}")
  }

  test("ordered limit plans as top-k (TakeOrderedAndProject), not global sort") {
    registerTables()
    val plan = executed(
      "SELECT l_orderkey FROM lineitem ORDER BY l_extendedprice DESC LIMIT 10")
    assert(plan.treeString.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject:\n${plan.treeString}")
  }

  test("q18 broadcasts the filtered aggregate side and plans top-k") {
    val df = graft.ops.Analytics.queries("q18_large_orders")(spark, sfDir)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    // the over-threshold order set is a few hundred rows: both probe joins
    // must be broadcasts (no full-table shuffle join at any scale-up of
    // the probe sides), and the final 20 must not be a global sort
    assert(s.contains("BroadcastHashJoin"),
      s"expected broadcast joins:\n${s.take(3000)}")
    assert(!s.contains("SortMergeJoin"),
      s"unexpected sort-merge join:\n${s.take(3000)}")
    assert(s.contains("TakeOrderedAndProject"),
      s"expected top-k, not global sort:\n${s.take(3000)}")
  }
}
