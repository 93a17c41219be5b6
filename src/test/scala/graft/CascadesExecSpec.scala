package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.cascades._
import graft.cascades.JoinStrategy._
import graft.TestRules.isJoin
import graft.ops.{CascadesExecOps, Tables}

/** Cascades winners EXECUTED — the `planner.rs:29-55` lifecycle edge
  * (optimize in cascades, run on the host engine), pinned structurally:
  * for every [[CascadesExecOps]] query the EXECUTED SparkPlan must carry
  * the winner's operator choices (broadcast vs shuffled build, top-k,
  * split aggregate pair), so the rows the CORRECTNESS gate compares
  * provably came from the cascades-chosen plan, not from a Catalyst
  * default that happens to agree.
  */
class CascadesExecSpec extends GraftSuite {

  // sf0.01: big enough that footer stats discriminate (customer 1500 vs
  // nation 25; sf0.001's 150-vs-25 TIES the ClusterCostModel crossover)
  private val d = "/root/testdata/sf0.01"

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }).toString
  }

  /** The Spark physical operator each winner node must appear as. */
  private def marks(p: PlanNode): Seq[String] = {
    val own = p.op match {
      case PhysicalJoin(Broadcast, _, _)    => Seq("BroadcastHashJoin")
      case PhysicalJoin(ShuffledHash, _, _) => Seq("ShuffledHashJoin")
      case PhysicalJoin(SortMerge, _, _)    => Seq("SortMergeJoin")
      case _: PhysicalTopK              => Seq("TakeOrderedAndProject")
      case _: PhysicalHashAggregate     => Seq("HashAggregate")
      case _: PhysicalSort              => Seq("Sort ")
      case _                            => Nil
    }
    own ++ p.inputs.flatMap(marks)
  }

  test("exec maps align: every sql has an oracle") {
    assert(CascadesExecOps.sqls.keySet == CascadesExecOps.oracles.keySet,
      CascadesExecOps.sqls.keySet.diff(CascadesExecOps.oracles.keySet))
  }

  test("every exec query's executed SparkPlan carries its winner's " +
      "operator choices") {
    CascadesExecOps.sqls.keys.foreach { name =>
      val (winner, df) = CascadesExecOps.planFor(spark, d, name)
      val plan = executedPlan(df)
      marks(winner).distinct.foreach(m =>
        assert(plan.contains(m),
          s"$name: winner chose $m but executed plan lacks it\n" +
            s"winner:\n${winner.explain()}\nexecuted:\n$plan"))
    }
  }

  test("smj_clustered: the winner is an enforcer-free SortMergeJoin " +
      "over clustered scans, and the EXECUTED plan joins the bucketed " +
      "tables with zero exchanges and zero sorts") {
    val (winner, df) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_smj_clustered")
    def ops(p: PlanNode): Seq[Operator] = p.op +: p.inputs.flatMap(ops)
    val w = ops(winner)
    assert(w.exists(isJoin(SortMerge)),
      winner.explain())
    assert(!w.exists(_.isInstanceOf[PhysicalSort]), winner.explain())
    assert(!w.exists(_.isInstanceOf[PhysicalExchange]), winner.explain())
    // TREE WALK over the executed SparkPlan, not a string match: r8's
    // `!plan.contains("+- Sort ")` could never fire — whole-stage
    // codegen renders sorts as `+- *(n) Sort ` — and two local sorts
    // shipped under a vacuous "zero sorts" claim (VERDICT r8 #1). A
    // naive TreeNode.collect is blind too: AQE wraps the result in a
    // QueryStageExec whose wrapped `plan` is NOT a tree child, so the
    // walk must descend through stages explicitly. Verified non-vacuous
    // by flipping the outputOrdering conf off: the two SortExec nodes
    // surface and this test fails (r9 negative control, BASELINE.md).
    df.collect()
    val executed = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    })
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: flatten(q.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val nodes = flatten(executed)
    val sorts = nodes.filter(
      _.isInstanceOf[org.apache.spark.sql.execution.SortExec])
    val exchanges = nodes.filter(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    assert(nodes.exists(_.nodeName.contains("SortMergeJoin")),
      executed.toString)
    assert(exchanges.isEmpty,
      s"clustered join must not shuffle:\n$executed")
    // belt-and-braces: the rendering shows everything the walk might
    // miss if a future Spark adds another wrapper node class
    assert(!executed.toString.contains("Exchange hashpartitioning"),
      s"clustered join must not shuffle:\n$executed")
    assert(sorts.isEmpty,
      "one-file-per-bucket sorted scan must be trusted at read " +
        s"(legacy bucketedTableScan.outputOrdering): \n$executed")
  }

  test("broadcast_dim: footer stats put the 25-row nation on a " +
      "BROADCAST build side (winner and executed plan agree)") {
    val (winner, df) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_broadcast_dim")
    // winner: TopK over Project over BroadcastHashJoin(customer, nation)
    def findJoin(p: PlanNode): Option[PlanNode] = p.op match {
      case _: PhysicalJoin => Some(p)
      case _ => p.inputs.flatMap(findJoin).headOption
    }
    val j = findJoin(winner).getOrElse(fail(winner.explain()))
    assert(isJoin(Broadcast)(j.op), winner.explain())
    assert(j.inputs(1).op == PhysicalTableScan("nation"), winner.explain())
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("ShuffledHashJoin"), plan)
  }

  test("a join-strategy hint overrides Join2HashJoinStrategy: with " +
      "Catalyst's broadcast off, broadcast_dim still executes its " +
      "winner's broadcast, and an unhinted equi join still plans a " +
      "shuffled hash join") {
    import org.apache.spark.sql.functions.col
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (_, df) =
      CascadesExecOps.planFor(s2, d, "cascades_exec_broadcast_dim")
    val hinted = executedPlan(df)
    assert(hinted.contains("BroadcastHashJoin"), hinted)
    assert(!hinted.contains("ShuffledHashJoin"), hinted)
    val t = graft.ops.Tables(s2, d)
    val plain = executedPlan(t.customer
      .join(t.nation, col("c_nationkey") === col("n_nationkey")))
    assert(plain.contains("ShuffledHashJoin"), plain)
  }

  test("smj_clustered and prune need their exceptions: the default " +
      "search alone picks a different winner") {
    def ops(p: PlanNode): Seq[Operator] = p.op +: p.inputs.flatMap(ops)
    def default(name: String,
        layouts: Map[String, (Seq[Col], Seq[Col])] = Map.empty): PlanNode = {
      val (parsed, required) = SqlFrontend.parseQuery(
        CascadesExecOps.sqls(name), CascadesExecOps.schemaCat, layouts)
      CascadesExecOps.search(parsed, required,
        CascadesExecOps.stats(spark, d, name)).get
    }
    // without the merge join the clustered layouts cannot be exploited
    val (smj, _) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_smj_clustered")
    val smjDefault = default("cascades_exec_smj_clustered", Map(
      "customer" -> ((Seq(Col("c_custkey")), Seq(Col("c_custkey")))),
      "orders" -> ((Seq(Col("o_custkey")), Seq(Col("o_custkey"))))))
    assert(smj.explain() != smjDefault.explain(), smj.explain())
    assert(ops(smj).exists(isJoin(SortMerge)),
      smj.explain())
    assert(!ops(smjDefault).exists(isJoin(SortMerge)),
      smjDefault.explain())
    // without projection pushdown no join input is narrowed
    val (prune, _) = CascadesExecOps.planFor(spark, d, "cascades_exec_prune")
    val pruneDefault = default("cascades_exec_prune")
    def projects(p: PlanNode): Int =
      ops(p).count(_.isInstanceOf[PhysicalProject])
    assert(prune.explain() != pruneDefault.explain(), prune.explain())
    assert(projects(prune) > projects(pruneDefault), pruneDefault.explain())
  }

  test("commute_build: the query names nation FIRST; the search flips " +
      "the sides so the dimension builds") {
    val (winner, _) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_commute_build")
    def findJoin(p: PlanNode): Option[PlanNode] = p.op match {
      case _: PhysicalJoin => Some(p)
      case _ => p.inputs.flatMap(findJoin).headOption
    }
    val j = findJoin(winner).getOrElse(fail(winner.explain()))
    // commuted: customer is the PROBE (left), nation the build (right)
    assert(j.inputs(0).op == PhysicalTableScan("customer"), winner.explain())
    assert(j.inputs(1).op == PhysicalTableScan("nation"), winner.explain())
  }

  test("split_agg: the SplitAgg winner executes as Spark's " +
      "partial+final HashAggregate pair around one exchange") {
    val (winner, df) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_split_agg")
    // the winner itself is the split pyramid
    val rendered = winner.explain()
    assert(rendered.contains("PhysicalHashAggregate(Final"), rendered)
    assert(rendered.contains("PhysicalHashAggregate(Partial"), rendered)
    val plan = executedPlan(df)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("Exchange hashpartitioning"), plan)
  }

  test("stats flip the join strategy: synthetic equal-size catalogs " +
      "shuffle, REAL parquet footers broadcast (stat.rs:5-21 computed " +
      "against actual tables)") {
    val sql = CascadesExecOps.sqls("cascades_exec_broadcast_dim")
    val (logical, required) = SqlFrontend.parseQuery(sql)
    def joinOp(stats: StatsModel): Operator = {
      val opt = TestRules.golden(TestRules.joinStrategyRules,
        costModel = new ClusterCostModel, stats = stats)
      val w = opt.optimize(logical, required).get
      def find(p: PlanNode): Option[Operator] = p.op match {
        case j: PhysicalJoin =>
          Some(j)
        case _ => p.inputs.flatMap(find).headOption
      }
      find(w).get
    }
    // synthetic: both sides "10k rows" — comparable sides shuffle
    // (broadcast needs build < probe/6 under ClusterCostModel at W=8)
    val synthetic = TableStats(
      Map("customer" -> 10000L, "nation" -> 10000L))
    assert(isJoin(ShuffledHash)(joinOp(synthetic)))
    // real: nation's footer says 25 rows — broadcast wins
    val real = ParquetStats.fromDir(d, Seq("customer", "nation"))
    assert(real.tableRows("nation") == 25L)
    assert(real.tableRows("customer") == 1500L)
    assert(isJoin(Broadcast)(joinOp(real)))
  }

  test("selective_filter: footer min/max selectivity flips the filtered " +
      "fact side to a broadcast build — the blind 10% default keeps it " +
      "shuffled") {
    val sql = CascadesExecOps.sqls("cascades_exec_selective_filter")
    val (parsed, required) = SqlFrontend.parseQuery(sql)
    val schemaCat = Map(
      "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment"),
      "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority"))
    val pushed = new HepOptimizer(
      Seq(Rules.PushFilterThroughJoinRule(schemaCat))).optimize(parsed)
    // HEP landed the literal filter on the orders input
    def hasFilterOverScan(p: PlanNode): Boolean = p.op match {
      case LogicalFilter(CmpCond("<=", Col("o_orderkey"), Lit(100L)), _) =>
        p.inputs.head.op == LogicalScan("orders")
      case _ => p.inputs.exists(hasFilterOverScan)
    }
    assert(hasFilterOverScan(pushed), pushed.explain())
    def joinOf(stats: StatsModel): Operator = {
      val opt = TestRules.golden(TestRules.joinStrategyRules,
        costModel = new ClusterCostModel, stats = stats)
      val w = opt.optimize(pushed, required).get
      def find(p: PlanNode): Option[Operator] = p.op match {
        case j: PhysicalJoin =>
          Some(j)
        case _ => p.inputs.flatMap(find).headOption
      }
      find(w).get
    }
    val real = ParquetStats.fromDir(d,
      Seq("customer", "orders"))
    assert(real.columnRange("o_orderkey").contains((0L, 14999L)), real)
    // blind: same row counts, NO ranges — filter estimates 10% = 1500
    // rows, too big to broadcast against a 1500-row probe
    val blind = TableStats(real.catalog, real.widths)
    assert(isJoin(ShuffledHash)(joinOf(blind)))
    // ranges: ~101 of 15000 rows survive <= 100 — broadcast the build
    assert(isJoin(Broadcast)(joinOf(real)))
  }

  test("three_way: the associativity search reshapes the left-deep SQL " +
      "into fact ⋈ (orders ⋈ broadcast customer), and the executed plan " +
      "carries both strategy choices") {
    val (winner, df) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_three_way")
    def findJoins(p: PlanNode): Seq[PlanNode] = (p.op match {
      case _: PhysicalJoin => Seq(p)
      case _ => Nil
    }) ++ p.inputs.flatMap(findJoins)
    val joins = findJoins(winner)
    assert(joins.length == 2, winner.explain())
    val top = joins.head
    // top join: shuffled hash, fact (lineitem) on the probe side, and
    // its BUILD side is the (orders ⋈ customer) join — the reshaped
    // right-deep tree, not the SQL's left-deep order
    assert(isJoin(ShuffledHash)(top.op), winner.explain())
    assert(top.inputs(0).op == PhysicalTableScan("lineitem"),
      winner.explain())
    val inner = findJoins(top.inputs(1)).headOption
      .getOrElse(fail(winner.explain()))
    assert(isJoin(Broadcast)(inner.op),
      winner.explain())
    assert(inner.inputs(0).op == PhysicalTableScan("orders"),
      winner.explain())
    assert(inner.inputs(1).op == PhysicalTableScan("customer"),
      winner.explain())
    val plan = executedPlan(df)
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("adaptive: the statically-unestimable predicate plans a shuffle " +
      "on pass 1; runtime-observed rows flip pass 2 to broadcast") {
    import org.apache.spark.sql.functions.col
    val sql = CascadesExecOps.sqls("cascades_exec_adaptive")
    val (parsed, required) = SqlFrontend.parseQuery(sql)
    val schemaCat = Map(
      "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"))
    val pushed = new HepOptimizer(
      Seq(Rules.PushFilterThroughJoinRule(schemaCat))).optimize(parsed)
    def joinOf(stats: StatsModel): Operator = {
      val opt = TestRules.golden(TestRules.joinStrategyRules,
        costModel = new ClusterCostModel, stats = stats)
      val w = opt.optimize(pushed, required).get
      def find(p: PlanNode): Option[Operator] = p.op match {
        case j: PhysicalJoin =>
          Some(j)
        case _ => p.inputs.flatMap(find).headOption
      }
      find(w).get
    }
    val footer = ParquetStats.fromDir(d, Seq("orders", "lineitem"))
    // pass 1: the cross-column equality has no range — blind 10% says
    // 6000 rows, far too big to broadcast against a 15k probe
    assert(isJoin(ShuffledHash)(joinOf(footer)))
    // the runtime statistic: the truth is two orders of magnitude lower
    val pred = EqCond(Col("l_partkey"), Col("l_suppkey"))
    val observed = graft.ops.Tables(spark, d).lineitem
      .filter(col("l_partkey") === col("l_suppkey")).count()
    assert(observed < 100L, s"observed=$observed")
    // pass 2: feedback flips the strategy
    val fed = FeedbackStats(footer, Map(pred -> observed))
    assert(isJoin(Broadcast)(joinOf(fed)))
    // and the shipped query executes the pass-2 winner
    val (winner, df) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_adaptive")
    def ops(p: PlanNode): Seq[Operator] = p.op +: p.inputs.flatMap(ops)
    assert(ops(winner).exists(isJoin(Broadcast)),
      winner.explain())
    assert(executedPlan(df).contains("BroadcastHashJoin"))
  }

  test("agg_clustered: group keys = bucket keys, so the Complete-mode " +
      "aggregate wins with NO exchange and the executed plan aggregates " +
      "the bucketed table shuffle-free") {
    val (winner, df) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_agg_clustered")
    def ops(p: PlanNode): Seq[Operator] = p.op +: p.inputs.flatMap(ops)
    val w = ops(winner)
    assert(w.exists {
      case PhysicalHashAggregate(AggMode.Complete, _, _) => true
      case _ => false
    }, winner.explain())
    assert(!w.exists(_.isInstanceOf[PhysicalExchange]), winner.explain())
    assert(!w.exists {
      case PhysicalHashAggregate(AggMode.Partial, _, _) => true
      case _ => false
    }, winner.explain())
    val plan = executedPlan(df)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"clustered aggregation must not shuffle:\n$plan")
  }

  test("conjunction: the two AND conjuncts land on OPPOSITE join sides " +
      "(HEP fixed point), each directly over its scan") {
    val (winner, _) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_conjunction")
    def findJoin(p: PlanNode): Option[PlanNode] = p.op match {
      case _: PhysicalJoin => Some(p)
      case _ => p.inputs.flatMap(findJoin).headOption
    }
    val j = findJoin(winner).getOrElse(fail(winner.explain()))
    def filterOverScan(p: PlanNode, colName: String,
        table: String): Boolean = p.op match {
      case PhysicalFilter(CmpCond("<=", Col(c), Lit(_)), _) =>
        c == colName && p.inputs.head.op == PhysicalTableScan(table)
      case _ => p.inputs.exists(filterOverScan(_, colName, table))
    }
    // side-agnostic (the commute rule may flip the build side): each
    // conjunct sits directly over ITS OWN scan somewhere under the join
    assert(filterOverScan(j, "c_custkey", "customer"), winner.explain())
    assert(filterOverScan(j, "o_orderkey", "orders"), winner.explain())
    // and they landed on different children (opposite sides)
    val leftHasC = filterOverScan(j.inputs(0), "c_custkey", "customer")
    val rightHasC = filterOverScan(j.inputs(1), "c_custkey", "customer")
    val leftHasO = filterOverScan(j.inputs(0), "o_orderkey", "orders")
    val rightHasO = filterOverScan(j.inputs(1), "o_orderkey", "orders")
    assert((leftHasC && rightHasO) || (rightHasC && leftHasO),
      winner.explain())
  }

  test("PlanCost re-pricing equals the memo's winner cost (the " +
      "calibration table's predicted column IS the memo's number)") {
    val sql = CascadesExecOps.sqls("cascades_exec_broadcast_dim")
    val (logical, required) = SqlFrontend.parseQuery(sql)
    val stats = ParquetStats.fromDir(d, Seq("customer", "nation"))
    val model = new ClusterCostModel
    val opt = TestRules.golden(TestRules.joinStrategyRules,
      costModel = model, stats = stats)
    val (winnerOpt, memo) = opt.optimizeWithMemo(logical, required)
    val winner = winnerOpt.get
    val memoCost = memo.group(memo.root).winner(required).get.cost
    val repriced = PlanCost.total(winner, model, stats)
    assert(math.abs(memoCost - repriced) < 1e-6,
      s"memo=$memoCost repriced=$repriced\n${winner.explain()}")
  }

  test("footer stats carry the byte axis: width = uncompressed bytes " +
      "per row from row-group metadata") {
    val s = ParquetStats.fromDir(d, Seq("documents", "nation"))
    // documents rows are text-heavy — far wider than the 16-byte default
    assert(s.tableWidth("documents") > 100L, s.tableWidth("documents"))
    assert(s.tableRows("documents") == 500L)
  }

  test("HAVING lowers to a post-aggregate CmpCond filter") {
    val (plan, _) = SqlFrontend.parseQuery(
      "SELECT lang, count ( * ) FROM documents GROUP BY lang " +
        "HAVING count ( * ) > 70")
    assert(plan.op ==
      LogicalFilter(CmpCond(">", Col("cnt"), Lit(70L)), Nil), plan.explain())
    assert(plan.inputs.head.op ==
      LogicalAggregate(Seq(Col("lang")), Seq(AggCall("count"))),
      plan.explain())
  }

  test("scalar subquery decorrelates to an inner join against the " +
      "one-row global aggregate") {
    val (plan, _) = SqlFrontend.parseQuery(
      "SELECT o_orderkey FROM orders WHERE o_custkey = " +
        "( SELECT max ( c_custkey ) FROM customer )")
    // Project(Join(orders, Agg))
    val join = plan.inputs.head
    assert(join.op == LogicalJoin(JoinType.Inner,
      EqCond(Col("o_custkey"), Col("max_c_custkey"))), plan.explain())
    assert(join.inputs(1).op ==
      LogicalAggregate(Nil, Seq(AggCall("max", Some(Col("c_custkey"))))),
      plan.explain())
  }

  test("EXISTS decorrelates to a SEMI join (NOT EXISTS to ANTI), the " +
      "catalog resolving the inner column; footer range selectivity " +
      "BROADCASTS the filtered semi build where blind 10% shuffles") {
    val (plan, _) = SqlFrontend.parseQuery(
      CascadesExecOps.sqls("cascades_exec_semi_join"),
      Map("orders" -> Seq("o_orderkey", "o_custkey")))
    def joins(p: PlanNode): Seq[Operator] = (p.op match {
      case j: LogicalJoin => Seq(j)
      case _              => Nil
    }) ++ p.inputs.flatMap(joins)
    assert(joins(plan) == Seq(LogicalJoin(JoinType.Semi,
      EqCond(Col("c_custkey"), Col("o_custkey")))), plan.explain())
    // the winner BROADCASTS the ~101-row filtered build; executed plan
    // carries BroadcastHashJoin LeftSemi
    val (winner, df) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_semi_join")
    def ops(p: PlanNode): Seq[Operator] = p.op +: p.inputs.flatMap(ops)
    assert(ops(winner).exists {
      case PhysicalJoin(Broadcast, JoinType.Semi, _) => true
      case _ => false
    }, winner.explain())
    val plan2 = executedPlan(df)
    assert(plan2.contains("BroadcastHashJoin") &&
      plan2.contains("LeftSemi"), plan2)
    // blind stats (rows only, no ranges): the 10% estimate (1500 rows)
    // keeps the build shuffled — the flip is the footer range's doing
    val real = ParquetStats.fromDir(d, Seq("customer", "orders"))
    val blind = TableStats(real.catalog, real.widths)
    val (parsed, required) = SqlFrontend.parseQuery(
      CascadesExecOps.sqls("cascades_exec_semi_join"),
      Map("customer" -> Seq("c_custkey", "c_name"),
        "orders" -> Seq("o_orderkey", "o_custkey")))
    val opt = TestRules.golden(TestRules.joinStrategyRules,
      costModel = new ClusterCostModel, stats = blind)
    val w = opt.optimize(parsed, required).get
    def findJoin(p: PlanNode): Option[Operator] = p.op match {
      case j: PhysicalJoin =>
        Some(j)
      case _ => p.inputs.flatMap(findJoin).headOption
    }
    assert(findJoin(w).exists {
      case PhysicalJoin(ShuffledHash, JoinType.Semi, _) => true
      case _ => false
    }, w.explain())
  }

  test("anti_join: NOT EXISTS plans a shuffled LEFT-ANTI hash join " +
      "(the ~501-row build is past the broadcast crossover)") {
    val (winner, df) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_anti_join")
    def ops(p: PlanNode): Seq[Operator] = p.op +: p.inputs.flatMap(ops)
    assert(ops(winner).exists {
      case PhysicalJoin(ShuffledHash, JoinType.Anti, _) => true
      case _ => false
    }, winner.explain())
    val plan = executedPlan(df)
    assert(plan.contains("ShuffledHashJoin") && plan.contains("LeftAnti"),
      plan)
  }

  test("disjunction: the parenthesized OR parses to ONE OrCond filter, " +
      "and the UNIONED range selectivity flips the build to broadcast " +
      "where the blind 10% shuffles") {
    val (plan, _) = SqlFrontend.parseQuery(
      CascadesExecOps.sqls("cascades_exec_disjunction"))
    def filters(p: PlanNode): Seq[Expr] = (p.op match {
      case LogicalFilter(e, _) => Seq(e)
      case _                   => Nil
    }) ++ p.inputs.flatMap(filters)
    assert(filters(plan) == Seq(OrCond(Seq(
      CmpCond("<=", Col("o_orderkey"), Lit(100L)),
      CmpCond(">=", Col("o_orderkey"), Lit(14900L))))), plan.explain())
    val (winner, df) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_disjunction")
    def ops(p: PlanNode): Seq[Operator] = p.op +: p.inputs.flatMap(ops)
    assert(ops(winner).exists(isJoin(Broadcast)),
      winner.explain())
    assert(executedPlan(df).contains("BroadcastHashJoin"))
    // blind: no ranges → OrCond falls to the 10% fallback → shuffled
    val real = ParquetStats.fromDir(d, Seq("customer", "orders"))
    val blind = TableStats(real.catalog, real.widths)
    val schemaCat = Map(
      "customer" -> Seq("c_custkey", "c_name"),
      "orders" -> Seq("o_orderkey", "o_custkey"))
    val pushed = new HepOptimizer(
      Seq(Rules.PushFilterThroughJoinRule(schemaCat))).optimize(
      SqlFrontend.parse(CascadesExecOps.sqls("cascades_exec_disjunction")))
    val opt = TestRules.golden(TestRules.joinStrategyRules,
      costModel = new ClusterCostModel, stats = blind)
    val w = opt.optimize(pushed,
      PhysicalPropertySet.default).get
    def findJoin(p: PlanNode): Option[Operator] = p.op match {
      case j: PhysicalJoin =>
        Some(j)
      case _ => p.inputs.flatMap(findJoin).headOption
    }
    assert(findJoin(w).exists(isJoin(ShuffledHash)),
      w.explain())
  }

  test("BETWEEN lowers to ONE RangeCond whose EXACT covered-fraction " +
      "selectivity broadcasts the filtered build") {
    val (plan, _) = SqlFrontend.parseQuery(
      "SELECT o_orderkey FROM orders " +
        "WHERE o_orderkey BETWEEN 100 AND 200")
    def filters(p: PlanNode): Seq[Expr] = (p.op match {
      case LogicalFilter(e, _) => Seq(e)
      case _                   => Nil
    }) ++ p.inputs.flatMap(filters)
    assert(filters(plan) == Seq(
      RangeCond(Col("o_orderkey"), 100L, 200L)), plan.explain())
    // exact pricing: 101 of 15000 (two independent stacked conjuncts
    // would have said ~200 — the double-count this node exists to avoid)
    val real = ParquetStats.fromDir(d, Seq("orders"))
    assert(real.derive(
      LogicalFilter(RangeCond(Col("o_orderkey"), 100L, 200L), Nil),
      Seq(15000L)) == 101L)
    val (winner, df) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_between")
    def ops(p: PlanNode): Seq[Operator] = p.op +: p.inputs.flatMap(ops)
    assert(ops(winner).exists(isJoin(Broadcast)),
      winner.explain())
    assert(executedPlan(df).contains("BroadcastHashJoin"))
  }

  test("string_filter: footer string stats (range + dictionary NDV) " +
      "keep the truly-218-row 'en' build SHUFFLED where the blind 10% " +
      "would wrongly broadcast") {
    // footer axes present: lang range [de, zh], dictionary NDV = 5
    val real = ParquetStats.fromDir(d, Seq("documents", "embeddings"))
    assert(real.columnRangeStr("lang").contains(("de", "zh")), real)
    assert(real.columnNdv("lang").contains(5L), real.ndvs.get("lang"))
    val (winner, df) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_string_filter")
    def ops(p: PlanNode): Seq[Operator] = p.op +: p.inputs.flatMap(ops)
    assert(ops(winner).exists(isJoin(ShuffledHash)),
      winner.explain())
    assert(!ops(winner).exists(isJoin(Broadcast)),
      winner.explain())
    assert(executedPlan(df).contains("ShuffledHashJoin"))
    // blind: 10% of 500 = 50 rows — under the crossover, broadcasts
    val blind = TableStats(real.catalog, real.widths)
    val schemaCat = Map(
      "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Seq("vec_id", "embedding", "label"))
    val pushed = new HepOptimizer(
      Seq(Rules.PushFilterThroughJoinRule(schemaCat))).optimize(
      SqlFrontend.parse(
        CascadesExecOps.sqls("cascades_exec_string_filter")))
    val opt = TestRules.golden(TestRules.joinStrategyRules,
      costModel = new ClusterCostModel, stats = blind)
    val w = opt.optimize(pushed, PhysicalPropertySet.default).get
    def findJoin(p: PlanNode): Option[Operator] = p.op match {
      case j: PhysicalJoin =>
        Some(j)
      case _ => p.inputs.flatMap(findJoin).headOption
    }
    assert(findJoin(w).exists(isJoin(Broadcast)),
      w.explain())
    // and the out-of-range equality axis: a literal below the footer
    // min prices ~0 rows (string ranges are decision-grade, not lexical
    // trivia)
    val zero = TableStats(real.catalog, real.widths,
      strRanges = real.strRanges, ndvs = real.ndvs)
    assert(zero.derive(
      LogicalFilter(CmpCond("=", Col("lang"), StrLit("aa")), Nil),
      Seq(500L)) == 1L)
    assert(zero.derive(
      LogicalFilter(CmpCond("=", Col("lang"), StrLit("en")), Nil),
      Seq(500L)) == 100L) // 1/NDV of 500
  }

  test("optimizer rule CascadesJoinHints (DFQueryPlanner pattern): the " +
      "mini-cascades winner decides the Spark join — BroadcastHashJoin " +
      "with Catalyst's own broadcast DISABLED; rule absent -> no " +
      "broadcast (negative control proving only the rule can broadcast " +
      "here)") {
    import org.apache.spark.sql.functions.col
    // session inherits GraftExtensions (SparkTestBase); only the
    // installed optimizer rule runs the search
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def run(): String = {
      val t = graft.ops.Tables(s2, d)
      val df = t.customer
        .join(t.nation, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_name"), col("n_name"))
      df.collect()
      executedPlan(df)
    }
    s2.experimental.extraOptimizations = Seq(graft.rules.CascadesJoinHints)
    val withRule = run()
    assert(withRule.contains("BroadcastHashJoin"), withRule)
    assert(!withRule.contains("SortMergeJoin"), withRule)
    // nation named first: the search commutes the join to build nation,
    // and the hint follows it to Catalyst's left side
    val t = graft.ops.Tables(s2, d)
    val swapped = executedPlan(t.nation
      .join(t.customer, col("n_nationkey") === col("c_nationkey"))
      .select(col("c_name"), col("n_name")))
    assert(swapped.contains("BuildLeft") &&
      swapped.contains("BroadcastHashJoin"), swapped)
    // negative control: rule removed, same session/confs — nothing else
    // can broadcast at threshold -1: this session's
    // Join2HashJoinStrategy claims the join as ShuffledHashJoin (a plain
    // session would sort-merge); either way NO broadcast
    s2.experimental.extraOptimizations = Nil
    val without = run()
    assert(without.contains("ShuffledHashJoin") ||
      without.contains("SortMergeJoin"), without)
    assert(!without.contains("BroadcastHashJoin"), without)
    // and the winner surface agrees: planFor's search broadcasts nation
    val (winner, _) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_strategy")
    def ops(p: PlanNode): Seq[Operator] = p.op +: p.inputs.flatMap(ops)
    assert(ops(winner).exists(isJoin(Broadcast)),
      winner.explain())
  }

  test("topk desc: ORDER BY ... DESC plans as PhysicalTopK carrying " +
      "direction+nulls, executes as TakeOrderedAndProject (no global " +
      "sort), and the rows really descend") {
    val (winner, df) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_topk_desc")
    def ops(p: PlanNode): Seq[Operator] = p.op +: p.inputs.flatMap(ops)
    assert(ops(winner).contains(PhysicalTopK(50,
      Seq(SortKey.desc(Col("o_totalprice")),
        SortKey.desc(Col("o_orderkey"))))), winner.explain())
    val plan = executedPlan(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
    val prices = df.collect().map(_.getDouble(1))
    assert(prices.length == 50)
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b },
      prices.take(10).toList)
  }

  test("sort desc (root order, no limit): the enforcer PhysicalSort " +
      "carries mixed DESC/ASC keys and the executed Sort uses the exact " +
      "Spark variants") {
    val (winner, df) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_sort_desc")
    def sorts(p: PlanNode): Seq[PhysicalSort] = (p.op match {
      case s: PhysicalSort => Seq(s)
      case _               => Nil
    }) ++ p.inputs.flatMap(sorts)
    assert(sorts(winner) == Seq(PhysicalSort(Seq(
      SortKey.desc(Col("o_totalprice")),
      SortKey(Col("o_orderkey"))))), winner.explain())
    val plan = executedPlan(df)
    assert(plan.contains("o_totalprice") && plan.contains("DESC NULLS LAST"),
      plan)
    val rows = df.collect()
    val prices = rows.map(_.getDouble(1))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b },
      prices.take(5).toList)
  }

  test("wide_build: BYTE pricing keeps the embedding-carrying build " +
      "SHUFFLED where ROW pricing broadcasts it — the width axis alone " +
      "flips the decision (footer bytes/row ~390 vs orders' ~25)") {
    val (winner, df) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_wide_build")
    def ops(p: PlanNode): Seq[Operator] = p.op +: p.inputs.flatMap(ops)
    // byte model: W-fold replication of the wide build loses to two
    // narrow-side exchanges at every scale leg (probe grows with SF,
    // build bytes dominate regardless)
    assert(ops(winner).exists {
      case PhysicalJoin(ShuffledHash, JoinType.Inner, _) => true
      case _ => false
    }, winner.explain())
    assert(!ops(winner).exists(isJoin(Broadcast)),
      winner.explain())
    val plan = executedPlan(df)
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
    // row-model counterfactual: the SAME SQL priced by row counts
    // broadcasts the 500-row build — pinning that the executed flip is
    // attributable to the byte axis, not the search or the stats
    def rowModel(hepRules: Seq[OptRule]): PlanNode = {
      val name = "cascades_exec_wide_build"
      val (parsed, required) = SqlFrontend.parseQuery(
        CascadesExecOps.sqls(name), CascadesExecOps.schemaCat)
      CascadesExecOps.search(parsed, required,
        CascadesExecOps.stats(spark, d, name), TestRules.joinStrategyRules,
        hepRules, new ClusterCostModel).get
    }
    val rowWinner = rowModel(CascadesExecOps.defaultHep)
    assert(ops(rowWinner).exists(isJoin(Broadcast)),
      rowWinner.explain())
    // the SQL has no WHERE, so the default HEP pass leaves it as it was
    assert(rowWinner.explain() == rowModel(Nil).explain(), rowWinner.explain())
  }

  test("order direction satisfaction: an ASC-clustered layout satisfies " +
      "the ASC requirement with ZERO sorts but FAILS the DESC " +
      "requirement and pays the sort enforcer") {
    val stats = TableStats(Map("customer" -> 1500L))
    val clustered = PlanNode(LogicalScan("customer", None,
      bucketBy = Seq(Col("c_custkey")), sortBy = Seq(Col("c_custkey"))))
    def optimize(req: PhysicalPropertySet): PlanNode =
      TestRules.golden(Rules.all,
        costModel = new CardinalityCostModel, stats = stats)
        .optimize(clustered, req).get
    def sorts(p: PlanNode): Seq[PhysicalSort] = (p.op match {
      case s: PhysicalSort => Seq(s)
      case _               => Nil
    }) ++ p.inputs.flatMap(sorts)
    // ASC: the write-time sort already delivers the order — no enforcer
    val ascW = optimize(PhysicalPropertySet(
      order = OrderSpec.SortedBy.asc(Seq(Col("c_custkey")))))
    assert(sorts(ascW).isEmpty, ascW.explain())
    // DESC over the SAME layout: direction-aware satisfaction rejects
    // the ascending clustered order — the enforcer sort appears and
    // carries the DESC key (the r9 ascending-only SortedBy could never
    // express this requirement at all)
    val descReq = OrderSpec.SortedBy(Seq(SortKey.desc(Col("c_custkey"))))
    val descW = optimize(PhysicalPropertySet(order = descReq))
    assert(sorts(descW) ==
      Seq(PhysicalSort(Seq(SortKey.desc(Col("c_custkey"))))),
      descW.explain())
  }

  test("string stats compare by unsigned UTF-8 bytes (parquet's Binary " +
      "stat order), not UTF-16: a supplementary-plane upper bound keeps " +
      "U+FFFF in range") {
    val supp = new String(Character.toChars(0x10000)) // UTF-8 F0 90 80 80
    val v = "￿"                                  // UTF-8 EF BF BF
    // UTF-16 code-unit order inverts the byte order parquet wrote the
    // footer bounds in — the ADVICE r9 misjudged-empty hazard
    assert(v.compareTo(supp) > 0)
    assert(StatsModel.utf8Cmp(v, supp) < 0)
    val ts = TableStats(Map("t" -> 1000L), Map.empty,
      strRanges = Map("s" -> (("a", supp))))
    // in range under byte order → the blind 10% fallback (no NDV axis),
    // NOT the provably-empty 1-row floor the UTF-16 compare produced
    assert(ts.derive(
      LogicalFilter(CmpCond("=", Col("s"), StrLit(v)), Nil),
      Seq(1000L)) == 100L)
  }

  test("count(distinct) NULL semantics: the dedup-first outer " +
      "count_nonnull skips the (g, NULL) dedup row AND keeps an all-NULL " +
      "group as (g, 0) — agreeing with the direct count_distinct") {
    import spark.implicits._
    val df = Seq(("a", Option(1L)), ("a", Option(1L)), ("a", Option(2L)),
      ("a", Option.empty[Long]), ("b", Option.empty[Long]),
      ("b", Option.empty[Long])).toDF("g", "x")
    // the rewrite emits count_nonnull (SQL COUNT(x)), not count(*)
    val rewritten = Rules.RewriteDistinctAggRule.apply(
      OptExpression.Node(
        LogicalAggregate(Seq(Col("g")),
          Seq(AggCall("count_distinct", Some(Col("x"))))),
        Seq(OptExpression.GroupHandle(0))),
      RuleContext.empty)
    assert(rewritten.exists {
      case OptExpression.Node(LogicalAggregate(_, aggs), _) =>
        aggs.exists(a => a.fn == "count_nonnull" && a.outName == "cntd_x")
      case _ => false
    }, rewritten)
    // both memo alternatives, lowered and executed on NULL-bearing data
    val scan = PlanNode(PhysicalTableScan("t"))
    val dedupFirst = PlanNode(
      PhysicalHashAggregate(AggMode.Final, Seq(Col("g")),
        Seq(AggCall("count_nonnull", Some(Col("x")),
          as = Some("cntd_x")))),
      Seq(PlanNode(
        PhysicalHashAggregate(AggMode.Final, Seq(Col("g"), Col("x")),
          Seq(AggCall("count"))), Seq(scan))))
    val direct = PlanNode(
      PhysicalHashAggregate(AggMode.Complete, Seq(Col("g")),
        Seq(AggCall("count_distinct", Some(Col("x")),
          as = Some("cntd_x")))), Seq(scan))
    val expected = Seq(("a", 2L), ("b", 0L))
    for (p <- Seq(dedupFirst, direct)) {
      val got = Execution.lower(p, Map("t" -> df)).orderBy("g")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == expected, s"${p.explain()} -> $got")
    }
  }

  test("count(distinct): the split rule ABSTAINS (per-partition distinct " +
      "counts don't merge) and the dedup-first rewrite wins — an inner " +
      "(source, lang) dedup aggregate, itself split, under an outer row " +
      "count") {
    val (plan, _) = SqlFrontend.parseQuery(
      CascadesExecOps.sqls("cascades_exec_count_distinct"))
    assert(plan.op == LogicalAggregate(Seq(Col("source")),
      Seq(AggCall("count_distinct", Some(Col("lang"))))), plan.explain())
    // the naive split shape must not exist for the distinct call
    assert(Rules.SplitAggRule.apply(
      OptExpression.Node(plan.op, Seq(OptExpression.GroupHandle(0))),
      RuleContext.empty).isEmpty)
    val (winner, df) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_count_distinct")
    def aggs(p: PlanNode): Seq[PhysicalHashAggregate] = (p.op match {
      case a: PhysicalHashAggregate => Seq(a)
      case _                        => Nil
    }) ++ p.inputs.flatMap(aggs)
    val ws = aggs(winner)
    // no physical aggregate carries the distinct call itself…
    assert(!ws.exists(_.aggs.exists(_.fn == "count_distinct")),
      winner.explain())
    // …the inner dedup groups by (source, lang) and is SPLIT (its
    // partial shrinks rows before the exchange)…
    assert(ws.exists(a => a.groupCols == Seq(Col("source"), Col("lang")) &&
      a.mode == AggMode.Partial), winner.explain())
    // …and the outer count emits the distinct call's OUTPUT name
    assert(ws.exists(a => a.groupCols == Seq(Col("source")) &&
      a.aggs.exists(_.outName == "cntd_lang")), winner.explain())
    val plan2 = executedPlan(df)
    assert(plan2.contains("HashAggregate"), plan2)
    // the executed dedup layer: an aggregate keyed by BOTH columns
    assert(plan2.contains("source#") && plan2.contains("lang#"), plan2)
  }

  test("prune: the HEP projection pushdown narrows BOTH join inputs to " +
      "their output share + join key, and the executed scans read ONLY " +
      "the pruned schema") {
    val (winner, df) = CascadesExecOps.planFor(spark, d,
      "cascades_exec_prune")
    def projOverScan(p: PlanNode): Seq[(Seq[Expr], String)] = (p.op match {
      case PhysicalProject(es)
          if p.inputs.head.op.isInstanceOf[PhysicalTableScan] =>
        Seq((es,
          p.inputs.head.op.asInstanceOf[PhysicalTableScan].table))
      case _ => Nil
    }) ++ p.inputs.flatMap(projOverScan)
    val pruned = projOverScan(winner).toMap.map(_.swap)
    assert(pruned.get("customer").contains(
      Seq(Col("c_name"), Col("c_custkey"))), winner.explain())
    assert(pruned.get("orders").contains(
      Seq(Col("o_orderkey"), Col("o_orderpriority"), Col("o_custkey"))),
      winner.explain())
    val plan = executedPlan(df)
    // the parquet scans request exactly the pruned columns — the wide
    // columns (c_acctbal, o_totalprice, …) never leave the files
    assert(plan.contains("ReadSchema: struct<c_custkey:bigint," +
      "c_name:string>"), plan)
    assert(!plan.contains("c_acctbal") && !plan.contains("o_totalprice"),
      plan)
  }

  test("min/max/avg parse and the HAVING aggregate must be selected") {
    val (plan, _) = SqlFrontend.parseQuery(
      "SELECT lang, min ( n_chars ), max ( n_chars ), avg ( n_chars ) " +
        "FROM documents GROUP BY lang")
    assert(plan.op == LogicalAggregate(Seq(Col("lang")), Seq(
      AggCall("min", Some(Col("n_chars"))),
      AggCall("max", Some(Col("n_chars"))),
      AggCall("avg", Some(Col("n_chars"))))), plan.explain())
    intercept[IllegalArgumentException] {
      SqlFrontend.parseQuery(
        "SELECT lang FROM documents GROUP BY lang HAVING count ( * ) > 1")
    }
  }

  test("footer stats are memoized: fromDir gives equal TableStats cold " +
      "and warm, and a warm footerStats reads nothing") {
    val tables = CascadesExecOps.schemaCat.keys.toSeq
    // a private copy: its paths are new to the process-wide cache
    val cold = java.nio.file.Files.createTempDirectory("graft-stats")
    tables.foreach(t => java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/$t.parquet"), cold.resolve(s"$t.parquet")))
    val first = ParquetStats.fromDir(cold.toString, tables)
    val again = ParquetStats.fromDir(cold.toString, tables)
    assert(first == again)
    assert(first == ParquetStats.fromDir(d, tables))
    val p = s"$cold/orders.parquet"
    assert(ParquetStats.footerStats(p) eq ParquetStats.footerStats(p))
    // the duplicate-column check still runs on a warm call
    intercept[IllegalArgumentException](
      ParquetStats.fromDir(cold.toString, Seq("orders", "orders")))
  }

  test("lowering a multi-join winner launches no Spark job, and lowering " +
      "it twice gives disjoint attribute IDs") {
    val (winner, _) =
      CascadesExecOps.planFor(spark, d, "cascades_exec_three_way")
    def joins(p: PlanNode): Int = (p.op match {
      case _: PhysicalJoin => 1
      case _ => 0
    }) + p.inputs.map(joins).sum
    assert(joins(winner) >= 2, winner.explain())
    val catalog = CascadesExecOps.tableCatalog(spark, d)
    var lowered: Seq[org.apache.spark.sql.DataFrame] = Nil
    val jobs = jobsDuring {
      lowered = Seq(Execution.lower(winner, catalog),
        Execution.lower(winner, catalog))
    }
    assert(jobs == 0, s"lowering launched $jobs job(s)")
    val Seq(a, b) = lowered
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectLeaves()
        .flatMap(_.output.map(_.exprId)).toSet
    assert(ids(a).nonEmpty && ids(a).intersect(ids(b)).isEmpty)
    // one relation per table, shared by both lowerings
    def relations(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectLeaves().collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation
      }
    relations(a).zip(relations(b)).foreach { case (x, y) => assert(x eq y) }
    assert(a.count() == b.count())
  }

  test("CascadesJoinHints: scanTable still finds the table names " +
      "through reused relations") {
    import org.apache.spark.sql.functions.col
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.experimental.extraOptimizations = Seq(graft.rules.CascadesJoinHints)
    val t = graft.ops.Tables(s2, d)
    val (c1, n1) = (t.customer, t.nation)
    val (c2, n2) = (t.customer, t.nation)
    assert((relationOf(c2) eq relationOf(c1)) &&
      (relationOf(n2) eq relationOf(n1)))
    val plan = executedPlan(
      c2.join(n2, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_name"), col("n_name")))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("CascadesJoinHints leaves a user's join-strategy hint alone: a " +
      "merge-hinted join sort-merges and a shuffle_hash-hinted join " +
      "shuffle-hashes where the winner would broadcast") {
    import org.apache.spark.sql.functions.col
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.experimental.extraOptimizations = Seq(graft.rules.CascadesJoinHints)
    def plan(hint: String): String = {
      val t = graft.ops.Tables(s2, d)
      executedPlan(t.customer
        .join(t.nation.hint(hint), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_name"), col("n_name")))
    }
    val merge = plan("merge")
    assert(merge.contains("SortMergeJoin"), merge)
    assert(!merge.contains("BroadcastHashJoin"), merge)
    val hash = plan("shuffle_hash")
    assert(hash.contains("ShuffledHashJoin"), hash)
    assert(!hash.contains("BroadcastHashJoin"), hash)
  }
  // ---- the bucketed-layout cache ------------------------------------

  private val agg = "cascades_exec_agg_clustered"
  private val smj = "cascades_exec_smj_clustered"

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  /** The clustered queries' rows from plain Spark over the parquet
    * originals at `dir` (the bucketed tables hold exactly their rows).
    */
  private def oracle(dir: String, name: String): Seq[Seq[Any]] = {
    import org.apache.spark.sql.functions.col
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    rows(name match {
      case `agg` => customer.groupBy("c_custkey").count()
        .orderBy("c_custkey").limit(50)
      case `smj` => customer
        .join(spark.read.parquet(s"$dir/orders.parquet"),
          col("c_custkey") === col("o_custkey"))
        .select("c_custkey", "c_name", "o_orderkey")
        .orderBy("o_orderkey").limit(100)
    })
  }

  private def built(s: SparkSession, dir: String,
      name: String): Seq[Seq[Any]] =
    rows(CascadesExecOps.planFor(s, dir, name)._2)

  /** A private copy of the sf0.001 tables the cascades catalog knows:
    * new to every cache, so the first clustered build writes its layout.
    */
  private def copyOfSf(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout")
    CascadesExecOps.schemaCat.keys.foreach(t => java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/$t.parquet"),
      dir.resolve(s"$t.parquet")))
    dir.toString
  }

  /** Bucketed-layout writes (`saveAsTable` of a `graft_bk_*` table)
    * started while `body` runs, by table; flushed through the listener
    * bus like [[jobsDuring]].
    */
  private def layoutWritesDuring(body: => Unit): Map[String, Int] = {
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart
            if x.physicalPlanDescription
              .contains("CreateDataSourceTableAsSelectCommand") =>
          Seq("graft_bk_customer", "graft_bk_orders")
            .filter(x.physicalPlanDescription.contains(_))
            .foreach(writes.add)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try jobsDuring(body)
    finally spark.sparkContext.removeSparkListener(listener)
    writes.asScala.groupBy(identity).map { case (t, ws) => t -> ws.size }
  }

  test("layout cache: a warm rebuild of agg_clustered reuses the written " +
      "layout and launches no Spark job") {
    assert(built(spark, d, agg) == oracle(d, agg))
    var df: DataFrame = null
    val jobs = jobsDuring {
      df = CascadesExecOps.planFor(spark, d, agg)._2
    }
    assert(jobs == 0, s"a warm build launched $jobs job(s)")
    assert(rows(df) == oracle(d, agg))
  }

  test("layout cache: smj_clustered builds on ONE child session per " +
      "caller, so a warm rebuild reads its layouts through the relations " +
      "that child already resolved") {
    val s = spark.newSession()
    def relations(df: DataFrame) = df.queryExecution.analyzed.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r }
    val first = CascadesExecOps.planFor(s, d, smj)._2
    assert(rows(first) == oracle(d, smj))
    val child = first.sparkSession
    assert(child ne s)
    assert(child.conf.get(
      "spark.sql.legacy.bucketedTableScan.outputOrdering") == "true")
    val second = CascadesExecOps.planFor(s, d, smj)._2
    assert(second.sparkSession eq child)
    val (r1, r2) = (relations(first), relations(second))
    assert(r1.size == 2 && r2.size == 2, r1)
    assert(r1.zip(r2).forall { case (a, b) => a eq b },
      "the warm build resolved its layouts again")
    assert(rows(second) == oracle(d, smj))
  }

  test("layout cache: a scale switch through another session's rewrite " +
      "leaves no stale relation behind") {
    // agg in s, smj (which rewrites graft_bk_customer in its own
    // newSession()) at another scale, then agg in s at that scale: s's
    // session catalog must not serve its relation over deleted files
    val s = spark.newSession()
    assert(built(s, d, agg) == oracle(d, agg))
    assert(built(s, sfDir, smj) == oracle(sfDir, smj))
    assert(built(s, sfDir, agg) == oracle(sfDir, agg))
  }

  test("layout cache: a source overwritten in place rewrites the layout " +
      "and the next build returns the new rows") {
    import org.apache.spark.sql.functions.col
    val dir = copyOfSf()
    assert(built(spark, dir, agg) == oracle(dir, agg))
    spark.read.parquet(s"$sfDir/customer.parquet")
      .filter(col("c_custkey") % 3 === 0)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val after = oracle(dir, agg)
    assert(after != oracle(sfDir, agg))
    var got: Seq[Seq[Any]] = Nil
    val writes = layoutWritesDuring { got = built(spark, dir, agg) }
    assert(writes == Map("graft_bk_customer" -> 1), writes)
    assert(got == after)
  }

  test("layout cache: after DROP TABLE or deletion of its directory, the " +
      "next build writes the layout again and is correct") {
    val want = oracle(d, agg)
    assert(built(spark, d, agg) == want)
    spark.sql("DROP TABLE graft_bk_customer")
    assert(built(spark, d, agg) == want)
    val loc = graft.ops.Tables.managedLocation(spark, "graft_bk_customer")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(loc, true)
    assert(built(spark, d, agg) == want)
    assert(layoutWritesDuring(built(spark, d, agg)).isEmpty)
  }

  test("a managed table is reset at its database's location: orphaned " +
      "directories in a database outside the warehouse dir are deleted " +
      "before agg_clustered and data_sink_bucketed write there") {
    val s = spark.newSession()
    val loc = java.nio.file.Files.createTempDirectory("graft-db")
    s.sql(s"CREATE DATABASE graft_elsewhere LOCATION '${loc.toUri}'")
    try {
      s.sql("USE graft_elsewhere")
      // what an earlier SparkContext's in-memory catalog leaves behind:
      // table directories that no catalog entry owns
      Seq("graft_bk_customer", "graft_bkt_docs", "graft_bkt_emb").foreach {
        t => java.nio.file.Files.write(
          java.nio.file.Files.createDirectories(loc.resolve(t))
            .resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
      }
      assert(built(s, sfDir, agg) == oracle(sfDir, agg))
      assert(graft.SparkEntry.queries("data_sink_bucketed")(s, sfDir)
        .collect().nonEmpty)
      assert(s.catalog.listTables().collect().map(_.name).toSet ==
        Set("graft_bk_customer", "graft_bkt_docs", "graft_bkt_emb"))
    } finally {
      s.sql("USE default")
      s.sql("DROP DATABASE graft_elsewhere CASCADE")
    }
  }

  test("layout cache: 4 threads building agg_clustered and smj_clustered, " +
      "on one session and on two, all get the oracle's rows and each " +
      "layout is written once") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      Seq(1, 2).foreach { nSessions =>
        val dir = copyOfSf()
        val sessions = Seq.fill(nSessions)(spark.newSession())
        val want = Seq(agg, smj).map(q => q -> oracle(dir, q)).toMap
        val writes = layoutWritesDuring {
          val tasks = (0 until 4).map { i =>
            val s = sessions(i % nSessions)
            val order = if (i % 2 == 0) Seq(agg, smj) else Seq(smj, agg)
            pool.submit(new java.util.concurrent.Callable[Seq[Boolean]] {
              def call(): Seq[Boolean] =
                order.map(q => built(s, dir, q) == want(q))
            })
          }
          tasks.foreach(t => assert(t.get().forall(identity)))
        }
        assert(writes == Map("graft_bk_customer" -> 1,
          "graft_bk_orders" -> 1), s"$nSessions session(s): $writes")
      }
    } finally pool.shutdown()
  }

  test("session hygiene: building and collecting each cascades_exec_* " +
      "query leaves its caller's conf, optimizer rules and strategies as " +
      "they were; only the first build adds tables, all graft_bk_*") {
    val s = spark.newSession()
    def extras = (s.experimental.extraOptimizations,
      s.experimental.extraStrategies)
    def tables = s.catalog.listTables().collect().map(_.name).toSet
    def buildAll(): Unit =
      CascadesExecOps.sqls.keys.toSeq.sorted.foreach { name =>
        val (conf, rules) = (s.conf.getAll.toSet, extras)
        CascadesExecOps.planFor(s, sfDir, name)._2.collect()
        val after = s.conf.getAll.toSet
        assert(((after diff conf) ++ (conf diff after)).isEmpty,
          s"$name changed the conf")
        assert(extras == rules, s"$name changed the rules or strategies")
      }
    val initial = tables
    buildAll()
    val first = tables
    assert((first -- initial).forall(_.startsWith("graft_bk_")),
      first -- initial)
    buildAll()
    assert(tables == first)
  }

  // cascades_exec_strategy is built by Catalyst, not lowered
  private val loweredQueries = CascadesExecOps.sqls.keys.toSeq.sorted
    .filterNot(_ == "cascades_exec_strategy")

  test("every lowered cascades_exec_* winner is resolved Catalyst that " +
      "needs no analysis") {
    assert(loweredQueries.size == 25)
    loweredQueries.foreach { name =>
      withClue(s"$name: ")(
        assertNeedsNoAnalysis(CascadesExecOps.planFor(spark, sfDir, name)._2))
    }
  }

  test("every lowered cascades_exec_* winner is optimized as the full " +
      "optimizer would optimize it") {
    loweredQueries.foreach { name =>
      withClue(s"$name: ")(
        assertOptimizedAsFull(CascadesExecOps.planFor(spark, sfDir, name)._2))
    }
  }

  /** The optimizer rules `df`'s optimization ran. */
  private def optimizerRulesRun(df: DataFrame): Set[String] = {
    val optimizer = df.sparkSession.sessionState.optimizer
    val names = optimizer.defaultBatches.flatMap(_.rules).map(_.ruleName)
    df.queryExecution.optimizedPlan
    df.queryExecution.tracker.rules.keySet.intersect(names.toSet)
  }

  test("lowering runs the kept optimizer rules under a conf of its own: " +
      "the session conf is unchanged and a plain query afterwards still " +
      "runs the full rule set") {
    val s = spark.newSession()
    val key = "spark.sql.optimizer.excludedRules"
    val userExcluded = "org.apache.spark.sql.catalyst.optimizer.CollapseProject"
    s.conf.set(key, userExcluded)
    val conf = s.conf.getAll
    val lowered = CascadesExecOps.planFor(s, sfDir, "cascades_exec_three_way")._2
    assert(s.conf.getAll == conf)
    val ran = optimizerRulesRun(lowered)
    val loweredMayRun = Execution.runsOnLowered(s.sessionState.optimizer) _
    assert(ran.forall(loweredMayRun), ran.filterNot(loweredMayRun))
    assert(ran.exists(_.endsWith(".ColumnPruning")))
    // a user's own exclusion still holds for the lowered plan
    assert(!ran(userExcluded))
    val plain = Tables(s, sfDir).nation.filter("n_regionkey > 1")
      .select("n_name")
    val full = optimizerRulesRun(plain)
    assert(full.exists(r => !loweredMayRun(r)), full)
    assert(full.size > ran.size && !full(userExcluded))
  }

  test("4 threads lowering winners and a fifth optimizing plain queries " +
      "on one session each see only their own optimizer conf") {
    val s = spark.newSession()
    val catalog = CascadesExecOps.tableCatalog(s, sfDir)
    val winners = Seq("cascades_exec_three_way", "cascades_exec_semi_join",
      "cascades_exec_split_agg", "cascades_exec_broadcast_dim")
      .map(CascadesExecOps.planFor(s, sfDir, _)._1)
    val fullRules = optimizerRulesRun(Tables(s, sfDir).nation.select("n_name"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    def task(body: => Option[String]) =
      pool.submit(new java.util.concurrent.Callable[Option[String]] {
        def call(): Option[String] = body
      })
    try {
      val lowering = winners.map(w => task {
        (1 to 20).iterator.map { _ =>
          optimizerRulesRun(Execution.lower(w, catalog))
            .filterNot(Execution.runsOnLowered(s.sessionState.optimizer))
        }.find(_.nonEmpty).map(r => s"a lowered plan ran $r")
      })
      val plain = task {
        (1 to 40).iterator.map { i =>
          optimizerRulesRun(Tables(s, sfDir).nation
            .filter(s"n_nationkey > $i").select("n_name"))
        }.find(_ != fullRules).map(r =>
          s"a plain query ran ${r.size} of ${fullRules.size} rules")
      }
      (lowering :+ plain).foreach(t => assert(t.get().isEmpty, t.get()))
    } finally pool.shutdown()
    assert(!s.conf.getAll.contains("spark.sql.optimizer.excludedRules"))
  }

  test("a winner that cannot lower fails inside Execution.lower, naming " +
      "the column or the operator, and launches no job") {
    val catalog = CascadesExecOps.tableCatalog(spark, sfDir)
    val nation = PlanNode(PhysicalTableScan("nation"))
    def filter(pred: Expr) = PlanNode(PhysicalFilter(pred, Nil), Seq(nation))
    var missing, illTyped, lit: Throwable = null
    val jobs = jobsDuring {
      missing = intercept[IllegalArgumentException](Execution.lower(
        PlanNode(PhysicalProject(Seq(Col("o_orderkey"))), Seq(nation)),
        catalog))
      // typed and resolved, so only checkAnalysis can reject it
      illTyped = intercept[org.apache.spark.sql.AnalysisException](
        Execution.lower(filter(CmpCond("<", Col("n_name"),
          Col("n_nationkey"))), catalog))
      lit = intercept[IllegalArgumentException](Execution.lower(
        filter(CmpCond("=", Col("n_name"), Lit(3))), catalog))
    }
    assert(jobs == 0, s"failing lowerings launched $jobs job(s)")
    assert(missing.getMessage.contains("column o_orderkey is not in the " +
      "input (n_nationkey, n_name, n_regionkey)"), missing.getMessage)
    assert(illTyped.getMessage.contains("DATATYPE_MISMATCH") &&
      illTyped.getMessage.contains("(n_name < n_nationkey)"),
      illTyped.getMessage)
    assert(lit.getMessage.contains("column n_name of type STRING"),
      lit.getMessage)
  }
}
