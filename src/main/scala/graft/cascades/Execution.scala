package graft.cascades

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Filter, Join, JoinHint, JoinStrategyHint, Limit, LogicalPlan, Project, Repartition, RepartitionByExpression, SHUFFLE_HASH, SHUFFLE_MERGE, Sort, UnresolvedHint}
import org.apache.spark.sql.functions._

import graft.functions.ColumnBridge

/** Execute a MiniCascades WINNER end to end — the `to_df_physical` analog
  * (`datafusion-dolomite-integration/src/planner.rs:29-55` hands the
  * cascades-chosen physical plan to the host engine;
  * `conversion/physical.rs:23-117` lowers each physical operator to a
  * DataFusion ExecutionPlan). Here the host engine is Spark: the winner
  * lowers in ONE pass to one unresolved Catalyst `LogicalPlan` — each
  * [[PhysicalOp]] becomes the logical operator whose Catalyst physical
  * plan realizes exactly the winner's choice, join STRATEGY included
  * (broadcast/shuffle-hash/merge via join hints, which Catalyst honors
  * over its own size estimates), so the executed SparkPlan provably
  * carries the cascades decision, not Catalyst's default. The leaves are
  * the catalog DataFrames' analysed plans; the whole tree is analysed
  * ONCE when it is wrapped in a DataFrame (a chain of DataFrame calls
  * would re-analyse the growing plan after every operator). The operators
  * and expressions are the ones the DataFrame API builds for the same
  * calls — expressions go through the session's own column converter —
  * so the executed plan is the one those DataFrame calls would give.
  * This closes the one lifecycle edge the reference demonstrates
  * that the plan-only cascades module did not: winners EXECUTE, and the
  * CORRECTNESS gate checks their rows against DuckDB
  * ([[graft.ops.CascadesExecOps]]).
  *
  * Aggregation: a winner's Final/Exchange/Partial pyramid (the SplitAgg
  * plan) collapses to ONE `Aggregate` — Spark's HashAggregateExec
  * planning *is* the partial/final split (partial_aggregation always on),
  * so the single declarative aggregate executes precisely the split
  * winner: Partial on raw placement, exchange of partial states, Final
  * merge. The plan-shape specs assert that executed pair. A Complete-mode
  * winner lowers the same way (Spark still splits; the distributed
  * execution of "aggregate over co-partitioned input" and "split
  * aggregate" coincide when the input's partitioning comes from the
  * exchange Spark itself inserts).
  */
object Execution {

  /** Lower a winner plan to a DataFrame. `catalog` resolves base tables;
    * join/aggregate column names must be unambiguous across both sides
    * (the TPC-H-prefixed testdata schemas are). The DataFrame belongs to
    * the session of the leaves (the first one read, when they differ).
    */
  def lower(plan: PlanNode, catalog: String => DataFrame): DataFrame = {
    val l = new Lowering(catalog)
    val logical = l.lower(plan)
    ColumnBridge.dataFrame(l.session, logical)
  }

  /** One lowering pass. Leaves are read before the operators above them
    * convert their expressions, so [[session]] is set by then.
    */
  private final class Lowering(catalog: String => DataFrame) {
    var session: SparkSession = _

    private def expr(c: Column) = ColumnBridge.convert(session, c)
    private def named(c: Column) = ColumnBridge.named(expr(c))

    def lower(plan: PlanNode): LogicalPlan = plan match {
      // SplitAgg winner: Final over (exchange over) Partial — one
      // declarative aggregate (see scaladoc above)
      case PlanNode(PhysicalHashAggregate(AggMode.Final, g, aggs),
          Seq(PlanNode(PhysicalExchange(_),
            Seq(PlanNode(PhysicalHashAggregate(AggMode.Partial, _, _),
              Seq(child)))))) =>
        aggregate(lower(child), g, aggs)
      case PlanNode(PhysicalHashAggregate(AggMode.Final, g, aggs),
          Seq(PlanNode(PhysicalHashAggregate(AggMode.Partial, _, _),
            Seq(child)))) =>
        aggregate(lower(child), g, aggs)
      case PlanNode(op, inputs) =>
        val kids = inputs.map(lower)
        op match {
          case PhysicalTableScan(t, limit, _, _) =>
            val df = catalog(t)
            if (session == null) session = df.sparkSession
            limit.foldLeft(df.queryExecution.analyzed)(
              (p, n) => Limit(Literal(n), p))
          case PhysicalFilter(pred, projected) =>
            val f = Filter(expr(predicate(pred)), kids.head)
            if (projected.isEmpty) f
            else Project(projected.map(c => named(col(c.name))), f)
          case PhysicalProject(exprs) =>
            Project(exprs.map(e => named(exprToColumn(e))), kids.head)
          case j: PhysicalJoin => join(j, kids)
          case PhysicalHashAggregate(_, g, aggs) =>
            aggregate(kids.head, g, aggs)
          case PhysicalTopK(n, keys) =>
            // sort+limit => Spark's TakeOrderedAndProjectExec, the
            // PhysicalTopK counterpart (no global sort)
            Limit(Literal(n), sort(keys, kids.head))
          case PhysicalSort(keys) =>
            sort(keys, kids.head)
          case PhysicalExchange(keys) =>
            if (keys.isEmpty) Repartition(1, shuffle = true, kids.head)
            else RepartitionByExpression(keys.map(c => expr(col(c.name))),
              kids.head, None, None)
          case other =>
            throw new IllegalArgumentException(
              s"not a lowerable physical operator: $other")
        }
    }

    /** The join with the winner's strategy hint on its build side, the
      * right input (the hint `.hint(name)` puts on a DataFrame).
      */
    private def join(j: PhysicalJoin, kids: Seq[LogicalPlan]): LogicalPlan = {
      val sparkType = j.joinType match {
        case JoinType.Inner => Inner
        case JoinType.Left  => LeftOuter
        case JoinType.Full  => FullOuter
        case JoinType.Semi  => LeftSemi
        case JoinType.Anti  => LeftAnti
      }
      val build =
        UnresolvedHint(joinStrategy(j.strategy).displayName, Nil, kids(1))
      Join(kids(0), build, sparkType,
        Some(expr(col(j.cond.left.name) === col(j.cond.right.name))),
        JoinHint.NONE)
    }

    /** A global sort; each key converts to the exact `SortOrder` its
      * [[sortColumn]] spells (the converter, not the deferred
      * `ExpressionUtils` wrapper, which is no `SortOrder`).
      */
    private def sort(keys: Seq[SortKey], child: LogicalPlan): LogicalPlan =
      Sort(keys.map(k => expr(sortColumn(k)).asInstanceOf[SortOrder]),
        global = true, child)

    /** Grouping columns first, then the named aggregate calls — the
      * output `groupBy(...).agg(...)` gives.
      */
    private def aggregate(child: LogicalPlan, g: Seq[Col],
        aggs: Seq[AggCall]): LogicalPlan = {
      val keys = g.map(c => named(col(c.name)))
      Aggregate(keys, keys ++ aggs.map(a => named(aggColumn(a))), child)
    }
  }

  /** The Catalyst join-strategy hint that makes `JoinSelection` plan a
    * winner's join strategy, over Catalyst's own size-based pick. The one
    * mapping from a winner's join choice to Spark: lowering puts it on
    * the build side of each lowered join, and
    * [[graft.rules.CascadesJoinHints]] on the join Catalyst itself built.
    */
  def joinStrategy(s: JoinStrategy): JoinStrategyHint = s match {
    case JoinStrategy.Broadcast    => BROADCAST
    case JoinStrategy.ShuffledHash => SHUFFLE_HASH
    case JoinStrategy.SortMerge    => SHUFFLE_MERGE
  }

  /** A [[SortKey]]'s exact Spark sort column — direction AND null
    * placement explicit, never the dialect default (Spark and DuckDB
    * disagree on default null placement, so the lowering and the oracle
    * SQL both spell it out).
    */
  private def sortColumn(k: SortKey): Column = (k.asc, k.nullsFirst) match {
    case (true, true)   => col(k.col.name).asc_nulls_first
    case (true, false)  => col(k.col.name).asc_nulls_last
    case (false, true)  => col(k.col.name).desc_nulls_first
    case (false, false) => col(k.col.name).desc_nulls_last
  }

  private def exprToColumn(e: Expr): Column = e match {
    case Col(n)    => col(n)
    case Lit(v)    => lit(v)
    case StrLit(v) => lit(v)
    case other     =>
      throw new IllegalArgumentException(s"not a projection expr: $other")
  }

  private def predicate(e: Expr): Column = e match {
    case EqCond(l, r) => col(l.name) === col(r.name)
    case CmpCond(op, l, r) =>
      val (a, b) = (exprToColumn(l), exprToColumn(r))
      op match {
        case "="  => a === b
        case "<"  => a < b
        case ">"  => a > b
        case "<=" => a <= b
        case ">=" => a >= b
      }
    case RangeCond(c, lo, hi) =>
      col(c.name) >= lit(lo) && col(c.name) <= lit(hi)
    case OrCond(ds) => ds.map(predicate).reduce(_ || _)
    case other =>
      throw new IllegalArgumentException(s"not a predicate: $other")
  }

  /** One aggregate call to a NAMED Spark column ([[AggCall.outName]] —
    * the same names the oracle SQL aliases to). `count` is `count(*)`
    * (all rows, matching DuckDB's count(*)); avg casts to DECIMAL(28,6)
    * to stay bit-comparable with the DuckDB oracle on integer inputs.
    */
  private def aggColumn(a: AggCall): Column = a.fn match {
    case "count" => count(lit(1)).as(a.outName)
    // SQL COUNT(x): null-skipping — the outer aggregate of the distinct
    // rewrite (skips the (g, NULL) dedup row; keeps all-NULL groups)
    case "count_nonnull" => count(col(a.col.get.name)).as(a.outName)
    // the direct (Complete, co-partitioned) implementation of a distinct
    // count — only sound because the mode's required Hashed(group) input
    // puts every group in one partition; the usually-cheaper plan is the
    // dedup-first rewrite, which never reaches this case
    case "count_distinct" =>
      count_distinct(col(a.col.get.name)).as(a.outName)
    case "sum"   => sum(col(a.col.get.name)).as(a.outName)
    case "min"   => min(col(a.col.get.name)).as(a.outName)
    case "max"   => max(col(a.col.get.name)).as(a.outName)
    case "avg"   =>
      // quantize through the oracle-contract decimal, then render DOUBLE
      // (graft.ops.Oracle doctrine: the same exact decimal renders to
      // the same double in both engines; a decimal OUTPUT column is the
      // r6 hash-hazard class PlanCheckSpec's type audit blocks)
      avg(col(a.col.get.name)).cast("decimal(28,6)").cast("double")
        .as(a.outName)
    case other =>
      throw new IllegalArgumentException(s"unsupported aggregate: $other")
  }
}
