package graft.cascades

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Ascending, Attribute, Cast, Descending, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, NamedExpression, NullsFirst, NullsLast, Or, SortOrder}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Filter, HintInfo, Join, JoinHint, JoinStrategyHint, Limit, LogicalPlan, Project, Repartition, RepartitionByExpression, ResolvedHint, SHUFFLE_HASH, SHUFFLE_MERGE, Sort}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}

import graft.functions.ColumnBridge

/** Execute a MiniCascades WINNER end to end — the `to_df_physical` analog
  * (`datafusion-dolomite-integration/src/planner.rs:29-55` hands the
  * cascades-chosen physical plan to the host engine;
  * `conversion/physical.rs:23-117` lowers each physical operator to a
  * DataFusion ExecutionPlan). Here the host engine is Spark: the winner
  * lowers in ONE pass to one RESOLVED Catalyst `LogicalPlan` — each
  * [[PhysicalOp]] becomes the logical operator whose Catalyst physical
  * plan realizes exactly the winner's choice, join STRATEGY included
  * (broadcast/shuffle-hash/merge via resolved join hints, which Catalyst
  * honors over its own size estimates), so the executed SparkPlan
  * provably carries the cascades decision, not Catalyst's default. The
  * leaves are the catalog DataFrames' analysed plans; every operator above
  * them is built resolved: attributes come from the child's `output` by
  * the session resolver (so nullability above outer joins is Catalyst's
  * own), literals are typed to the column they meet, aggregates are the
  * `AggregateExpression`s and casts the analyzer would build. Analysis
  * has nothing left to resolve, so the plan skips the analyzer's rule
  * batches; the session analyzer's `checkAnalysis` still runs on it, so an
  * ill-typed or unresolvable winner fails in [[Execution.lower]], naming
  * the column or operator, never at execution. The executed plan is the
  * one the same DataFrame calls would give.
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
    val state = l.session.sessionState
    SQLConf.withExistingConf(state.conf)(
      state.analyzer.checkAnalysis(logical))
    ColumnBridge.analysedDataFrame(l.session, logical)
  }

  /** One lowering pass. Leaves are read before the operators above them
    * build their expressions, so [[session]] is set by then.
    */
  private final class Lowering(catalog: String => DataFrame) {
    var session: SparkSession = _
    private def conf = session.sessionState.conf

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
        lazy val in = kids.head.output
        op match {
          case PhysicalTableScan(t, limit, _, _) =>
            val df = catalog(t)
            if (session == null) session = df.sparkSession
            limit.foldLeft(df.queryExecution.analyzed)(
              (p, n) => Limit(Literal(n), p))
          case PhysicalFilter(pred, projected) =>
            val f = Filter(predicate(pred, in), kids.head)
            if (projected.isEmpty) f
            else Project(projected.map(attr(_, in)), f)
          case PhysicalProject(exprs) =>
            Project(exprs.map(e => named(scalar(e, in))), kids.head)
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
            else RepartitionByExpression(keys.map(attr(_, in)), kids.head,
              None, None)
          case other =>
            throw new IllegalArgumentException(
              s"not a lowerable physical operator: $other")
        }
    }

    /** Column `c` of `input`, matched by the session resolver as the
      * analyzer matches a column name.
      */
    private def attr(c: Col, input: Seq[Attribute]): Attribute =
      input.filter(a => conf.resolver(a.name, c.name)).distinct match {
        case Seq(a) => a
        case found =>
          val why = if (found.isEmpty) "not in" else "ambiguous in"
          throw new IllegalArgumentException(s"column ${c.name} is $why " +
            s"the input (${input.map(_.name).mkString(", ")})")
      }

    /** An integer literal typed to the column it meets — the form the
      * optimizer reduces the ANSI-coerced comparison to — where the value
      * is exact in the column's type.
      */
    private def typed(v: Long, a: Attribute): Literal = a.dataType match {
      case IntegerType if v.isValidInt          => Literal(v.toInt)
      case LongType                             => Literal(v)
      case DoubleType if v.toDouble.toLong == v => Literal(v.toDouble)
      case t =>
        throw new IllegalArgumentException(
          s"integer literal $v cannot compare with column ${a.name} " +
            s"of type ${t.sql}")
    }

    private def scalar(e: Expr, input: Seq[Attribute]): Expression = e match {
      case c: Col    => attr(c, input)
      case Lit(v)    => Literal(v)
      case StrLit(v) => Literal(v)
      case other     =>
        throw new IllegalArgumentException(s"not a scalar expr: $other")
    }

    /** `e` as a select-list entry, named the way `DataFrame.select` names
      * it: a column keeps its attribute, a literal is aliased to its text.
      */
    private def named(e: Expression): NamedExpression = e match {
      case a: Attribute => a
      case other        => Alias(other, other.toString)()
    }

    private def predicate(e: Expr, input: Seq[Attribute]): Expression =
      e match {
        case EqCond(l, r) => EqualTo(attr(l, input), attr(r, input))
        case CmpCond(op, l, r) =>
          val (a, b) = (l, r) match {
            case (c: Col, Lit(v)) => val a = attr(c, input); (a, typed(v, a))
            case (Lit(v), c: Col) => val b = attr(c, input); (typed(v, b), b)
            case _ => (scalar(l, input), scalar(r, input))
          }
          op match {
            case "="  => EqualTo(a, b)
            case "<"  => LessThan(a, b)
            case ">"  => GreaterThan(a, b)
            case "<=" => LessThanOrEqual(a, b)
            case ">=" => GreaterThanOrEqual(a, b)
          }
        case RangeCond(c, lo, hi) =>
          val a = attr(c, input)
          And(GreaterThanOrEqual(a, typed(lo, a)),
            LessThanOrEqual(a, typed(hi, a)))
        case OrCond(ds) => ds.map(predicate(_, input)).reduce(Or)
        case other =>
          throw new IllegalArgumentException(s"not a predicate: $other")
      }

    /** The join with the winner's strategy hint resolved on its build
      * side, the right input (where `.hint(name)` puts it).
      */
    private def join(j: PhysicalJoin, kids: Seq[LogicalPlan]): LogicalPlan = {
      val sparkType = j.joinType match {
        case JoinType.Inner => Inner
        case JoinType.Left  => LeftOuter
        case JoinType.Full  => FullOuter
        case JoinType.Semi  => LeftSemi
        case JoinType.Anti  => LeftAnti
      }
      val both = kids(0).output ++ kids(1).output
      val build =
        ResolvedHint(kids(1), HintInfo(Some(joinStrategy(j.strategy))))
      Join(kids(0), build, sparkType,
        Some(EqualTo(attr(j.cond.left, both), attr(j.cond.right, both))),
        JoinHint.NONE)
    }

    /** A global sort, direction AND null placement explicit, never the
      * dialect default (Spark and DuckDB disagree on default null
      * placement, so the lowering and the oracle SQL both spell it out).
      */
    private def sort(keys: Seq[SortKey], child: LogicalPlan): LogicalPlan =
      Sort(keys.map(k => SortOrder(attr(k.col, child.output),
        if (k.asc) Ascending else Descending,
        if (k.nullsFirst) NullsFirst else NullsLast, Seq.empty)),
        global = true, child)

    /** Grouping columns first, then the named aggregate calls — the
      * output `groupBy(...).agg(...)` gives. Built under the session's
      * conf, which sets the ANSI mode of sum, avg and cast.
      */
    private def aggregate(child: LogicalPlan, g: Seq[Col],
        aggs: Seq[AggCall]): LogicalPlan = SQLConf.withExistingConf(conf) {
      val keys = g.map(attr(_, child.output))
      Aggregate(keys,
        keys ++ aggs.map(a => Alias(aggExpr(a, child.output), a.outName)()),
        child)
    }

    /** One aggregate call ([[AggCall.outName]] names it — the same names
      * the oracle SQL aliases to). `count` is `count(*)` (all rows,
      * matching DuckDB's count(*)); avg casts to DECIMAL(28,6) to stay
      * bit-comparable with the DuckDB oracle on integer inputs.
      */
    private def aggExpr(a: AggCall, input: Seq[Attribute]): Expression = {
      def arg = attr(a.col.get, input)
      a.fn match {
        case "count" => Count(Literal(1)).toAggregateExpression()
        // SQL COUNT(x): null-skipping — the outer aggregate of the
        // distinct rewrite (skips the (g, NULL) dedup row; keeps all-NULL
        // groups)
        case "count_nonnull" => Count(arg).toAggregateExpression()
        // the direct (Complete, co-partitioned) implementation of a
        // distinct count — only sound because the mode's required
        // Hashed(group) input puts every group in one partition; the
        // usually-cheaper plan is the dedup-first rewrite, which never
        // reaches this case
        case "count_distinct" =>
          Count(arg).toAggregateExpression(isDistinct = true)
        case "sum" => new Sum(arg).toAggregateExpression()
        case "min" => Min(arg).toAggregateExpression()
        case "max" => Max(arg).toAggregateExpression()
        case "avg" =>
          // quantize through the oracle-contract decimal, then render
          // DOUBLE (graft.ops.Oracle doctrine: the same exact decimal
          // renders to the same double in both engines; a decimal OUTPUT
          // column is the r6 hash-hazard class PlanCheckSpec's type audit
          // blocks)
          val tz = Some(conf.sessionLocalTimeZone)
          Cast(Cast(new Average(arg).toAggregateExpression(),
            DecimalType(28, 6), tz), DoubleType, tz)
        case other =>
          throw new IllegalArgumentException(s"unsupported aggregate: $other")
      }
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
}
