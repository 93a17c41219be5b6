package graft.cascades

/** Rule framework: pattern-matched transformations decoupled from the
  * optimizers — mirrors `dolomite/src/rules/mod.rs:99-120` (Rule trait),
  * `rules/pattern.rs:27-80` (Pattern), `rules/opt_expr.rs:59-202`
  * (OptExpression).
  */

/** Matcher-function tree with `any` wildcard leaves. */
final case class Pattern(
    matches: Operator => Boolean,
    children: Seq[Pattern] = Nil)

object Pattern {
  /** Wildcard: matches any operator, binds the subtree/group unexpanded. */
  val any: Pattern = Pattern(_ => true)
  def node(f: Operator => Boolean, children: Pattern*): Pattern =
    Pattern(f, children)
}

/** Rule input/output: a partially-bound plan fragment. Leaves that a pattern
  * did not expand are [[OptExpression.GroupHandle]]s (memo group references)
  * or raw subtrees in the heuristic optimizer.
  */
sealed trait OptExpression
object OptExpression {
  final case class Node(op: Operator, inputs: Seq[OptExpression])
      extends OptExpression
  /** Unexpanded memo group (cascades) — `opt_expr.rs` GroupHandleNode. */
  final case class GroupHandle(groupId: Int) extends OptExpression
  /** Unexpanded plan subtree (heuristic) — ExprHandleNode analog. */
  final case class PlanHandle(plan: PlanNode) extends OptExpression
}

sealed trait RuleId
object RuleId {
  case object PushLimitOverProjection extends RuleId
  case object RemoveLimit extends RuleId
  case object PushLimitToTableScan extends RuleId
  case object CommutateJoin extends RuleId
  case object AssociateJoin extends RuleId
  case object Join2HashJoin extends RuleId
  case object Join2BroadcastJoin extends RuleId
  case object Join2SortMergeJoin extends RuleId
  case object Agg2HashAgg extends RuleId
  case object SplitAgg extends RuleId
  case object RewriteDistinctAgg extends RuleId
  case object TopK2PhysicalTopK extends RuleId
  case object Scan2TableScan extends RuleId
  case object Project2PhysicalProject extends RuleId
  case object Filter2PhysicalFilter extends RuleId
  case object PushFilterThroughJoin extends RuleId
  case object PushProjectionThroughJoin extends RuleId
}

/** Logical-property access for rules at bind time — the completed form of
  * the group-property derivation the reference declares and stubs
  * (`memo.rs:781-783` `derive_statistics` is `todo!()`; no rule there can
  * see what columns a group provides). A context answers "which columns
  * does this bound rule input provide?" for all three input shapes:
  * expanded [[OptExpression.Node]] subtrees, heuristic
  * [[OptExpression.PlanHandle]]s, and — the part the reference never got
  * to — memo'd [[OptExpression.GroupHandle]]s, whose column sets are
  * derived bottom-up at group creation exactly like cardinality.
  * `None` = unknown provenance; rules must abstain, never guess.
  */
trait RuleContext {
  def colsOf(e: OptExpression): Option[Set[String]]
}

object RuleContext {
  /** No provenance (reference-faithful search): column-gated rules abstain. */
  val empty: RuleContext = new RuleContext {
    def colsOf(e: OptExpression): Option[Set[String]] = None
  }
}

/** Bottom-up provided-columns derivation over the IR — the logical-property
  * lattice shared by the memo (per-group, like cardinality) and by contexts
  * walking bound subtrees. Schema-less IR: a catalog maps base tables to
  * their columns; operators combine input sets (filters with a projected
  * list and projections narrow, joins union, everything else passes
  * through).
  */
object Provenance {
  def derive(op: Operator, inputs: Seq[Set[String]],
      catalog: Map[String, Seq[String]]): Set[String] = op match {
    case LogicalScan(t, _, _, _)  => catalog.getOrElse(t, Nil).toSet
    case PhysicalTableScan(t, _, _, _) => catalog.getOrElse(t, Nil).toSet
    case LogicalFilter(_, proj) =>
      if (proj.nonEmpty) proj.map(_.name).toSet else inputs.head
    case PhysicalFilter(_, proj) =>
      if (proj.nonEmpty) proj.map(_.name).toSet else inputs.head
    case LogicalProject(es) => es.collect { case Col(n) => n }.toSet
    case PhysicalProject(es) => es.collect { case Col(n) => n }.toSet
    // semi/anti joins output the LEFT schema only
    case j: JoinOp => if (j.leftOnly) inputs(0) else inputs(0) ++ inputs(1)
    // an aggregate provides its group keys plus its canonically-named
    // aggregate outputs ([[AggCall.outName]] — cnt, sum_x, …), which is
    // what lets a HAVING filter above it resolve columns
    case LogicalAggregate(g, a) =>
      g.map(_.name).toSet ++ a.map(_.outName)
    case PhysicalHashAggregate(_, g, a) =>
      g.map(_.name).toSet ++ a.map(_.outName)
    case _ => inputs.headOption.getOrElse(Set.empty)
  }

  def ofPlan(p: PlanNode, catalog: Map[String, Seq[String]]): Set[String] =
    derive(p.op, p.inputs.map(ofPlan(_, catalog)), catalog)
}

/** Context over a memo whose groups carry derived column sets (catalog
  * passed at memo construction); abstains entirely when no catalog was
  * configured — an empty column set must mean "provides nothing", never
  * "don't know".
  */
final class MemoContext(memo: Memo) extends RuleContext {
  def colsOf(e: OptExpression): Option[Set[String]] =
    if (memo.columns.isEmpty) None
    else e match {
      case OptExpression.GroupHandle(g) => Some(memo.group(g).cols)
      case OptExpression.PlanHandle(p) =>
        Some(Provenance.ofPlan(p, memo.columns))
      case OptExpression.Node(op, inputs) =>
        inputs.foldLeft(Option(Seq.empty[Set[String]])) { (acc, in) =>
          for (a <- acc; c <- colsOf(in)) yield a :+ c
        }.map(Provenance.derive(op, _, memo.columns))
    }
}

trait OptRule {
  def id: RuleId
  def pattern: Pattern
  /** Higher promise → tried earlier (`rules/mod.rs:153-157`). */
  def promise: Int = 1
  /** Logical→logical rewrite/exploration vs logical→physical implementation. */
  def isImplementation: Boolean = false
  /** Exploration rules generate logical alternatives (not strict
    * improvements) — meaningful only inside the memo'd cascades search; a
    * fixed-point heuristic driver would livelock on self-inverse ones.
    */
  def isExploration: Boolean = false
  def apply(expr: OptExpression.Node, ctx: RuleContext): Option[OptExpression]
}

object Rules {
  import OptExpression._

  private def isLimit(op: Operator) = op.isInstanceOf[LogicalLimit]
  private def isProject(op: Operator) = op.isInstanceOf[LogicalProject]
  private def isScan(op: Operator) = op.isInstanceOf[LogicalScan]
  private def isInnerJoin(op: Operator) = op match {
    case LogicalJoin(JoinType.Inner, _) => true
    case _                              => false
  }
  private def isJoin(op: Operator) = op.isInstanceOf[LogicalJoin]
  private def isAgg(op: Operator) = op.isInstanceOf[LogicalAggregate]

  /** `Limit(a, Limit(b, x))` → `Limit(min(a,b), x)` —
    * `dolomite/src/rules/limit.rs:73-115`.
    */
  object RemoveLimitRule extends OptRule {
    val id = RuleId.RemoveLimit
    val pattern = Pattern.node(isLimit, Pattern.node(isLimit, Pattern.any))
    def apply(expr: Node, ctx: RuleContext): Option[OptExpression] = expr match {
      case Node(LogicalLimit(a), Seq(Node(LogicalLimit(b), Seq(input)))) =>
        Some(Node(LogicalLimit(math.min(a, b)), Seq(input)))
      case _ => None
    }
  }

  /** `Limit(n, Project(x))` → `Project(Limit(n, x))` —
    * `dolomite/src/rules/limit.rs:33-71`.
    */
  object PushLimitOverProjectionRule extends OptRule {
    val id = RuleId.PushLimitOverProjection
    val pattern = Pattern.node(isLimit, Pattern.node(isProject, Pattern.any))
    def apply(expr: Node, ctx: RuleContext): Option[OptExpression] = expr match {
      case Node(LogicalLimit(n), Seq(Node(p: LogicalProject, Seq(input)))) =>
        Some(Node(p, Seq(Node(LogicalLimit(n), Seq(input)))))
      case _ => None
    }
  }

  /** `Limit(n, Scan(t, l?))` → `Scan(t, min(n, l))` —
    * `dolomite/src/rules/limit.rs:117-165`.
    */
  object PushLimitToTableScanRule extends OptRule {
    val id = RuleId.PushLimitToTableScan
    val pattern = Pattern.node(isLimit, Pattern.node(isScan))
    def apply(expr: Node, ctx: RuleContext): Option[OptExpression] = expr match {
      case Node(LogicalLimit(n), Seq(Node(LogicalScan(t, l, b, so), Nil))) =>
        Some(Node(LogicalScan(t, Some(l.fold(n)(math.min(n, _))), b, so),
          Nil))
      case _ => None
    }
  }

  /** Inner-join input swap (exploration) — `dolomite/src/rules/join.rs:27-69`.
    * The reference swaps inputs and keeps the condition; with equi conditions
    * the swapped condition is mirrored too.
    */
  object CommutateJoinRule extends OptRule {
    val id = RuleId.CommutateJoin
    override val isExploration = true
    val pattern = Pattern.node(isInnerJoin, Pattern.any, Pattern.any)
    def apply(expr: Node, ctx: RuleContext): Option[OptExpression] = expr match {
      case Node(LogicalJoin(JoinType.Inner, EqCond(l, r)), Seq(a, b)) =>
        Some(Node(LogicalJoin(JoinType.Inner, EqCond(r, l)), Seq(b, a)))
      case _ => None
    }
  }

  /** Inner-join left rotation (exploration):
    * `(A ⋈c1 B) ⋈c2 C → A ⋈c1 (B ⋈c2 C)`, legal exactly when `c2`
    * references B and C only. Beyond the reference (its only exploration
    * rule is commutation, `rules/join.rs:27-69`) — together with
    * [[CommutateJoinRule]] this is the classic cascades join-order
    * enumeration, and it is what the group-property machinery exists FOR:
    * the rule must know which columns each UNEXPANDED memo group provides,
    * so it consults [[RuleContext.colsOf]] and abstains (returns None)
    * whenever provenance is unknown (no catalog configured) or a condition
    * column does not resolve to exactly one input — the same
    * resolve-or-abstain contract as [[PushFilterThroughJoinRule]].
    *
    * The produced conditions are re-oriented left-to-right (EqCond.left
    * from the left input), preserving the IR's orientation contract that
    * distribution pushdown and build-side costing rely on. One rotation
    * direction suffices for the memo search: commutation composes with it
    * to reach the remaining orders. In principle the per-expression
    * applied-rule mask (bindings that appear after a rule already fired on
    * an expression are not revisited, matching the reference's task
    * engine) could make this composition incomplete — but measured
    * against an exhaustive subset-DP optimum over random 4/5/6-table
    * chains the masked search reached the optimum on every one
    * (CascadesPropertySpec's completeness pin), so the caveat stands
    * unobserved at those sizes.
    */
  object JoinAssociativityRule extends OptRule {
    val id = RuleId.AssociateJoin
    override val isExploration = true
    val pattern = Pattern.node(isInnerJoin,
      Pattern.node(isInnerJoin, Pattern.any, Pattern.any), Pattern.any)
    def apply(expr: Node, ctx: RuleContext): Option[OptExpression] = expr match {
      case Node(LogicalJoin(JoinType.Inner, EqCond(l2, r2)),
          Seq(Node(LogicalJoin(JoinType.Inner, EqCond(l1, r1)),
            Seq(a, b)), c)) =>
        for {
          ac <- ctx.colsOf(a)
          bc <- ctx.colsOf(b)
          cc <- ctx.colsOf(c)
          // exclusive resolution: a column counts for an input only if NO
          // other input also provides it (schema-less IR — a shared name
          // would make the rewire ambiguous)
          onlyB = (x: Col) => bc(x.name) && !ac(x.name) && !cc(x.name)
          onlyC = (x: Col) => cc(x.name) && !ac(x.name) && !bc(x.name)
          inner <-
            if (onlyB(l2) && onlyC(r2)) Some(EqCond(l2, r2))
            else if (onlyB(r2) && onlyC(l2)) Some(EqCond(r2, l2))
            else None // c2 touches A, is unresolvable, or is ambiguous
          onlyA = (x: Col) => ac(x.name) && !bc(x.name) && !cc(x.name)
          outer <-
            if (onlyA(l1) && onlyB(r1)) Some(EqCond(l1, r1))
            else if (onlyA(r1) && onlyB(l1)) Some(EqCond(r1, l1))
            else None // c1 must bridge A to the new right subtree via B
        } yield Node(LogicalJoin(JoinType.Inner, outer),
          Seq(a, Node(LogicalJoin(JoinType.Inner, inner), Seq(b, c))))
      case _ => None
    }
  }

  /** Logical join → [[PhysicalJoin]] with one [[JoinStrategy]]
    * (implementation) — `dolomite/src/rules/join.rs:71-114`. Each strategy
    * is its own rule with its own id, so a rule set chooses which
    * strategies the search may use; all of them land in the join's memo
    * group and the cost search picks per query. ANY join type implements
    * (the reference matches `LogicalJoin(_)`, `rules/join.rs:80-82`) —
    * only COMMUTATION is inner-only; leaving Left/Full joins with no
    * physical member was a silent optimize-to-None found by
    * CascadesPropertySpec. The one exception is broadcast, which refuses
    * Full joins: a Full join must emit each unmatched build row exactly
    * once, and every replicated copy would emit it.
    */
  final class Join2PhysicalJoinRule(val id: RuleId, strategy: JoinStrategy)
      extends OptRule {
    override val isImplementation = true
    val pattern = Pattern.node(isJoin, Pattern.any, Pattern.any)
    def apply(expr: Node, ctx: RuleContext): Option[OptExpression] = expr match {
      case Node(LogicalJoin(jt, cond), inputs)
          if strategy != JoinStrategy.Broadcast || jt != JoinType.Full =>
        Some(Node(PhysicalJoin(strategy, jt, cond), inputs))
      case _ => None
    }
  }

  /** The reference's one physical join: shuffled hash. */
  val Join2HashJoinRule: OptRule =
    new Join2PhysicalJoinRule(RuleId.Join2HashJoin, JoinStrategy.ShuffledHash)
  /** Broadcast, beyond the reference: under [[ClusterCostModel]] a
    * small-build join goes broadcast and a big-big join keeps the
    * shuffled variant — Spark's autoBroadcastJoinThreshold decision, made
    * by search instead of a size cutoff.
    */
  val Join2BroadcastJoinRule: OptRule =
    new Join2PhysicalJoinRule(RuleId.Join2BroadcastJoin, JoinStrategy.Broadcast)
  /** Sort-merge: whether its two enforced child sorts beat one hash
    * build — or cost NOTHING because a bucketed+sorted scan layout or an
    * interesting order already provides them — is the memo winner
    * comparison's call.
    */
  val Join2SortMergeJoinRule: OptRule =
    new Join2PhysicalJoinRule(RuleId.Join2SortMergeJoin, JoinStrategy.SortMerge)

  /** Logical scan → physical table scan (implementation) —
    * `dolomite/src/rules/table_scan.rs:20-57`.
    */
  object Scan2TableScanRule extends OptRule {
    val id = RuleId.Scan2TableScan
    override val isImplementation = true
    val pattern = Pattern.node(isScan)
    def apply(expr: Node, ctx: RuleContext): Option[OptExpression] = expr match {
      case Node(LogicalScan(t, l, b, so), Nil) =>
        Some(Node(PhysicalTableScan(t, l, b, so), Nil))
      case _ => None
    }
  }

  /** Beyond the reference: it declares PhysicalFilter/PhysicalProjection but
    * never plans them (`derive_properties` is `todo!()`, `filter.rs:29-36`,
    * `projection.rs:32-39`, and no implementation rule exists in
    * `rules/mod.rs:124-136`). These two complete the implementation-rule set
    * so every limit-free logical plan is physically plannable.
    */
  object Project2PhysicalProjectRule extends OptRule {
    val id = RuleId.Project2PhysicalProject
    override val isImplementation = true
    val pattern = Pattern.node(isProject, Pattern.any)
    def apply(expr: Node, ctx: RuleContext): Option[OptExpression] = expr match {
      case Node(LogicalProject(e), inputs) =>
        Some(Node(PhysicalProject(e), inputs))
      case _ => None
    }
  }

  object Filter2PhysicalFilterRule extends OptRule {
    val id = RuleId.Filter2PhysicalFilter
    override val isImplementation = true
    val pattern = Pattern.node(_.isInstanceOf[LogicalFilter], Pattern.any)
    def apply(expr: Node, ctx: RuleContext): Option[OptExpression] = expr match {
      case Node(LogicalFilter(p, cols), inputs) =>
        Some(Node(PhysicalFilter(p, cols), inputs))
      case _ => None
    }
  }

  /** The table-set walk of the two through-join rules: the columns, by
    * `catalog`, of the base tables a bound rule input reads. None when
    * any leaf is an unexpanded memo group (cascades) — the rule then
    * abstains.
    */
  private def tableCols(catalog: Map[String, Seq[String]],
      e: OptExpression): Option[Set[String]] = {
    def scanned(op: Operator): Set[String] = op match {
      case LogicalScan(t, _, _, _)       => Set(t)
      case PhysicalTableScan(t, _, _, _) => Set(t)
      case _                             => Set.empty
    }
    def ofPlan(p: PlanNode): Set[String] =
      scanned(p.op) ++ p.inputs.flatMap(ofPlan)
    def tables(e: OptExpression): Option[Set[String]] = e match {
      case PlanHandle(p)  => Some(ofPlan(p))
      case GroupHandle(_) => None
      case Node(op, inputs) =>
        inputs.foldLeft(Option(scanned(op))) { (acc, in) =>
          for (a <- acc; t <- tables(in)) yield a ++ t
        }
    }
    tables(e).map(_.flatMap(t => catalog.getOrElse(t, Nil)))
  }

  /** Beyond the reference: predicate pushdown through joins, gated on a
    * LOGICAL PROPERTY (which base tables — hence which columns — each join
    * input provides). The reference declares logical-property derivation
    * and leaves it `todo!()` (`memo.rs:781-783` `derive_statistics`; no
    * pushdown rule exists in `rules/mod.rs:124-136`); this is the
    * completed capability in its smallest honest form: table-sets walk the
    * bound subtree, a catalog maps tables to columns, and the filter
    * descends only when its columns resolve to EXACTLY one side.
    *
    * Semantics guard (textbook outer-join rules): the IR's equality
    * predicates are null-rejecting, so pushing into the LEFT input of a
    * LEFT join or either input of an INNER join is equivalence-preserving;
    * pushing into a LEFT join's right input or any FULL-join input would
    * drop null-extended rows and is refused.
    *
    * HEP-only by construction: the heuristic binder exposes subtrees as
    * [[OptExpression.PlanHandle]]s, so the table-set walk can see the
    * scans. The cascades binder yields opaque [[OptExpression.GroupHandle]]s
    * — there the walk returns None and the rule abstains (the dual of
    * exploration rules, which only make sense WITH a memo).
    */
  final case class PushFilterThroughJoinRule(catalog: Map[String, Seq[String]])
      extends OptRule {
    val id = RuleId.PushFilterThroughJoin
    val pattern = Pattern.node(_.isInstanceOf[LogicalFilter],
      Pattern.node(isJoin, Pattern.any, Pattern.any))

    /** Columns a pushable predicate references: both sides of an
      * equality, the column of a column-vs-literal comparison (the r8
      * literal-predicate surface — also null-rejecting, so the same
      * outer-join legality table applies; string literals likewise), and
      * a disjunction iff EVERY disjunct is pushable (the union of their
      * columns must then resolve to one side — a disjunct referencing
      * the other side would change meaning after pushdown). Anything
      * else: not pushable.
      */
    private def predCols(pred: Expr): Option[Set[String]] = pred match {
      case EqCond(l, r)                  => Some(Set(l.name, r.name))
      case CmpCond(_, Col(c), Lit(_))    => Some(Set(c))
      case CmpCond(_, Col(c), StrLit(_)) => Some(Set(c))
      case RangeCond(c, _, _)            => Some(Set(c.name))
      case OrCond(ds) =>
        ds.foldLeft(Option(Set.empty[String])) { (acc, d) =>
          for (a <- acc; c <- predCols(d)) yield a ++ c
        }
      case _                             => None
    }

    def apply(expr: Node, ctx: RuleContext): Option[OptExpression] = expr match {
      case Node(f @ LogicalFilter(pred, Nil),
          Seq(Node(j @ LogicalJoin(jt, _), Seq(a, b)))) =>
        predCols(pred) match {
          case Some(need) =>
            val leftHas = tableCols(catalog, a).exists(need.subsetOf)
            val rightHas = tableCols(catalog, b).exists(need.subsetOf)
            val pushLeft = leftHas && !rightHas && jt != JoinType.Full
            val pushRight = rightHas && !leftHas && jt == JoinType.Inner
            if (pushLeft) Some(Node(j, Seq(Node(f, Seq(a)), b)))
            else if (pushRight) Some(Node(j, Seq(a, Node(f, Seq(b)))))
            else None // ambiguous, opaque, or outer-join-unsafe: abstain
          case None => None
        }
      case _ => None
    }
  }

  /** Beyond the reference: COLUMN PRUNING through joins — the Project
    * dual of [[PushFilterThroughJoinRule]], and the rewrite that makes a
    * wide scan narrow before the shuffle (at 100 TB the join exchanges
    * only the columns the query's output and the join key actually
    * need). A `Project` over a join inserts a per-input `Project`
    * keeping exactly the columns that side must deliver (its share of
    * the output columns plus its join key), gated on the same
    * table-set/catalog provenance walk: every needed column must resolve
    * to EXACTLY one side or the rule abstains. The OUTER projection is
    * retained (it owns output order and width), so the rewrite reaches a
    * fixpoint by detecting already-pruned inputs and abstaining — and it
    * recurses naturally: the inserted per-side Project over a nested
    * join matches the pattern again, pruning the whole join tree. Safe
    * on every join type (projection drops no rows). HEP-only like the
    * filter rule: cascades bindings expose opaque group handles, where
    * the provenance walk returns None.
    */
  final case class PushProjectionThroughJoinRule(
      catalog: Map[String, Seq[String]]) extends OptRule {
    val id = RuleId.PushProjectionThroughJoin
    val pattern = Pattern.node(_.isInstanceOf[LogicalProject],
      Pattern.node(isJoin, Pattern.any, Pattern.any))

    /** Wrap `in` in a Project(keep) unless it already is one. */
    private def wrap(in: OptExpression,
        keep: Seq[Col]): (OptExpression, Boolean) = in match {
      case Node(LogicalProject(es), _) if es == keep => (in, false)
      case PlanHandle(PlanNode(LogicalProject(es), _)) if es == keep =>
        (in, false)
      case _ => (Node(LogicalProject(keep), Seq(in)), true)
    }

    def apply(expr: Node, ctx: RuleContext): Option[OptExpression] =
      expr match {
        case Node(p @ LogicalProject(exprs),
            Seq(Node(j @ LogicalJoin(_, EqCond(jl, jr)), Seq(a, b)))) =>
          val outCols = exprs.collect { case c: Col => c }
          if (outCols.length != exprs.length) None // non-column exprs
          else {
            val need = (outCols ++ Seq(jl, jr)).distinct
            (for {
              ca <- tableCols(catalog, a)
              cb <- tableCols(catalog, b)
            } yield {
              if (!need.forall(c => ca(c.name) != cb(c.name))) None
              else {
                val (wa, chA) = wrap(a, need.filter(c => ca(c.name)))
                val (wb, chB) = wrap(b, need.filter(c => cb(c.name)))
                if (!chA && !chB) None // already pruned: fixpoint
                else Some(Node(p, Seq(Node(j, Seq(wa, wb)))))
              }
            }).flatten
          }
        case _ => None
      }
  }

  /** One-phase implementation: aggregate over co-partitioned input
    * (the Complete mode's [[PhysicalPropertySet.requiredChildDistribution]]
    * makes the search exchange the RAW input — correct, and the baseline
    * the split rule must beat on cost).
    */
  object Agg2HashAggRule extends OptRule {
    val id = RuleId.Agg2HashAgg
    override val isImplementation = true
    val pattern = Pattern.node(isAgg, Pattern.any)
    def apply(expr: Node, ctx: RuleContext): Option[OptExpression] =
      expr match {
        case Node(LogicalAggregate(g, aggs), inputs) =>
          Some(Node(PhysicalHashAggregate(AggMode.Complete, g, aggs), inputs))
        case _ => None
      }
  }

  /** Two-phase split — THE distributed-aggregation optimization: a
    * Partial aggregate below (runs on raw placement, shrinks each
    * partition's rows before they move) and a Final above (its child
    * requirement pulls the exchange between the two, now moving partial
    * states instead of raw rows). Both implementations land in the same
    * memo group; the cost search decides — under [[CardinalityCostModel]]
    * the split wins whenever the partial reduction outpays the extra
    * aggregate pass, exactly Spark's partial-agg planning made explicit.
    *
    * ABSTAINS on `count_distinct`: per-partition distinct counts do not
    * merge (the same value seen on two partitions would be counted
    * twice), so the Final-over-Partial shape is semantically WRONG for
    * it — the distributed path for distinct is
    * [[RewriteDistinctAggRule]]'s dedup-first nesting, whose inner
    * DEDUP aggregate this rule may then legally split.
    */
  object SplitAggRule extends OptRule {
    val id = RuleId.SplitAgg
    override val isImplementation = true
    val pattern = Pattern.node(isAgg, Pattern.any)
    def apply(expr: Node, ctx: RuleContext): Option[OptExpression] =
      expr match {
        case Node(LogicalAggregate(g, aggs), inputs)
            if !aggs.exists(_.fn == "count_distinct") =>
          Some(Node(PhysicalHashAggregate(AggMode.Final, g, aggs),
            Seq(Node(PhysicalHashAggregate(AggMode.Partial, g, aggs),
              inputs))))
        case _ => None
      }
  }

  /** The textbook DISTINCT-aggregate rewrite (Spark's
    * RewriteDistinctAggregates / the partial-distinct planning in its
    * AggUtils, as an explicit exploration rule):
    * `Agg(g, [count_distinct(x)])` ≡
    * `Agg(g, [count AS cntd_x])  ∘  Agg(g ++ [x], [count])` — the inner
    * aggregate IS the dedup (one row per (g, x)), the outer counts the
    * surviving rows per g. Both alternatives land in the same memo
    * group and COST decides: the direct Complete implementation must
    * exchange RAW rows on g, while the nested form's inner aggregate
    * splits partial/final (dedup shrinks per partition BEFORE its
    * exchange) and the outer's exchange then moves already-deduped
    * (g, x) rows — strictly fewer bytes at any real scale, which is
    * why every engine plans distinct this way. Single-distinct-only:
    * mixed plain+distinct calls need an expand (out of scope; abstain),
    * and a second distinct column would need one dedup branch per
    * column.
    *
    * NULL handling (ADVICE r9): SQL `COUNT(DISTINCT x)` ignores NULLs,
    * but the inner dedup aggregate emits a row for the `(g, NULL)`
    * group — so the outer aggregate is `count_nonnull(x)` (SQL
    * `COUNT(x)`), not `count(*)`: the NULL-x dedup row is skipped AND a
    * group whose x values are ALL NULL still surfaces as `(g, 0)`,
    * which a NULL-filter below the inner aggregate would lose. Both
    * memo alternatives (this and the direct `count_distinct`) now agree
    * on NULL-bearing columns.
    */
  object RewriteDistinctAggRule extends OptRule {
    val id = RuleId.RewriteDistinctAgg
    override val isExploration = true
    val pattern = Pattern.node(isAgg, Pattern.any)
    def apply(expr: Node, ctx: RuleContext): Option[OptExpression] =
      expr match {
        case Node(LogicalAggregate(g, Seq(a @ AggCall("count_distinct",
            Some(x), _))), inputs) =>
          Some(Node(
            LogicalAggregate(g, Seq(AggCall("count_nonnull", Some(x),
              as = Some(a.outName)))),
            Seq(Node(LogicalAggregate(g :+ x, Seq(AggCall("count"))),
              inputs))))
        case _ => None
      }
  }

  /** Top-k implementation — the only way a [[LogicalTopK]] becomes
    * physical (no rewrite touches it: unlike a bare limit, the surviving
    * rows are order-dependent, so absorption into the scan would be
    * wrong). Mirrors Spark's SpecialLimits strategy planning
    * `TakeOrderedAndProject` from `Limit(Sort(...))`.
    */
  object TopK2PhysicalTopKRule extends OptRule {
    val id = RuleId.TopK2PhysicalTopK
    override val isImplementation = true
    val pattern = Pattern.node(_.isInstanceOf[LogicalTopK], Pattern.any)
    def apply(expr: Node, ctx: RuleContext): Option[OptExpression] =
      expr match {
        case Node(LogicalTopK(n, cols), inputs) =>
          Some(Node(PhysicalTopK(n, cols), inputs))
        case _ => None
      }
  }

  val rewriteRules: Seq[OptRule] =
    Seq(RemoveLimitRule, PushLimitOverProjectionRule, PushLimitToTableScanRule)
  // RewriteDistinctAggRule abstains on everything but a single
  // count_distinct, so its presence in the default set never perturbs a
  // distinct-free search
  val explorationRules: Seq[OptRule] =
    Seq(CommutateJoinRule, RewriteDistinctAggRule)
  val implementationRules: Seq[OptRule] =
    Seq(Join2HashJoinRule, Scan2TableScanRule,
      Project2PhysicalProjectRule, Filter2PhysicalFilterRule,
      Agg2HashAggRule, SplitAggRule, TopK2PhysicalTopKRule)
  val all: Seq[OptRule] = rewriteRules ++ explorationRules ++ implementationRules
  /** `all` + associativity: join-order enumeration. Not in `all`, which
    * stays reference-faithful (commutation only) for the goldens'
    * configuration (`graft.TestRules.golden`). Needs a column catalog on
    * the optimizer, without which the rule abstains on every binding. With
    * [[Join2BroadcastJoinRule]] added, this is the search every executed
    * query runs (`CascadesExecOps.defaultRules`). The join-strategy sets
    * without associativity, which only the specs search with, live in
    * the test tree (`graft.TestRules`).
    */
  val joinEnumerationRules: Seq[OptRule] = all :+ JoinAssociativityRule
}
