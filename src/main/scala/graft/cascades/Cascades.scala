package graft.cascades

import scala.collection.mutable

/** Cascades optimizer: top-down, cost-guided plan-space search over the memo
  * — mirrors `dolomite/src/cascades/{optimizer,task,binding}.rs` (Columbia /
  * Orca lineage, `cascades/mod.rs:43-54`):
  *
  *  - single-threaded FILO task stack (`task.rs:58-80`);
  *  - task types OptimizeGroup / OptimizeExpression / ExploreGroup /
  *    ApplyRule / OptimizeInputs (`task.rs:22-618`);
  *  - rule bindings via cartesian products across group members
  *    (`binding.rs:59-123`);
  *  - per-expression applied-rule bitmask, promise-ordered rule application
  *    (`memo.rs:760-770`, `task.rs:174`);
  *  - branch-and-bound upper-bound pruning during input optimization
  *    (`task.rs:315,418-421,464-466`);
  *
  * and goes one step beyond the reference in two places it stubbed:
  *
  *  - ENFORCERS: the reference's `append_enforcers` returns an empty vec
  *    (`properties/physical.rs:16-24`, consumed at `task.rs:431-462`);
  *    here an [[EnforceOrder]] task inserts a [[PhysicalSort]] above the
  *    group's relaxed winner when a required [[OrderSpec]] is not
  *    delivered by any member;
  *  - STATISTICS: `stat.rs:5-21` declares row_count/ndv but never computes
  *    them; here the memo derives per-group cardinality bottom-up
  *    ([[StatsModel]]) and [[CardinalityCostModel]] prices build-side
  *    choice — making `CommutateJoinRule` + cost pick the smaller build
  *    side, the decision the reference's constant model provably cannot
  *    make (its golden at `cascades/optimizer.rs:97-137` is side-agnostic).
  *
  * Like the reference, it does not merge duplicate groups (`task.rs:148-149`
  * leaves the call commented out); [[Memo.insertExpr]] aliases a rule
  * result into its target group instead.
  */
final class CascadesOptimizer(
    rules: Seq[OptRule],
    costModel: CostModel,
    stats: StatsModel,
    /** Table → columns catalog for per-group provided-columns derivation
      * ([[Provenance]]); empty = no provenance, column-gated rules (join
      * associativity) abstain everywhere.
      */
    columns: Map[String, Seq[String]]) {

  private sealed trait Task
  private final case class OptimizeGroup(
      g: Int, required: PhysicalPropertySet, upperBound: Double) extends Task
  private final case class OptimizeExpression(
      g: Int, e: GroupExpr, required: PhysicalPropertySet, upperBound: Double)
      extends Task
  private final case class ExploreGroup(
      g: Int, required: PhysicalPropertySet, upperBound: Double) extends Task
  private final case class ApplyRuleTask(
      g: Int, e: GroupExpr, rule: OptRule, required: PhysicalPropertySet,
      upperBound: Double) extends Task
  private final case class OptimizeInputs(
      g: Int, e: GroupExpr, required: PhysicalPropertySet, upperBound: Double,
      round: Int) extends Task
  /** Enforcer: once the RELAXED winner exists, top it with PhysicalSort. */
  private final case class EnforceOrder(
      g: Int, required: PhysicalPropertySet, upperBound: Double) extends Task
  /** Enforcer: top the distribution-relaxed winner with PhysicalExchange. */
  private final case class EnforceDistribution(
      g: Int, required: PhysicalPropertySet, upperBound: Double) extends Task

  private val MaxRounds = 10000

  def optimize(
      plan: PlanNode,
      required: PhysicalPropertySet = PhysicalPropertySet.default)
      : Option[PlanNode] =
    optimizeWithMemo(plan, required)._1

  /** Like [[optimize]] but also returns the memo (for goldens inspecting
    * group structure — aliased expressions, cardinalities, winners).
    */
  def optimizeWithMemo(
      plan: PlanNode,
      required: PhysicalPropertySet = PhysicalPropertySet.default)
      : (Option[PlanNode], Memo) = {
    // Random has no enforcer and no pushdown — only bare scans deliver it
    // (Ir.delivered). Accepting it as a root requirement would make
    // optimize() silently return None for every non-scan plan; reject
    // loudly instead (require Any, which Random-delivering plans satisfy).
    require(required.distribution != DistributionSpec.Random,
      "DistributionSpec.Random is not a requestable root property: no " +
        "enforcer produces it and only bare scans deliver it — require " +
        "DistributionSpec.Any instead")
    val memo = new Memo(stats, columns)
    val root = memo.insertPlan(plan)
    runSearch(memo, root, required)
    (memo.bestPlan(root, required), memo)
  }

  private def runSearch(
      memo: Memo, root: Int, required: PhysicalPropertySet): Unit = {
    val ctx = new MemoContext(memo)
    val stack = mutable.Stack[Task](
      OptimizeGroup(root, required, Double.PositiveInfinity))
    var steps = 0
    while (stack.nonEmpty && steps < 1000000) {
      steps += 1
      stack.pop() match {

        // `task.rs:536-585`, plus the enforcer branch the reference stubs:
        // a required order additionally schedules (relaxed search, then
        // EnforceOrder) — pushed first so it pops only after the relaxed
        // subtree of tasks completes
        case OptimizeGroup(g, req, bound) =>
          val grp = memo.group(g)
          if (grp.winner(req).isEmpty) {
            // relax one property at a time: order first, so the sort lands
            // ABOVE any exchange the distribution enforcer inserts (an
            // exchange destroys order — Sort(Exchange(x)) is the only
            // correct stacking, matching EnsureRequirements)
            if (req.order != OrderSpec.AnyOrder) {
              val relaxed = req.copy(order = OrderSpec.AnyOrder)
              stack.push(EnforceOrder(g, req, bound))
              stack.push(OptimizeGroup(g, relaxed, bound))
            } else if (req.distribution != DistributionSpec.Any &&
                req.distribution != DistributionSpec.Random) {
              val relaxed = req.copy(distribution = DistributionSpec.Any)
              stack.push(EnforceDistribution(g, req, bound))
              stack.push(OptimizeGroup(g, relaxed, bound))
            }
            grp.physicalExprs.foreach(e =>
              stack.push(OptimizeInputs(g, e, req, bound, 0)))
            grp.logicalExprs.foreach(e =>
              stack.push(OptimizeExpression(g, e, req, bound)))
          }

        // `task.rs:167-208`: ApplyRule per unapplied rule (promise order) +
        // ExploreGroup per input group
        case OptimizeExpression(g, e, req, bound) =>
          val applied = memo.group(g).appliedRules(e)
          // ascending push onto the FILO stack → highest promise pops first
          rules.sortBy(_.promise).foreach { r =>
            if (!applied.contains(r.id))
              stack.push(ApplyRuleTask(g, e, r, req, bound))
          }
          e.inputs.foreach(in => stack.push(ExploreGroup(in, req, bound)))

        // `task.rs:594-618`
        case ExploreGroup(g, req, bound) =>
          val grp = memo.group(g)
          if (!grp.explored) {
            grp.explored = true
            grp.logicalExprs.foreach(e =>
              stack.push(OptimizeExpression(g, e, req, bound)))
          }

        // `task.rs:90-154`: bind over the memo, apply, insert, schedule new
        case ApplyRuleTask(g, e, rule, req, bound) =>
          val applied = memo.group(g).appliedRules(e)
          if (!applied.contains(rule.id)) {
            applied += rule.id
            Binding.bindExpr(memo, e, rule.pattern).foreach { binding =>
              rule.apply(binding, ctx).foreach { result =>
                memo.insertOptExpression(result, g).foreach {
                  case (gid, newExpr) =>
                    if (newExpr.op.isLogical)
                      stack.push(OptimizeExpression(gid, newExpr, req, bound))
                    else
                      stack.push(OptimizeInputs(gid, newExpr, req, bound, 0))
                }
              }
            }
          }

        // `task.rs:211-512` (4-state FSM compressed to resumable rounds):
        // derive child required props (default, as the reference's join
        // does), optimize children within the remaining budget, accumulate,
        // update winner. An expression that does not DELIVER the required
        // order cannot win under it — the EnforceOrder task covers that
        // requirement instead.
        case OptimizeInputs(g, e, req, bound, round) =>
          val op = e.op.asInstanceOf[PhysicalOp]
          // a required distribution is satisfied by self-delivery (the
          // exchange enforcer), or by PUSHING the requirement down to a
          // child the operator provably preserves it through (sort always;
          // filter/project when the keys survive; join probe side on its
          // own join key) — the exchange then lands at the lowest legal
          // point instead of always topping the plan. Anything else cannot
          // win under req; the EnforceDistribution task covers it.
          val selfDist = PhysicalPropertySet.deliversDistribution(op, req)
          val pushChild =
            if (selfDist || req.distribution == DistributionSpec.Any) None
            else PhysicalPropertySet.distributionPushdownChild(
              op, req.distribution)
          // the ORDER axis mirrors the distribution axis: an operator
          // wins under a required order by delivering it itself, or by
          // pushing the requirement through to a child it provably
          // preserves order from (filter/project) — the sort then lands
          // below, where a clustered layout or a merge join may satisfy
          // it for free; the EnforceOrder task covers everything else
          val selfOrd = PhysicalPropertySet.deliversOrder(op, req)
          val pushOrd =
            if (selfOrd || req.order == OrderSpec.AnyOrder) None
            else PhysicalPropertySet.orderPushdownChild(op, req.order)
          if ((selfOrd || pushOrd.isDefined) &&
              (selfDist || pushChild.isDefined)) {
            val selfCost =
              costModel.operatorCost(op, e.inputs.map(memo.group(_).card),
                e.inputs.map(memo.group(_).width))
            if (selfCost <= bound) { // upper-bound pruning (`task.rs:418-421`)
              // correctness-required child properties: the full per-child
              // form (sort-merge join: Hashed+SortedBy per side) wins over
              // the single-axis aggregate form; both compose with parent-
              // requirement pushdown because operators with own child
              // requirements never appear in distributionPushdownChild
              val fullReq =
                PhysicalPropertySet.requiredChildProperties(op)
              val ownReq =
                PhysicalPropertySet.requiredChildDistribution(op)
              val childProps = e.inputs.indices.map { i =>
                val base = fullReq.map(_(i)).getOrElse {
                  if (pushChild.contains(i))
                    PhysicalPropertySet.default.copy(
                      distribution = req.distribution)
                  else if (i == 0 && ownReq.isDefined)
                    PhysicalPropertySet.default.copy(
                      distribution = ownReq.get)
                  else PhysicalPropertySet.default
                }
                if (pushOrd.contains(i)) base.copy(order = req.order)
                else base
              }
              val winners = e.inputs.zip(childProps).map { case (in, cp) =>
                memo.group(in).winner(cp)
              }
              if (winners.forall(_.isDefined)) {
                val total = selfCost + winners.flatten.map(_.cost).sum
                if (total <= bound) {
                  val w = Winner(e, total, childProps)
                  memo.group(g).updateWinner(req, w)
                  // a plan needing no child requirements is also a valid
                  // default-property plan — never a pushdown variant,
                  // whose cost includes an enforced child exchange/sort
                  if (req != PhysicalPropertySet.default &&
                      pushChild.isEmpty && pushOrd.isEmpty)
                    memo.group(g).updateWinner(PhysicalPropertySet.default, w)
                }
              } else if (round < MaxRounds) {
                stack.push(OptimizeInputs(g, e, req, bound, round + 1))
                val spent = selfCost + winners.flatten.map(_.cost).sum
                e.inputs.zip(childProps).zip(winners).foreach {
                  case ((in, cp), None) =>
                    stack.push(OptimizeGroup(in, cp, bound - spent))
                  case _ =>
                }
              }
            }
          }

        // the completed `append_enforcers` (`task.rs:431-462`): sort the
        // group's relaxed winner to establish the required order. The task
        // was pushed BELOW the relaxed OptimizeGroup subtree, so when it
        // pops the relaxed search has completed — a missing relaxed winner
        // means the group is unimplementable under the relaxed requirement
        // and no retry can change that (a FILO re-push would pop
        // immediately with identical memo state), so the task simply
        // finishes.
        case EnforceOrder(g, req, bound) =>
          val relaxed = req.copy(order = OrderSpec.AnyOrder)
          memo.group(g).winner(relaxed).foreach { w =>
            req.order match {
              case OrderSpec.SortedBy(keys) =>
                val sortOp = PhysicalSort(keys)
                val cost = costModel.operatorCost(sortOp,
                  Seq(memo.group(g).card), Seq(memo.group(g).width)) + w.cost
                if (cost <= bound)
                  memo.group(g).updateWinner(req,
                    Winner(GroupExpr(sortOp, Seq(g)), cost, Seq(relaxed)))
              case OrderSpec.AnyOrder => // nothing to enforce
            }
          }

        // the same enforcer shape for the reference's OTHER declared
        // property (`properties/distribution.rs:5-19`): exchange the
        // distribution-relaxed winner to establish Hashed(keys) (hash
        // repartition) or Singleton (gather, keys = Nil). Runs only when
        // pushdown through passthrough operators (OptimizeInputs) did not
        // already satisfy the requirement more cheaply — both candidates
        // meet in updateWinner and the cheaper one survives.
        case EnforceDistribution(g, req, bound) =>
          val relaxed = req.copy(distribution = DistributionSpec.Any)
          memo.group(g).winner(relaxed).foreach { w =>
            val keys = req.distribution match {
              case DistributionSpec.Hashed(ks)  => Some(ks)
              case DistributionSpec.Singleton   => Some(Nil)
              case _                            => None // Any/Random
            }
            keys.foreach { ks =>
              val exch = PhysicalExchange(ks)
              val cost = costModel.operatorCost(exch,
                Seq(memo.group(g).card), Seq(memo.group(g).width)) + w.cost
              if (cost <= bound)
                memo.group(g).updateWinner(req,
                  Winner(GroupExpr(exch, Seq(g)), cost, Seq(relaxed)))
            }
          }
      }
    }
  }
}

/** Cascades pattern binding: bind a pattern rooted at a group expression,
  * taking the cartesian product of member bindings across input groups —
  * mirrors `dolomite/src/cascades/binding.rs:59-123`
  * (`multi_cartesian_product`).
  */
object Binding {
  import OptExpression._

  def bindExpr(memo: Memo, e: GroupExpr, p: Pattern): Seq[Node] = {
    if (!p.matches(e.op)) Nil
    else if (p.children.isEmpty) {
      if (e.inputs.isEmpty) Seq(Node(e.op, Nil)) else Nil
    } else if (p.children.length != e.inputs.length) Nil
    else {
      val perChild: Seq[Seq[OptExpression]] =
        p.children.zip(e.inputs).map { case (cp, cg) =>
          bindGroup(memo, cg, cp)
        }
      cartesian(perChild).map(children => Node(e.op, children))
    }
  }

  def bindGroup(memo: Memo, g: Int, p: Pattern): Seq[OptExpression] =
    if (p eq Pattern.any) Seq(GroupHandle(g))
    else memo.group(g).logicalExprs.toSeq.flatMap(e => bindExpr(memo, e, p))

  private def cartesian[A](xs: Seq[Seq[A]]): Seq[Seq[A]] =
    xs.foldRight(Seq(Seq.empty[A])) { (options, acc) =>
      options.flatMap(o => acc.map(o +: _))
    }
}
