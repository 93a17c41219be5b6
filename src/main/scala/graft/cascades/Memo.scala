package graft.cascades

import scala.collection.mutable

/** Cascades memo: equivalence groups of plan expressions with dedup and
  * winner bookkeeping — mirrors `dolomite/src/cascades/memo.rs`:
  *
  *  - `GroupExpr` keyed by (operator, input group ids) — dedup via
  *    `GroupExprKey` hash (`memo.rs:127-157`);
  *  - `Group` holding logical + physical members, an explored flag, rule
  *    bitmasks per expression, and per-`PhysicalPropertySet` winners
  *    (`memo.rs:499-710`);
  *  - no duplicate-group merge: the reference ships one with the call
  *    site commented out (`cascades/task.rs:148-149`, `memo.rs:160-279`);
  *    here a rule result that already lives in another group is aliased
  *    into its target group ([[Memo.insertExpr]]).
  */
final case class GroupExpr(op: Operator, inputs: Seq[Int])

/** Best expression found for a required property set; `childProps` is the
  * property each input group must be extracted under (an enforcer's child
  * is extracted under the RELAXED requirement, everything else under the
  * default).
  */
final case class Winner(
    expr: GroupExpr, cost: Double,
    childProps: Seq[PhysicalPropertySet] = Nil) {
  def childProp(i: Int): PhysicalPropertySet =
    if (i < childProps.length) childProps(i) else PhysicalPropertySet.default
}

final class Group(val id: Int) {
  val logicalExprs = mutable.LinkedHashSet[GroupExpr]()
  val physicalExprs = mutable.LinkedHashSet[GroupExpr]()
  val appliedRules = mutable.Map[GroupExpr, mutable.Set[RuleId]]()
  var explored = false
  val winners = mutable.Map[PhysicalPropertySet, Winner]()
  /** Derived output cardinality (`stat.rs:5-21`, completed): stats are a
    * property of the equivalence group, derived from its first member.
    */
  var card: Long = 1L
  /** Derived bytes-per-row ([[StatsModel.deriveWidth]]), the byte axis of
    * the group's statistics — rows × width is what a byte-weighted cost
    * model ([[ByteWeightedClusterCostModel]]) prices.
    */
  var width: Long = 16L
  /** Derived provided-columns logical property ([[Provenance]]), derived
    * like `card` at group birth; empty when the memo has no column catalog.
    */
  var cols: Set[String] = Set.empty

  def add(e: GroupExpr): Boolean = {
    val set = if (e.op.isLogical) logicalExprs else physicalExprs
    val isNew = set.add(e)
    if (isNew) appliedRules.getOrElseUpdate(e, mutable.Set.empty)
    isNew
  }

  def winner(prop: PhysicalPropertySet): Option[Winner] = winners.get(prop)

  /** Keep the cheaper plan per required property (`Group::update_winner`). */
  def updateWinner(prop: PhysicalPropertySet, w: Winner): Boolean =
    winners.get(prop) match {
      case Some(existing) if existing.cost <= w.cost => false
      case _ => winners(prop) = w; true
    }
}

final class Memo(stats: StatsModel, val columns: Map[String, Seq[String]]) {
  val groups = mutable.ArrayBuffer[Group]()
  private val exprToGroup = mutable.Map[GroupExpr, Int]()
  var root: Int = -1

  def group(id: Int): Group = groups(id)

  private def newGroup(): Group = {
    val g = new Group(groups.length)
    groups += g
    g
  }

  /** Bottom-up seeding from a plan tree (`Memo::from(plan)`,
    * `memo.rs:331-366`): each node gets (or reuses) a group.
    */
  def insertPlan(plan: PlanNode): Int = {
    val inputGroups = plan.inputs.map(insertPlan)
    val expr = GroupExpr(plan.op, inputGroups)
    val gid = insertExpr(expr, None)._1
    root = gid
    gid
  }

  /** Insert an expression, deduping on (op, inputs). Returns (groupId,
    * isNewExpr). With `target` set (rule output), the expression joins that
    * equivalence group; if it already lives in a different group it is
    * aliased into the target group. The aliasing stands in for the group
    * merge the reference implemented but never wired in (`task.rs:148-149`):
    * without it, a rule result that dedups into its source group never
    * reaches the target group and the search cannot implement it (the
    * reference's cascades golden cases avoid the situation by only ever
    * optimizing join/scan plans).
    */
  def insertExpr(expr: GroupExpr, target: Option[Int]): (Int, Boolean) =
    exprToGroup.get(expr) match {
      case Some(existing) =>
        target match {
          case Some(t) if t != existing =>
            val isNew = group(t).add(expr)
            (t, isNew)
          case _ => (existing, false)
        }
      case None =>
        val created = target.isEmpty
        val g = target.map(group).getOrElse(newGroup())
        g.add(expr)
        exprToGroup(expr) = g.id
        // derive logical properties when the group is born (inputs exist
        // already — insertion is bottom-up); equivalent expressions share
        // them
        if (created) {
          g.card = stats.derive(expr.op, expr.inputs.map(group(_).card))
          g.width =
            stats.deriveWidth(expr.op, expr.inputs.map(group(_).width))
          g.cols = Provenance.derive(
            expr.op, expr.inputs.map(group(_).cols), columns)
        }
        (g.id, true)
    }

  /** Insert a rule-produced [[OptExpression]] into `targetGroup`; children
    * land in fresh/deduped groups. Returns the new (groupId, expr) pairs
    * actually added (for task scheduling).
    */
  def insertOptExpression(
      e: OptExpression, targetGroup: Int): Seq[(Int, GroupExpr)] = {
    val added = mutable.ArrayBuffer[(Int, GroupExpr)]()
    def insert(e: OptExpression, target: Option[Int]): Int = e match {
      case OptExpression.GroupHandle(g) => g
      case OptExpression.PlanHandle(p)  => insertPlan(p)
      case OptExpression.Node(op, inputs) =>
        val inputGroups = inputs.map(insert(_, None))
        val expr = GroupExpr(op, inputGroups)
        val (gid, isNew) = insertExpr(expr, target)
        if (isNew) added += ((gid, expr))
        gid
    }
    insert(e, Some(targetGroup))
    added.toSeq
  }

  /** Winner extraction (`memo.rs:66-82`, `Group::best_plan_of:669-710`);
    * each child is extracted under the property the winner required of it
    * (enforcers relax their own requirement on the child).
    */
  def bestPlan(gid: Int, prop: PhysicalPropertySet): Option[PlanNode] =
    group(gid).winner(prop).flatMap { w =>
      val childPlans = w.expr.inputs.zipWithIndex.map { case (in, i) =>
        bestPlan(in, w.childProp(i))
      }
      if (childPlans.forall(_.isDefined))
        Some(PlanNode(w.expr.op, childPlans.map(_.get)))
      else None
    }
}
