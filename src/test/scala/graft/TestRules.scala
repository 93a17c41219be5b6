package graft

import graft.cascades._
import graft.cascades.Rules._

/** Rule sets, a cost model, an optimizer configuration and a join
  * matcher that only the specs use.
  */
object TestRules {
  /** `all` + the broadcast join implementation: join-STRATEGY enumeration.
    * Not in `all`, which stays reference-faithful (one physical join), and
    * only meaningful with a cost model that prices distribution
    * ([[graft.cascades.ClusterCostModel]]); under the constant model both
    * implementations tie and the first insertion wins. The base of
    * [[fullJoinStrategyRules]]; the executed queries search with
    * `joinEnumerationRules` plus `Join2BroadcastJoinRule`.
    */
  val joinStrategyRules: Seq[OptRule] = all :+ Join2BroadcastJoinRule
  /** Join-strategy enumeration incl. the sort-merge implementation — the
    * interesting-orders search space (clustered scan layouts and ORDER BY
    * requirements can make the merge join free of enforcers). Not in `all`
    * for the same reasons as [[joinStrategyRules]], and only meaningful
    * with a stats-bearing cost model.
    */
  val fullJoinStrategyRules: Seq[OptRule] =
    joinStrategyRules :+ Join2SortMergeJoinRule

  /** The reference's `SimpleCostModel` (`cost/trivial.rs:9-30`): every
    * operator costs 1, so a plan's cost is its operator count.
    */
  object ConstantCostModel extends CostModel {
    def operatorCost(op: PhysicalOp, inputRows: Seq[Long]): Double = 1.0
  }

  /** Is `op` a physical join with `strategy`? */
  def isJoin(strategy: JoinStrategy)(op: Operator): Boolean = op match {
    case j: PhysicalJoin => j.strategy == strategy
    case _               => false
  }

  /** The goldens' optimizer: the reference-faithful `all`, the constant
    * model, no statistics and no column catalog, unless a spec says
    * otherwise.
    */
  def golden(rules: Seq[OptRule] = all,
      costModel: CostModel = ConstantCostModel, stats: StatsModel = NoStats,
      columns: Map[String, Seq[String]] = Map.empty): CascadesOptimizer =
    new CascadesOptimizer(rules, costModel, stats, columns)
}
