package graft

import graft.cascades.OptRule
import graft.cascades.Rules._

/** Rule sets that only the specs search with. */
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
}
