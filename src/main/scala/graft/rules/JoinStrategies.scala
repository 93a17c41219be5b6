package graft.rules

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec

/** Implementation rule: logical equi inner join → shuffled hash join.
  *
  * Mirrors Join2HashJoinRule (`dolomite/src/rules/join.rs:71-114`): the
  * reference converts any logical equi join into its one physical join —
  * `PhysicalHashJoin`. Injected via `injectPlannerStrategy`, this strategy
  * runs *before* Spark's `JoinSelection`, so when it matches it decides the
  * physical join — observable in `executedPlan` (golden-tested).
  *
  * Build-side choice subsumes CommutateJoinRule (`rules/join.rs:27-69`): the
  * reference explores both input orders and costs them; Catalyst represents
  * the same choice as BuildLeft/BuildRight, picked here by size statistics
  * (the reference's constant-cost model can't distinguish — we use
  * `plan.stats.sizeInBytes`, i.e. the real version of its stubbed stats).
  *
  * Scale note: hash join shuffles both sides on the key — correct for
  * large⋈large. Joins below Spark's broadcast threshold are deliberately NOT
  * matched, leaving broadcast-hash selection to Catalyst: at 100 TB,
  * forcing a shuffle where a broadcast suffices wastes a full exchange of
  * the big side. Joins carrying a strategy hint (`broadcast`, `MERGE`,
  * `SHUFFLE_HASH`, … — the lowered cascades winners pin theirs this way)
  * are not matched either: `JoinSelection` honours the hint.
  */
object Join2HashJoinStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ExtractEquiJoinKeys(
        Inner, leftKeys, rightKeys, otherCond, _, left, right, hint)
        if !(hint.leftHint ++ hint.rightHint).exists(_.strategy.isDefined) =>
      val broadcastThreshold =
        org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      // sizeInBytes is BigInt and default (non-CBO) estimates routinely
      // exceed Long.MaxValue — compare as BigInt, never .toLong (wraps)
      val smallerSide = left.stats.sizeInBytes.min(right.stats.sizeInBytes)
      if (broadcastThreshold >= 0 && smallerSide <= BigInt(broadcastThreshold)) {
        // leave broadcast-able joins to Catalyst's JoinSelection
        Nil
      } else {
        val buildSide =
          if (right.stats.sizeInBytes <= left.stats.sizeInBytes) BuildRight
          else BuildLeft
        ShuffledHashJoinExec(
          leftKeys, rightKeys, Inner, buildSide, otherCond,
          planLater(left), planLater(right)) :: Nil
      }
    case _ => Nil
  }
}
