package graft.rules

import scala.util.Try

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Expression, IsNotNull}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, HintInfo, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.cascades._
import graft.ops.CascadesExecOps

/** The MiniCascades search inside Catalyst's optimizer — graft's form of
  * the reference's `DFQueryPlanner` (`datafusion-dolomite-integration/
  * src/planner.rs:22-56`: the host plan goes to the cascades search and
  * the winner goes back to the host). The winner reaches Spark the one
  * way every lowered winner does: its join operator becomes the
  * join-strategy hint [[Execution.joinStrategy]] maps it to, set on the
  * build side, and Spark's `JoinSelection` plans the hinted join.
  *
  * Scope (anything else is left as it is): an inner single-key equi join
  * without a strategy hint, whose two sides are plain parquet scans of
  * [[CascadesExecOps.schemaCat]] tables in one directory, seen through
  * projections and the optimizer's inferred `IsNotNull` filters. The
  * footer statistics come from that directory. A hinted join, the user's
  * or this rule's own, is never changed, so the rule is idempotent in
  * its fixed-point batch.
  *
  * A session opts in with
  * `spark.experimental.extraOptimizations = Seq(CascadesJoinHints)`.
  * With Catalyst's own broadcast disabled (`autoBroadcastJoinThreshold`
  * -1), Spark alone sort-merges customer ⋈ nation; the footer statistics
  * price the 25-row build under the crossover, the winner broadcasts,
  * and only this rule puts that BroadcastHashJoin in the executed plan
  * (CascadesExecSpec pins both directions).
  */
object CascadesJoinHints extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j: Join if !(j.hint.leftHint ++ j.hint.rightHint)
        .exists(_.strategy.isDefined) => withWinnerHint(j).getOrElse(j)
  }

  /** `j` with the winner's strategy hint on its build side, or None. */
  private def withWinnerHint(j: Join): Option[Join] = j match {
    case ExtractEquiJoinKeys(Inner, Seq(lk: AttributeReference),
        Seq(rk: AttributeReference), None, _, left, right, _) =>
      for {
        (dir, lt) <- scanTable(left)
        (rightDir, rt) <- scanTable(right) if rightDir == dir
        w <- Try(winner(dir, lt, rt, lk.name, rk.name)).toOption.flatten
        PhysicalJoin(strategy, _, _) <- Some(w.op)
        // the IR build side is the join's right input; if the search
        // commuted the join, the Catalyst orientation stays and the hint
        // moves to the left side instead
        build <- w.inputs.lift(1).flatMap(scanOf)
      } yield {
        val info =
          Some(HintInfo(strategy = Some(Execution.joinStrategy(strategy))))
        j.copy(hint =
          if (build == rt) JoinHint(None, info) else JoinHint(info, None))
      }
    case _ => None
  }

  /** The one default search over `lt ⋈ rt`, with the footer statistics
    * of the two tables at `dir`. `cascades_exec_strategy` reports this
    * winner.
    */
  private[graft] def winner(dir: String, lt: String, rt: String,
      lkName: String, rkName: String): Option[PlanNode] =
    CascadesExecOps.search(
      PlanNode(LogicalJoin(JoinType.Inner, EqCond(Col(lkName), Col(rkName))),
        Seq(PlanNode(LogicalScan(lt)), PlanNode(LogicalScan(rt)))),
      PhysicalPropertySet.default, ParquetStats.fromDir(dir, Seq(lt, rt)))

  private def scanOf(p: PlanNode): Option[String] = p.op match {
    case PhysicalTableScan(t, _, _, _) => Some(t)
    case _ => p.inputs.flatMap(scanOf).headOption
  }

  /** The directory and table a side reads, if it is a plain parquet scan
    * (through any projection stack) of a catalog table: the parent and
    * the basename minus `.parquet` of the relation's root path — the
    * TESTDATA layout the footer-stats catalog keys by.
    */
  private def scanTable(p: LogicalPlan): Option[(String, String)] = p match {
    case Project(_, child) => scanTable(child)
    // the optimizer's inferred null-filter on join keys (null keys never
    // match an inner equi join, so it neither changes results nor the
    // search) — anything beyond IsNotNull conjuncts abstains
    case Filter(cond, child) if isNotNullOnly(cond) => scanTable(child)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.headOption
          .filter(_.getName.endsWith(".parquet"))
          .map(root => (root.getParent.toString,
            root.getName.stripSuffix(".parquet")))
          .filter { case (_, t) => CascadesExecOps.schemaCat.contains(t) }
      case _ => None
    }
    case _ => None
  }

  private def isNotNullOnly(e: Expression): Boolean = e match {
    case And(a, b)                         => isNotNullOnly(a) && isNotNullOnly(b)
    case IsNotNull(_: AttributeReference)  => true
    case _                                 => false
  }
}
