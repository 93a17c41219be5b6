package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cascades._
import graft.cascades.JoinStrategy._
import graft.TestRules.isJoin
import graft.ops.CascadesExecOps

/** Executable evidence for the r10 stage-floor adjudication (CASCADES.md
  * grounded calibration): the per-stage fixed latency the measurements
  * rank by is a CONSTANT, so pricing it is a scale statement —
  * [[StageFloorCostModel]] at floor 0 must be winner-identical to its
  * base on every executed cascades query (the 100 TB design point, where
  * the floor vanishes into row-work), and at the MEASURED floor
  * (~42 ms/exchange ÷ ~2.6e-9 s/cost-unit ≈ 1.6e7 row-equivalents,
  * CALIBRATION_r10.json fit) it must flip `count(distinct)` away from
  * the two-exchange distinct-rewrite toward the fewer-stage direct form
  * — the genuinely faster plan at calibration scale, and exactly the
  * flip the pinned winners deliberately do not take. This spec is the
  * "rejected with numbers" claim as code instead of prose.
  *
  * Pure memo-level searches (no Spark session): parse, then
  * [[graft.ops.CascadesExecOps.search]] over a fixed catalog —
  * [[graft.ops.CascadesExecOps.planFor]] without the lowering.
  */
class CostFloorSpec extends AnyFunSuite {

  /** sf0.01-shaped catalog: row counts drive every priced term. */
  private val stats = TableStats(
    catalog = Map("region" -> 5L, "nation" -> 25L, "customer" -> 1500L,
      "supplier" -> 100L, "part" -> 2000L, "orders" -> 15000L,
      "lineitem" -> 60175L, "documents" -> 6000L, "embeddings" -> 3000L),
    ranges = Map("o_orderkey" -> (1L, 60000L), "o_totalprice" -> (1L, 500000L),
      "c_custkey" -> (1L, 1500L), "l_orderkey" -> (1L, 60000L),
      "l_quantity" -> (1L, 50L), "n_nationkey" -> (0L, 24L),
      "c_nationkey" -> (0L, 24L), "s_suppkey" -> (1L, 100L),
      "p_partkey" -> (1L, 2000L), "o_custkey" -> (1L, 1500L)),
    strRanges = Map("lang" -> ("ar", "zh")),
    ndvs = Map("lang" -> 10L, "source" -> 6L))

  /** Measured floor in row-touch equivalents (see scaladoc above). */
  private val measuredFloorRows = 1.6e7

  private def search(name: String, floorRows: Option[Double])
      : Option[PlanNode] = {
    val base = CascadesExecOps.costModel(name)
    val (parsed, required) = SqlFrontend.parseQuery(
      CascadesExecOps.sqls(name), CascadesExecOps.schemaCat)
    CascadesExecOps.search(parsed, required, stats,
      CascadesExecOps.rulesFor(name), CascadesExecOps.hepFor(name),
      floorRows.fold(base)(f => new StageFloorCostModel(base, f)))
  }

  private def exchanges(p: PlanNode): Int = (p.op match {
    case _: PhysicalExchange => 1
    case _                   => 0
  }) + p.inputs.map(exchanges).sum

  private def aggFns(p: PlanNode): Seq[String] = (p.op match {
    case PhysicalHashAggregate(_, _, aggs) => aggs.map(_.fn)
    case _                                 => Nil
  }) ++ p.inputs.flatMap(aggFns)

  test("floor = 0 is decision-neutral: identical winner plan on every " +
      "executed cascades query (the 100 TB limit, where the constant " +
      "floor vanishes into scaling row-work)") {
    CascadesExecOps.sqls.keys.toSeq.sorted.foreach { name =>
      val base = search(name, None)
      val floored = search(name, Some(0.0))
      assert(base.isDefined, s"$name: no winner under the base model")
      assert(base == floored, s"$name: floor=0 changed the winner")
    }
  }

  test("wide_build is scale-STABLE: the byte-priced winner stays " +
      "SHUFFLED at 1x, 10x, and 100x the footer catalog while the " +
      "row-priced winner broadcasts at every leg") {
    val sql = CascadesExecOps.sqls("cascades_exec_wide_build")
    val rules = CascadesExecOps.rulesFor("cascades_exec_wide_build")
    val byteModel = CascadesExecOps.costModel("cascades_exec_wide_build")
    def ops(p: PlanNode): Seq[Operator] = p.op +: p.inputs.flatMap(ops)
    Seq(1L, 10L, 100L).foreach { f =>
      // sf0.01 footer shapes scaled f×: rows grow, bytes/row don't
      val scaled = TableStats(
        catalog = Map("orders" -> 15000L * f, "embeddings" -> 500L * f),
        widths = Map("orders" -> 25L, "embeddings" -> 390L))
      val (parsed, required) =
        SqlFrontend.parseQuery(sql, CascadesExecOps.schemaCat)
      def winner(cost: CostModel): PlanNode =
        new CascadesOptimizer(rules, costModel = cost, stats = scaled,
          columns = CascadesExecOps.schemaCat)
          .optimize(parsed, required).get
      val byByte = winner(byteModel)
      assert(ops(byByte).exists(isJoin(ShuffledHash)) &&
        !ops(byByte).exists(isJoin(Broadcast)),
        s"byte model at ${f}x:\n" + byByte.explain())
      val byRow = winner(new ClusterCostModel)
      assert(ops(byRow).exists(isJoin(Broadcast)),
        s"row model at ${f}x:\n" + byRow.explain())
    }
  }

  test("the measured floor flips count(distinct) to the fewer-exchange " +
      "direct form — the small-scale decision the pinned winners " +
      "deliberately do not take") {
    val base = search("cascades_exec_count_distinct", None).get
    val floored =
      search("cascades_exec_count_distinct", Some(measuredFloorRows)).get
    // pinned shape (CascadesExecSpec): the rewrite nests a dedup
    // aggregate whose outer row count carries the count_distinct name —
    // two aggregation levels, two exchanges
    assert(exchanges(base) == 2, base.explain())
    assert(aggFns(base).count(_ == "count") >= 1, base.explain())
    // with the floor each exchange costs ~7.4M row-equivalents against a
    // 6k-row table: the winner collapses to the direct Complete
    // count_distinct with a single distribution exchange
    assert(exchanges(floored) < exchanges(base), floored.explain())
    assert(aggFns(floored).contains("count_distinct"), floored.explain())
  }
}

/** [[CostModel]] wrapper pricing the per-STAGE fixed floor the grounded
  * r10 calibration measured: within the CardinalityCostModel query family
  * wall time ranks by the winner's explicit-[[PhysicalExchange]] count
  * (Spearman 0.82) while priced row-work spans 100× across a 3× wall
  * spread, and the two-term least-squares fit puts the floor at ~51 ms
  * per exchange on the calibration host (CALIBRATION_r10.json, CASCADES.md grounded
  * section). `floorRows` expresses that floor in row-touch equivalents
  * (floor seconds ÷ the fitted per-cost-unit second rate).
  *
  * Deliberately NOT in the search defaults. The floor is CONSTANT while
  * every other priced term scales with data, so at the 100 TB design
  * point it vanishes into the row-work and the wrapper is
  * decision-neutral; at golden-catalog scale the measured value dwarfs
  * every row term and flips the distinct-rewrite / split-aggregate
  * winners toward fewer stages — genuinely the faster plans at THAT
  * scale, but the pinned plans encode the scale-out design point.
  * [[CostFloorSpec]], its one user, pins both directions executably: floor = 0 is
  * winner-identical with the base model on every executed cascades
  * query, and the measured floor flips `count(distinct)` to the
  * one-exchange direct form. The reference has no counterpart (its cost
  * model is a constant per operator, `cost/trivial.rs:9-30`); Spark's
  * analog is the fixed scheduling latency AQE amortizes by coalescing
  * tiny shuffle partitions.
  */
final class StageFloorCostModel(base: CostModel, floorRows: Double)
    extends CostModel {
  private def floor(op: PhysicalOp): Double = op match {
    case _: PhysicalExchange => floorRows
    case _                   => 0.0
  }
  def operatorCost(op: PhysicalOp, inputRows: Seq[Long]): Double =
    base.operatorCost(op, inputRows) + floor(op)
  override def operatorCost(op: PhysicalOp, inputRows: Seq[Long],
      inputWidths: Seq[Long]): Double =
    base.operatorCost(op, inputRows, inputWidths) + floor(op)
}
