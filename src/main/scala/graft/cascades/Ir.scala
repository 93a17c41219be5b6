package graft.cascades

/** Minimal plan IR for the MiniCascades optimizer.
  *
  * Mirrors the reference's operator surface (SURVEY.md §2.1;
  * `dolomite/src/operator/{table_scan,filter,projection,join,limit}.rs`) on a
  * small sealed ADT instead of enum_dispatch. Execution never runs through
  * this IR — real queries execute via Catalyst; MiniCascades reproduces the
  * reference's *optimizer* capability (plan-space search) for plan-choice
  * tests and explanation, as the reference itself does over DataFusion.
  *
  * Like the reference's (`operator/physical.rs:15-20`), the IR has ONE
  * physical join, [[PhysicalJoin]]. How it runs — shuffled hash,
  * broadcast or sort-merge — is its [[JoinStrategy]] field, not a class
  * of its own; only cost pricing, delivered and required properties, and
  * the lowering's Catalyst hint look at the strategy.
  */
sealed trait Expr
final case class Col(name: String) extends Expr
final case class EqCond(left: Col, right: Col) extends Expr
/** Integer literal — beyond the reference's column-only physical surface
  * (`conversion/physical.rs:120-129`), required by HAVING predicates.
  */
final case class Lit(value: Long) extends Expr
/** Comparison predicate (`op` ∈ =, <, >, <=, >=) over columns/literals —
  * the minimal predicate surface HAVING needs. Rules that inspect filter
  * predicates pattern-match [[EqCond]] and abstain on this shape.
  */
final case class CmpCond(op: String, left: Expr, right: Expr) extends Expr {
  require(Set("=", "<", ">", "<=", ">=")(op), s"unsupported cmp op $op")
}
/** String literal — the text axis of the r9 selectivity surface: a
  * `lang = 'en'` predicate prices from footer string min/max + dictionary
  * NDV ([[StatsModel.columnRangeStr]]/[[StatsModel.columnNdv]]) instead
  * of the blind 10%.
  */
final case class StrLit(value: String) extends Expr
/** Inclusive integer range predicate — SQL's `col BETWEEN lo AND hi` as
  * ONE node. Kept whole instead of splitting into two stacked `>=`/`<=`
  * filters because selectivity then prices EXACTLY (the covered
  * fraction of the footer range) where two independent conjuncts would
  * multiply full-range fractions and double-count — the textbook
  * correlated-conjunct flaw, avoided by construction for the one shape
  * where the correlation is syntactically certain.
  */
final case class RangeCond(col: Col, lo: Long, hi: Long) extends Expr {
  require(lo <= hi, s"empty BETWEEN range [$lo, $hi]")
}
/** Disjunction of comparison predicates — one WHERE conjunct of the form
  * `( a OR b [OR c]* )`. Selectivity combines per-disjunct estimates
  * under independence ([[StatsModel]]); rules that inspect predicates
  * treat it as pushable iff EVERY disjunct is (a disjunct referencing the
  * other join side would change the filter's meaning after pushdown).
  */
final case class OrCond(disjuncts: Seq[Expr]) extends Expr {
  require(disjuncts.length >= 2, "OR needs at least two disjuncts")
}

sealed trait JoinType
object JoinType {
  case object Inner extends JoinType
  case object Left extends JoinType
  case object Full extends JoinType
  /** Left-semi: emit each LEFT row with at least one match; output schema
    * = left side only. The reference's `Join` admits every DataFusion
    * JoinType including LeftSemi/LeftAnti (`operator/join.rs:14-75`) —
    * r8's IR stopped at Inner/Left/Full (VERDICT r8 "missing" #1).
    */
  case object Semi extends JoinType
  /** Left-anti: emit each LEFT row with NO match; output = left side. */
  case object Anti extends JoinType
}

/** Operator = logical or physical relational node (no children — arity is
  * carried by the plan/memo structure, as in `plan/mod.rs:44-52`).
  */
sealed trait Operator {
  def isLogical: Boolean
  def arity: Int
}

sealed trait LogicalOp extends Operator { final def isLogical = true }
sealed trait PhysicalOp extends Operator { final def isLogical = false }

/** `TableScan { limit, table_name }` — `operator/table_scan.rs:13-19`.
  * `bucketBy`/`sortBy` declare a CLUSTERED physical layout (Spark's
  * bucketed+sorted tables; the write-side shuffle paid once so reads
  * deliver Hashed/SortedBy for free) — beyond the reference, whose scan
  * carries no layout metadata. Empty = plain heap layout.
  */
final case class LogicalScan(table: String, limit: Option[Int] = None,
    bucketBy: Seq[Col] = Nil, sortBy: Seq[Col] = Nil)
    extends LogicalOp { def arity = 0 }
/** `Filter { filter, projected_columns }` — `operator/filter.rs:14-27`. */
final case class LogicalFilter(pred: Expr, projected: Seq[Col])
    extends LogicalOp { def arity = 1 }
/** `Projection { expr }` — `operator/projection.rs:15-28`. */
final case class LogicalProject(exprs: Seq[Expr]) extends LogicalOp {
  def arity = 1
}
/** The view every join shares, logical or physical: a join type and an
  * equi condition whose `left` column comes from the left input. Rules
  * and derivations that treat all joins alike match this once.
  */
sealed trait JoinOp extends Operator {
  def joinType: JoinType
  def cond: EqCond
  final def arity = 2
  /** Semi/anti joins emit a subset of the LEFT rows and the left schema
    * only.
    */
  final def leftOnly: Boolean =
    joinType == JoinType.Semi || joinType == JoinType.Anti
}
/** `Join { join_type, expr }` (equi-only) — `operator/join.rs:14-33`. */
final case class LogicalJoin(joinType: JoinType, cond: EqCond)
    extends LogicalOp with JoinOp
/** `Limit { limit }` — `operator/limit.rs:7-13`. */
final case class LogicalLimit(n: Int) extends LogicalOp { def arity = 1 }
/** Top-k: the first `n` rows under `cols` order — SQL's ORDER BY + LIMIT,
  * which a root-property sort plus [[LogicalLimit]] CANNOT express (the
  * property lands above the limit, and the limit rules legally absorb the
  * limit into the scan, changing which rows survive). Beyond the
  * reference (its IR has no logical sort, `operator/mod.rs:26-47`);
  * Spark's `Limit(Sort(...))` → `TakeOrderedAndProject` planning is the
  * production counterpart.
  */
final case class LogicalTopK(n: Int, keys: Seq[SortKey])
    extends LogicalOp {
  def arity = 1
}
/** Aggregate call: `count` (col = None), `sum/min/max/avg(col)`, or
  * `count_distinct(col)` — the minimal surface the split machinery
  * needs. Beyond the reference (its IR has no aggregation,
  * `operator/mod.rs:26-47`); the point here is the DISTRIBUTED planning
  * shape, not expression breadth. The four plain column aggregates
  * decompose partial/final the same way (sum/min/max merge by
  * themselves; avg carries a (sum, count) partial state — the mode
  * encodes it, as with count-merges-by-sum). `count_distinct` does NOT:
  * per-partition distinct counts cannot merge, so [[graft.cascades
  * .Rules.SplitAggRule]] abstains on it and the search reaches the
  * distributed shape through [[graft.cascades.Rules
  * .RewriteDistinctAggRule]]'s dedup-first nesting instead.
  *
  * `as` overrides the canonical output name — the distinct rewrite
  * turns the outer count_distinct into a plain row count whose OUTPUT
  * must still carry the original column name the query (and oracle)
  * aliased.
  */
final case class AggCall(fn: String, col: Option[Col] = None,
    as: Option[String] = None) {
  /** Canonical OUTPUT column name, shared by HAVING resolution, the
    * DataFrame lowering ([[graft.cascades.Execution]]) and oracle SQL:
    * `count` → `cnt`, `sum(x)` → `sum_x`, `count(distinct x)` →
    * `cntd_x`, etc.
    */
  def outName: String = as.getOrElse(
    col.fold(if (fn == "count") "cnt" else fn)(c =>
      if (fn == "count_distinct") s"cntd_${c.name}" else s"${fn}_${c.name}"))
}
/** GROUP BY aggregation — beyond-reference logical node. */
final case class LogicalAggregate(groupCols: Seq[Col], aggs: Seq[AggCall])
    extends LogicalOp { def arity = 1 }
/** Aggregation phase: Complete = one-shot over co-partitioned input;
  * Partial = per-partition pre-aggregation (requires nothing, emits
  * partial states); Final = merge of partials (requires Hashed(group)
  * input — a count partial merges by SUM, the standard rewrite, carried
  * implicitly by the mode).
  */
sealed trait AggMode
object AggMode {
  case object Partial extends AggMode
  case object Final extends AggMode
  case object Complete extends AggMode
}
final case class PhysicalHashAggregate(mode: AggMode, groupCols: Seq[Col],
    aggs: Seq[AggCall]) extends PhysicalOp { def arity = 1 }
/** Physical top-k, Spark's `TakeOrderedAndProjectExec` in miniature:
  * keeps a size-`n` ordered buffer per input partition and merges the
  * per-partition winners, so it REQUIRES nothing of its child
  * (UnspecifiedDistribution in Spark) and DELIVERS both the order and a
  * Singleton placement. Never absorbed into the scan — unlike a bare
  * limit, the top-k rows are order-dependent.
  */
final case class PhysicalTopK(n: Int, keys: Seq[SortKey])
    extends PhysicalOp {
  def arity = 1
}

final case class PhysicalTableScan(table: String, limit: Option[Int] = None,
    bucketBy: Seq[Col] = Nil, sortBy: Seq[Col] = Nil)
    extends PhysicalOp { def arity = 0 }
final case class PhysicalFilter(pred: Expr, projected: Seq[Col])
    extends PhysicalOp { def arity = 1 }
final case class PhysicalProject(exprs: Seq[Expr]) extends PhysicalOp {
  def arity = 1
}
/** How a physical join moves and matches its rows. The hash strategies
  * build their RIGHT input.
  *
  * `ShuffledHash`: both inputs are exchanged on their join keys and the
  * right side is built into a hash table per partition — the reference's
  * one physical join (`operator/physical.rs:15-20`), Spark's
  * ShuffledHashJoinExec. Any join type.
  *
  * `Broadcast`: the right input is replicated to every partition of the
  * probe side, so neither side shuffles. Only correct when unmatched
  * BUILD rows never need emitting (Inner/Left/Semi/Anti; a Full join
  * must see every build row exactly once — broadcast would emit its
  * unmatched rows once PER COPY). Whether it beats the shuffle is a pure
  * cost question ([[ClusterCostModel]]: W-fold replication vs two
  * exchanges) — Spark's BroadcastHashJoinExec.
  *
  * `SortMerge`: the strategy that makes sort an INTERESTING ORDER (System
  * R's term). It REQUIRES each child Hashed+SortedBy its join key
  * ([[PhysicalPropertySet.requiredChildProperties]]) and in exchange
  * DELIVERS key order and key partitioning at its output — so an ORDER BY
  * on the join key above it, or a bucketed+sorted base-table layout below
  * it, is satisfied with no extra operator. Whether paying two child sorts
  * beats one hash build is the memo's winner comparison, never a
  * heuristic — Spark's SortMergeJoinExec / EnsureRequirements interplay
  * in miniature. Any join type merges; Full joins keep delivery
  * conservative (null-extended rows break key order/placement claims on
  * the LEFT key; Spark likewise degrades outer SMJ ordering).
  */
sealed trait JoinStrategy
object JoinStrategy {
  case object ShuffledHash extends JoinStrategy
  case object Broadcast extends JoinStrategy
  case object SortMerge extends JoinStrategy
}
/** The one physical join: a [[LogicalJoin]] with its [[JoinStrategy]]
  * chosen. All strategies of one logical join land in the same memo
  * group and the cost search picks among them.
  */
final case class PhysicalJoin(strategy: JoinStrategy, joinType: JoinType,
    cond: EqCond) extends PhysicalOp with JoinOp
/** Sort ENFORCER — one step beyond the reference, which declares the
  * enforcer hook but returns an empty vec (`properties/physical.rs:16-24`,
  * consumed at `task.rs:431-462`) and stubs `OrderSpec::satisfies` to true
  * (`properties/order.rs:6-25`). MiniCascades inserts this node when a
  * required [[OrderSpec.SortedBy]] is not delivered by any group member.
  * Never produced by an implementation rule — only by the enforcer path.
  */
final case class PhysicalSort(keys: Seq[SortKey]) extends PhysicalOp {
  def arity = 1
}
/** Distribution ENFORCER — completes the second property shape the
  * reference declares but never enforces (`properties/distribution.rs:5-19`
  * models Singleton/Hashed/Random; the enforcer hook at
  * `properties/physical.rs:16-24` returns an empty vec for it too).
  * `Exchange(keys)` re-partitions its child by hash of `keys` (delivers
  * [[DistributionSpec.Hashed]]); `Exchange(Nil)` gathers to a single
  * partition (delivers [[DistributionSpec.Singleton]]) — Spark's
  * ShuffleExchangeExec with HashPartitioning / SinglePartition is the
  * production counterpart. Never produced by an implementation rule — only
  * by the [[CascadesOptimizer]] EnforceDistribution task.
  */
final case class PhysicalExchange(keys: Seq[Col]) extends PhysicalOp {
  def arity = 1
}
/** No physical Limit exists in the reference enum (`operator/physical.rs:
  * 15-20`) — limits must be absorbed into scans by rules before
  * implementation. Reproduced faithfully here.
  */

/** Single-root plan tree (`plan/mod.rs:65-72`). */
final case class PlanNode(op: Operator, inputs: Seq[PlanNode] = Nil) {
  require(inputs.length == op.arity, s"arity mismatch for $op")

  /** Pretty tree, analogous to `plan/explain.rs:25-42`. */
  def explain(indent: Int = 0): String = {
    val self = "  " * indent + describe(op)
    (self +: inputs.map(_.explain(indent + 1))).mkString("\n")
  }

  private def describe(op: Operator): String = op match {
    case LogicalScan(t, l, b, so) =>
      s"LogicalScan($t${l.fold("")(n => s", limit=$n")}" +
        s"${if (b.nonEmpty) s", bucketBy=[${b.mkString(",")}]" else ""}" +
        s"${if (so.nonEmpty) s", sortBy=[${so.mkString(",")}]" else ""})"
    case LogicalFilter(p, _)     => s"LogicalFilter($p)"
    case LogicalProject(e)       => s"LogicalProjection(${e.mkString(",")})"
    case LogicalJoin(jt, c)      => s"LogicalJoin($jt, $c)"
    case LogicalLimit(n)         => s"LogicalLimit($n)"
    case LogicalTopK(n, keys) =>
      s"LogicalTopK(n=$n, order=[${keys.map(sortKeyStr).mkString(",")}])"
    case PhysicalTopK(n, keys) =>
      s"PhysicalTopK(n=$n, order=[${keys.map(sortKeyStr).mkString(",")}])"
    case LogicalAggregate(g, a) =>
      s"LogicalAggregate(keys=[${g.mkString(",")}], " +
        s"aggs=[${a.map(c => c.fn + c.col.fold("")(x => s"(${x.name})"))
          .mkString(",")}])"
    case PhysicalHashAggregate(m, g, a) =>
      s"PhysicalHashAggregate($m, keys=[${g.mkString(",")}], " +
        s"aggs=[${a.map(c => c.fn + c.col.fold("")(x => s"(${x.name})"))
          .mkString(",")}])"
    case PhysicalTableScan(t, l, b, so) =>
      s"PhysicalTableScan($t${l.fold("")(n => s", limit=$n")}" +
        s"${if (b.nonEmpty) s", bucketBy=[${b.mkString(",")}]" else ""}" +
        s"${if (so.nonEmpty) s", sortBy=[${so.mkString(",")}]" else ""})"
    case PhysicalFilter(p, _)    => s"PhysicalFilter($p)"
    case PhysicalProject(e)      => s"PhysicalProjection(${e.mkString(",")})"
    case PhysicalJoin(s, jt, c) => s match {
      case JoinStrategy.ShuffledHash => s"PhysicalHashJoin($jt, $c)"
      case JoinStrategy.SortMerge    => s"PhysicalSortMergeJoin($jt, $c)"
      case JoinStrategy.Broadcast =>
        s"PhysicalBroadcastHashJoin($jt, $c, BuildRight)"
    }
    case PhysicalSort(keys) =>
      s"PhysicalSort(${keys.map(sortKeyStr).mkString(",")})"
    case PhysicalExchange(keys) =>
      if (keys.isEmpty) "PhysicalExchange(gather)"
      else s"PhysicalExchange(hash:${keys.mkString(",")})"
  }

  /** One sort key for explain output: the pre-r10 bare form for the
    * ASC NULLS FIRST default (keeps goldens stable), explicit direction
    * + null placement otherwise.
    */
  private def sortKeyStr(k: SortKey): String =
    if (k.asc && k.nullsFirst) k.col.toString
    else s"${k.col} ${if (k.asc) "ASC" else "DESC"} " +
      s"NULLS ${if (k.nullsFirst) "FIRST" else "LAST"}"
}

/** Physical properties — `properties/{physical,distribution,order}.rs`.
  * The reference declares `OrderSpec` but stubs `satisfies` to `true` and
  * its enforcers return an empty vec; MiniCascades completes the stub: a
  * real [[OrderSpec]], delivered-order derivation, and a [[PhysicalSort]]
  * enforcer inserted by the search (Spark's EnsureRequirements is the
  * production counterpart — see SURVEY.md §4.2).
  */
sealed trait DistributionSpec
object DistributionSpec {
  case object Any extends DistributionSpec
  case object Singleton extends DistributionSpec
  final case class Hashed(cols: Seq[Col]) extends DistributionSpec
  case object Random extends DistributionSpec
}

/** One ordering axis: column + direction + null placement — the
  * reference's full `Ordering { column, asc, null_first }`
  * (`properties/order.rs:7-13`), which the pre-r10 `SortedBy(Seq[Col])`
  * dropped to ascending-only (VERDICT r9 missing #1). Defaults mirror
  * Spark's `SortOrder` defaults: ASC is NULLS FIRST; construct DESC via
  * [[SortKey.desc]] to get Spark's DESC NULLS LAST pairing (the case
  * class default `nullsFirst = true` only matches the ASC convention).
  * All three fields participate in satisfaction equality: an
  * ASC-clustered layout does NOT satisfy a DESC requirement and pays
  * the sort enforcer.
  */
final case class SortKey(col: Col, asc: Boolean = true,
    nullsFirst: Boolean = true)
object SortKey {
  def desc(col: Col): SortKey = SortKey(col, asc = false,
    nullsFirst = false)
}

/** Required/delivered sort order (`properties/order.rs:6-25`, completed). */
sealed trait OrderSpec
object OrderSpec {
  case object AnyOrder extends OrderSpec
  final case class SortedBy(keys: Seq[SortKey]) extends OrderSpec
  object SortedBy {
    /** Ascending-NULLS-FIRST over `cols` — write-time layouts
      * (`sortBy`) and merge-join key orders, which are ASC by
      * construction.
      */
    def asc(cols: Seq[Col]): SortedBy = SortedBy(cols.map(SortKey(_)))
  }

  /** Does a DELIVERED order satisfy a REQUIRED one? Prefix semantics: rows
    * sorted by [k, x] are a fortiori sorted by [k], so a longer delivered
    * order satisfies any required prefix of itself (Spark's
    * SortOrder.satisfies in EnsureRequirements is the production
    * counterpart). Exact equality was the pre-r8 behavior and inserted a
    * redundant sort enforcer over e.g. a scan clustered by [k, x] when
    * the query only needed [k] — a missed optimization, never unsound.
    * Prefix elements compare as FULL [[SortKey]]s — direction and null
    * placement must match, not just the column.
    */
  def satisfiedBy(delivered: OrderSpec, required: OrderSpec): Boolean =
    required match {
      case AnyOrder => true
      case SortedBy(req) => delivered match {
        case SortedBy(del) => del.startsWith(req)
        case AnyOrder      => false
      }
    }
}

final case class PhysicalPropertySet(
    distribution: DistributionSpec = DistributionSpec.Any,
    order: OrderSpec = OrderSpec.AnyOrder) {
  def satisfies(required: PhysicalPropertySet): Boolean =
    (required.distribution == DistributionSpec.Any ||
      distribution == required.distribution) &&
      OrderSpec.satisfiedBy(order, required.order)
}

object PhysicalPropertySet {
  val default: PhysicalPropertySet = PhysicalPropertySet()

  /** The order a physical operator DELIVERS, given it imposes none on its
    * children: only the sort enforcer establishes an order here (hash
    * joins/scans deliver none — matching Spark, where sort-merge outputs
    * are the exception handled by EnsureRequirements).
    */
  def deliveredOrder(op: PhysicalOp): OrderSpec = op match {
    case PhysicalSort(keys)    => OrderSpec.SortedBy(keys)
    case PhysicalTopK(_, keys) => OrderSpec.SortedBy(keys)
    // a clustered (bucketed+sorted) layout paid its sort at write time —
    // ASC NULLS FIRST by construction (Spark sortBy writes ascending),
    // so a DESC requirement correctly fails against it and pays the
    // enforcer (VERDICT r9 directive #2)
    case PhysicalTableScan(_, _, _, so) if so.nonEmpty =>
      OrderSpec.SortedBy.asc(so)
    // the merge emits in key order; a Full join's null-extended right
    // rows have no left-key position to claim. Semi/Anti emit a SUBSET
    // of left rows in left-key order — the claim holds a fortiori.
    case PhysicalJoin(JoinStrategy.SortMerge, JoinType.Inner |
        JoinType.Left | JoinType.Semi | JoinType.Anti, cond) =>
      OrderSpec.SortedBy.asc(Seq(cond.left))
    case _                     => OrderSpec.AnyOrder
  }

  /** Does `op`'s delivered order satisfy `required.order`? Prefix
    * semantics ([[OrderSpec.satisfiedBy]]): a scan clustered by [k, x]
    * satisfies a required SortedBy([k]) with no enforcer.
    */
  def deliversOrder(op: PhysicalOp, required: PhysicalPropertySet): Boolean =
    OrderSpec.satisfiedBy(deliveredOrder(op), required.order)

  /** The distribution a physical operator ESTABLISHES itself: only the
    * exchange enforcer creates one (hash keys -> Hashed, no keys ->
    * Singleton gather); scans read splits in arbitrary placement (Random);
    * everything else establishes none — a passthrough operator can still
    * SATISFY a requirement via [[passesThroughDistribution]] + requirement
    * pushdown to its child (mirroring `properties/distribution.rs:5-19`,
    * which the reference declares and never derives).
    */
  def deliveredDistribution(op: PhysicalOp): DistributionSpec = op match {
    case PhysicalExchange(keys) =>
      if (keys.isEmpty) DistributionSpec.Singleton
      else DistributionSpec.Hashed(keys)
    // a bucketed layout paid its shuffle at write time
    case PhysicalTableScan(_, _, b, _) if b.nonEmpty =>
      DistributionSpec.Hashed(b)
    case _: PhysicalTableScan => DistributionSpec.Random
    // children arrive Hashed on their keys (requiredChildProperties), so
    // matched outputs stay co-partitioned by the left key; Full joins
    // also emit null-left-key rows — no claim (as the hash join comment).
    // Semi/Anti output subsets of the co-partitioned left rows.
    case PhysicalJoin(JoinStrategy.SortMerge, JoinType.Inner |
        JoinType.Left | JoinType.Semi | JoinType.Anti, cond) =>
      DistributionSpec.Hashed(Seq(cond.left))
    // Final/Complete REQUIRE a co-partitioned (or gathered) input — see
    // [[requiredChildDistribution]] — so their output provably carries
    // that same placement: each group key lives in exactly one partition
    case PhysicalHashAggregate(AggMode.Final | AggMode.Complete, g, _) =>
      if (g.isEmpty) DistributionSpec.Singleton else DistributionSpec.Hashed(g)
    // per-partition buffers merged into one ordered result — Spark's
    // TakeOrderedAndProjectExec reports SinglePartition likewise
    case _: PhysicalTopK      => DistributionSpec.Singleton
    case _                    => DistributionSpec.Any
  }

  /** Distribution an operator demands of its (single) input for
    * CORRECTNESS — not an optimization, the operator is wrong without it:
    * a Final/Complete hash aggregate must see every row of a group in one
    * partition (Hashed on the group keys; Singleton when there are no
    * keys). Partial aggregates run anywhere — that is their point.
    * Spark's requiredChildDistribution is the production counterpart.
    */
  def requiredChildDistribution(op: PhysicalOp): Option[DistributionSpec] =
    op match {
      case PhysicalHashAggregate(AggMode.Final | AggMode.Complete, g, _) =>
        Some(if (g.isEmpty) DistributionSpec.Singleton
        else DistributionSpec.Hashed(g))
      case _ => None
    }

  /** FULL per-child property requirements (distribution AND order) an
    * operator demands for correctness — the generalization of
    * [[requiredChildDistribution]] for operators whose contract spans
    * both property axes and both children. Sort-merge join: each side
    * co-partitioned AND sorted on its own join key (Spark's
    * SortMergeJoinExec requiredChildDistribution/requiredChildOrdering
    * pair). Operators listed here never appear in
    * [[distributionPushdownChild]] (same non-collision invariant as
    * requiredChildDistribution).
    */
  def requiredChildProperties(
      op: PhysicalOp): Option[Seq[PhysicalPropertySet]] = op match {
    case PhysicalJoin(JoinStrategy.SortMerge, _, cond) => Some(Seq(
      PhysicalPropertySet(DistributionSpec.Hashed(Seq(cond.left)),
        OrderSpec.SortedBy.asc(Seq(cond.left))),
      PhysicalPropertySet(DistributionSpec.Hashed(Seq(cond.right)),
        OrderSpec.SortedBy.asc(Seq(cond.right)))))
    case _ => None
  }

  /** Does `op` itself establish `required.distribution`? */
  def deliversDistribution(
      op: PhysicalOp, required: PhysicalPropertySet): Boolean =
    required.distribution == DistributionSpec.Any ||
      deliveredDistribution(op) == required.distribution

  /** Which child (if any) a required ORDER can be pushed down to — the
    * order-axis twin of [[distributionPushdownChild]]: legal only when
    * the operator provably preserves its child's row order AND the order
    * columns survive its output. Filter/Project are per-partition
    * tuple-order-preserving (they drop/compute columns, never reorder
    * rows); joins/aggregates/exchanges are not. This is what lets an
    * ORDER BY above a projection be satisfied BELOW it — by a clustered
    * scan layout or a merge join's delivered order — instead of always
    * enforcing a top sort (Spark's counterpart: outputOrdering
    * passthrough on ProjectExec/FilterExec in EnsureRequirements).
    */
  def orderPushdownChild(op: PhysicalOp, order: OrderSpec): Option[Int] = {
    def keptBy(cols: Seq[Col], keys: Seq[SortKey]): Boolean =
      cols.isEmpty || keys.forall(k => cols.contains(k.col))
    (op, order) match {
      case (PhysicalFilter(_, projected), OrderSpec.SortedBy(keys))
          if keptBy(projected, keys) => Some(0)
      case (PhysicalProject(exprs), OrderSpec.SortedBy(keys))
          if keys.forall(k => exprs.contains(k.col)) => Some(0)
      case _ => None
    }
  }

  /** Which child (if any) a required distribution can be pushed down to,
    * instead of enforcing an exchange above the operator. Pushdown is only
    * legal when the operator provably PRESERVES the requirement:
    *
    *  - `Sort` keeps every column and every row placement — always legal;
    *  - `Filter`/`Project` keep placement but may drop columns: Hashed(keys)
    *    pushes down only if the keys survive the projection (a filter with
    *    an empty projected list keeps all columns);
    *  - a hash join streams its LEFT (probe) side through unchanged, so only
    *    Hashed on exactly the probe-side join key is known-preserved (any
    *    other column's provenance is unknowable in this schema-less IR);
    *    Singleton can NEVER push through a join — gathering one side does
    *    not make the join output single-partition.
    *
    * The Catalyst counterpart is `outputPartitioning` passthrough on the
    * streamed side, which likewise rewrites only provable key lineage.
    */
  def distributionPushdownChild(
      op: PhysicalOp, dist: DistributionSpec): Option[Int] = {
    def keptBy(cols: Seq[Col], keys: Seq[Col]): Boolean =
      cols.isEmpty || keys.forall(cols.contains)
    (op, dist) match {
      case (_: PhysicalSort, _) => Some(0)
      case (PhysicalFilter(_, projected), DistributionSpec.Hashed(keys))
          if keptBy(projected, keys) => Some(0)
      case (_: PhysicalFilter, DistributionSpec.Singleton) => Some(0)
      case (PhysicalProject(exprs), DistributionSpec.Hashed(keys))
          if keys.forall(exprs.contains) => Some(0)
      case (_: PhysicalProject, DistributionSpec.Singleton) => Some(0)
      // Inner/Left/Semi/Anti only: those emit exactly probe-side rows
      // (possibly null-extended on the BUILD columns; Semi/Anti emit a
      // subset), so probe-key partitioning survives. A FULL join also
      // emits unmatched build rows whose probe key is NULL — not
      // co-partitioned by cond.left (Spark likewise reports
      // UnknownPartitioning for full-outer shuffled hash joins). Both
      // hash strategies stream the probe side through (broadcast
      // replicates the build side everywhere, touching no placement);
      // the merge join has its own child requirements instead.
      case (PhysicalJoin(s, jt, cond), DistributionSpec.Hashed(keys))
          if s != JoinStrategy.SortMerge && keys == Seq(cond.left) &&
            jt != JoinType.Full => Some(0)
      case _ => None
    }
  }
}
