package graft.cascades

/** Cost + statistics models.
  *
  * The reference declares `Statistics { row_count, ndv }` but never computes
  * it (`dolomite/src/stat.rs:5-21`), so its `SimpleCostModel` is a constant
  * per operator (`cost/trivial.rs:9-30`) and provably cannot distinguish a
  * commuted join from the original (its own golden at
  * `cascades/optimizer.rs:97-137` is side-agnostic). The goldens keep the
  * faithful constant model (`graft.TestRules.ConstantCostModel`), and
  * MiniCascades completes the stub: [[StatsModel]] derives per-group
  * output cardinality bottom-up and [[CardinalityCostModel]] prices
  * operators by the rows they touch — which is exactly enough for
  * `CommutateJoinRule` + cost search to put the small side of a hash join
  * on the build side. (Spark's `plan.stats` is the production
  * counterpart, used by [[graft.rules.Join2HashJoinStrategy]].)
  */
trait CostModel {
  /** Cost of the operator itself, excluding inputs; `inputRows` are the
    * derived cardinalities of its input groups (empty for leaves).
    */
  def operatorCost(op: PhysicalOp, inputRows: Seq[Long]): Double

  /** Byte-aware variant: `inputWidths` are the derived bytes-per-row of
    * the input groups ([[StatsModel.deriveWidth]]). Default ignores the
    * width axis — only [[ByteWeightedClusterCostModel]] uses it, because
    * the broadcast-vs-shuffle decision is byte-based in production
    * (Spark's autoBroadcastJoinThreshold counts bytes, not rows).
    */
  def operatorCost(op: PhysicalOp, inputRows: Seq[Long],
      inputWidths: Seq[Long]): Double = operatorCost(op, inputRows)
}

/** Output-cardinality derivation: row counts per scan from a catalog,
  * simple textbook factors above (the point is ORDERING costs correctly,
  * not absolute accuracy).
  */
trait StatsModel {
  def tableRows(table: String): Long

  /** Observed (min, max) of a STRING column from footer statistics, when
    * known — the text axis of range selectivity: an out-of-range string
    * equality provably selects nothing, and ordered comparisons price by
    * byte interpolation between the bounds (DB2-style character
    * interpolation; Spark CBO interpolates numeric ranges the same way).
    * Default: unknown.
    */
  def columnRangeStr(column: String): Option[(String, String)] = None

  /** Distinct-value-count estimate of a column, when known — from parquet
    * DICTIONARY pages ([[ParquetStats]]: a dictionary-encoded column
    * chunk's dictionary size IS its per-row-group NDV; the max across row
    * groups is a lower bound on table NDV, which UNDERestimates NDV and
    * therefore OVERestimates equality output — the conservative
    * direction for broadcast decisions). The `stat.rs:5-21` `ndv` field
    * the reference declares and never computes. Default: unknown.
    */
  def columnNdv(column: String): Option[Long] = None

  /** Observed (min, max) of an integer column, when known — the THIRD
    * stats axis (after rows and width): parquet footers carry per-column
    * min/max in every row group ([[ParquetStats]] aggregates them), which
    * turns a literal predicate's selectivity from the blind 10% default
    * into a range estimate — Spark CBO's `FilterEstimation` on column
    * stats is the production counterpart. Column names are globally
    * unique in the TPC-H-style schemas, so the lookup needs no table
    * qualifier. Default: unknown.
    */
  def columnRange(column: String): Option[(Long, Long)] = None

  /** Runtime-OBSERVED output rows of a filter predicate, when a prior
    * execution measured it — the feedback axis static estimation cannot
    * reach: a cross-column predicate (`l_partkey = l_suppkey`) has no
    * range to reason over and falls to the blind 10%, while one counted
    * execution knows the truth exactly. Spark AQE's runtime stage
    * statistics are the production counterpart ([[FeedbackStats]] carries
    * them back into the search). Default: nothing observed.
    */
  def observedFilterRows(pred: Expr): Option[Long] = None

  /** Estimated bytes per row of a base table (default: two 8-byte
    * columns). The SECOND stats axis — a join decision made on rows
    * alone mis-prices a small-but-wide build side (few rows, huge
    * serialized size), exactly the case Spark's byte-based
    * autoBroadcastJoinThreshold exists for.
    */
  def tableWidth(table: String): Long = 16L

  /** Bytes-per-row derivation, the width lattice next to [[derive]]:
    * joins concatenate their input rows (widths add); every tuple-
    * preserving operator passes its input width through (the schema-less
    * IR cannot see how much a projection narrows — conservative).
    */
  final def deriveWidth(op: Operator, inputWidths: Seq[Long]): Long =
    op match {
      case LogicalScan(t, _, _, _) => tableWidth(t)
      case PhysicalTableScan(t, _, _, _) => tableWidth(t)
      // semi/anti joins emit LEFT rows only — no width concatenation
      case j: JoinOp =>
        if (j.leftOnly) inputWidths(0) else inputWidths(0) + inputWidths(1)
      case _ => inputWidths.headOption.getOrElse(16L)
    }

  final def derive(op: Operator, inputRows: Seq[Long]): Long = op match {
    case LogicalScan(t, l, _, _) => limited(tableRows(t), l)
    case PhysicalTableScan(t, l, _, _) => limited(tableRows(t), l)
    case LogicalFilter(p, _)  => filtered(p, inputRows.head)
    case PhysicalFilter(p, _) => filtered(p, inputRows.head)
    case _: LogicalProject | _: PhysicalProject => inputRows.head
    // semi/anti joins emit a SUBSET of left rows — |A| is the honest
    // upper bound (the schema-less IR has no containment statistic).
    // Otherwise the FK-join heuristic: |A ⋈ B| ~ max(|A|,|B|) —
    // symmetric, so the commuted join lands in a group with the same
    // cardinality and only the COST (build-side choice) differentiates
    // the two
    case j: JoinOp =>
      if (j.leftOnly) inputRows(0) else math.max(inputRows(0), inputRows(1))
    case LogicalLimit(n)       => math.min(inputRows.head, n.toLong)
    case LogicalTopK(n, _)     => math.min(inputRows.head, n.toLong)
    case PhysicalTopK(n, _)    => math.min(inputRows.head, n.toLong)
    case _: PhysicalSort       => inputRows.head
    case _: PhysicalExchange   => inputRows.head // repartition: same rows
    // textbook reduction factors: a partial (per-partition) aggregate
    // collapses ~5x, the grouped result ~10x of the raw input. The split
    // decision only needs the ORDERING — partial output < raw input — to
    // price the exchanged bytes correctly.
    // DELIBERATE single-state simplification for keyless partials: a
    // real keyless Partial emits one row PER PARTITION (~W rows, see
    // ClusterCostModel.W), not 1 — so the gather exchange above a
    // global partial is underpriced by ~W× and the model leans toward
    // splitting global aggregates. Harmless here (one partial state row
    // per task is ~free and splitting a global agg is never a
    // regression at W=32), but a byte-weighted model must use W.
    case PhysicalHashAggregate(AggMode.Partial, g, _) =>
      if (g.isEmpty) 1L else math.max(1L, inputRows.head / 5)
    case _: LogicalAggregate | _: PhysicalHashAggregate =>
      op match {
        case LogicalAggregate(g, _) if g.isEmpty          => 1L
        case PhysicalHashAggregate(_, g, _) if g.isEmpty  => 1L
        case _ => math.max(1L, inputRows.head / 10)
      }
  }

  private def limited(rows: Long, limit: Option[Int]): Long =
    limit.fold(rows)(l => math.min(rows, l.toLong))

  /** Filter output estimate: a column-vs-literal comparison with a known
    * column range prices by the covered fraction under the textbook
    * uniformity assumption (clamped to [0,1], floored at 1 row); every
    * other predicate keeps the fixed 10% fallback. The point, as with
    * every estimate here, is ORDERING plans correctly — a `<= small-key`
    * filter must make its side broadcast-cheap, which the blind 10%
    * provably cannot see ([[graft.CascadesExecSpec]] pins the flip).
    */
  private def filtered(pred: Expr, in: Long): Long =
    observedFilterRows(pred).getOrElse(estimated(pred, in))

  private def estimated(pred: Expr, in: Long): Long =
    math.max(1L, math.round(in * selectivity(pred, in)))

  /** Selectivity in [0, 1] of one predicate. Disjunctions combine their
    * disjuncts' selectivities under the textbook independence assumption
    * (`1 − ∏(1 − fᵢ)` — exact for disjoint ranges, an overcount for
    * overlapping ones, never an undercount); everything unestimable keeps
    * the fixed 10% fallback.
    */
  private def selectivity(pred: Expr, in: Long): Double = pred match {
    case OrCond(ds) =>
      math.min(1.0, 1.0 - ds.map(d => 1.0 - selectivity(d, in)).product)
    // BETWEEN prices EXACTLY: the covered fraction of the footer range
    // (intersection width / range width) — no independence assumption
    case RangeCond(Col(c), lo, hi) =>
      columnRange(c) match {
        case Some((rlo, rhi)) if rhi >= rlo =>
          val covered = math.min(hi, rhi) - math.max(lo, rlo) + 1
          math.min(1.0, math.max(0.0,
            covered.toDouble / (rhi - rlo + 1).toDouble))
        case _ => 0.1
      }
    case CmpCond(op, Col(c), Lit(v)) =>
      columnRange(c) match {
        case Some((lo, hi)) if hi >= lo =>
          val width = (hi - lo + 1).toDouble
          val frac = op match {
            case "<=" => (v - lo + 1).toDouble / width
            case "<"  => (v - lo).toDouble / width
            case ">=" => (hi - v + 1).toDouble / width
            case ">"  => (hi - v).toDouble / width
            case _    => 1.0 / width // "="
          }
          math.min(1.0, math.max(0.0, frac))
        case _ => 0.1
      }
    case CmpCond(op, Col(c), StrLit(v)) =>
      columnRangeStr(c) match {
        case Some((lo, hi)) if lo <= hi =>
          op match {
            case "=" =>
              // out of the footer range: provably empty (floored to one
              // row by the caller); in range: 1/NDV from the dictionary
              // axis when known, else the blind fallback. Unsigned UTF-8
              // compare — the order the footer bounds were written in
              if (StatsModel.utf8Lt(v, lo) || StatsModel.utf8Lt(hi, v)) 0.0
              else columnNdv(c).fold(0.1)(n => 1.0 / math.max(1L, n))
            case _ =>
              // ordered comparison: byte interpolation of v's position
              // between the bounds (uniformity over the byte span)
              val pos = StatsModel.strPos(v, lo, hi)
              val frac = op match {
                case "<=" | "<" => pos
                case _          => 1.0 - pos // ">=" | ">"
              }
              math.min(1.0, math.max(0.0, frac))
          }
        case _ => 0.1
      }
    case _ => 0.1
  }
}

object StatsModel {
  /** Unsigned UTF-8 byte comparison — the order parquet uses for Binary
    * min/max statistics. Java String `<` compares UTF-16 code units,
    * which diverges on non-ASCII (e.g. supplementary-plane surrogates
    * sort below U+E000 in UTF-16 but above in UTF-8), so an in-range
    * literal could be misjudged out of range against footer bounds
    * (ADVICE r9). Returns <0 / 0 / >0 like compareTo.
    */
  def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }
  def utf8Lt(a: String, b: String): Boolean = utf8Cmp(a, b) < 0

  /** Fractional position of `v` within [lo, hi] by 8-byte big-endian
    * interpolation of each string's UTF-8 prefix — the classic character
    * interpolation for string range selectivity. Clamped to [0, 1];
    * degenerate ranges (lo == hi) return 1 iff v >= lo.
    */
  def strPos(v: String, lo: String, hi: String): Double = {
    def key(s: String): Double = {
      val b = s.getBytes("UTF-8")
      var x = 0.0
      var i = 0
      while (i < 8) {
        x = x * 256.0 + (if (i < b.length) (b(i) & 0xff).toDouble else 0.0)
        i += 1
      }
      x
    }
    val (kl, kh, kv) = (key(lo), key(hi), key(v))
    if (kh <= kl) { if (kv >= kl) 1.0 else 0.0 }
    else math.min(1.0, math.max(0.0, (kv - kl) / (kh - kl)))
  }
}

/** No statistics: every group has cardinality 1 (keeps the constant-model
  * search identical to the reference's).
  */
object NoStats extends StatsModel {
  def tableRows(table: String): Long = 1L
}

final case class TableStats(catalog: Map[String, Long],
    widths: Map[String, Long] = Map.empty,
    ranges: Map[String, (Long, Long)] = Map.empty,
    strRanges: Map[String, (String, String)] = Map.empty,
    ndvs: Map[String, Long] = Map.empty) extends StatsModel {
  def tableRows(table: String): Long = catalog.getOrElse(table, 1000L)
  override def tableWidth(table: String): Long =
    widths.getOrElse(table, 16L)
  override def columnRange(column: String): Option[(Long, Long)] =
    ranges.get(column)
  override def columnRangeStr(column: String): Option[(String, String)] =
    strRanges.get(column)
  override def columnNdv(column: String): Option[Long] = ndvs.get(column)
}

/** A base model plus runtime-observed filter cardinalities keyed by the
  * exact predicate — the adaptive re-planning loop's second pass: plan
  * with estimates, execute (or probe) once, feed the measured rows back,
  * re-search. [[StatsModel.observedFilterRows]] wins over every static
  * estimate, exactly as AQE's runtime stage statistics override Spark's
  * logical estimates at re-planning time.
  */
final case class FeedbackStats(base: StatsModel,
    observed: Map[Expr, Long]) extends StatsModel {
  def tableRows(table: String): Long = base.tableRows(table)
  override def tableWidth(table: String): Long = base.tableWidth(table)
  override def columnRange(column: String): Option[(Long, Long)] =
    base.columnRange(column)
  override def columnRangeStr(column: String): Option[(String, String)] =
    base.columnRangeStr(column)
  override def columnNdv(column: String): Option[Long] =
    base.columnNdv(column)
  override def observedFilterRows(pred: Expr): Option[Long] =
    observed.get(pred).orElse(base.observedFilterRows(pred))
}

/** Rows-touched cost: scans pay their output, filters/projections pay their
  * input, a hash join pays 2x its BUILD side (hash-table construction +
  * memory residency) plus 1x its probe side, a sort pays n·log2(n). Build
  * side = RIGHT input, matching the Catalyst strategy's default
  * (`graft.rules.Join2HashJoinStrategy` builds right unless stats say
  * otherwise) — so commuting a join to put the small input on the right is
  * strictly cheaper, the decision the constant model cannot make.
  */
final class CardinalityCostModel extends CostModel {
  def operatorCost(op: PhysicalOp, inputRows: Seq[Long]): Double = op match {
    case PhysicalTableScan(_, _, _, _) => 1.0 // output rows priced by parent
    case PhysicalFilter(_, _)      => inputRows.head.toDouble
    case PhysicalProject(_)        => inputRows.head.toDouble
    case PhysicalJoin(s, _, _) => s match {
      case JoinStrategy.ShuffledHash =>
        inputRows(0).toDouble + 2.0 * inputRows(1).toDouble
      // never chosen under this model (replication factor 2W > the hash
      // join's 2x build) — the single-node model sees no shuffle to
      // avoid. ClusterCostModel is where the tradeoff exists.
      case JoinStrategy.Broadcast =>
        inputRows(0).toDouble +
          2.0 * ClusterCostModel.W * inputRows(1).toDouble
      // one interleaved streaming pass over both (already-sorted,
      // already-co-partitioned) inputs — the sorts and exchanges it
      // REQUIRES are explicit child-plan operators (enforcers), priced
      // where they stand; when a clustered base-table layout or a
      // reusable sort satisfies them for free, none appear and the merge
      // is the whole price. That asymmetry vs the 2x build of a hash join
      // is exactly the interesting-orders tradeoff the goldens pin.
      case JoinStrategy.SortMerge =>
        inputRows(0).toDouble + inputRows(1).toDouble
    }
    case PhysicalSort(_)           =>
      val n = inputRows.head.toDouble
      n * (math.log(n + 1.0) / math.log(2.0))
    // one streaming pass over a BOUNDED k-heap: the per-row work is one
    // compare against the current k-th element (heap updates fire only
    // on improvement — O(k·log(n/k)) total, amortized ~0/row), so the
    // pass prices like a filter pass, not n·log2(k). The r10 grounded
    // calibration measured exactly this: 1.5M rows through TopK(50) in
    // 0.086 s — the same per-row rate as the 6M-row filter pass (0.120 s)
    // — where the old n·log2(k+1) factor claimed the heap pass was 5.7×
    // a row-touch (CASCADES.md, grounded table). Still strictly cheaper
    // than the n·log2(n) sort for any k < n, so top-k keeps beating
    // sort-then-limit.
    case PhysicalTopK(_, _)        => inputRows.head.toDouble
    // a hash aggregate touches every input row once (probe + update)
    case PhysicalHashAggregate(_, _, _) => inputRows.head.toDouble
    // a shuffle serializes + transfers every input row (2x a plain
    // row-touch pass); a gather additionally funnels through one task
    case PhysicalExchange(keys)    =>
      val n = inputRows.head.toDouble
      if (keys.isEmpty) 3.0 * n else 2.0 * n
  }
}

object ClusterCostModel {
  /** Modeled executor count: what broadcast replication multiplies by.
    * Spark's analog is the implicit ratio behind autoBroadcastJoinThreshold
    * — replicating the build side W times must beat shuffling both sides
    * once. Small on purpose: the golden tests want both outcomes reachable
    * with reference-sized catalogs.
    */
  val W = 8
}

/** Re-price an EXTRACTED physical plan outside the memo: the identical
  * bottom-up accumulation the cascades winner comparison performs —
  * `operatorCost` over derived child cardinalities/widths, summed over
  * the tree. Because enforcers are explicit plan nodes and `derive` is a
  * pure function of (operator, child cards), this equals the memo's
  * winner cost for the plan it extracted ([[graft.CascadesExecSpec]]
  * pins the equality). Used by the calibration dump (CASCADES.md, r9
  * directive #7): predicted cost vs measured runtime per executed query.
  */
object PlanCost {
  def total(plan: PlanNode, cost: CostModel, stats: StatsModel): Double = {
    def walk(p: PlanNode): (Long, Long, Double) = {
      val kids = p.inputs.map(walk)
      val card = stats.derive(p.op, kids.map(_._1))
      val width = stats.deriveWidth(p.op, kids.map(_._2))
      val own = cost.operatorCost(p.op.asInstanceOf[PhysicalOp],
        kids.map(_._1), kids.map(_._2))
      (card, width, own + kids.map(_._3).sum)
    }
    walk(plan)._3
  }
}

/** [[CardinalityCostModel]] plus the terms a CLUSTER pays for a join's
  * data placement, folded into the join operators themselves (the mini IR
  * tracks no base-table partitioning, so a shuffled hash join always pays
  * its two exchanges and a broadcast join always pays W-fold build
  * replication):
  *
  *  - shuffled hash join: both sides exchange once (2 rows-touched each,
  *    the [[PhysicalExchange]] price) + probe + 2x build hash table;
  *  - broadcast hash join: NO exchanges — the build side is serialized
  *    once and materialized on each of W executors (W x 2 build), probe
  *    streams in place.
  *
  * Crossover at build = probe / (2W - 2 - 2) ≈ probe/12 for W=8: a small
  * dimension broadcasts, a comparable-size build side shuffles — decided
  * by the memo's winner comparison, not a size threshold. The default
  * search's model (`CascadesExecOps.search`).
  */
final class ClusterCostModel extends CostModel {
  private val base = new CardinalityCostModel
  def operatorCost(op: PhysicalOp, inputRows: Seq[Long]): Double = op match {
    case PhysicalJoin(JoinStrategy.ShuffledHash, _, _) =>
      2.0 * inputRows(0).toDouble + 2.0 * inputRows(1).toDouble +
        inputRows(0).toDouble + 2.0 * inputRows(1).toDouble
    // a broadcast join's base price already is its cluster price
    case other => base.operatorCost(other, inputRows)
  }
}

/** [[ClusterCostModel]] with the join placement terms priced in BYTES
  * (rows × derived bytes-per-row, normalized to 16-byte row-equivalents
  * so non-join costs stay commensurate). This is the axis Spark's
  * autoBroadcastJoinThreshold actually cuts on: a build side of FEW but
  * WIDE rows (a dimension carrying embeddings, say) is cheap on the
  * row-count model but W-fold replication of its bytes is not — the
  * byte-weighted decision flips to the shuffled join while a narrow
  * same-row-count build still broadcasts. The reference's cost framework
  * is the stub this completes (`cost/trivial.rs:23-29` — constant cost,
  * no statistics at all).
  */
final class ByteWeightedClusterCostModel extends CostModel {
  private val base = new ClusterCostModel
  def operatorCost(op: PhysicalOp, inputRows: Seq[Long]): Double =
    base.operatorCost(op, inputRows)
  override def operatorCost(op: PhysicalOp, inputRows: Seq[Long],
      inputWidths: Seq[Long]): Double = op match {
    case PhysicalJoin(s, _, _) =>
      // row-equivalents: bytes moved / default row width
      val probe = inputRows(0).toDouble * inputWidths(0).toDouble / 16.0
      val build = inputRows(1).toDouble * inputWidths(1).toDouble / 16.0
      s match {
        case JoinStrategy.ShuffledHash => // 2 exchanges + probe + 2x build
          2.0 * probe + 2.0 * build + probe + 2.0 * build
        case JoinStrategy.SortMerge =>
          // one interleaved streaming pass over both sides' BYTES — the
          // required child sorts/exchanges are explicit enforcer nodes,
          // priced where they stand (as in CardinalityCostModel), so the
          // merge itself stays 1x each side; without this case SMJ fell
          // through to the ROW-count price and was systematically
          // underpriced for wide rows vs the byte-priced hash joins
          probe + build
        case JoinStrategy.Broadcast => // build BYTES to each of W executors
          probe + 2.0 * ClusterCostModel.W * build
      }
    case other => base.operatorCost(other, inputRows)
  }
}
