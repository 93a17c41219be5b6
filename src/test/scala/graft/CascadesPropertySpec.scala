package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.cascades._
import graft.cascades.JoinStrategy._

/** Property-based hardening of MiniCascades over randomized logical plan
  * trees (raw ScalaCheck generators driven by fixed seeds — deterministic,
  * no scalatest bridge needed). The reference's own tests cover five
  * hand-written shapes against empty tables; these properties pin the
  * search's universal invariants across hundreds of generated trees:
  * totality, physical-only output, enforcer soundness for both property
  * shapes, optimality no worse than the naive 1:1 implementation, and
  * group-merge cost neutrality.
  */
class CascadesPropertySpec extends GraftSuite {

  private val tables = Seq("t1", "t2", "t3")
  private val stats = TableStats(
    Map("t1" -> 100000L, "t2" -> 500L, "t3" -> 40L))
  private val cols = Seq("a", "b", "c")

  private def genCol: Gen[Col] = Gen.oneOf(cols).map(Col)

  private def genCond: Gen[EqCond] =
    for { l <- genCol; r <- genCol } yield EqCond(l, r)

  /** Random logical tree of bounded depth; `withLimit` gates LogicalLimit
    * (the cost-bound property excludes it — the IR has NO physical limit,
    * so a naive 1:1 translation of Limit does not exist by design).
    */
  private def genPlan(depth: Int, withLimit: Boolean): Gen[PlanNode] = {
    val scan = for {
      t <- Gen.oneOf(tables)
      lim <- Gen.option(Gen.choose(1, 50))
    } yield PlanNode(LogicalScan(t, if (withLimit) lim else None))
    if (depth <= 0) scan
    else {
      val child = Gen.lzy(genPlan(depth - 1, withLimit))
      val filter = for { c <- child; p <- genCond }
        yield PlanNode(LogicalFilter(p, Nil), Seq(c))
      val project = for { c <- child; e <- genCol }
        yield PlanNode(LogicalProject(Seq(e)), Seq(c))
      val join = for {
        l <- child; r <- child
        // all three IR join types: the Join2HashJoin bug this spec found
        // was exactly non-inner joins never gaining a physical member
        jt <- Gen.frequency(3 -> Gen.const(JoinType.Inner),
          1 -> Gen.const(JoinType.Left), 1 -> Gen.const(JoinType.Full))
        cond <- genCond
      } yield PlanNode(LogicalJoin(jt, cond), Seq(l, r))
      val limit = for { c <- child; n <- Gen.choose(1, 100) }
        yield PlanNode(LogicalLimit(n), Seq(c))
      val ops = if (withLimit) Seq(4 -> scan, 2 -> filter, 2 -> project,
        2 -> join, 1 -> limit)
      else Seq(4 -> scan, 2 -> filter, 2 -> project, 2 -> join)
      Gen.frequency(ops: _*)
    }
  }

  private def sample(g: Gen[PlanNode], seed: Long): PlanNode =
    g.apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(fail(s"generator exhausted at seed $seed"))

  private def physicalOps(p: PlanNode): Seq[Operator] =
    p.op +: p.inputs.flatMap(physicalOps)

  /** Total cost of a physical tree under the cardinality model. */
  private def planCost(p: PlanNode): Double = {
    def rows(n: PlanNode): Long = stats.derive(n.op, n.inputs.map(rows))
    def c(n: PlanNode): Double =
      n.inputs.map(c).sum + new CardinalityCostModel().operatorCost(
        n.op.asInstanceOf[PhysicalOp], n.inputs.map(rows))
    c(p)
  }

  /** The naive 1:1 logical→physical translation (always in the search
    * space via the implementation rules, so the optimum can never cost
    * more).
    */
  private def naive(p: PlanNode): PlanNode = p.op match {
    case LogicalScan(t, l, b, so) => PlanNode(PhysicalTableScan(t, l, b, so))
    case LogicalFilter(c, j) => PlanNode(PhysicalFilter(c, j),
      p.inputs.map(naive))
    case LogicalProject(e)   => PlanNode(PhysicalProject(e),
      p.inputs.map(naive))
    case LogicalJoin(jt, c)  => PlanNode(PhysicalJoin(ShuffledHash, jt, c),
      p.inputs.map(naive))
    case other => fail(s"unexpected logical op in naive translation: $other")
  }

  private val Trials = 150

  /** A Limit node is absorbable iff everything between it and a Scan is
    * Projections (or further Limits): the reference's only limit rules are
    * merge-adjacent, push-over-projection, and push-into-scan — and the IR
    * has NO physical limit, so a Limit stuck above a Filter or Join makes
    * the whole plan unimplementable BY DESIGN (`operator/physical.rs:15-20`).
    */
  private def allLimitsAbsorbable(p: PlanNode): Boolean = {
    def absorbableBelow(n: PlanNode): Boolean = n.op match {
      case _: LogicalScan    => true
      case _: LogicalProject => absorbableBelow(n.inputs.head)
      case _: LogicalLimit   => absorbableBelow(n.inputs.head)
      case _                 => false
    }
    def walk(n: PlanNode): Boolean = (n.op match {
      case _: LogicalLimit => absorbableBelow(n.inputs.head)
      case _               => true
    }) && n.inputs.forall(walk)
    walk(p)
  }

  test("optimize is total over limit-free trees, physical-only output") {
    (1 to Trials).foreach { seed =>
      val plan = sample(genPlan(3, withLimit = false), seed.toLong)
      val out = TestRules.golden(
        costModel = new CardinalityCostModel, stats = stats).optimize(plan)
      assert(out.isDefined, s"seed $seed: no plan for\n${plan.explain()}")
      assert(physicalOps(out.get).forall(!_.isLogical),
        s"seed $seed: logical op survived:\n${out.get.explain()}")
    }
  }

  test("limit plans: solvable exactly when every limit is absorbable, " +
    "and solved plans hold no limit") {
    (1 to Trials).foreach { seed =>
      val plan = sample(genPlan(3, withLimit = true), seed.toLong)
      val out = TestRules.golden(
        costModel = new CardinalityCostModel, stats = stats).optimize(plan)
      assert(out.isDefined == allLimitsAbsorbable(plan),
        s"seed $seed: defined=${out.isDefined} but absorbable=" +
          s"${allLimitsAbsorbable(plan)} for\n${plan.explain()}")
      // the IR has no physical limit: every absorbed limit lands in a scan
      out.foreach(o => assert(!o.explain().contains("Limit"),
        s"seed $seed: unabsorbed limit:\n${o.explain()}"))
    }
  }

  test("required order is enforced: a PhysicalSort on the delivered plan") {
    val req = PhysicalPropertySet(order = OrderSpec.SortedBy.asc(Seq(Col("a"))))
    (1 to Trials).foreach { seed =>
      val plan = sample(genPlan(3, withLimit = false), seed.toLong)
      val out = TestRules.golden(
        costModel = new CardinalityCostModel, stats = stats)
        .optimize(plan, req)
      assert(out.isDefined, s"seed $seed")
      // only PhysicalSort delivers an order, so it must appear
      assert(physicalOps(out.get).exists {
        case PhysicalSort(cs) => cs == Seq(SortKey(Col("a")))
        case _                => false
      }, s"seed $seed: no enforcing sort:\n${out.get.explain()}")
    }
  }

  test("required hash distribution is enforced: a PhysicalExchange appears") {
    val req = PhysicalPropertySet(
      distribution = DistributionSpec.Hashed(Seq(Col("b"))))
    (1 to Trials).foreach { seed =>
      val plan = sample(genPlan(3, withLimit = false), seed.toLong)
      val out = TestRules.golden(
        costModel = new CardinalityCostModel, stats = stats)
        .optimize(plan, req)
      assert(out.isDefined, s"seed $seed")
      // scans deliver Random and joins/filters at best pass through, so
      // only the exchange enforcer can establish Hashed(b)
      assert(physicalOps(out.get).exists {
        case PhysicalExchange(ks) => ks == Seq(Col("b"))
        case _                    => false
      }, s"seed $seed: no enforcing exchange:\n${out.get.explain()}")
    }
  }

  test("Random root requirement is rejected loudly, not a silent None") {
    // no enforcer produces Random and only bare scans deliver it: accepting
    // it would make optimize() return None for every non-scan root
    val req = PhysicalPropertySet(distribution = DistributionSpec.Random)
    val plan = sample(genPlan(3, withLimit = false), 1L)
    val e = intercept[IllegalArgumentException] {
      TestRules.golden(
        costModel = new CardinalityCostModel, stats = stats)
        .optimize(plan, req)
    }
    assert(e.getMessage.contains("Random"))
  }

  test("optimum never costs more than the naive 1:1 implementation") {
    (1 to Trials).foreach { seed =>
      val plan = sample(genPlan(3, withLimit = false), seed.toLong)
      val out = TestRules.golden(
        costModel = new CardinalityCostModel, stats = stats).optimize(plan)
      assert(out.isDefined, s"seed $seed")
      val best = planCost(out.get)
      val base = planCost(naive(plan))
      assert(best <= base + 1e-6,
        s"seed $seed: optimizer regressed cost $best > naive $base for\n" +
          s"${plan.explain()}\n=>\n${out.get.explain()}")
    }
  }

  // --- join-order enumeration (associativity + commutation) ---

  /** Random left-deep 4-table chain: distinct per-table columns (u_i owns
    * x_i only), each level's condition links the incoming table to a
    * uniformly chosen table already below — sometimes adjacent (rotatable),
    * sometimes the left-most (the rule must abstain). Table sizes are drawn
    * independently so the cheapest order varies per seed.
    */
  private val chainTables = (1 to 4).map(i => s"u$i")
  private val chainCatalog =
    chainTables.zipWithIndex.map { case (t, i) => t -> Seq(s"x${i + 1}") }.toMap
  private def genChain: Gen[(PlanNode, TableStats)] = for {
    sizes <- Gen.listOfN(4, Gen.oneOf(10L, 1000L, 100000L))
    links <- Gen.sequence[Seq[Int], Int]((1 to 3).map(i => Gen.choose(0, i - 1)))
  } yield {
    val plan = (1 until 4).foldLeft(PlanNode(LogicalScan("u1"))) { (acc, i) =>
      PlanNode(
        LogicalJoin(JoinType.Inner,
          EqCond(Col(s"x${links(i - 1) + 1}"), Col(s"x${i + 1}"))),
        Seq(acc, PlanNode(LogicalScan(s"u${i + 1}"))))
    }
    (plan, TableStats(chainTables.zip(sizes).toMap))
  }

  /** The winner of chain `seed` under every join strategy, required
    * sorted on the join key of its first join.
    */
  private def chainWinner(seed: Int): Option[PlanNode] = {
    val (plan, st) = genChain(Gen.Parameters.default, Seed(seed.toLong))
      .getOrElse(fail(s"generator exhausted at seed $seed"))
    val key = plan.op match {
      case LogicalJoin(_, cond) => cond.left
      case op                   => fail(s"chain root is $op")
    }
    TestRules.golden(TestRules.fullJoinStrategyRules,
      costModel = new ClusterCostModel, stats = st, columns = chainCatalog)
      .optimize(plan, PhysicalPropertySet(
        order = OrderSpec.SortedBy.asc(Seq(key))))
  }

  test("join enumeration never worsens the optimum") {
    (1 to Trials).foreach { seed =>
      val (plan, st) = genChain(Gen.Parameters.default, Seed(seed.toLong))
        .getOrElse(fail(s"generator exhausted at seed $seed"))
      def run(rules: Seq[OptRule]): Double = {
        val out = new CascadesOptimizer(rules,
          costModel = new CardinalityCostModel, stats = st,
          columns = chainCatalog).optimize(plan)
        assert(out.isDefined, s"seed $seed: no plan")
        assert(physicalOps(out.get).forall(!_.isLogical), s"seed $seed")
        def rows(n: PlanNode): Long = st.derive(n.op, n.inputs.map(rows))
        def c(n: PlanNode): Double =
          n.inputs.map(c).sum + new CardinalityCostModel().operatorCost(
            n.op.asInstanceOf[PhysicalOp], n.inputs.map(rows))
        c(out.get)
      }
      val plain = run(Rules.all)
      val enumerated = run(Rules.joinEnumerationRules)
      assert(enumerated <= plain + 1e-6,
        s"seed $seed: enumeration regressed $plain -> $enumerated for\n" +
          plan.explain())
    }
  }

  /** Ground-truth join-order optimum by subset DP over every connected
    * binary tree (bushy included): rows(S) is tree-independent under the
    * max-cardinality join estimate, so dp(S) = min over connected splits
    * (A,B) of dp(A) + dp(B) + rows(A) + 2·rows(B); leaves cost 1.0 —
    * the same pricing as [[CardinalityCostModel]].
    */
  private def bruteForceOptimum(
      names: Seq[String], st: TableStats, conds: Seq[(Int, Int)]): Double = {
    val chainTables = names
    val rowsOfTable = chainTables.map(st.tableRows)
    val memo = scala.collection.mutable.Map[Set[Int], Double]()
    def rowsOf(s: Set[Int]): Long = s.map(rowsOfTable).max
    def dp(s: Set[Int]): Double =
      if (s.size == 1) 1.0
      else memo.getOrElseUpdate(s, {
        val splits = for {
          a <- s.subsets().toSeq if a.nonEmpty && a != s
          b = s -- a
          if conds.exists { case (x, y) =>
            (a(x) && b(y)) || (a(y) && b(x)) }
        } yield dp(a) + dp(b) + rowsOf(a).toDouble + 2.0 * rowsOf(b)
        // a subset with no internal bridging condition cannot be built
        // as a subtree — unreachable, not an error (the full set is
        // always connected: the generator links every table to one below)
        if (splits.isEmpty) Double.PositiveInfinity else splits.min
      })
    dp(chainTables.indices.toSet)
  }

  /** Extract the chain's (tableIdx, tableIdx) condition edges from the
    * generated plan (column x_k belongs to table u_k by construction). */
  private def condEdges(p: PlanNode): Seq[(Int, Int)] = {
    val own = p.inputs.flatMap(condEdges)
    p.op match {
      case LogicalJoin(_, EqCond(Col(l), Col(r))) =>
        own :+ ((l.drop(1).toInt - 1, r.drop(1).toInt - 1))
      case _ => own
    }
  }

  test("masked enumeration achieves the brute-force subset-DP optimum " +
      "on every generated chain up to 6 tables (the documented " +
      "applied-rule-mask incompleteness does not bite here)") {
    var gapSeeds = List.empty[(Int, Int)]
    for (n <- 4 to 6; seed <- 1 to Trials / 3) {
      val names = (1 to n).map(i => s"u$i")
      val catalog =
        names.zipWithIndex.map { case (t, i) => t -> Seq(s"x${i + 1}") }.toMap
      val gen: Gen[(PlanNode, TableStats)] = for {
        sizes <- Gen.listOfN(n, Gen.oneOf(10L, 1000L, 100000L))
        links <- Gen.sequence[Seq[Int], Int](
          (1 until n).map(i => Gen.choose(0, i - 1)))
      } yield {
        val plan = (1 until n).foldLeft(PlanNode(LogicalScan("u1"))) {
          (acc, i) =>
            PlanNode(
              LogicalJoin(JoinType.Inner,
                EqCond(Col(s"x${links(i - 1) + 1}"), Col(s"x${i + 1}"))),
              Seq(acc, PlanNode(LogicalScan(s"u${i + 1}"))))
        }
        (plan, TableStats(names.zip(sizes).toMap))
      }
      val (plan, st) = gen(Gen.Parameters.default, Seed(seed.toLong))
        .getOrElse(fail(s"generator exhausted at n=$n seed $seed"))
      def run(rules: Seq[OptRule]): Double = {
        val out = new CascadesOptimizer(rules,
          costModel = new CardinalityCostModel, stats = st,
          columns = catalog).optimize(plan)
        def rows(nd: PlanNode): Long = st.derive(nd.op, nd.inputs.map(rows))
        def c(nd: PlanNode): Double =
          nd.inputs.map(c).sum + new CardinalityCostModel().operatorCost(
            nd.op.asInstanceOf[PhysicalOp], nd.inputs.map(rows))
        c(out.get)
      }
      val opt = bruteForceOptimum(names, st, condEdges(plan))
      val enumd = run(Rules.joinEnumerationRules)
      val plain = run(Rules.all)
      assert(opt <= enumd + 1e-6,
        s"n=$n seed $seed: memo search beat exhaustive DP ($enumd < $opt)" +
          s" — the DP or the stats derivation is wrong for\n${plan.explain()}")
      assert(enumd <= plain + 1e-6, s"n=$n seed $seed: $enumd > $plain")
      if (enumd > opt + 1e-6) gapSeeds ::= ((n, seed))
    }
    // EMPIRICAL COMPLETENESS PIN. The rule docs caution that the
    // per-expression applied-rule mask (bindings appearing after a rule
    // fired on an expression are not revisited, matching the reference
    // task engine's fire-once mask) could make one-direction rotation +
    // commutation an INCOMPLETE enumeration. Measured against an
    // exhaustive subset-DP optimum (bushy trees included) over 150
    // random 4/5/6-table chains: the masked search reached the optimum
    // on EVERY one — zero gap seeds. So the caveat stands unobserved at
    // these sizes; if this assertion ever fires after a search-engine
    // change, the mask gap has become real — record the (n, seed) pairs
    // and decide whether to keep the mask.
    assert(gapSeeds.isEmpty,
      s"applied-rule-mask gap appeared at (n,seed)=${gapSeeds.reverse}: " +
        "the masked enumeration no longer reaches the exhaustive optimum")
  }

  // --- round 7: sort-merge join, clustered layouts, order pushdown ---

  /** genPlan with randomly CLUSTERED scans (bucketBy, and sometimes
    * sortBy, on one random column) — the layout axis the SMJ search
    * exploits.
    */
  private def genLayoutPlan(depth: Int): Gen[PlanNode] = {
    val scan = for {
      t <- Gen.oneOf(tables)
      layout <- Gen.option(for {
        k <- genCol
        sorted <- Gen.oneOf(true, false)
      } yield (Seq(k), if (sorted) Seq(k) else Nil))
    } yield PlanNode(layout match {
      case Some((b, so)) => LogicalScan(t, None, b, so)
      case None          => LogicalScan(t)
    })
    if (depth <= 0) scan
    else {
      val child = Gen.lzy(genLayoutPlan(depth - 1))
      val filter = for { c <- child; p <- genCond }
        yield PlanNode(LogicalFilter(p, Nil), Seq(c))
      val project = for { c <- child; e <- genCol }
        yield PlanNode(LogicalProject(Seq(e)), Seq(c))
      val join = for {
        l <- child; r <- child
        jt <- Gen.frequency(3 -> Gen.const(JoinType.Inner),
          1 -> Gen.const(JoinType.Left), 1 -> Gen.const(JoinType.Full))
        cond <- genCond
      } yield PlanNode(LogicalJoin(jt, cond), Seq(l, r))
      Gen.frequency(4 -> scan, 2 -> filter, 2 -> project, 2 -> join)
    }
  }

  /** Bottom-up DELIVERED properties of a physical tree — the test-side
    * mirror of [[PhysicalPropertySet]] delivery + the pushdown
    * passthrough rules (what the optimizer CLAIMS must be independently
    * derivable from the plan it returns).
    */
  private def deliveredProps(p: PlanNode): PhysicalPropertySet = {
    val op = p.op.asInstanceOf[PhysicalOp]
    val childProps = p.inputs.map(deliveredProps)
    def keptBy(cols: Seq[Col], keys: Seq[SortKey]): Boolean =
      cols.isEmpty || keys.forall(k => cols.contains(k.col))
    def keptByCols(cols: Seq[Col], keys: Seq[Col]): Boolean =
      cols.isEmpty || keys.forall(cols.contains)
    val selfOrd = PhysicalPropertySet.deliveredOrder(op)
    val ord =
      if (selfOrd != OrderSpec.AnyOrder) selfOrd
      else op match {
        case PhysicalFilter(_, projected) => childProps.head.order match {
          case s @ OrderSpec.SortedBy(ks) if keptBy(projected, ks) => s
          case _ => OrderSpec.AnyOrder
        }
        case PhysicalProject(exprs) => childProps.head.order match {
          case s @ OrderSpec.SortedBy(ks)
              if ks.forall(k => exprs.contains(k.col)) => s
          case _ => OrderSpec.AnyOrder
        }
        case _ => OrderSpec.AnyOrder
      }
    val selfDist = PhysicalPropertySet.deliveredDistribution(op)
    val dist =
      if (selfDist != DistributionSpec.Any &&
        selfDist != DistributionSpec.Random) selfDist
      else op match {
        case _: PhysicalSort => childProps.head.distribution
        case PhysicalFilter(_, projected) =>
          childProps.head.distribution match {
            case h @ DistributionSpec.Hashed(ks)
              if keptByCols(projected, ks) => h
            case DistributionSpec.Singleton => DistributionSpec.Singleton
            case _ => DistributionSpec.Any
          }
        case PhysicalProject(exprs) => childProps.head.distribution match {
          case h @ DistributionSpec.Hashed(ks) if ks.forall(exprs.contains) =>
            h
          case DistributionSpec.Singleton => DistributionSpec.Singleton
          case _ => DistributionSpec.Any
        }
        case PhysicalJoin(ShuffledHash | Broadcast, jt, cond)
            if jt == JoinType.Inner || jt == JoinType.Left =>
          childProps(0).distribution match {
            case h @ DistributionSpec.Hashed(ks) if ks == Seq(cond.left) => h
            case _ => DistributionSpec.Any
          }
        case _ => selfDist
      }
    PhysicalPropertySet(dist, ord)
  }

  test("layout trees: optimize stays total under random required " +
      "properties, and the returned plan INDEPENDENTLY derives as " +
      "delivering them (order pushdown included)") {
    (1 to Trials).foreach { seed =>
      val plan = sample(genLayoutPlan(3), seed.toLong)
      val req = PhysicalPropertySet(
        distribution =
          if (seed % 3 == 0) DistributionSpec.Hashed(Seq(Col("a")))
          else if (seed % 3 == 1) DistributionSpec.Singleton
          else DistributionSpec.Any,
        order =
          if (seed % 2 == 0) OrderSpec.SortedBy.asc(Seq(Col("b")))
          else OrderSpec.AnyOrder)
      val out = TestRules.golden(TestRules.fullJoinStrategyRules,
        costModel = new ClusterCostModel, stats = stats)
        .optimize(plan, req)
      assert(out.isDefined, s"seed $seed: no plan for\n${plan.explain()}")
      val got = deliveredProps(out.get)
      assert(got.satisfies(req),
        s"seed $seed: delivered $got does not satisfy $req:\n" +
          out.get.explain())
    }
  }

  test("every sort-merge join in a returned plan has children that " +
      "independently deliver its Hashed+SortedBy contract") {
    var found = 0
    (1 to Trials).foreach { seed =>
      val plan = sample(genLayoutPlan(3), seed.toLong)
      val out = TestRules.golden(TestRules.fullJoinStrategyRules,
        costModel = new ClusterCostModel, stats = stats)
        .optimize(plan).get
      def walk(n: PlanNode): Unit = {
        n.op match {
          case PhysicalJoin(SortMerge, _, cond) =>
            found += 1
            val lp = deliveredProps(n.inputs(0))
            val rp = deliveredProps(n.inputs(1))
            val lreq = PhysicalPropertySet(
              DistributionSpec.Hashed(Seq(cond.left)),
              OrderSpec.SortedBy.asc(Seq(cond.left)))
            val rreq = PhysicalPropertySet(
              DistributionSpec.Hashed(Seq(cond.right)),
              OrderSpec.SortedBy.asc(Seq(cond.right)))
            assert(lp.satisfies(lreq),
              s"seed $seed: left delivers $lp, needs $lreq:\n${n.explain()}")
            assert(rp.satisfies(rreq),
              s"seed $seed: right delivers $rp, needs $rreq:\n${n.explain()}")
          case _ =>
        }
        n.inputs.foreach(walk)
      }
      walk(out)
    }
    // clustered layouts make merge joins worth choosing somewhere in the
    // sample — a zero count means the rule stopped participating
    assert(found > 0, "no sort-merge join chosen across the whole sample")
  }

  test("adding the merge-join strategy never worsens the optimum") {
    (1 to Trials).foreach { seed =>
      val plan = sample(genLayoutPlan(3), seed.toLong)
      def cost(rules: Seq[OptRule]): Double = {
        val opt = TestRules.golden(rules,
          costModel = new ClusterCostModel, stats = stats)
        val (out, memo) = opt.optimizeWithMemo(plan)
        assert(out.isDefined, s"seed $seed")
        memo.group(memo.root).winner(PhysicalPropertySet.default).get.cost
      }
      val without = cost(TestRules.joinStrategyRules)
      val withSmj = cost(TestRules.fullJoinStrategyRules)
      assert(withSmj <= without + 1e-9,
        s"seed $seed: SMJ rule worsened $without -> $withSmj")
    }
  }

  test("generated winners lower to resolved Catalyst that needs no " +
      "analysis, or fail in Execution.lower naming the column") {
    // the chain tables own one column each (u_i has x_i); every other
    // table has the generators' columns; each read is a fresh relation,
    // as a catalog's reads are
    val catalog: String => DataFrame = {
      case t if chainCatalog.contains(t) =>
        spark.range(3).selectExpr(s"id AS ${chainCatalog(t).head}")
      case _ =>
        spark.range(3).selectExpr("id AS a", "id * 2 AS b", "id % 2 AS c")
    }
    val winners = (1 to Trials).flatMap { seed =>
      val layoutReq = PhysicalPropertySet(
        distribution =
          if (seed % 3 == 0) DistributionSpec.Hashed(Seq(Col("a")))
          else if (seed % 3 == 1) DistributionSpec.Singleton
          else DistributionSpec.Any,
        order =
          if (seed % 2 == 0) OrderSpec.SortedBy.asc(Seq(Col("b")))
          else OrderSpec.AnyOrder)
      TestRules.golden(costModel = new CardinalityCostModel, stats = stats)
        .optimize(sample(genPlan(3, withLimit = true), seed.toLong)) ++
        TestRules.golden(TestRules.fullJoinStrategyRules,
          costModel = new ClusterCostModel, stats = stats)
          .optimize(sample(genLayoutPlan(3), seed.toLong), layoutReq) ++
        chainWinner(seed)
    }
    // a column that both inputs of a join keep, or that a projection
    // below dropped, cannot be named
    val refusal = "column [abc] is (not in|ambiguous in) the input .*"
    val lowered = winners.filter { w =>
      try {
        val df = Execution.lower(w, catalog)
        withClue(w.explain()) {
          assertNeedsNoAnalysis(df)
          assertOptimizedAsFull(df)
        }
        true
      } catch {
        case e: IllegalArgumentException =>
          assert(e.getMessage.matches(refusal), w.explain())
          false
      }
    }
    info(s"${lowered.size} of ${winners.size} winners lowered")
    assert(lowered.size >= winners.size / 2)
    // the lowered ones cover the joins of every strategy and join type
    // and both enforcers; the merge joins come from the chains, whose
    // join columns are named apart
    val ops = lowered.flatMap(physicalOps).map {
      case j: PhysicalJoin => s"${j.strategy} ${j.joinType}"
      case op              => op.getClass.getSimpleName
    }.toSet
    val want = Seq("PhysicalExchange", "PhysicalSort", s"$Broadcast Inner",
      s"$SortMerge Inner") ++
      Seq(JoinType.Inner, JoinType.Left, JoinType.Full)
        .map(t => s"$ShuffledHash $t")
    assert(want.forall(ops), s"not covered: ${want.filterNot(ops)}")
  }
}
