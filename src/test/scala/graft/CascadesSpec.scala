package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cascades._
import graft.cascades.JoinStrategy._
import graft.cascades.OptExpression.{GroupHandle, Node}

/** MiniCascades unit tests, porting the reference's own expectations:
  * memo construction incl. multi-child (`cascades/memo.rs:851-994`),
  * binding single/cartesian (`cascades/binding.rs:125-318`), rule-application
  * semantics (`cascades/task.rs:620-694`), end-to-end join optimization
  * (`cascades/optimizer.rs:97-137`), and the heuristic optimizer's golden
  * limit cases (`datafusion-dolomite-integration/resources/limit.yaml`,
  * `dolomite/src/rules/limit.rs:167-322`).
  */
class CascadesSpec extends AnyFunSuite {

  private def scan(t: String, limit: Option[Int] = None) =
    PlanNode(LogicalScan(t, limit))
  private def join(l: PlanNode, r: PlanNode, lc: String, rc: String) =
    PlanNode(LogicalJoin(JoinType.Inner, EqCond(Col(lc), Col(rc))), Seq(l, r))
  private def limit(n: Int, in: PlanNode) =
    PlanNode(LogicalLimit(n), Seq(in))
  private def project(in: PlanNode, cols: String*) =
    PlanNode(LogicalProject(cols.map(Col(_))), Seq(in))

  // --- memo construction (memo.rs:851-994) ---

  test("memo seeds one group per distinct plan node, bottom-up") {
    val memo = new Memo(NoStats, Map.empty)
    val root = memo.insertPlan(join(scan("t1"), scan("t2"), "c1", "c2"))
    assert(memo.groups.size == 3)
    assert(memo.group(root).logicalExprs.size == 1)
    val joinExpr = memo.group(root).logicalExprs.head
    assert(joinExpr.inputs.size == 2)
  }

  test("memo dedups identical expressions into one group") {
    val memo = new Memo(NoStats, Map.empty)
    memo.insertPlan(join(scan("t1"), scan("t1"), "a", "b"))
    // scan(t1) appears twice but is one group expression
    assert(memo.groups.size == 2)
  }

  test("duplicate-group detection: a rule result is aliased into its " +
      "target group") {
    val memo = new Memo(NoStats, Map.empty)
    val g1 = memo.insertPlan(scan("t1"))
    val g2 = memo.insertPlan(scan("t2"))
    // a rule claims scan(t2) is equivalent to group g1:
    memo.insertOptExpression(Node(LogicalScan("t2"), Nil), g1)
    // aliased into the target group (in place of the merge the reference
    // left unwired), original group untouched:
    assert(memo.group(g1).logicalExprs.map(_.op).toSet ==
      Set(LogicalScan("t1"), LogicalScan("t2")))
    assert(memo.group(g2).logicalExprs.map(_.op).toSet ==
      Set(LogicalScan("t2")))
  }

  // --- binding (binding.rs:125-318) ---

  test("binding: wildcard children bind as group handles") {
    val memo = new Memo(NoStats, Map.empty)
    val root = memo.insertPlan(join(scan("t1"), scan("t2"), "c1", "c2"))
    val e = memo.group(root).logicalExprs.head
    val bound = Binding.bindExpr(memo, e, Rules.CommutateJoinRule.pattern)
    assert(bound.size == 1)
    val Node(op, children) = bound.head
    assert(op == LogicalJoin(JoinType.Inner, EqCond(Col("c1"), Col("c2"))))
    assert(children.forall(_.isInstanceOf[GroupHandle]))
  }

  test("binding: nested pattern takes cartesian product over group members") {
    val memo = new Memo(NoStats, Map.empty)
    val root = memo.insertPlan(limit(10, limit(5, scan("t1"))))
    // add a second equivalent member to the inner limit group
    val innerGroup = memo.group(root).logicalExprs.head.inputs.head
    memo.insertOptExpression(
      Node(LogicalLimit(7),
        Seq(GroupHandle(memo.group(innerGroup).logicalExprs.head.inputs.head))),
      innerGroup)
    val e = memo.group(root).logicalExprs.head
    val bound = Binding.bindExpr(memo, e, Rules.RemoveLimitRule.pattern)
    assert(bound.size == 2) // limit(5) and limit(7) members both bind
  }

  // --- end-to-end cascades (optimizer.rs:97-137) ---

  test("cascades implements join(scan,scan) as hash join over table scans") {
    val plan = join(scan("t1"), scan("t2"), "c1", "c2")
    val out = TestRules.golden().optimize(plan)
    assert(out.isDefined)
    val p = out.get
    p match {
      case PlanNode(PhysicalJoin(ShuffledHash, JoinType.Inner, _),
          Seq(PlanNode(PhysicalTableScan(a, None, _, _), Nil),
              PlanNode(PhysicalTableScan(b, None, _, _), Nil))) =>
        // commutation explored; constant cost model ties → either order wins
        assert(Set(a, b) == Set("t1", "t2"))
      case other => fail(s"unexpected plan:\n${other.explain()}")
    }
  }

  test("cascades pushes limit into scan then implements (golden limit case)") {
    val plan = limit(10, project(limit(5, scan("t1")), "f1"))
    val out = TestRules.golden().optimize(plan)
    assert(out.isDefined)
    out.get match {
      case PlanNode(PhysicalProject(_),
          Seq(PlanNode(PhysicalTableScan("t1", Some(5), _, _), Nil))) =>
      case other => fail(s"unexpected plan:\n${other.explain()}")
    }
  }

  test("cascades cost: join plan costs 3.0 under the constant model") {
    val memo = new Memo(NoStats, Map.empty)
    val plan = join(scan("t1"), scan("t2"), "c1", "c2")
    val opt = TestRules.golden()
    // optimize and re-derive cost by walking: 1 join + 2 scans = 3.0
    val out = opt.optimize(plan).get
    def countOps(p: PlanNode): Int = 1 + p.inputs.map(countOps).sum
    assert(countOps(out) == 3)
  }

  test("plan with un-absorbable limit has no physical implementation") {
    // no physical Limit exists (operator/physical.rs:15-20): a limit that
    // cannot reach a scan cannot be implemented — faithful to the reference.
    val plan = limit(3, join(scan("t1"), scan("t2"), "c1", "c2"))
    assert(TestRules.golden().optimize(plan).isEmpty)
  }

  // --- enforcers (the completed properties/physical.rs:16-24 stub) ---

  test("requiring sorted output inserts PhysicalSort above the hash join") {
    val plan = join(scan("t1"), scan("t2"), "c1", "c2")
    val req = PhysicalPropertySet(order = OrderSpec.SortedBy.asc(Seq(Col("c1"))))
    val out = TestRules.golden().optimize(plan, req)
    assert(out.isDefined)
    out.get match {
      case PlanNode(PhysicalSort(Seq(SortKey(Col("c1"), true, true))),
          Seq(PlanNode(PhysicalJoin(ShuffledHash, JoinType.Inner, _), _))) =>
      case other => fail(s"expected Sort over HashJoin:\n${other.explain()}")
    }
    // the same search without the requirement must NOT pay for a sort
    val unordered = TestRules.golden().optimize(plan).get
    assert(!unordered.explain().contains("PhysicalSort"))
  }

  test("enforcer costs still prune: sorted requirement adds sort cost once") {
    val plan = join(scan("t1"), scan("t2"), "c1", "c2")
    val req = PhysicalPropertySet(order = OrderSpec.SortedBy.asc(Seq(Col("c1"))))
    val (out, memo) = TestRules.golden().optimizeWithMemo(plan, req)
    assert(out.isDefined)
    val sorted = memo.group(memo.root).winner(req).get
    val plain = memo.group(memo.root).winner(PhysicalPropertySet.default).get
    // constant model: sort = +1.0 over the relaxed winner, nothing else
    assert(sorted.cost == plain.cost + 1.0)
  }

  // --- distribution enforcer (properties/distribution.rs:5-19, completed) ---

  test("requiring hashed distribution inserts PhysicalExchange over a scan") {
    val plan = scan("t1")
    val req = PhysicalPropertySet(
      distribution = DistributionSpec.Hashed(Seq(Col("c1"))))
    val out = TestRules.golden().optimize(plan, req)
    assert(out.isDefined)
    out.get match {
      case PlanNode(PhysicalExchange(Seq(Col("c1"))),
          Seq(PlanNode(PhysicalTableScan("t1", None, _, _), Nil))) =>
      case other => fail(s"expected Exchange over TableScan:\n${other.explain()}")
    }
    // the same search without the requirement must NOT pay for an exchange
    val plain = TestRules.golden().optimize(plan).get
    assert(!plain.explain().contains("PhysicalExchange"))
  }

  test("requiring singleton distribution inserts a gather exchange") {
    val req = PhysicalPropertySet(distribution = DistributionSpec.Singleton)
    val out = TestRules.golden().optimize(scan("t1"), req).get
    out match {
      case PlanNode(PhysicalExchange(Nil), Seq(_)) =>
      case other => fail(s"expected gather Exchange:\n${other.explain()}")
    }
    assert(out.explain().contains("PhysicalExchange(gather)"))
  }

  test("exchange enforcer costs still prune: +1 over the relaxed winner") {
    val plan = join(scan("t1"), scan("t2"), "c1", "c2")
    val req = PhysicalPropertySet(
      distribution = DistributionSpec.Hashed(Seq(Col("c1"))))
    val (out, memo) = TestRules.golden().optimizeWithMemo(plan, req)
    assert(out.isDefined)
    val hashed = memo.group(memo.root).winner(req).get
    val plain = memo.group(memo.root).winner(PhysicalPropertySet.default).get
    // constant model: satisfying Hashed adds exactly one operator's cost
    // (one exchange — via pushdown below the join or on top, never both)
    assert(hashed.cost == plain.cost + 1.0)
    assert(countOcc(out.get.explain(), "PhysicalExchange") == 1)
  }

  test("cardinality cost places the exchange above a reducing filter") {
    // filter emits 10% of its input: exchanging 100 rows above it beats
    // exchanging 1000 below — the enforcer-vs-pushdown choice is priced,
    // not hardcoded
    val plan = PlanNode(
      LogicalFilter(EqCond(Col("c1"), Col("c1")), Seq(Col("c1"))),
      Seq(scan("t1")))
    val req = PhysicalPropertySet(
      distribution = DistributionSpec.Hashed(Seq(Col("c1"))))
    val opt = TestRules.golden(
      costModel = new CardinalityCostModel,
      stats = TableStats(Map("t1" -> 1000L)))
    val out = opt.optimize(plan, req).get
    out match {
      case PlanNode(PhysicalExchange(Seq(Col("c1"))),
          Seq(PlanNode(PhysicalFilter(_, _), _))) =>
      case other => fail(s"expected Exchange ABOVE Filter:\n${other.explain()}")
    }
  }

  test("pushdown refuses keys the child cannot preserve") {
    // Requiring Hashed(c2) over join(t1, t2) on c1=c2: an UNVALIDATED
    // pushdown would hash scan(t1) by c2 — a column of t2 — and still
    // claim to deliver Hashed(c2). Legal plans either exchange the join
    // output, or (because CommutateJoinRule also explores the swapped
    // join, whose probe-side key IS c2) exchange t2 below the commuted
    // join. Assert the invalid shape never appears and the plan stays
    // key-correct: every exchange below a join hashes that join's OWN
    // probe-side key, and exactly one exchange is paid for.
    val plan = join(scan("t1"), scan("t2"), "c1", "c2")
    val req = PhysicalPropertySet(
      distribution = DistributionSpec.Hashed(Seq(Col("c2"))))
    val out = TestRules.golden().optimize(plan, req).get
    def walk(p: PlanNode): Unit = p.op match {
      case PhysicalJoin(ShuffledHash, _, cond) =>
        p.inputs.head.op match {
          case PhysicalExchange(keys) =>
            assert(keys == Seq(cond.left),
              s"exchange below a join must hash its probe key:\n${out.explain()}")
          case _ =>
        }
        p.inputs.foreach(walk)
      case PhysicalExchange(keys) =>
        // an exchange directly over a scan must key a column that scan
        // owns — in this plan only t2 owns c2
        p.inputs.head.op match {
          case PhysicalTableScan(t, _, _, _) if keys == Seq(Col("c2")) =>
            assert(t == "t2", s"hashed t1 by t2's column:\n${out.explain()}")
          case _ =>
        }
        p.inputs.foreach(walk)
      case _ => p.inputs.foreach(walk)
    }
    walk(out)
    assert(countOcc(out.explain(), "PhysicalExchange") == 1, out.explain())
    // probe-side key: pushdown IS legal, and exactly one exchange appears
    val reqProbe = PhysicalPropertySet(
      distribution = DistributionSpec.Hashed(Seq(Col("c1"))))
    val probe = TestRules.golden().optimize(plan, reqProbe).get
    assert(countOcc(probe.explain(), "PhysicalExchange") == 1, probe.explain())
  }

  test("singleton never pushes through a join (gather lands on top)") {
    // gathering ONE side of a join does not make its output
    // single-partition — the only legal Singleton plan gathers the output
    val plan = join(scan("t1"), scan("t2"), "c1", "c2")
    val req = PhysicalPropertySet(distribution = DistributionSpec.Singleton)
    val out = TestRules.golden().optimize(plan, req).get
    out match {
      case PlanNode(PhysicalExchange(Nil),
          Seq(PlanNode(PhysicalJoin(ShuffledHash, _, _), _))) =>
      case other => fail(s"expected gather ABOVE the join:\n${other.explain()}")
    }
  }

  test("order + distribution compose: sort lands above the exchange") {
    val plan = join(scan("t1"), scan("t2"), "c1", "c2")
    val req = PhysicalPropertySet(
      distribution = DistributionSpec.Hashed(Seq(Col("c1"))),
      order = OrderSpec.SortedBy.asc(Seq(Col("c1"))))
    val out = TestRules.golden().optimize(plan, req).get
    // an exchange destroys order, so the only correct stacking is
    // Sort(...Exchange...) — sort at the root, exchange somewhere below
    out match {
      case PlanNode(PhysicalSort(Seq(SortKey(Col("c1"), true, true))), _) =>
      case other => fail(s"expected Sort at root:\n${other.explain()}")
    }
    assert(out.explain().contains("PhysicalExchange"))
  }

  private def countOcc(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  // --- statistics + cardinality cost (the completed stat.rs:5-21 stub) ---

  test("memo derives group cardinalities bottom-up from table stats") {
    val stats = TableStats(Map("t1" -> 10000L))
    val memo = new Memo(stats, Map.empty)
    val root = memo.insertPlan(
      limit(7, PlanNode(LogicalFilter(EqCond(Col("a"), Col("b")), Nil),
        Seq(scan("t1")))))
    val limitG = memo.group(root)
    val filterG = memo.group(limitG.logicalExprs.head.inputs.head)
    val scanG = memo.group(filterG.logicalExprs.head.inputs.head)
    assert(scanG.card == 10000L)
    assert(filterG.card == 1000L) // 10% selectivity
    assert(limitG.card == 7L)
  }

  test("cardinality cost + commutation picks the smaller build side") {
    // the decision the reference's constant model provably cannot make
    // (its golden at cascades/optimizer.rs:97-137 is side-agnostic): with
    // build = right input, the search must COMMUTE join(small, big) so the
    // 10-row table is built and the 10000-row table probes
    val stats = TableStats(Map("small" -> 10L, "big" -> 10000L))
    val plan = join(scan("small"), scan("big"), "c1", "c2")
    val opt = TestRules.golden(
      costModel = new CardinalityCostModel, stats = stats)
    val out = opt.optimize(plan)
    assert(out.isDefined)
    out.get match {
      case PlanNode(PhysicalJoin(ShuffledHash, JoinType.Inner, cond),
          Seq(PlanNode(PhysicalTableScan(l, None, _, _), Nil),
              PlanNode(PhysicalTableScan(r, None, _, _), Nil))) =>
        assert(l == "big" && r == "small",
          s"build side should be 'small': got left=$l right=$r")
        // the condition commutes with the inputs
        assert(cond == EqCond(Col("c2"), Col("c1")))
      case other => fail(s"unexpected plan:\n${other.explain()}")
    }
  }

  test("enforcer + cardinality cost compose: sort over the commuted join") {
    // both completions active at once: the search must commute the join
    // for the cheaper build side AND top it with the required sort
    val stats = TableStats(Map("small" -> 10L, "big" -> 10000L))
    val plan = join(scan("small"), scan("big"), "c1", "c2")
    val req = PhysicalPropertySet(order = OrderSpec.SortedBy.asc(Seq(Col("c2"))))
    val out = TestRules.golden(
      costModel = new CardinalityCostModel, stats = stats)
      .optimize(plan, req)
    assert(out.isDefined)
    out.get match {
      case PlanNode(PhysicalSort(Seq(SortKey(Col("c2"), true, true))),
          Seq(PlanNode(PhysicalJoin(ShuffledHash, JoinType.Inner, _),
            Seq(PlanNode(PhysicalTableScan(l, None, _, _), Nil),
                PlanNode(PhysicalTableScan(r, None, _, _), Nil))))) =>
        assert(l == "big" && r == "small",
          s"build side should still be 'small' under the sort: $l/$r")
      case other => fail(s"unexpected plan:\n${other.explain()}")
    }
  }

  // --- heuristic optimizer golden cases (resources/limit.yaml) ---

  test("hep: limit 5 over scan absorbs into the scan (limit.yaml case 2)") {
    val hep = new HepOptimizer(Rules.rewriteRules)
    val out = hep.optimize(limit(5, project(scan("t1"), "f1", "f2")))
    assert(out == project(scan("t1", Some(5)), "f1", "f2"),
      s"got:\n${out.explain()}")
  }

  test("hep: nested limits collapse then absorb") {
    val hep = new HepOptimizer(Rules.rewriteRules)
    val out = hep.optimize(limit(10, limit(5, scan("t1"))))
    assert(out == scan("t1", Some(5)), s"got:\n${out.explain()}")
  }

  test("hep: fixed point leaves non-matching plans untouched") {
    val hep = new HepOptimizer(Rules.rewriteRules)
    val plan = join(scan("t1"), scan("t2"), "c1", "c2")
    assert(hep.optimize(plan) == plan)
  }

  test("hep drops exploration rules (no commutation livelock)") {
    val hep = new HepOptimizer(Rules.all) // includes CommutateJoinRule
    val plan = join(scan("t1"), scan("t2"), "c1", "c2")
    // terminates (no A->B->A flip-flop) and keeps the ORIGINAL orientation;
    // implementation rules still fire, producing the physical form
    hep.optimize(plan) match {
      case PlanNode(PhysicalJoin(ShuffledHash, JoinType.Inner,
        EqCond(Col("c1"), Col("c2"))),
          Seq(PlanNode(PhysicalTableScan("t1", None, _, _), Nil),
              PlanNode(PhysicalTableScan("t2", None, _, _), Nil))) =>
      case other => fail(s"unexpected:\n${other.explain()}")
    }
  }

  test("hep bottom-up match order reaches the same fixed point") {
    val hep = new HepOptimizer(Rules.rewriteRules, MatchOrder.BottomUp)
    assert(hep.optimize(limit(10, limit(5, scan("t1")))) == scan("t1", Some(5)))
    assert(hep.optimize(limit(5, project(scan("t1"), "f1"))) ==
      project(scan("t1", Some(5)), "f1"))
  }

  test("hep respects maxIter cap") {
    val hep = new HepOptimizer(Rules.rewriteRules, maxIter = 0)
    val plan = limit(10, limit(5, scan("t1")))
    assert(hep.optimize(plan) == plan)
  }

  // --- filter pushdown through joins (logical-property-gated rewrite) ---

  private val pushCatalog = Map(
    "t1" -> Seq("c1", "a", "b"),
    "t2" -> Seq("c2", "x"),
    "t3" -> Seq("c3", "y"))
  private def filt(l: String, r: String, in: PlanNode) =
    PlanNode(LogicalFilter(EqCond(Col(l), Col(r)), Nil), Seq(in))
  private def pushHep = new HepOptimizer(
    Rules.rewriteRules :+ Rules.PushFilterThroughJoinRule(pushCatalog))

  test("filter on left-side columns descends below an inner join") {
    val plan = filt("a", "b", join(scan("t1"), scan("t2"), "c1", "c2"))
    assert(pushHep.optimize(plan) ==
      join(filt("a", "b", scan("t1")), scan("t2"), "c1", "c2"))
  }

  test("filter on right-side columns descends to the right input") {
    val plan = filt("x", "x", join(scan("t1"), scan("t2"), "c1", "c2"))
    assert(pushHep.optimize(plan) ==
      join(scan("t1"), filt("x", "x", scan("t2")), "c1", "c2"))
  }

  test("filter descends two join levels to its base table (fixed point)") {
    val inner = join(scan("t1"), scan("t2"), "c1", "c2")
    val outerJ = PlanNode(LogicalJoin(JoinType.Inner,
      EqCond(Col("c1"), Col("c3"))), Seq(inner, scan("t3")))
    val got = pushHep.optimize(filt("a", "b", outerJ))
    val want = PlanNode(LogicalJoin(JoinType.Inner,
      EqCond(Col("c1"), Col("c3"))),
      Seq(join(filt("a", "b", scan("t1")), scan("t2"), "c1", "c2"),
        scan("t3")))
    assert(got == want, s"got:\n${got.explain()}")
  }

  test("outer-join safety: left join pushes left preds only; full never") {
    def joined(jt: JoinType) = PlanNode(
      LogicalJoin(jt, EqCond(Col("c1"), Col("c2"))),
      Seq(scan("t1"), scan("t2")))
    // LEFT + left-side pred: pushes (null-rejecting on the preserved side)
    assert(pushHep.optimize(filt("a", "b", joined(JoinType.Left))) ==
      PlanNode(LogicalJoin(JoinType.Left, EqCond(Col("c1"), Col("c2"))),
        Seq(filt("a", "b", scan("t1")), scan("t2"))))
    // LEFT + right-side pred: refused (would drop null-extended rows)
    val lr = filt("x", "x", joined(JoinType.Left))
    assert(pushHep.optimize(lr) == lr)
    // FULL: refused on either side
    val fl = filt("a", "b", joined(JoinType.Full))
    assert(pushHep.optimize(fl) == fl)
  }

  test("pushdown abstains on ambiguous or uncataloged columns") {
    // c1/c2 live on both sides? no — but a pred mixing sides must abstain
    val mixed = filt("a", "x", join(scan("t1"), scan("t2"), "c1", "c2"))
    assert(pushHep.optimize(mixed) == mixed)
    // a column the catalog does not know resolves to neither side
    val unknown = filt("z", "z", join(scan("t1"), scan("t2"), "c1", "c2"))
    assert(pushHep.optimize(unknown) == unknown)
  }

  test("pushdown composes with the SQL front end") {
    val plan = SqlFrontend.parse(
      "SELECT * FROM t1 JOIN t2 ON c1 = c2 WHERE a = b")
    assert(pushHep.optimize(plan) ==
      join(filt("a", "b", scan("t1")), scan("t2"), "c1", "c2"))
  }

  test("pushdown abstains in the cascades binder (opaque group handles)") {
    val rule = Rules.PushFilterThroughJoinRule(pushCatalog)
    val bound = OptExpression.Node(
      LogicalFilter(EqCond(Col("a"), Col("b")), Nil),
      Seq(OptExpression.Node(
        LogicalJoin(JoinType.Inner, EqCond(Col("c1"), Col("c2"))),
        Seq(OptExpression.GroupHandle(1), OptExpression.GroupHandle(2)))))
    assert(rule(bound, RuleContext.empty).isEmpty)
  }

  // --- column pruning through joins (the Project dual) ---

  private def pruneHep = new HepOptimizer(
    Rules.rewriteRules :+ Rules.PushProjectionThroughJoinRule(pushCatalog))

  test("projection prunes each join input to its output share + join key") {
    val plan = project(join(scan("t1"), scan("t2"), "c1", "c2"), "a", "x")
    val want = project(
      join(project(scan("t1"), "a", "c1"), project(scan("t2"), "x", "c2"),
        "c1", "c2"),
      "a", "x")
    val got = pruneHep.optimize(plan)
    assert(got == want, s"got:\n${got.explain()}")
    // fixpoint: re-optimizing the pruned plan is a no-op
    assert(pruneHep.optimize(got) == got)
  }

  test("pruning recurses through a two-level join tree") {
    val inner = join(scan("t1"), scan("t2"), "c1", "c2")
    val plan = project(PlanNode(LogicalJoin(JoinType.Inner,
      EqCond(Col("c1"), Col("c3"))), Seq(inner, scan("t3"))), "a", "y")
    val got = pruneHep.optimize(plan)
    // outer level: left side keeps (a, c1), right keeps (y, c3); the
    // inserted left Project then fires again over the inner join,
    // pruning t1 to (a, c1) + its key and t2 to just its key
    val innerPruned = project(
      join(project(scan("t1"), "a", "c1"), project(scan("t2"), "c2"),
        "c1", "c2"),
      "a", "c1")
    val want = project(PlanNode(LogicalJoin(JoinType.Inner,
      EqCond(Col("c1"), Col("c3"))),
      Seq(innerPruned, project(scan("t3"), "y", "c3"))), "a", "y")
    assert(got == want, s"got:\n${got.explain()}")
  }

  test("pruning abstains on ambiguous, uncataloged, or non-column exprs") {
    // unknown output column resolves to neither side
    val unknown = project(join(scan("t1"), scan("t2"), "c1", "c2"), "z")
    assert(pruneHep.optimize(unknown) == unknown)
    // non-column projection exprs: abstain (can't attribute them)
    val nonCol = PlanNode(
      LogicalProject(Seq(EqCond(Col("a"), Col("x")))),
      Seq(join(scan("t1"), scan("t2"), "c1", "c2")))
    assert(pruneHep.optimize(nonCol) == nonCol)
  }

  test("pruning abstains in the cascades binder (opaque group handles)") {
    val rule = Rules.PushProjectionThroughJoinRule(pushCatalog)
    val bound = OptExpression.Node(
      LogicalProject(Seq(Col("a"))),
      Seq(OptExpression.Node(
        LogicalJoin(JoinType.Inner, EqCond(Col("c1"), Col("c2"))),
        Seq(OptExpression.GroupHandle(1), OptExpression.GroupHandle(2)))))
    assert(rule(bound, RuleContext.empty).isEmpty)
  }

  test("pruning composes with filter pushdown in one HEP pass") {
    val hep = new HepOptimizer(Rules.rewriteRules ++ Seq(
      Rules.PushFilterThroughJoinRule(pushCatalog),
      Rules.PushProjectionThroughJoinRule(pushCatalog)))
    val plan = project(
      PlanNode(LogicalFilter(EqCond(Col("a"), Col("b")), Nil),
        Seq(join(scan("t1"), scan("t2"), "c1", "c2"))), "a", "x")
    // the projection pattern can't match until the filter descends (it
    // sits between Project and Join), so the composed fixpoint is
    // deterministic: filter onto t1 first, then both inputs prune —
    // the inserted left Project lands ABOVE the pushed filter (the
    // provenance walk sees tables through the filter node)
    val want = project(
      join(
        PlanNode(LogicalProject(Seq(Col("a"), Col("c1"))),
          Seq(PlanNode(LogicalFilter(EqCond(Col("a"), Col("b")), Nil),
            Seq(scan("t1"))))),
        project(scan("t2"), "x", "c2"), "c1", "c2"),
      "a", "x")
    val got = hep.optimize(plan)
    assert(got == want, s"got:\n${got.explain()}")
  }

  // --- join-order enumeration (associativity + commutation + cost) ---

  // chain big(1e6) —a_k=b_k— sml(10) —b_x=c_x— mid(1000): the left-assoc
  // input probes the 1e6-row table through BOTH joins; the right-assoc
  // order probes it once and joins the two small tables first
  private val chainCols = Map(
    "big" -> Seq("a_k"), "sml" -> Seq("b_k", "b_x"), "mid" -> Seq("c_x"))
  private val chainStats = TableStats(
    Map("big" -> 1000000L, "sml" -> 10L, "mid" -> 1000L))
  private def chainPlan(outerL: String, outerR: String) = PlanNode(
    LogicalJoin(JoinType.Inner, EqCond(Col(outerL), Col(outerR))),
    Seq(join(scan("big"), scan("sml"), "a_k", "b_k"), scan("mid")))

  test("join enumeration rotates the chain to probe the big table once") {
    def best(rules: Seq[OptRule]): (PlanNode, Double) = {
      val opt = new CascadesOptimizer(rules,
        costModel = new CardinalityCostModel, stats = chainStats,
        columns = chainCols)
      val (out, memo) = opt.optimizeWithMemo(chainPlan("b_x", "c_x"))
      (out.get,
        memo.group(memo.root).winner(PhysicalPropertySet.default).get.cost)
    }
    val (plain, plainCost) = best(Rules.all)
    val (enumd, enumCost) = best(Rules.joinEnumerationRules)
    // without associativity the left-assoc shape is forced: both joins
    // probe 1e6 rows (cost ~2.0e6); with it the winner probes big once
    // (~1.0e6) — the saving IS one full pass over the big table
    assert(enumCost < plainCost - 900000.0,
      s"enum $enumCost vs plain $plainCost")
    assert(plain == PlanNode(
      PhysicalJoin(ShuffledHash, JoinType.Inner,
        EqCond(Col("b_x"), Col("c_x"))),
      Seq(PlanNode(
        PhysicalJoin(ShuffledHash, JoinType.Inner,
          EqCond(Col("a_k"), Col("b_k"))),
        Seq(PlanNode(PhysicalTableScan("big")),
          PlanNode(PhysicalTableScan("sml")))),
        PlanNode(PhysicalTableScan("mid")))), s"got:\n${plain.explain()}")
    // rotated: big ⋈ (mid ⋈ sml) — inner join commuted so the 10-row
    // side builds, outer cond re-oriented left-to-right by the rule
    assert(enumd == PlanNode(
      PhysicalJoin(ShuffledHash, JoinType.Inner,
        EqCond(Col("a_k"), Col("b_k"))),
      Seq(PlanNode(PhysicalTableScan("big")),
        PlanNode(
          PhysicalJoin(ShuffledHash, JoinType.Inner,
            EqCond(Col("c_x"), Col("b_x"))),
          Seq(PlanNode(PhysicalTableScan("mid")),
            PlanNode(PhysicalTableScan("sml")))))),
      s"got:\n${enumd.explain()}")
  }

  test("associativity abstains: outer cond on left-most table, ambiguity, " +
    "or no catalog") {
    def bindRoot(memo: Memo) = {
      val e = memo.group(memo.root).logicalExprs.head
      val bound =
        Binding.bindExpr(memo, e, Rules.JoinAssociativityRule.pattern)
      assert(bound.size == 1)
      bound.head
    }
    // rewrites: outer cond bridges sml and mid (exclusive resolution)
    val ok = new Memo(chainStats, chainCols)
    ok.insertPlan(chainPlan("b_x", "c_x"))
    val rotated =
      Rules.JoinAssociativityRule(bindRoot(ok), new MemoContext(ok))
    assert(rotated.isDefined)
    // abstains: outer cond references the left-most table (a_k ∈ big) —
    // rotating would orphan the condition
    val aRef = new Memo(chainStats, chainCols)
    aRef.insertPlan(chainPlan("a_k", "c_x"))
    assert(Rules.JoinAssociativityRule(
      bindRoot(aRef), new MemoContext(aRef)).isEmpty)
    // abstains: a condition column two inputs both provide is ambiguous
    val dupCols = chainCols.updated("mid", Seq("c_x", "b_x"))
    val dup = new Memo(chainStats, dupCols)
    dup.insertPlan(chainPlan("b_x", "c_x"))
    assert(Rules.JoinAssociativityRule(
      bindRoot(dup), new MemoContext(dup)).isEmpty)
    // abstains: no column catalog — provenance unknown, never guessed
    val bare = new Memo(chainStats, Map.empty)
    bare.insertPlan(chainPlan("b_x", "c_x"))
    assert(Rules.JoinAssociativityRule(
      bindRoot(bare), new MemoContext(bare)).isEmpty)
  }

  test("group cols derive bottom-up like cardinality, narrowing at projects") {
    val memo = new Memo(chainStats, chainCols)
    val root = memo.insertPlan(
      project(join(scan("big"), scan("sml"), "a_k", "b_k"), "b_k"))
    assert(memo.group(root).cols == Set("b_k"))
    val joinGroup = memo.group(root).logicalExprs.head.inputs.head
    assert(memo.group(joinGroup).cols == Set("a_k", "b_k", "b_x"))
  }

  // --- join-STRATEGY enumeration (broadcast vs shuffled hash, by cost) ---

  private def bestWith(rules: Seq[OptRule], stats: TableStats,
      plan: PlanNode): (PlanNode, Double) = {
    val opt = TestRules.golden(rules,
      costModel = new ClusterCostModel, stats = stats)
    val (out, memo) = opt.optimizeWithMemo(plan)
    (out.get,
      memo.group(memo.root).winner(PhysicalPropertySet.default).get.cost)
  }

  test("strategy enumeration broadcasts a small build side under " +
      "cluster costs, and the saving is the two exchanges") {
    val stats = TableStats(Map("fact" -> 1000000L, "dim" -> 10L))
    val plan = join(scan("fact"), scan("dim"), "f_k", "d_k")
    val (plain, plainCost) = bestWith(Rules.all, stats, plan)
    val (chosen, chosenCost) = bestWith(TestRules.joinStrategyRules, stats, plan)
    // reference-faithful rule set: only the shuffled variant exists, and
    // the cluster model prices its two exchanges (2*(1e6+10)) on top of
    // probe + 2x build
    assert(plain == PlanNode(
      PhysicalJoin(ShuffledHash, JoinType.Inner,
        EqCond(Col("f_k"), Col("d_k"))),
      Seq(PlanNode(PhysicalTableScan("fact")),
        PlanNode(PhysicalTableScan("dim")))), s"got:\n${plain.explain()}")
    // with the broadcast implementation in the search, the 10-row build
    // side replicates (2*W*10 = 160) instead of shuffling the fact table
    assert(chosen == PlanNode(
      PhysicalJoin(Broadcast, JoinType.Inner,
        EqCond(Col("f_k"), Col("d_k"))),
      Seq(PlanNode(PhysicalTableScan("fact")),
        PlanNode(PhysicalTableScan("dim")))), s"got:\n${chosen.explain()}")
    // the saving is both exchanges minus the replication overhead:
    // plain = 3e6 + 4*10 + scans; broadcast = 1e6 + 160 + scans
    assert(chosenCost < plainCost - 1900000.0,
      s"broadcast $chosenCost vs shuffled $plainCost")
  }

  test("strategy enumeration keeps the shuffled hash join for a " +
      "comparable-size build side") {
    val stats = TableStats(Map("fact" -> 1000000L, "fact2" -> 900000L))
    val plan = join(scan("fact"), scan("fact2"), "f_k", "g_k")
    val (chosen, _) =
      bestWith(TestRules.joinStrategyRules, stats, plan)
    // replicating 9e5 rows W times (1.44e7) loses to shuffling both
    // sides once (3.8e6): the memo keeps BOTH physical members and the
    // winner comparison picks the exchange plan
    assert(chosen == PlanNode(
      PhysicalJoin(ShuffledHash, JoinType.Inner,
        EqCond(Col("f_k"), Col("g_k"))),
      Seq(PlanNode(PhysicalTableScan("fact")),
        PlanNode(PhysicalTableScan("fact2")))),
      s"got:\n${chosen.explain()}")
  }

  test("byte-weighted cluster costs flip the broadcast decision for a " +
      "small-but-wide build side (the threshold is byte-based, like " +
      "Spark's autoBroadcastJoinThreshold)") {
    def bestBytes(stats: TableStats, plan: PlanNode): PlanNode = {
      val opt = TestRules.golden(TestRules.joinStrategyRules,
        costModel = new ByteWeightedClusterCostModel, stats = stats)
      opt.optimize(plan).get
    }
    val plan = join(scan("fact"), scan("dim"), "f_k", "d_k")
    // narrow 100-row dim: row and byte models agree — broadcast
    // (replicating 100×16B rows beats exchanging the fact table)
    val narrow = TableStats(Map("fact" -> 1000000L, "dim" -> 100L))
    assert(bestBytes(narrow, plan).op ==
      PhysicalJoin(Broadcast, JoinType.Inner,
        EqCond(Col("f_k"), Col("d_k"))),
      s"got:\n${bestBytes(narrow, plan).explain()}")
    // SAME row counts, but each dim row carries 64 KiB (an embeddings
    // dimension): W-fold replication of 6.4 MB loses to two exchanges
    // — the byte-weighted decision flips to the shuffled join
    val wide = TableStats(Map("fact" -> 1000000L, "dim" -> 100L),
      widths = Map("fact" -> 16L, "dim" -> 65536L))
    assert(bestBytes(wide, plan).op ==
      PhysicalJoin(ShuffledHash, JoinType.Inner,
        EqCond(Col("f_k"), Col("d_k"))),
      s"got:\n${bestBytes(wide, plan).explain()}")
    // control: the ROW-count ClusterCostModel cannot see the width and
    // still broadcasts the wide dim — the flip is the byte axis, not
    // the stats plumbing
    val (rowChosen, _) = bestWith(TestRules.joinStrategyRules, wide, plan)
    assert(rowChosen.op ==
      PhysicalJoin(Broadcast, JoinType.Inner,
        EqCond(Col("f_k"), Col("d_k"))),
      s"got:\n${rowChosen.explain()}")
  }

  test("broadcast join passes a probe-key distribution requirement " +
      "through to the probe side, never the build side") {
    // required Hashed(f_k) with f_k = the probe-side join key: the
    // requirement pushes through the broadcast join to the fact scan
    // (one exchange below the join) rather than enforcing above it —
    // same contract as the shuffled probe-side passthrough
    assert(PhysicalPropertySet.distributionPushdownChild(
      PhysicalJoin(Broadcast, JoinType.Inner,
        EqCond(Col("f_k"), Col("d_k"))),
      DistributionSpec.Hashed(Seq(Col("f_k")))) == Some(0))
    assert(PhysicalPropertySet.distributionPushdownChild(
      PhysicalJoin(Broadcast, JoinType.Inner,
        EqCond(Col("f_k"), Col("d_k"))),
      DistributionSpec.Hashed(Seq(Col("d_k")))).isEmpty)
    // Full joins never broadcast: unmatched build rows would emit per copy
    assert(Rules.Join2BroadcastJoinRule(
      Node(LogicalJoin(JoinType.Full, EqCond(Col("a"), Col("b"))),
        Seq(GroupHandle(0), GroupHandle(1))),
      new MemoContext(new Memo(NoStats, Map.empty))).isEmpty)
  }

  // --- sort-merge join + interesting orders (clustered scan layouts) ---

  private def bestOrdered(rules: Seq[OptRule], stats: TableStats,
      plan: PlanNode, req: PhysicalPropertySet): (PlanNode, Double) = {
    val opt = TestRules.golden(rules,
      costModel = new ClusterCostModel, stats = stats)
    val (out, memo) = opt.optimizeWithMemo(plan, req)
    (out.get, memo.group(memo.root).winner(req).get.cost)
  }

  test("bucketed+sorted scan layouts make the sort-merge join free of " +
      "enforcers, and the search picks it over both hash variants") {
    val stats = TableStats(Map("fact" -> 1000000L, "dim" -> 100000L))
    val fact = PlanNode(LogicalScan("fact",
      bucketBy = Seq(Col("f_k")), sortBy = Seq(Col("f_k"))))
    val dim = PlanNode(LogicalScan("dim",
      bucketBy = Seq(Col("d_k")), sortBy = Seq(Col("d_k"))))
    val plan = join(fact, dim, "f_k", "d_k")
    val (chosen, cost) =
      bestWith(TestRules.fullJoinStrategyRules, stats, plan)
    // the clustered layout delivers each side's required Hashed+SortedBy
    // at the scan, so the merge (1e6 + 1e5) beats the shuffled hash join
    // (2 exchanges + probe + 2x build = 3.4e6) and the broadcast variant
    // (1e6 + 2*W*1e5 = 2.6e6) — with NO Sort or Exchange anywhere
    assert(chosen == PlanNode(
      PhysicalJoin(SortMerge, JoinType.Inner,
        EqCond(Col("f_k"), Col("d_k"))),
      Seq(PlanNode(PhysicalTableScan("fact", None,
        Seq(Col("f_k")), Seq(Col("f_k")))),
        PlanNode(PhysicalTableScan("dim", None,
          Seq(Col("d_k")), Seq(Col("d_k")))))),
      s"got:\n${chosen.explain()}")
    assert(cost < 3400000.0 * 0.5, s"merge should cost ~1.1e6, got $cost")
  }

  test("on plain heap scans the sort-merge join prices out (two enforced " +
      "sorts + exchanges lose to one hash build)") {
    val stats = TableStats(Map("fact" -> 1000000L, "dim" -> 100000L))
    val plan = join(scan("fact"), scan("dim"), "f_k", "d_k")
    val (chosen, _) = bestWith(TestRules.fullJoinStrategyRules, stats, plan)
    // sorting 1e6 rows (n·log2 n ~ 2e7) dwarfs everything: the winner is
    // the broadcast hash join (2.6e6), same as without the SMJ rule —
    // the memo HOLDS the merge member, the comparison rejects it
    assert(chosen.op == PhysicalJoin(Broadcast, JoinType.Inner,
      EqCond(Col("f_k"), Col("d_k"))), s"got:\n${chosen.explain()}")
  }

  test("interesting orders: a root ORDER BY on the probe key turns the " +
      "merge join into the winner — its delivered order replaces the " +
      "top sort, and only the dim side pays enforcers") {
    val stats = TableStats(Map("fact" -> 1000000L, "dim" -> 100000L))
    // production shape: the big fact table is clustered on its join key
    // (bucketed+sorted at write), the small dim arrives unclustered
    val fact = PlanNode(LogicalScan("fact",
      bucketBy = Seq(Col("f_k")), sortBy = Seq(Col("f_k"))))
    val plan = join(fact, scan("dim"), "f_k", "d_k")
    val req = PhysicalPropertySet(order = OrderSpec.SortedBy.asc(Seq(Col("f_k"))))
    val (chosen, cost) =
      bestOrdered(TestRules.fullJoinStrategyRules, stats, plan, req)
    // merge delivers SortedBy(f_k) itself: no Sort above the join; the
    // fact side rides its layout; the dim side pays Sort(Exchange(scan))
    // (~1.9e6 for 1e5 rows). Every hash alternative must SORT THE JOIN
    // OUTPUT (1e6·log2(1e6) ~ 2e7) on top — an order of magnitude worse.
    chosen match {
      case PlanNode(PhysicalJoin(SortMerge, JoinType.Inner,
          EqCond(Col("f_k"), Col("d_k"))), Seq(left, right)) =>
        assert(left == PlanNode(PhysicalTableScan("fact", None,
          Seq(Col("f_k")), Seq(Col("f_k")))), s"left:\n${left.explain()}")
        right match {
          case PlanNode(PhysicalSort(Seq(SortKey(Col("d_k"), true, true))),
              Seq(PlanNode(PhysicalExchange(Seq(Col("d_k"))),
                Seq(PlanNode(PhysicalTableScan("dim", None, Nil, Nil),
                  Nil))))) => // the enforcer pair lands on the dim side only
          case other => fail(s"dim side:\n${other.explain()}")
        }
      case other => fail(s"want a sort-merge join root:\n${other.explain()}")
    }
    // crossover arithmetic: SMJ ~ 1e5·(2+log2(1e5)) + 1.1e6 merge ~ 3e6;
    // best hash plan + top sort ~ 2.6e6 + 2e7
    assert(cost < 5000000.0, s"want the no-top-sort price, got $cost")
  }

  test("order pushdown: an ORDER BY above a projection is satisfied by " +
      "the clustered scan below it — no sort anywhere") {
    val stats = TableStats(Map("t" -> 1000000L))
    val plan = project(PlanNode(LogicalScan("t",
      bucketBy = Seq(Col("k")), sortBy = Seq(Col("k")))), "k", "x")
    val req = PhysicalPropertySet(order = OrderSpec.SortedBy.asc(Seq(Col("k"))))
    val (chosen, cost) =
      bestOrdered(TestRules.fullJoinStrategyRules, stats, plan, req)
    // projections preserve row order, so the requirement pushes through
    // to the scan, whose layout delivers it: the enforcer's
    // Sort(Project(scan)) candidate (~2e7) loses to the sortless plan
    assert(chosen == PlanNode(
      PhysicalProject(Seq(Col("k"), Col("x"))),
      Seq(PlanNode(PhysicalTableScan("t", None,
        Seq(Col("k")), Seq(Col("k")))))), s"got:\n${chosen.explain()}")
    assert(cost < 2000000.0, s"no-sort price expected, got $cost")
    // but ordering on a column the projection DROPS cannot push through
    // (and nothing delivers it): only the enforcer path remains
    val reqDropped =
      PhysicalPropertySet(order = OrderSpec.SortedBy.asc(Seq(Col("y"))))
    val (viaSort, _) =
      bestOrdered(TestRules.fullJoinStrategyRules, stats, plan, reqDropped)
    assert(viaSort.op == PhysicalSort(Seq(SortKey(Col("y")))),
      s"got:\n${viaSort.explain()}")
  }

  test("SQL path end-to-end: clustered layouts in the catalog plan a " +
      "projected merge join with zero sorts for ORDER BY join key") {
    val stats = TableStats(Map("a" -> 1000000L, "b" -> 100000L))
    val layouts = Map(
      "a" -> ((Seq(Col("a_k")), Seq(Col("a_k")))),
      "b" -> ((Seq(Col("b_k")), Seq(Col("b_k")))))
    val (plan, req) = SqlFrontend.parseQuery(
      "SELECT a_k, b_x FROM a JOIN b ON a_k = b_k ORDER BY a_k",
      layouts = layouts)
    assert(req.order == OrderSpec.SortedBy.asc(Seq(Col("a_k"))))
    val opt = TestRules.golden(TestRules.fullJoinStrategyRules,
      costModel = new ClusterCostModel, stats = stats)
    val out = opt.optimize(plan, req).get
    // the ORDER BY pushes through the projection; the merge join
    // delivers it; both scans' layouts feed the join's child
    // requirements — no Sort, no Exchange, end to end from SQL text
    assert(out == PlanNode(
      PhysicalProject(Seq(Col("a_k"), Col("b_x"))),
      Seq(PlanNode(PhysicalJoin(SortMerge, JoinType.Inner,
        EqCond(Col("a_k"), Col("b_k"))),
        Seq(PlanNode(PhysicalTableScan("a", None,
          Seq(Col("a_k")), Seq(Col("a_k")))),
          PlanNode(PhysicalTableScan("b", None,
            Seq(Col("b_k")), Seq(Col("b_k")))))))),
      s"got:\n${out.explain()}")
  }

  // --- partial-aggregate split (beyond reference: distributed agg) ---

  test("aggregate split: the search picks partial->exchange->final over " +
      "exchanging raw rows, by cost — and one-phase under constant cost") {
    val aggs = Seq(AggCall("count"), AggCall("sum", Some(Col("v"))))
    val plan = PlanNode(LogicalAggregate(Seq(Col("g")), aggs),
      Seq(scan("big")))
    val stats = TableStats(Map("big" -> 1000000L))
    val opt = TestRules.golden(Rules.all,
      costModel = new CardinalityCostModel, stats = stats)
    val got = opt.optimize(plan).get
    // split: partial shrinks 1e6 -> 2e5 BEFORE the exchange; the
    // correctness-required Hashed(g) of the Final lands as one exchange
    // over partial states (cost 1e6 + 2*2e5 + 2e5 = 1.6e6), beating the
    // one-phase plan that exchanges raw rows (2e6 + 1e6 = 3e6)
    assert(got == PlanNode(
      PhysicalHashAggregate(AggMode.Final, Seq(Col("g")), aggs),
      Seq(PlanNode(PhysicalExchange(Seq(Col("g"))),
        Seq(PlanNode(
          PhysicalHashAggregate(AggMode.Partial, Seq(Col("g")), aggs),
          Seq(PlanNode(PhysicalTableScan("big")))))))),
      got.explain())
    // the constant model can't tell the plans apart: reference-faithful
    // search keeps whichever implementation it saw first — but the
    // Complete form STILL gets its correctness exchange (child
    // requirements are not a cost feature)
    val flat = TestRules.golden(Rules.all).optimize(plan).get
    def exchangedInput(p: PlanNode): Boolean = p.op match {
      case PhysicalHashAggregate(AggMode.Complete, _, _) =>
        p.inputs.head.op == PhysicalExchange(Seq(Col("g")))
      case PhysicalHashAggregate(AggMode.Final, _, _) =>
        p.inputs.head.op == PhysicalExchange(Seq(Col("g")))
      case _ => false
    }
    assert(exchangedInput(flat), flat.explain())
  }

  test("aggregate distribution: a downstream Hashed(g) requirement is " +
      "satisfied by the final aggregate itself — no second exchange") {
    val aggs = Seq(AggCall("count"))
    val plan = PlanNode(LogicalAggregate(Seq(Col("g")), aggs),
      Seq(scan("big")))
    val stats = TableStats(Map("big" -> 1000000L))
    val opt = TestRules.golden(Rules.all,
      costModel = new CardinalityCostModel, stats = stats)
    val got = opt.optimize(plan, PhysicalPropertySet.default.copy(
      distribution = DistributionSpec.Hashed(Seq(Col("g"))))).get
    // the winner under the requirement is the same split plan: the Final
    // aggregate DELIVERS Hashed(g) (its input was co-partitioned), so no
    // enforcer tops the plan
    assert(got.op ==
      PhysicalHashAggregate(AggMode.Final, Seq(Col("g")), aggs),
      got.explain())
    assert(!got.explain().linesIterator.next().contains("Exchange"))
    // a global aggregate requires (and delivers) Singleton
    val global = PlanNode(LogicalAggregate(Nil, aggs), Seq(scan("big")))
    val g2 = opt.optimize(global, PhysicalPropertySet.default.copy(
      distribution = DistributionSpec.Singleton)).get
    assert(g2.op.isInstanceOf[PhysicalHashAggregate], g2.explain())
  }

  // --- explain (plan/explain.rs:44-95) ---

  test("explain renders the operator tree") {
    val s = join(scan("t1"), scan("t2", Some(3)), "c1", "c2").explain()
    assert(s ==
      """LogicalJoin(Inner, EqCond(Col(c1),Col(c2)))
        |  LogicalScan(t1)
        |  LogicalScan(t2, limit=3)""".stripMargin)
  }

  test("explain renders each physical join strategy (golden text)") {
    // one join implementation rule per search, so the winner joins with
    // exactly that strategy; CASCADES.md and winner comparisons across
    // versions read these strings
    def winner(rule: OptRule, jt: JoinType): Option[String] = {
      val rules = Rules.all.filterNot(_.id == RuleId.Join2HashJoin) :+ rule
      val plan = PlanNode(LogicalJoin(jt, EqCond(Col("c1"), Col("c2"))),
        Seq(scan("t1"), scan("t2")))
      TestRules.golden(rules).optimize(plan).map(_.explain())
    }
    assert(winner(Rules.Join2HashJoinRule, JoinType.Inner).contains(
      """PhysicalHashJoin(Inner, EqCond(Col(c1),Col(c2)))
        |  PhysicalTableScan(t1)
        |  PhysicalTableScan(t2)""".stripMargin))
    assert(winner(Rules.Join2BroadcastJoinRule, JoinType.Inner).contains(
      """PhysicalBroadcastHashJoin(Inner, EqCond(Col(c1),Col(c2)), BuildRight)
        |  PhysicalTableScan(t1)
        |  PhysicalTableScan(t2)""".stripMargin))
    assert(winner(Rules.Join2SortMergeJoinRule, JoinType.Inner).contains(
      """PhysicalSortMergeJoin(Inner, EqCond(Col(c1),Col(c2)))
        |  PhysicalSort(Col(c1))
        |    PhysicalExchange(hash:Col(c1))
        |      PhysicalTableScan(t1)
        |  PhysicalSort(Col(c2))
        |    PhysicalExchange(hash:Col(c2))
        |      PhysicalTableScan(t2)""".stripMargin))
    assert(winner(Rules.Join2HashJoinRule, JoinType.Semi).contains(
      """PhysicalHashJoin(Semi, EqCond(Col(c1),Col(c2)))
        |  PhysicalTableScan(t1)
        |  PhysicalTableScan(t2)""".stripMargin))
    // a replicated build side cannot emit its unmatched rows once
    assert(winner(Rules.Join2BroadcastJoinRule, JoinType.Full).isEmpty)
  }
}
