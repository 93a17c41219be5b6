package graft

import graft.cascades._

/** The sql-string entry point for MiniCascades goldens — the literal
  * counterpart of the reference harness (`tests/utils/mod.rs:78-83`
  * parses YAML-cased SQL, lowers, optimizes, and compares the explain
  * string). The first two cases ARE `resources/limit.yaml`'s, re-expressed
  * over the MiniCascades explain format: select-star projection over a
  * scan, and a limit absorbed into the scan by the three limit rules.
  */
class SqlFrontendSpec extends GraftSuite {

  private val t1Schema = Map("t1" -> Seq("f1", "f2", "last_name", "state"))

  private case class GoldenCase(sql: String, expected: String)

  // the reference corpus, MiniCascades spelling (limit.yaml cases 1-2)
  private val corpus = Seq(
    GoldenCase(
      "select * from t1",
      """LogicalProjection(Col(f1),Col(f2),Col(last_name),Col(state))
        |  LogicalScan(t1)""".stripMargin),
    GoldenCase(
      "select * from t1 limit 5",
      """LogicalProjection(Col(f1),Col(f2),Col(last_name),Col(state))
        |  LogicalScan(t1, limit=5)""".stripMargin))

  test("golden: limit.yaml corpus via SQL → HEP → explain, string-equal") {
    val hep = new HepOptimizer(Rules.rewriteRules)
    corpus.foreach { c =>
      val got = hep.optimize(SqlFrontend.parse(c.sql, t1Schema)).explain()
      assert(got == c.expected, s"\nsql: ${c.sql}\ngot:\n$got")
    }
  }

  test("parser: join/filter/projection/limit lower to reference IR shapes") {
    val plan = SqlFrontend.parse(
      "SELECT a, b FROM s JOIN r ON x = y WHERE a = c LIMIT 7")
    assert(plan ==
      PlanNode(LogicalLimit(7), Seq(
        PlanNode(LogicalProject(Seq(Col("a"), Col("b"))), Seq(
          PlanNode(LogicalFilter(EqCond(Col("a"), Col("c")), Nil), Seq(
            PlanNode(LogicalJoin(JoinType.Inner, EqCond(Col("x"), Col("y"))),
              Seq(PlanNode(LogicalScan("s")),
                PlanNode(LogicalScan("r")))))))))),
      plan.explain())
  }

  test("parser: left/full join types; joins fold left-deep") {
    val plan = SqlFrontend.parse(
      "SELECT * FROM a LEFT JOIN b ON k = k2 FULL JOIN c ON k3 = k4")
    val top = plan.op.asInstanceOf[LogicalJoin]
    assert(top.joinType == JoinType.Full && top.cond ==
      EqCond(Col("k3"), Col("k4")))
    val inner = plan.inputs(0).op.asInstanceOf[LogicalJoin]
    assert(inner.joinType == JoinType.Left)
    assert(plan.inputs(1).op == LogicalScan("c"))
  }

  test("parser: sql through the full cascades search implements physically") {
    val best = TestRules.golden()
      .optimize(SqlFrontend.parse("SELECT f1 FROM t1 LIMIT 3", t1Schema))
    assert(best.isDefined)
    val s = best.get.explain()
    // limit absorbed into the physical scan (no physical Limit exists in
    // the IR, faithfully to operator/physical.rs:15-20)
    assert(s.contains("PhysicalTableScan(t1, limit=3)"), s)
    assert(s.contains("PhysicalProjection"), s)
  }

  test("generative roundtrip: random grammar instances parse to the " +
    "expected IR across the whole clause space") {
    val rnd = new scala.util.Random(42)
    (1 to 300).foreach { i =>
      // draw a random instance of the grammar
      val nJoins = rnd.nextInt(4)
      val joins = (1 to nJoins).map { j =>
        val jt = rnd.nextInt(3) match {
          case 0 => JoinType.Inner
          case 1 => JoinType.Left
          case 2 => JoinType.Full
        }
        (jt, s"t$j", Col(s"l$j"), Col(s"r$j"))
      }
      // the WHERE surface: col = col (EqCond), col cmp col, col cmp
      // int-literal, col cmp string-literal (r9), and a parenthesized
      // OR of 2-3 such comparisons (r9 OrCond) are all drawn
      val cmps = Seq("=", "<", ">", "<=", ">=")
      def simple(): Expr = rnd.nextInt(3) match {
        case 0 =>
          val op = cmps(rnd.nextInt(5))
          if (op == "=") EqCond(Col("wa"), Col("wb"))
          else CmpCond(op, Col("wa"), Col("wb"))
        case 1 =>
          CmpCond(cmps(rnd.nextInt(5)), Col("wa"),
            Lit(rnd.nextInt(1000).toLong))
        case _ =>
          CmpCond(cmps(rnd.nextInt(5)), Col("wa"),
            StrLit(s"v${rnd.nextInt(100)}"))
      }
      val where: Option[Expr] = rnd.nextInt(6) match {
        case 0 => Some(EqCond(Col("wa"), Col("wb")))
        case 1 | 2 => Some(simple())
        case 3 => Some(OrCond(
          (0 to rnd.nextInt(2)).map(_ => simple()) :+ simple()))
        case 4 =>
          val lo = rnd.nextInt(500)
          Some(RangeCond(Col("wa"), lo.toLong,
            (lo + rnd.nextInt(500)).toLong))
        case _ => None
      }
      val proj = if (rnd.nextBoolean())
        Some((0 to rnd.nextInt(3)).map(k => Col(s"c$k"))) else None
      val limit = if (rnd.nextBoolean()) Some(1 + rnd.nextInt(99)) else None
      // print it as SQL
      val sql = new StringBuilder("SELECT ")
      sql ++= proj.fold("*")(_.map(_.name).mkString(", "))
      sql ++= " FROM t0"
      joins.foreach { case (jt, t, l, r) =>
        val kw = jt match {
          case JoinType.Inner => "JOIN"
          case JoinType.Left  => "LEFT JOIN"
          case JoinType.Full  => "FULL JOIN"
          // the generator never draws semi/anti (they have no JOIN-kw
          // surface syntax — EXISTS is their entry)
          case other          => fail(s"generator drew $other")
        }
        sql ++= s" $kw $t ON ${l.name} = ${r.name}"
      }
      def predSql(p: Expr): String = p match {
        case EqCond(l, r)                   => s"${l.name} = ${r.name}"
        case CmpCond(op, Col(l), Col(r))    => s"$l $op $r"
        case CmpCond(op, Col(l), Lit(v))    => s"$l $op $v"
        case CmpCond(op, Col(l), StrLit(v)) => s"$l $op '$v'"
        case RangeCond(c, lo, hi)           =>
          s"${c.name} BETWEEN $lo AND $hi"
        case other => fail(s"unexpected pred $other")
      }
      where.foreach {
        case OrCond(ds) =>
          sql ++= s" WHERE ( ${ds.map(predSql).mkString(" OR ")} )"
        case p => sql ++= s" WHERE ${predSql(p)}"
      }
      limit.foreach(n => sql ++= s" LIMIT $n")
      // expected IR, constructed independently of the parser: an
      // equality over two columns keeps the reference's EqCond shape
      var want = PlanNode(LogicalScan("t0"))
      joins.foreach { case (jt, t, l, r) =>
        want = PlanNode(LogicalJoin(jt, EqCond(l, r)),
          Seq(want, PlanNode(LogicalScan(t))))
      }
      where.foreach { c =>
        val pred = c match {
          case CmpCond("=", l: Col, r: Col) => EqCond(l, r)
          case other                        => other
        }
        want = PlanNode(LogicalFilter(pred, Nil), Seq(want))
      }
      proj.foreach(cols =>
        want = PlanNode(LogicalProject(cols), Seq(want)))
      limit.foreach(n => want = PlanNode(LogicalLimit(n), Seq(want)))
      val got = SqlFrontend.parse(sql.toString)
      assert(got == want, s"instance #$i: ${sql.toString}\n${got.explain()}")
    }
  }

  test("parser: malformed SQL fails loudly with the offending token") {
    val bad = Seq(
      "SELECT FROM t1",                 // missing column list
      "SELECT * FROM t1 LIMIT x",       // non-integer limit
      "SELECT * FROM t1 extra",         // trailing tokens
      "SELECT a FROM t1 WHERE a ! b")   // not a comparison operator
    bad.foreach { sql =>
      intercept[IllegalArgumentException](SqlFrontend.parse(sql))
    }
    // r8: non-equality comparisons joined the WHERE surface — col-vs-col
    // carries CmpCond, col-vs-int the literal-selectivity shape
    assert(SqlFrontend.parse("SELECT a FROM t1 WHERE a > b") ==
      PlanNode(LogicalProject(Seq(Col("a"))),
        Seq(PlanNode(LogicalFilter(CmpCond(">", Col("a"), Col("b")), Nil),
          Seq(PlanNode(LogicalScan("t1")))))))
    assert(SqlFrontend.parse("SELECT a FROM t1 WHERE a <= 42") ==
      PlanNode(LogicalProject(Seq(Col("a"))),
        Seq(PlanNode(
          LogicalFilter(CmpCond("<=", Col("a"), Lit(42L)), Nil),
          Seq(PlanNode(LogicalScan("t1")))))))
  }

  test("parser: a quoted literal with spaces and punctuation is one token") {
    def filtered(cond: Expr) =
      PlanNode(LogicalProject(Seq(Col("r_name"))),
        Seq(PlanNode(LogicalFilter(cond, Nil),
          Seq(PlanNode(LogicalScan("region"))))))
    assert(SqlFrontend.parse(
      "SELECT r_name FROM region WHERE r_name = 'MIDDLE EAST'") ==
      filtered(CmpCond("=", Col("r_name"), StrLit("MIDDLE EAST"))))
    assert(SqlFrontend.parse(
      "SELECT r_name FROM region WHERE r_name<'a (b, c) = <d> >= e'") ==
      filtered(CmpCond("<", Col("r_name"), StrLit("a (b, c) = <d> >= e"))))
    intercept[IllegalArgumentException](
      SqlFrontend.parse("SELECT r_name FROM region WHERE r_name = 'MIDDLE"))
  }

  test("ORDER BY lowers to a required sort PROPERTY, the cascades search " +
      "satisfies it with the enforcer, and top-k plans a PhysicalTopK") {
    val (plan, req) =
      SqlFrontend.parseQuery("SELECT a FROM t1 ORDER BY a")
    // order is a property, not a node: the plan carries project/scan only
    assert(req.order == OrderSpec.SortedBy.asc(Seq(Col("a"))), req)
    assert(plan == PlanNode(LogicalProject(Seq(Col("a"))),
      Seq(PlanNode(LogicalScan("t1")))), plan.explain())
    // end-to-end: the search implements physically and the PhysicalSort
    // enforcer satisfies the requirement (no rule produces sorts).
    // Since the round-7 order-pushdown axis, the requirement pushes
    // THROUGH the order-preserving projection and the sort lands below
    // it — same cost here (the projection is row-preserving), and the
    // shape a clustered layout could satisfy for free.
    val opt = TestRules.golden(Rules.all)
    val got = opt.optimize(plan, req).get
    assert(got == PlanNode(PhysicalProject(Seq(Col("a"))),
      Seq(PlanNode(PhysicalSort(Seq(SortKey(Col("a")))),
        Seq(PlanNode(PhysicalTableScan("t1")))))),
      got.explain())
    // without ORDER BY the same SQL demands nothing: no sort appears
    val (p2, r2) = SqlFrontend.parseQuery("SELECT a FROM t1 LIMIT 5")
    assert(r2 == PhysicalPropertySet.default)
    val flat = opt.optimize(p2, r2).get
    assert(flat == PlanNode(PhysicalProject(Seq(Col("a"))),
      Seq(PlanNode(PhysicalTableScan("t1", Some(5))))), flat.explain())
    // ORDER BY + LIMIT is top-k: lowered to LogicalTopK (order rides ON
    // the node — the limit rules cannot absorb it into the scan), and
    // the search plans PhysicalTopK which DELIVERS the root's required
    // order itself, so NO sort enforcer appears — Spark's
    // Limit(Sort(...)) → TakeOrderedAndProject shape
    val (pk, rk) =
      SqlFrontend.parseQuery("SELECT a FROM t1 ORDER BY a LIMIT 5")
    assert(rk.order == OrderSpec.SortedBy.asc(Seq(Col("a"))), rk)
    assert(pk == PlanNode(LogicalTopK(5, Seq(SortKey(Col("a")))),
      Seq(PlanNode(LogicalProject(Seq(Col("a"))),
        Seq(PlanNode(LogicalScan("t1")))))), pk.explain())
    val topk = opt.optimize(pk, rk).get
    assert(topk == PlanNode(PhysicalTopK(5, Seq(SortKey(Col("a")))),
      Seq(PlanNode(PhysicalProject(Seq(Col("a"))),
        Seq(PlanNode(PhysicalTableScan("t1")))))), topk.explain())
    // enforcer INTERACTION: a root order the TopK does NOT deliver still
    // gets the sort enforcer — above the TopK, preserving its row set
    val other = opt.optimize(pk,
      PhysicalPropertySet.default.copy(
        order = OrderSpec.SortedBy.asc(Seq(Col("b"))))).get
    assert(other == PlanNode(PhysicalSort(Seq(SortKey(Col("b")))),
      Seq(PlanNode(PhysicalTopK(5, Seq(SortKey(Col("a")))),
        Seq(PlanNode(PhysicalProject(Seq(Col("a"))),
          Seq(PlanNode(PhysicalTableScan("t1")))))))), other.explain())
    // and crucially the top-k LIMIT is NOT absorbed into the scan (the
    // bare-limit query above absorbs; the ordered one must not)
    assert(!topk.explain().contains("limit=5"), topk.explain())
  }

  test("aggregate SQL lowers to LogicalAggregate and the cost search " +
      "splits it into partial/final around one exchange") {
    val aggs = Seq(AggCall("count"), AggCall("sum", Some(Col("v"))))
    val plan = SqlFrontend.parse(
      "SELECT g, count(*), sum(v) FROM big WHERE g = h GROUP BY g")
    assert(plan == PlanNode(LogicalAggregate(Seq(Col("g")), aggs),
      Seq(PlanNode(LogicalFilter(EqCond(Col("g"), Col("h")), Nil),
        Seq(PlanNode(LogicalScan("big")))))), plan.explain())
    val opt = TestRules.golden(Rules.all,
      costModel = new CardinalityCostModel,
      stats = TableStats(Map("big" -> 1000000L)))
    val got = opt.optimize(plan).get
    // SQL all the way to the distributed plan: filter below, partial
    // above it, the correctness exchange, final on top
    assert(got == PlanNode(
      PhysicalHashAggregate(AggMode.Final, Seq(Col("g")), aggs),
      Seq(PlanNode(PhysicalExchange(Seq(Col("g"))),
        Seq(PlanNode(
          PhysicalHashAggregate(AggMode.Partial, Seq(Col("g")), aggs),
          Seq(PlanNode(PhysicalFilter(EqCond(Col("g"), Col("h")), Nil),
            Seq(PlanNode(PhysicalTableScan("big")))))))))),
      got.explain())
    // aggregate query WITH a catalog entry for its table: the SELECT-*
    // star-expansion branch must NOT fire (it would project catalog
    // columns the aggregate does not produce) — the aggregate tops the
    // tree with no projection above it
    val aggCat = SqlFrontend.parse("SELECT count(*) FROM t1", t1Schema)
    assert(aggCat == PlanNode(
      LogicalAggregate(Nil, Seq(AggCall("count"))),
      Seq(PlanNode(LogicalScan("t1")))), aggCat.explain())
    val aggCatG = SqlFrontend.parse(
      "SELECT f1, sum(f2) FROM t1 GROUP BY f1", t1Schema)
    assert(aggCatG == PlanNode(
      LogicalAggregate(Seq(Col("f1")), Seq(AggCall("sum", Some(Col("f2"))))),
      Seq(PlanNode(LogicalScan("t1")))), aggCatG.explain())
    // bare column outside GROUP BY, aggregate-less GROUP BY, and unknown
    // aggregate functions fail loudly
    intercept[IllegalArgumentException](SqlFrontend.parse(
      "SELECT g, h, count(*) FROM t GROUP BY g"))
    intercept[IllegalArgumentException](SqlFrontend.parse(
      "SELECT g FROM t GROUP BY g"))
    // avg joined the supported set in round 8 (with min/max); a genuinely
    // unknown aggregate still fails loudly
    assert(SqlFrontend.parse("SELECT avg(v) FROM t") == PlanNode(
      LogicalAggregate(Nil, Seq(AggCall("avg", Some(Col("v"))))),
      Seq(PlanNode(LogicalScan("t")))))
    intercept[IllegalArgumentException](SqlFrontend.parse(
      "SELECT median(v) FROM t"))
  }
}
