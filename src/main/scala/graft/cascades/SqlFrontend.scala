package graft.cascades

/** SQL front end for MiniCascades — the missing entry point of the
  * reference's golden harness (`datafusion-dolomite-integration/tests/
  * utils/mod.rs:78-83` parses each YAML case's SQL with sqlparser and
  * lowers it through `from_df_logical` before optimizing). MiniCascades
  * goldens previously built IR trees programmatically; this closes the
  * literal-fidelity gap: a sql string → [[PlanNode]] mini-parser covering
  * exactly the reference IR's expressible surface (scan / equi-join /
  * equality filter / projection / limit — `dolomite/src/operator/
  * mod.rs:26-47`, with expressions limited to columns and equality as in
  * `conversion/physical.rs:120-129`).
  *
  * Grammar (case-insensitive keywords, whitespace-separated):
  * {{{
  * SELECT ( '*' | item [, item]* )
  *     item := col | COUNT(*) | COUNT(DISTINCT col)
  *           | (SUM|MIN|MAX|AVG)(col)
  * FROM table
  * [ (JOIN | LEFT JOIN | FULL JOIN) table ON col = col ]*
  * [ WHERE conjunct [AND conjunct]* ]
  *     conjunct := simple
  *               | '(' simple OR simple [OR simple]* ')'
  *               | col BETWEEN int AND int   (one RangeCond filter)
  *               | [NOT] EXISTS '(' SELECT * FROM table
  *                     WHERE col = col [AND simple]* ')'
  *               | col = '(' scalar-subquery ')'
  *     simple := col cmp ( col | int | 'str' )
  *     (cmp ∈ = < > <= >=; each conjunct stacks its own LogicalFilter —
  *      CNF by construction; OR groups must be PARENTHESIZED so the
  *      grammar never silently disagrees with SQL's AND-over-OR
  *      precedence; EXISTS decorrelates to a SEMI join, NOT EXISTS to
  *      an ANTI join — the textbook unnesting, resolving which equality
  *      side is the inner column via the schema catalog)
  *     scalar-subquery := SELECT aggitem FROM table [ WHERE col = col ]
  * [ GROUP BY col [, col]* ]            (iff an aggregate item appears)
  * [ HAVING ( aggitem | col ) cmp int ] (cmp ∈ = < > <= >=)
  * [ ORDER BY col [, col]* ]            (lowered to a required property)
  * [ LIMIT n ]                          (with ORDER BY: LogicalTopK)
  * }}}
  *
  * An uncorrelated scalar subquery lowers to the textbook decorrelation:
  * an inner equi-join against the subquery's one-row global aggregate
  * (named by [[AggCall.outName]]) — the join IS the comparison, so the
  * full plan stays inside the reference-shaped IR and every optimizer
  * rule (join strategy choice included: a one-row build side is the
  * broadcast-join poster child) applies to it. HAVING lowers to a
  * [[LogicalFilter]] carrying a [[CmpCond]] over the aggregate's named
  * output — a post-aggregate filter, exactly Spark's HAVING resolution.
  *
  * Lowering mirrors the reference's SqlToRel output shape (visible in
  * `resources/limit.yaml` goldens): joins fold left-deep over scans, the
  * WHERE equality becomes a [[LogicalFilter]], an explicit column list
  * becomes a [[LogicalProject]] ON TOP of the filter, and LIMIT tops the
  * tree. `SELECT *` expands to the full schema projection when the
  * catalog provides columns for the (single) table — the reference's
  * limit.yaml case-1 golden shape — and omits the projection node
  * otherwise (no schema to expand from; MiniCascades carries no
  * catalog-resolved types).
  */
object SqlFrontend {

  /** Parse `sql` into reference-shaped logical IR.
    *
    * @param schema optional table → columns catalog, used only to expand
    *               `SELECT *` into an explicit projection like the
    *               reference's planner does.
    */
  def parse(sql: String,
      schema: Map[String, Seq[String]] = Map.empty,
      layouts: Map[String, (Seq[Col], Seq[Col])] = Map.empty): PlanNode =
    parseQuery(sql, schema, layouts)._1

  /** [[parse]] plus the ROOT PHYSICAL PROPERTY the query demands:
    * `ORDER BY col [, col]*` (before LIMIT) lowers to a required
    * [[OrderSpec.SortedBy]] instead of a plan node — the Cascades-
    * idiomatic reading (order is a property the search satisfies, by
    * finding a delivering member or invoking the sort ENFORCER; the
    * reference declares exactly this shape and stubs it,
    * `properties/physical.rs:16-24`). Feed the returned property set to
    * [[CascadesOptimizer.optimize]] as `required`.
    */
  def parseQuery(sql: String,
      schema: Map[String, Seq[String]] = Map.empty,
      /** table → (bucketBy, sortBy) clustered-layout catalog: scans of a
        * listed table carry the layout (a bucketed+sorted table whose
        * write-side shuffle/sort was already paid — Spark's bucketed
        * tables), which [[PhysicalPropertySet]] turns into delivered
        * Hashed/SortedBy and the search can exploit (merge joins without
        * enforcers, ORDER BY without a sort).
        */
      layouts: Map[String, (Seq[Col], Seq[Col])] = Map.empty)
      : (PlanNode, PhysicalPropertySet) = {
    def scanOf(t: String): LogicalScan = layouts.get(t) match {
      case Some((b, so)) => LogicalScan(t, None, b, so)
      case None          => LogicalScan(t)
    }
    val toks = tokenize(sql)
    val p = new Parser(toks)
    p.expectKw("SELECT")
    // select items: plain columns, and/or count(*) / sum(col) aggregate
    // calls (beyond the reference surface — see [[LogicalAggregate]])
    val items: Option[Seq[Either[Col, AggCall]]] =
      if (p.peek.contains("*")) { p.next(); None }
      else Some(p.selectList())
    val aggCalls = items.toSeq.flatten.collect { case Right(a) => a }
    val plainCols = items.toSeq.flatten.collect { case Left(c) => c }
    val projection: Option[Seq[Col]] =
      if (aggCalls.nonEmpty) None else items.map(_ => plainCols)
    p.expectKw("FROM")
    val firstTable = p.ident()
    var plan = PlanNode(scanOf(firstTable))
    var joined = false
    while (p.peekKw("JOIN") || p.peekKw("LEFT") || p.peekKw("FULL")) {
      val jt =
        if (p.peekKw("JOIN")) { p.next(); JoinType.Inner }
        else if (p.peekKw("LEFT")) { p.next(); p.expectKw("JOIN"); JoinType.Left }
        else { p.next(); p.expectKw("JOIN"); JoinType.Full }
      val right = PlanNode(scanOf(p.ident()))
      p.expectKw("ON")
      val (l, r) = p.equality()
      plan = PlanNode(LogicalJoin(jt, EqCond(l, r)), Seq(plan, right))
      joined = true
    }
    if (p.peekKw("WHERE")) {
      // conjunction: each AND-separated predicate stacks its own
      // [[LogicalFilter]] (CNF-by-construction), so the HEP fixed point
      // pushes each conjunct independently to whichever join side
      // provides its columns — two conjuncts over a join can land on
      // OPPOSITE sides, each with its own selectivity estimate
      p.next()
      var more = true
      while (more) {
        if (p.peekKw("EXISTS") || p.peekKw("NOT")) {
          // [NOT] EXISTS subquery → SEMI/ANTI join (textbook unnesting:
          // the correlation equality IS the join condition; the schema
          // catalog resolves which side is the subquery's column)
          val jt =
            if (p.peekKw("EXISTS")) { p.next(); JoinType.Semi }
            else { p.next(); p.expectKw("EXISTS"); JoinType.Anti }
          p.expectKw("(")
          p.expectKw("SELECT")
          require(p.next() == "*", "EXISTS subquery must SELECT *")
          p.expectKw("FROM")
          val subTable = p.ident()
          p.expectKw("WHERE")
          val (x, y) = p.equality()
          val subCols = schema.getOrElse(subTable, Nil).toSet
          require(subCols.nonEmpty,
            s"EXISTS decorrelation needs a catalog entry for $subTable")
          // optional UNCORRELATED conjuncts (`AND col cmp lit`) filter
          // the subquery's table before the semi/anti join — so footer
          // selectivity prices the build side like any pushed filter
          var sub = PlanNode(scanOf(subTable))
          while (p.peekKw("AND")) {
            p.next()
            val pred = p.simplePred()
            val refs: Set[String] = pred match {
              case CmpCond(_, Col(c), Lit(_))    => Set(c)
              case CmpCond(_, Col(c), StrLit(_)) => Set(c)
              case CmpCond(_, Col(a), Col(b))    => Set(a, b)
              case EqCond(a, b)                  => Set(a.name, b.name)
              case _                             => Set("?")
            }
            require(refs.subsetOf(subCols),
              s"EXISTS subquery conjunct $pred must reference only " +
                s"$subTable columns (correlation is the single equality)")
            sub = PlanNode(LogicalFilter(pred, Nil), Seq(sub))
          }
          p.expectKw(")")
          val (outer, inner) =
            if (subCols(y.name) && !subCols(x.name)) (x, y)
            else if (subCols(x.name) && !subCols(y.name)) (y, x)
            else throw new IllegalArgumentException(
              s"EXISTS correlation $x = $y does not resolve to exactly " +
                s"one column of $subTable")
          plan = PlanNode(LogicalJoin(jt, EqCond(outer, inner)),
            Seq(plan, sub))
        } else if (p.peek.contains("(")) {
          // parenthesized disjunction: ONE filter carrying an OrCond
          // (the disjuncts share a selectivity union and must push as a
          // unit — see [[OrCond]])
          p.next()
          val buf = scala.collection.mutable.ArrayBuffer(p.simplePred())
          p.expectKw("OR")
          buf += p.simplePred()
          while (p.peekKw("OR")) { p.next(); buf += p.simplePred() }
          p.expectKw(")")
          plan = PlanNode(LogicalFilter(OrCond(buf.toSeq), Nil), Seq(plan))
        } else {
          val l = Col(p.ident())
          if (p.peekKw("BETWEEN")) {
            // BETWEEN lo AND hi → ONE RangeCond filter (its AND is
            // consumed here, not the conjunct separator) — a single
            // node so selectivity prices the covered fraction exactly
            p.next()
            val lo = p.int()
            p.expectKw("AND")
            val hi = p.int()
            plan = PlanNode(LogicalFilter(
              RangeCond(l, lo.toLong, hi.toLong), Nil), Seq(plan))
          } else {
            val cmp = p.cmpOp()
            if (cmp == "=" && p.peek.contains("(")) {
              // scalar subquery: decorrelate to an inner join against
              // the subquery's single-row global aggregate — the
              // equality IS the join condition, so the whole query
              // stays in the relational IR
              p.next()
              val (subPlan, outCol) = scalarSubquery(p, scanOf)
              p.expectKw(")")
              plan = PlanNode(
                LogicalJoin(JoinType.Inner, EqCond(l, outCol)),
                Seq(plan, subPlan))
            } else {
              // projected_columns empty = keep all (operator/filter.rs:
              // 14-27 carries the projection list separately); equality
              // over columns keeps the reference's EqCond shape
              plan = PlanNode(
                LogicalFilter(p.predRhs(cmp, l), Nil), Seq(plan))
            }
          }
        }
        if (p.peekKw("AND")) p.next() else more = false
      }
    }
    if (aggCalls.nonEmpty) {
      val groupCols: Seq[Col] =
        if (p.peekKw("GROUP")) { p.next(); p.expectKw("BY");
          p.identList().map(Col) }
        else Nil
      // standard SQL rule: every bare select column must be a group key
      plainCols.foreach(c => require(groupCols.contains(c),
        s"column ${c.name} is neither aggregated nor in GROUP BY"))
      plan = PlanNode(LogicalAggregate(groupCols, aggCalls), Seq(plan))
      if (p.peekKw("HAVING")) {
        // post-aggregate filter over the aggregate's NAMED outputs
        // (AggCall.outName) or its group keys — Spark's HAVING resolution
        p.next()
        val lhs: String = {
          val t = p.ident()
          if (p.peek.contains("(")) {
            p.pushBack(t)
            val call = p.aggItem()
            require(aggCalls.contains(call),
              s"HAVING aggregate ${call.outName} must appear in the " +
                "select list")
            call.outName
          } else t
        }
        val cmp = p.cmpOp()
        val n = p.int()
        plan = PlanNode(
          LogicalFilter(CmpCond(cmp, Col(lhs), Lit(n.toLong)), Nil),
          Seq(plan))
      }
    } else require(!p.peekKw("GROUP") && !p.peekKw("HAVING"),
      "GROUP BY/HAVING without an aggregate in the select list")
    projection match {
      case Some(cols) => plan = PlanNode(LogicalProject(cols), Seq(plan))
      case None if aggCalls.isEmpty && !joined &&
          schema.contains(firstTable) =>
        // SELECT * over one cataloged table: expand like the reference's
        // planner (limit.yaml golden 1 keeps an explicit projection).
        // aggCalls.isEmpty guard: an aggregate query also has
        // projection == None, and expanding the catalog columns ABOVE
        // the LogicalAggregate would project columns the aggregate
        // does not produce (it provides only group keys + agg values).
        plan = PlanNode(
          LogicalProject(schema(firstTable).map(Col)), Seq(plan))
      case None => // aggregate, no catalog entry, or a join: leave bare
    }
    val order: OrderSpec =
      if (p.peekKw("ORDER")) {
        p.next(); p.expectKw("BY")
        OrderSpec.SortedBy(p.sortKeyList())
      } else OrderSpec.AnyOrder
    if (p.peekKw("LIMIT")) {
      p.next()
      val n = p.int()
      order match {
        // SQL's ORDER BY + LIMIT is TOP-K: the sort must happen below
        // the limit, which a root-property sort + LogicalLimit cannot
        // express (the property lands ABOVE the limit and the limit
        // rules legally absorb the limit into the scan, silently
        // changing which rows survive). Lower to [[LogicalTopK]] — the
        // order rides ON the node, the limit rules cannot touch it,
        // and the physical TopK delivers the root's required order
        // itself (Spark's Limit(Sort(...)) → TakeOrderedAndProject).
        case OrderSpec.SortedBy(keys) =>
          plan = PlanNode(LogicalTopK(n, keys), Seq(plan))
        case OrderSpec.AnyOrder =>
          plan = PlanNode(LogicalLimit(n), Seq(plan))
      }
    }
    p.expectEnd()
    (plan, PhysicalPropertySet.default.copy(order = order))
  }

  /** Uncorrelated scalar-aggregate subquery body (after the opening
    * paren): `SELECT fn(col|*) FROM table [WHERE col = col]`. Returns the
    * single-row aggregate sub-plan and its output column.
    */
  private def scalarSubquery(p: Parser,
      scanOf: String => LogicalScan): (PlanNode, Col) = {
    p.expectKw("SELECT")
    val call = p.aggItem()
    p.expectKw("FROM")
    var sub = PlanNode(scanOf(p.ident()))
    if (p.peekKw("WHERE")) {
      p.next()
      val (a, b) = p.equality()
      sub = PlanNode(LogicalFilter(EqCond(a, b), Nil), Seq(sub))
    }
    (PlanNode(LogicalAggregate(Nil, Seq(call)), Seq(sub)),
      Col(call.outName))
  }

  /** Split `sql` into tokens: `( ) , = < > <= >=` stand alone, a
    * single-quoted literal is ONE token with its quotes (spaces and
    * punctuation inside it included, `'MIDDLE EAST'`), and anything else
    * runs to the next whitespace or punctuation.
    */
  private def tokenize(sql: String): Vector[String] = {
    val toks = Vector.newBuilder[String]
    def isPunct(c: Char) = "(),=<>'".indexOf(c) >= 0
    var i = 0
    while (i < sql.length) {
      val c = sql(i)
      val end =
        if (c.isWhitespace) i + 1
        else if (c == '\'') {
          val close = sql.indexOf('\'', i + 1)
          require(close > 0, s"unterminated string literal at offset $i")
          close + 1
        } else if ((c == '<' || c == '>') && sql.startsWith("=", i + 1)) i + 2
        else if (isPunct(c)) i + 1
        else {
          var j = i + 1
          while (j < sql.length && !sql(j).isWhitespace && !isPunct(sql(j)))
            j += 1
          j
        }
      if (!c.isWhitespace) toks += sql.substring(i, end)
      i = end
    }
    toks.result()
  }

  /** Hand-rolled LL(1) cursor — four token kinds (keyword, identifier,
    * integer, punctuation) are all this grammar needs; errors carry the
    * offending token and position so golden-corpus typos fail loudly.
    */
  private final class Parser(toks: Vector[String]) {
    private var pos = 0
    def peek: Option[String] = toks.lift(pos)
    def next(): String = {
      val t = toks.lift(pos).getOrElse(
        throw new IllegalArgumentException("unexpected end of SQL"))
      pos += 1; t
    }
    /** One-token backtrack (LL(2) corner: HAVING's `ident (` lookahead). */
    def pushBack(t: String): Unit = {
      require(pos > 0 && toks(pos - 1) == t, s"cannot push back '$t'")
      pos -= 1
    }
    /** One comparison operator token. */
    def cmpOp(): String = {
      val t = next()
      require(Set("=", "<", ">", "<=", ">=")(t),
        s"expected comparison op at #$pos, got '$t'")
      t
    }
    /** Is the next token a single-quoted string literal? */
    def peekStr: Boolean =
      peek.exists(t => t.length >= 2 && t.head == '\'' && t.last == '\'')
    /** One quoted string literal, unquoted. */
    def str(): String = {
      require(peekStr, s"expected string literal at #$pos, got '${peek}'")
      val t = next()
      t.substring(1, t.length - 1)
    }
    /** The right-hand side of `col cmp …` (int, string, or column) as a
      * complete predicate expression.
      */
    def predRhs(cmp: String, l: Col): Expr =
      if (peek.exists(t => t.nonEmpty && t.forall(_.isDigit)))
        CmpCond(cmp, l, Lit(int().toLong))
      else if (peekStr) CmpCond(cmp, l, StrLit(str()))
      else {
        val r = Col(ident())
        if (cmp == "=") EqCond(l, r) else CmpCond(cmp, l, r)
      }
    /** One `col cmp (col | int | 'str')` comparison — an OR disjunct. */
    def simplePred(): Expr = {
      val l = Col(ident())
      predRhs(cmpOp(), l)
    }
    def peekKw(kw: String): Boolean =
      peek.exists(_.equalsIgnoreCase(kw))
    def expectKw(kw: String): Unit = {
      val t = next()
      require(t.equalsIgnoreCase(kw), s"expected $kw at #$pos, got '$t'")
    }
    def ident(): String = {
      val t = next()
      require(t.headOption.exists(c => c.isLetter || c == '_'),
        s"expected identifier at #$pos, got '$t'")
      t
    }
    def identList(): Seq[String] = {
      val buf = scala.collection.mutable.ArrayBuffer(ident())
      while (peek.contains(",")) { next(); buf += ident() }
      buf.toSeq
    }
    /** One ORDER BY axis: `col [ASC|DESC] [NULLS FIRST|LAST]`. Default
      * null placement follows the direction (Spark's SortOrder pairing:
      * ASC → NULLS FIRST, DESC → NULLS LAST) — oracle SQL should spell
      * the placement explicitly since DuckDB's dialect default differs.
      */
    def sortKey(): SortKey = {
      val c = Col(ident())
      val asc =
        if (peekKw("DESC")) { next(); false }
        else { if (peekKw("ASC")) next(); true }
      val nullsFirst =
        if (peekKw("NULLS")) {
          next()
          val t = next()
          require(t.equalsIgnoreCase("FIRST") || t.equalsIgnoreCase("LAST"),
            s"expected FIRST or LAST after NULLS at #$pos, got '$t'")
          t.equalsIgnoreCase("FIRST")
        } else asc
      SortKey(c, asc, nullsFirst)
    }
    def sortKeyList(): Seq[SortKey] = {
      val buf = scala.collection.mutable.ArrayBuffer(sortKey())
      while (peek.contains(",")) { next(); buf += sortKey() }
      buf.toSeq
    }
    /** count ( * ) | (sum|min|max|avg) ( col ) — one aggregate call. */
    def aggItem(): AggCall = {
      val t = ident()
      require(peek.contains("("), s"expected ( after $t at #$pos")
      next()
      val call = t.toLowerCase match {
        case "count" =>
          if (peekKw("DISTINCT")) {
            // count(distinct x) — planned via the dedup-first rewrite
            // ([[graft.cascades.Rules.RewriteDistinctAggRule]])
            next(); AggCall("count_distinct", Some(Col(ident())))
          } else {
            require(peek.contains("*"),
              s"count takes * or DISTINCT col at #$pos")
            next(); AggCall("count")
          }
        case fn @ ("sum" | "min" | "max" | "avg") =>
          AggCall(fn, Some(Col(ident())))
        case other =>
          throw new IllegalArgumentException(
            s"unsupported aggregate '$other' (count/sum/min/max/avg)")
      }
      expectKw(")")
      call
    }

    /** col | aggItem, comma-separated. */
    def selectList(): Seq[Either[Col, AggCall]] = {
      def item(): Either[Col, AggCall] = {
        val t = ident()
        if (peek.contains("(")) { pushBack(t); Right(aggItem()) }
        else Left(Col(t))
      }
      val buf = scala.collection.mutable.ArrayBuffer(item())
      while (peek.contains(",")) { next(); buf += item() }
      buf.toSeq
    }
    def int(): Int = {
      val t = next()
      require(t.forall(_.isDigit), s"expected integer at #$pos, got '$t'")
      t.toInt
    }
    def equality(): (Col, Col) = {
      val l = ident(); expectKw("="); (Col(l), Col(ident()))
    }
    def expectEnd(): Unit =
      require(pos == toks.length,
        s"trailing tokens from #$pos: ${toks.drop(pos).mkString(" ")}")
  }
}
