package perfbench

import scala.util.Random

/** One generated query: `mini` is the text the cascades front end
  * ([[graft.cascades.SqlFrontend]]) parses; `duck` is the same query in
  * DuckDB's dialect, with the output names and types the lowered Spark
  * plan produces (aggregate aliases, casts, explicit null placement).
  */
final case class GenQuery(mini: String, duck: String, joins: Int,
    shape: String)

/** Seeded generator of mini-SQL over the TPC-H-shaped tables, inside the
  * [[graft.cascades.SqlFrontend]] grammar: 1–5 equi-joins along
  * lineitem→orders→customer→nation→region plus part and supplier;
  * literal, BETWEEN, OR and string filters; GROUP BY/HAVING; ORDER BY/
  * LIMIT; [NOT] EXISTS and scalar subqueries.
  *
  * Query `i` has `1 + i % 5` joins (a subquery counts as one) and shape
  * `i % 4` (top-k, aggregate, [NOT] EXISTS, scalar subquery), so the mix
  * of join counts and shapes is the same whatever the seed; the seed picks
  * tables, columns and literals.
  */
object SqlGen {
  private final case class Edge(a: String, ac: String, b: String, bc: String)

  private val edges = Seq(
    Edge("lineitem", "l_orderkey", "orders", "o_orderkey"),
    Edge("orders", "o_custkey", "customer", "c_custkey"),
    Edge("customer", "c_nationkey", "nation", "n_nationkey"),
    Edge("nation", "n_regionkey", "region", "r_regionkey"),
    Edge("lineitem", "l_partkey", "part", "p_partkey"),
    Edge("lineitem", "l_suppkey", "supplier", "s_suppkey"))

  /** Finest table first: an FK-tree join keeps the grain of its finest
    * table, whose key leads the output order.
    */
  private val grain = Seq("lineitem", "orders", "customer", "part",
    "supplier", "nation", "region")
  private val keys = Map(
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "orders" -> Seq("o_orderkey"), "customer" -> Seq("c_custkey"),
    "part" -> Seq("p_partkey"), "supplier" -> Seq("s_suppkey"),
    "nation" -> Seq("n_nationkey"), "region" -> Seq("r_regionkey"))
  private val payload = Map(
    "lineitem" -> Seq("l_quantity", "l_returnflag", "l_linestatus"),
    "orders" -> Seq("o_orderstatus", "o_totalprice", "o_orderpriority"),
    "customer" -> Seq("c_name", "c_mktsegment", "c_acctbal"),
    "part" -> Seq("p_name", "p_brand", "p_size"),
    "supplier" -> Seq("s_name", "s_acctbal"),
    "nation" -> Seq("n_name"), "region" -> Seq("r_name"))
  /** Low-cardinality grouping columns per table. */
  private val groupCols = Map(
    "lineitem" -> Seq("l_returnflag", "l_linestatus", "l_linenumber"),
    "orders" -> Seq("o_orderstatus", "o_orderpriority"),
    "customer" -> Seq("c_mktsegment", "c_nationkey"),
    "part" -> Seq("p_type", "p_size"),
    "supplier" -> Seq("s_nationkey"),
    "nation" -> Seq("n_name", "n_regionkey"), "region" -> Seq("r_name"))
  /** Small integer columns: exact under sum and avg in both engines. */
  private val intCols = Map(
    "lineitem" -> Seq("l_linenumber"), "orders" -> Seq("o_custkey"),
    "customer" -> Seq("c_nationkey"), "part" -> Seq("p_size"),
    "supplier" -> Seq("s_nationkey"), "nation" -> Seq("n_regionkey"),
    "region" -> Seq("r_regionkey"))
  private val minMaxCols = Map(
    "lineitem" -> Seq("l_quantity", "l_extendedprice"),
    "orders" -> Seq("o_totalprice", "o_orderkey"),
    "customer" -> Seq("c_acctbal", "c_custkey"),
    "part" -> Seq("p_retailprice", "p_partkey"),
    "supplier" -> Seq("s_acctbal"), "nation" -> Seq("n_nationkey"),
    "region" -> Seq("r_regionkey"))

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def between(r: Random, lo: Int, hi: Int): Int =
    lo + r.nextInt(hi - lo + 1)
  private def q(s: String) = s"'$s'"

  /** One conjunct over table `t`, in both dialects. */
  private def filter(r: Random, t: String): (String, String) = {
    def same(s: String) = (s, s)
    t match {
      case "lineitem" => r.nextInt(3) match {
        case 0 => same(s"l_linenumber <= ${between(r, 1, 6)}")
        case 1 => same(s"l_returnflag = ${q(pick(r, Seq("A", "N", "R")))}")
        case _ =>
          val lo = between(r, 1, 40)
          same(s"l_quantity BETWEEN $lo AND ${lo + between(r, 1, 10)}")
      }
      case "orders" => r.nextInt(4) match {
        case 0 => same(s"o_orderkey <= ${between(r, 100, 140000)}")
        case 1 =>
          val lo = between(r, 0, 140000)
          same(s"o_orderkey BETWEEN $lo AND ${lo + between(r, 10, 9000)}")
        case 2 =>
          val a = between(r, 50, 5000)
          val b = between(r, 145000, 149900)
          (s"( o_orderkey <= $a OR o_orderkey >= $b )",
            s"(o_orderkey <= $a OR o_orderkey >= $b)")
        case _ => same(s"o_orderpriority = ${q(pick(r,
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW")))}")
      }
      case "customer" => r.nextInt(3) match {
        case 0 => same(s"c_custkey <= ${between(r, 50, 14000)}")
        case 1 => same(s"c_mktsegment = ${q(pick(r, Seq("AUTOMOBILE",
          "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))}")
        case _ => same(s"c_acctbal >= ${between(r, 0, 9000)}")
      }
      case "part" => r.nextInt(3) match {
        case 0 => same(s"p_size <= ${between(r, 2, 45)}")
        case 1 => same(s"p_type = ${q(pick(r, Seq("ECONOMY", "LARGE",
          "MEDIUM", "PROMO", "SMALL", "STANDARD")))}")
        case _ => same(s"p_brand = ${q("Brand#" + between(r, 1, 25))}")
      }
      case "supplier" => r.nextInt(2) match {
        case 0 => same(s"s_suppkey <= ${between(r, 10, 950)}")
        case _ =>
          val a = between(r, 10, 300)
          val b = between(r, 700, 990)
          (s"( s_suppkey <= $a OR s_suppkey >= $b )",
            s"(s_suppkey <= $a OR s_suppkey >= $b)")
      }
      case "nation" => r.nextInt(2) match {
        case 0 =>
          val lo = between(r, 0, 20)
          same(s"n_nationkey BETWEEN $lo AND ${lo + between(r, 0, 4)}")
        case _ => same(s"n_name = ${q("NATION_" + between(r, 0, 24))}")
      }
      // string literals are single tokens to the front end's whitespace
      // tokenizer, so values with spaces ('MIDDLE EAST', '4-NOT
      // SPECIFIED') are outside its grammar
      case _ => same(s"r_name = ${q(pick(r, Seq("AFRICA", "AMERICA",
        "ASIA", "EUROPE")))}")
    }
  }

  /** [NOT] EXISTS or scalar-subquery conjuncts usable with `tables`:
    * (mini, duck) pairs, each adding one join over a table outside the
    * FROM list (the front end has no aliases, so a table appears once).
    */
  private def subqueries(r: Random, tables: Seq[String],
      exists: Boolean): Seq[(String, String)] = {
    val has = tables.toSet
    if (exists) {
      val not = if (r.nextBoolean()) "NOT " else ""
      Seq(
        ("customer", "orders", "o_custkey = c_custkey",
          s"o_orderkey <= ${between(r, 100, 60000)}"),
        ("orders", "lineitem", "l_orderkey = o_orderkey",
          s"l_linenumber >= ${between(r, 3, 7)}"),
        ("nation", "customer", "c_nationkey = n_nationkey",
          s"c_custkey <= ${between(r, 10, 2000)}"),
        ("region", "nation", "n_regionkey = r_regionkey",
          s"n_nationkey <= ${between(r, 0, 12)}"))
        .collect { case (outer, inner, corr, extra)
            if has(outer) && !has(inner) =>
          (s"${not}EXISTS ( SELECT * FROM $inner WHERE $corr AND $extra )",
            s"${not}EXISTS (SELECT 1 FROM $inner WHERE $corr AND $extra)")
        }
    } else {
      Seq(
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"))
        .collect { case (outer, oc, inner, ic) if has(outer) && !has(inner) =>
          val fn = pick(r, Seq("min", "max"))
          (s"$oc = ( SELECT $fn ( $ic ) FROM $inner )",
            s"$oc = (SELECT $fn($ic) FROM $inner)")
        }
    }
  }

  /** A connected set of `n` tables with its join edges in FROM order. */
  private def tree(r: Random, n: Int): (Seq[String], Seq[Edge]) = {
    var tables = Seq(pick(r, grain.take(3)))
    var used = Seq.empty[Edge]
    while (tables.size < n) {
      val frontier = edges.filter(e => tables.contains(e.a) != tables.contains(e.b))
      val e = pick(r, frontier)
      tables :+= (if (tables.contains(e.a)) e.b else e.a)
      used :+= e
    }
    (tables, used)
  }

  def query(r: Random, i: Int): GenQuery = {
    val joins = 1 + i % 5
    val shape = Seq("topk", "agg", "exists", "scalar")(i % 4)
    // a subquery shape spends one of its joins on the subquery; when the
    // table set leaves no subquery to form, take the next shape (index
    // i + 5 keeps the join count)
    val sub = if (shape == "exists" || shape == "scalar") 1 else 0
    val (tables, used) = tree(r, joins + 1 - sub)
    val subq =
      if (sub == 1) {
        val cands = subqueries(r, tables, shape == "exists")
        if (cands.isEmpty) None else Some(pick(r, cands))
      } else None
    if (sub == 1 && subq.isEmpty) return query(r, i + 5)
    val from = tables.head + used.map { e =>
      val (l, rc, t) =
        if (tables.indexOf(e.a) < tables.indexOf(e.b)) (e.ac, e.bc, e.b)
        else (e.bc, e.ac, e.a)
      s" JOIN $t ON $l = $rc"
    }.mkString
    val conj = (1 to r.nextInt(3)).map(_ => filter(r, pick(r, tables))) ++
      subq.toSeq
    val whereMini = if (conj.isEmpty) "" else
      " WHERE " + conj.map(_._1).mkString(" AND ")
    val whereDuck = if (conj.isEmpty) "" else
      " WHERE " + conj.map(_._2).mkString(" AND ")
    if (shape == "agg") {
      val gcands = tables.flatMap(groupCols)
      val g = r.shuffle(gcands).take(1 + r.nextInt(math.min(2, gcands.size)))
      val t = pick(r, tables)
      val ic = pick(r, intCols(t))
      val mc = pick(r, tables.flatMap(minMaxCols))
      val distinct = r.nextInt(5) == 0
      val aggs: Seq[(String, String)] =
        if (distinct) Seq((s"count ( distinct $ic )",
          s"count(DISTINCT $ic) AS cntd_$ic"))
        else Seq(("count ( * )", "count(*) AS cnt")) ++
          r.shuffle(Seq(
            (s"sum ( $ic )", s"CAST(sum($ic) AS BIGINT) AS sum_$ic"),
            (s"avg ( $ic )",
              s"CAST(CAST(avg($ic) AS DECIMAL(28,6)) AS DOUBLE) AS avg_$ic"),
            (s"min ( $mc )", s"min($mc) AS min_$mc"),
            (s"max ( $mc )", s"max($mc) AS max_$mc"))).take(1 + r.nextInt(2))
      val having = !distinct && r.nextBoolean()
      val hn = between(r, 0, 20)
      val order = g.mkString(", ")
      val orderDuck = g.map(_ + " ASC NULLS FIRST").mkString(", ")
      val limit = if (r.nextBoolean()) s" LIMIT ${between(r, 5, 50)}" else ""
      GenQuery(
        s"SELECT ${(g ++ aggs.map(_._1)).mkString(", ")} FROM $from$whereMini" +
          s" GROUP BY ${g.mkString(", ")}" +
          (if (having) s" HAVING count ( * ) > $hn" else "") +
          s" ORDER BY $order$limit",
        s"SELECT ${(g ++ aggs.map(_._2)).mkString(", ")} FROM $from$whereDuck" +
          s" GROUP BY ${g.mkString(", ")}" +
          (if (having) s" HAVING count(*) > $hn" else "") +
          s" ORDER BY $orderDuck$limit",
        joins, shape)
    } else {
      // the finest table's key first; the other columns complete a total
      // order (lineitem's (l_orderkey, l_linenumber) is not unique in the
      // test data, and rows tied on every column are identical)
      val k = keys(tables.filter(grain.contains).minBy(grain.indexOf(_)))
      val extra = r.shuffle(tables.flatMap(payload)).take(1 + r.nextInt(2))
      val cols = (k ++ extra).distinct
      val limit = between(r, 20, 400)
      GenQuery(
        s"SELECT ${cols.mkString(", ")} FROM $from$whereMini ORDER BY " +
          s"${cols.mkString(", ")} LIMIT $limit",
        s"SELECT ${cols.mkString(", ")} FROM $from$whereDuck ORDER BY " +
          cols.map(_ + " ASC NULLS FIRST").mkString(", ") + s" LIMIT $limit",
        joins, shape)
    }
  }

  /** The `n` queries of the workload for `seed`, in generation order. */
  def generate(seed: Long, n: Int): IndexedSeq[GenQuery] = {
    val r = new Random(seed)
    (0 until n).map(i => query(r, i))
  }
}
