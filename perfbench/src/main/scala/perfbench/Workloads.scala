package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker

import graft.SparkEntry
import graft.cascades._
import graft.ops.Tables

/** A benchmark workload: a seeded list of items, run in passes. Each pass
  * runs every item once, in an order drawn from the seed and the pass
  * number, so every pass does the same work.
  */
trait Workload {
  /** Build the workload's state from the seed (statistics, query text).
    * Runs during set-up and must be repeatable: calling it again gives
    * the same items.
    */
  def prepare(): Unit
  def items: IndexedSeq[String]
  /** Run item `i` as the timed unit of work. Throws on failure. */
  def run(i: Int, tr: Tracer): Unit
  /** Outside the clock: write item `i`'s output as one parquet file under
    * `dir` and return the DuckDB SQL its rows must equal, or None when the
    * item is not executed for checking.
    */
  def checkOutput(i: Int, dir: String, tr: Tracer): Option[String]
  /** Per-item facts recorded with the result (query text, join count). */
  def describe(i: Int): Map[String, String] = Map.empty
  /** Layer counters of the workload's own calls (memo sizes, costs). */
  def counters: Map[String, Double] = Map.empty
  def resetCounters(): Unit = ()
  /** Receives the planning tracker of each DataFrame the timed unit
    * builds; set while tracing.
    */
  var onTracker: QueryPlanningTracker => Unit = _ => ()

  def passOrder(seed: Long, pass: Int): IndexedSeq[Int] =
    new Random(seed * 1000003L + pass).shuffle(items.indices.toIndexedSeq)
}

/** Named queries of [[SparkEntry.queries]], executed end to end: the
  * timed unit is the call that builds the DataFrame (`ops.build`) plus its
  * execution into the no-op sink (`execute`). The seed orders each pass.
  */
final class NamedQueries(spark: SparkSession, dir: String,
    val items: IndexedSeq[String]) extends Workload {
  def prepare(): Unit = items.foreach(n =>
    require(SparkEntry.queries.contains(n), s"no query named $n"))

  private def build(i: Int, tr: Tracer): DataFrame =
    tr.span("ops.build")(SparkEntry.queries(items(i))(spark, dir))

  def run(i: Int, tr: Tracer): Unit = {
    val df = build(i, tr)
    // footer-statistics loads, read off the code path rather than
    // instrumented: CascadesExecOps.planFor calls ParquetStats.fromDir once
    // for every cascades_exec_* query in these sets
    if (items(i).startsWith("cascades_exec_")) statsCalls += 1
    tr.span("execute")(df.write.mode("overwrite").format("noop").save())
    // the sink runs as its own command; the built DataFrame's tracker
    // holds the analysis done while building it
    onTracker(df.queryExecution.tracker)
  }

  def checkOutput(i: Int, out: String, tr: Tracer): Option[String] = {
    build(i, tr).coalesce(1).write.mode("overwrite").parquet(out)
    SparkEntry.oracleSql.get(items(i))
  }

  private var statsCalls = 0.0
  override def counters: Map[String, Double] = Map("stats.calls" -> statsCalls)
  override def resetCounters(): Unit = statsCalls = 0
}

/** The compile path alone: generated mini-SQL through parse → HEP →
  * cascades search → lowering → Spark's executed plan. No query is
  * executed in the timed unit; the only Spark jobs are the schema
  * inference of the `spark.read.parquet` calls lowering makes.
  */
final class PlanWorkload(spark: SparkSession, dir: String, seed: Long)
    extends Workload {
  import PlanWorkload._
  private var stats: StatsModel = NoStats
  /** Table → columns, from the parquet schemas (read once). */
  private lazy val schema: Map[String, Seq[String]] = PlanWorkload.tables.map(t =>
    t -> spark.read.parquet(s"$dir/$t.parquet").columns.toSeq).toMap
  private var queries: IndexedSeq[GenQuery] = IndexedSeq.empty

  def prepare(): Unit = {
    stats = ParquetStats.fromDir(dir, PlanWorkload.tables)
    schema
    queries = SqlGen.generate(seed, Queries)
  }

  def items: IndexedSeq[String] = queries.map(_.mini)
  override def describe(i: Int): Map[String, String] = Map(
    "sql" -> queries(i).mini, "joins" -> queries(i).joins.toString,
    "shape" -> queries(i).shape)

  private var memoGroups, memoExprs, winnerCost = 0.0
  override def counters: Map[String, Double] = Map(
    "stats.calls" -> 0.0,
    "cascades.memo_groups" -> memoGroups,
    "cascades.memo_exprs" -> memoExprs,
    "cascades.winner_cost" -> winnerCost)
  override def resetCounters(): Unit = {
    memoGroups = 0; memoExprs = 0; winnerCost = 0
  }

  private def lowered(i: Int, tr: Tracer): DataFrame = {
    val (parsed, required) = tr.span("frontend.parse")(
      SqlFrontend.parseQuery(queries(i).mini, schema))
    val logical = tr.span("hep.optimize")(
      new HepOptimizer(Seq(Rules.PushFilterThroughJoinRule(schema)))
        .optimize(parsed))
    val (winner, memo) = tr.span("cascades.search")(
      new CascadesOptimizer(
        Rules.joinEnumerationRules :+ Rules.Join2BroadcastJoinRule,
        costModel = new ClusterCostModel, stats = stats, columns = schema)
        .optimizeWithMemo(logical, required))
    val plan = winner.getOrElse(
      sys.error(s"cascades found no winner for: ${queries(i).mini}"))
    memoGroups += memo.groups.size
    memoExprs += memo.groups.map(g =>
      g.logicalExprs.size + g.physicalExprs.size).sum
    winnerCost += memo.group(memo.root).winner(required).map(_.cost)
      .getOrElse(0.0)
    val t = Tables(spark, dir)
    val catalog: String => DataFrame = {
      case "region" => t.region;     case "nation" => t.nation
      case "customer" => t.customer; case "supplier" => t.supplier
      case "part" => t.part;         case "orders" => t.orders
      case "lineitem" => t.lineitem; case "documents" => t.documents
      case "embeddings" => t.embeddings
      case other => sys.error(s"unknown table $other")
    }
    tr.span("lower")(Execution.lower(plan, catalog))
  }

  def run(i: Int, tr: Tracer): Unit = {
    val df = lowered(i, tr)
    tr.span("catalyst.plan")(df.queryExecution.executedPlan)
    onTracker(df.queryExecution.tracker)
  }

  /** Every query must lower (checked by running it through the compile
    * path); `Executed` of them, picked by the seed, are also executed and
    * compared with DuckDB running the same query.
    */
  private lazy val executedSet: Set[Int] =
    passOrder(seed, -1).take(Executed).toSet

  def checkOutput(i: Int, out: String, tr: Tracer): Option[String] = {
    val df = lowered(i, tr)
    df.queryExecution.executedPlan
    if (!executedSet(i)) None
    else {
      df.coalesce(1).write.mode("overwrite").parquet(out)
      Some(queries(i).duck)
    }
  }
}

object PlanWorkload {
  /** Queries per pass: enough for every join count (1–5) and every
    * shape (4) to appear, few enough for the time budget.
    */
  val Queries = 8
  val Executed = 2
  /** The tables the cascades catalog knows (`CascadesExecOps`). */
  val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")
}

object Workloads {
  /** Fixed query sets: every seed does the same work and only the order
    * of a pass changes. Sized to the benchmark's time budget (README.md,
    * "Sizing").
    */
  val olap = IndexedSeq(
    "cascades_exec_broadcast_dim", "cascades_exec_three_way",
    "cascades_exec_agg_clustered", "q1_pricing")
  val iterative = IndexedSeq("graph_pagerank")

  def apply(name: String, spark: SparkSession, dir: String,
      seed: Long): Workload = name match {
    case "plan"      => new PlanWorkload(spark, dir, seed)
    case "olap"      => new NamedQueries(spark, dir, olap)
    case "iterative" => new NamedQueries(spark, dir, iterative)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
