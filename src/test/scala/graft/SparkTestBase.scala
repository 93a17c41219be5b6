package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one JVM-wide SparkContext; suites that
  * need their own confs build sibling sessions off the same context.
  */
object SparkTestBase {
  /** One session for all suites: the [[GraftSession]] users and perfbench
    * run, GraftExtensions included (it must be the FIRST session built in
    * the JVM — `getOrCreate` ignores `withExtensions` when an active
    * session already exists).
    */
  lazy val spark: SparkSession = GraftSession.builder("local[8]", 8)
    // fail hard if generated code does not compile — a silent interpreted
    // fallback would hide codegen bugs behind correct-but-slow results
    .config("spark.sql.codegen.fallback", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def sfDir: String = SparkTestBase.sfDir

  /** Spark jobs started while `body` runs. The listener bus is
    * asynchronous, so a marker job runs last and the count is read once
    * the marker's start has been delivered (the bus keeps order).
    */
  protected def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = s"jobs-marker-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == marker))
          markerSeen = true
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "marker job never reached the listener")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** `df`'s plan needs no analysis (a lowered winner's, say): it is
    * resolved and passes the session analyzer's checks, and the analyzer
    * returns an unflagged copy of it unchanged, with no rule effective.
    */
  protected def assertNeedsNoAnalysis(df: DataFrame): Unit = {
    val plan = df.queryExecution.analyzed
    assert(plan.resolved, s"unresolved plan\n$plan")
    val state = df.sparkSession.sessionState
    SQLConf.withExistingConf(state.conf) {
      state.analyzer.checkAnalysis(plan)
      val copy = unflagged(plan)
      assert(copy.find(_.analyzed).isEmpty)
      val tracker = new QueryPlanningTracker
      val again = state.analyzer.executeAndTrack(copy, tracker)
      assert(again.fastEquals(copy),
        s"analysis changed the plan\n$copy\nto\n$again")
      val effective = tracker.rules.collect {
        case (rule, s) if s.numEffectiveInvocations > 0 => rule
      }
      assert(effective.isEmpty, s"effective analyzer rules: $effective\n$plan")
    }
  }

  /** `p` rebuilt node by node, no node flagged as analysed (`clone`
    * keeps the flag).
    */
  private def unflagged(p: LogicalPlan): LogicalPlan = {
    val kids = p.children.map(unflagged).iterator
    p.makeCopy(p.productIterator.map {
      case _: LogicalPlan => kids.next()
      case arg            => arg.asInstanceOf[AnyRef]
    }.toArray)
  }

  /** The file relation a plain table read scans. */
  protected def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
    }.getOrElse(fail(s"no file relation in\n${df.queryExecution.analyzed}"))
}
