package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `parent` is the id of
  * the enclosing span (-1 at the root); spans of one query share `qid`.
  */
final case class Span(id: Int, parent: Int, name: String, qid: Int,
    startNs: Long, endNs: Long)

/** In-memory span recorder. The harness is single-threaded (one closed-loop
  * client), so the parent stack is a plain list. Disabled, `span` is a
  * direct call.
  */
final class Tracer {
  var enabled = false
  var qid = -1
  private var nextId = 0
  private var stack: List[Int] = Nil
  val spans = mutable.ArrayBuffer[Span]()

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, qid, start, System.nanoTime())
      }
    }
}

/** Counters read from Spark's public listener interfaces while `active`:
  * scheduler and executor metrics from [[SparkListener]], Catalyst phase
  * and rule times from [[QueryExecutionListener]] through each query's
  * [[QueryPlanningTracker]], and code-generation counts from
  * [[CodegenMetrics]] / [[CodeGenerator.compileTime]].
  */
final class SparkCounters(spark: SparkSession) {
  @volatile var active = false
  @volatile private var lastEventNs = System.nanoTime()
  private val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private val jobStart = mutable.Map[Int, Long]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  private def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      lastEventNs = System.nanoTime()
      add("spark.jobs", 1)
      c.synchronized { jobStart(e.jobId) = e.time }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventNs = System.nanoTime()
      c.synchronized {
        jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (active) { lastEventNs = System.nanoTime(); add("spark.stages", 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
      lastEventNs = System.nanoTime()
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.run_s", m.executorRunTime / 1e3)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("scan.rows", m.inputMetrics.recordsRead.toDouble)
        add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      if (active) {
        lastEventNs = System.nanoTime()
        val info = e.blockUpdatedInfo
        if (info.blockId.isRDD && info.storageLevel.isValid) {
          add("blocks.writes", 1)
          add("blocks.written_bytes", (info.memSize + info.diskSize).toDouble)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (active) { lastEventNs = System.nanoTime(); addTracker(qe.tracker) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      if (active) { lastEventNs = System.nanoTime(); addTracker(qe.tracker) }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  /** Phase and rule times of one query's planning tracker; graft's own
    * rules are the ones whose class lives in the `graft` package.
    */
  def addTracker(t: QueryPlanningTracker): Unit = {
    t.phases.foreach { case (phase, s) =>
      add(s"catalyst.${phase}_ms", s.durationMs.toDouble)
    }
    t.rules.foreach { case (rule, s) =>
      if (rule.startsWith("graft.")) {
        add("rules.graft_ms", s.totalTimeNs / 1e6)
        add("rules.graft_invocations", s.numInvocations.toDouble)
        add("rules.graft_effective", s.numEffectiveInvocations.toDouble)
      }
    }
  }

  /** Listener events arrive asynchronously; wait until the bus has been
    * quiet for a moment and every started job has ended.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def quiet = System.nanoTime() - lastEventNs > 300L * 1000 * 1000 &&
      c.synchronized(jobStart.isEmpty)
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** Counters accumulated while active, plus driver-only wall time over
    * `[fromMs, toMs]`: the part of the interval no job was running.
    */
  def snapshot(fromMs: Long, toMs: Long): Map[String, Double] = c.synchronized {
    val busy = jobIntervals.map { case (s, e) => (s max fromMs, e min toMs) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    busy.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    if (curE > curS) covered += curE - curS
    c.toMap + ("spark.driver_s" -> ((toMs - fromMs - covered) / 1e3))
  }
}

/** Whole-JVM code-generation counters (janino compiles and their time). */
object Codegen {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileMs: Double = CodeGenerator.compileTime / 1e6
}
