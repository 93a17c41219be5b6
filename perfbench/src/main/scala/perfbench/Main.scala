package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one seed, one closed-loop client.
  *
  * {{{
  * perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *                <workDir> <resultJson> <cores>
  * }}}
  *
  * Phases: session start; workload preparation (three times, to take the
  * median and to check that the seed gives the same items each time); the
  * output-check pass, which also warms code generation; the measured
  * phase, whole passes until `seconds` have elapsed, at least
  * [[MinPasses]]; and with trace on, one more pass with spans and
  * listener counters followed by one untraced pass. Spark's warehouse,
  * local and checkpoint directories live under `workDir`. The raw result
  * goes to `resultJson`; `run.py` turns it into metrics.
  */
object Main {
  /** Three passes give every query three samples, so a per-query median
    * can set one slow execution aside.
    */
  val MinPasses = 3

  final case class Sample(item: Int, pass: Int, ms: Double, ok: Boolean,
      error: String)

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val Array(wlName, seedS, secondsS, traceS, dataDir, work, resultPath,
      coresS) = argv
    val (seed, seconds, trace, cores) =
      (seedS.toLong, secondsS.toDouble, traceS == "1", coresS.toInt)
    def since(t: Long) = (System.nanoTime() - t) / 1e9

    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .appName("perfbench")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoint")
    val counters = if (trace) Some(new SparkCounters(spark)) else None
    val sessionS = since(t0)

    val tr = new Tracer
    val wl = Workloads(wlName, spark, dataDir, seed)
    // preparation three times: the median is the set-up share, and the
    // three item lists and pass orders must agree
    val prepS = mutable.ArrayBuffer[Double]()
    val seen = mutable.ArrayBuffer[Seq[String]]()
    for (_ <- 1 to 3) {
      val t = System.nanoTime()
      wl.prepare()
      prepS += since(t)
      seen += wl.items ++ (0 to 2).flatMap(p => wl.passOrder(seed, p).map(_.toString))
    }
    val deterministic = seen.distinct.size == 1

    // output-check pass (untimed; also the warm-up)
    val compiles0 = (Codegen.compiles, Codegen.compileMs)
    val tCheck = System.nanoTime()
    val checks = wl.items.indices.map { i =>
      val out = s"$work/out/q$i"
      val r = try Right(wl.checkOutput(i, out, tr))
      catch { case NonFatal(e) => Left(msg(e)) }
      drain(spark)
      r
    }
    val checkS = since(tCheck)
    val setupCompiles = (Codegen.compiles - compiles0._1,
      Codegen.compileMs - compiles0._2)
    val setupS = sessionS + median(prepS.toSeq) + checkS

    // measured phase: closed loop, whole passes, at least `seconds` long
    def runPass(pass: Int, into: mutable.ArrayBuffer[Sample]): Unit =
      wl.passOrder(seed, pass).foreach { i =>
        tr.qid = into.size
        val t = System.nanoTime()
        val err = try { tr.span("query")(wl.run(i, tr)); null }
        catch { case NonFatal(e) => msg(e) }
        val ms = (System.nanoTime() - t) / 1e6
        drain(spark)
        into += Sample(i, pass, ms, err == null, err)
      }
    val samples = mutable.ArrayBuffer[Sample]()
    val tMeasure = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || since(tMeasure) < seconds) {
      runPass(pass, samples)
      pass += 1
    }
    val measureS = since(tMeasure)

    // traced pass: spans + listener counters over one more whole pass,
    // followed by one more untraced pass; the tracing overhead compares
    // the traced pass with the untraced passes on either side of it
    val traced = mutable.ArrayBuffer[Sample]()
    val after = mutable.ArrayBuffer[Sample]()
    var layer = Map.empty[String, Double]
    counters.foreach { c =>
      wl.resetCounters()
      val c0 = (Codegen.compiles, Codegen.compileMs)
      tr.enabled = true
      c.active = true
      wl.onTracker = c.addTracker
      val fromMs = System.currentTimeMillis()
      runPass(pass, traced)
      val toMs = System.currentTimeMillis()
      tr.enabled = false
      wl.onTracker = _ => ()
      c.settle()
      c.active = false
      val counted = c.snapshot(fromMs, toMs) ++ wl.counters ++ Map(
        "codegen.compiles" -> (Codegen.compiles - c0._1).toDouble,
        "codegen.compile_ms" -> (Codegen.compileMs - c0._2))
      // one warm footer-statistics load over the nine tables, three times
      val statsMs = (1 to 3).map { _ =>
        val t = System.nanoTime()
        graft.cascades.ParquetStats.fromDir(dataDir, PlanWorkload.tables)
        (System.nanoTime() - t) / 1e6
      }
      runPass(pass + 1, after)
      layer = counted ++ Map(
        "stats.load_ms" -> median(statsMs),
        "traced.wall_s" -> (toMs - fromMs) / 1e3)
    }

    val json = new StringBuilder("{")
    def field(k: String, v: String): Unit =
      json.append(if (json.length > 1) "," else "").append(Json.str(k))
        .append(':').append(v)
    field("workload", Json.str(wlName))
    field("seed", seed.toString)
    field("cores", cores.toString)
    field("heap_mb", (Runtime.getRuntime.maxMemory / (1 << 20)).toString)
    field("deterministic", deterministic.toString)
    field("items", Json.arr(wl.items.indices.map(i =>
      Json.obj((Map("id" -> wl.items(i)) ++ wl.describe(i))
        .map { case (k, v) => k -> Json.str(v) }))))
    field("pass_order", Json.arr(wl.passOrder(seed, 0).map(_.toString)))
    field("setup", Json.obj(Map(
      "session_s" -> Json.num(sessionS),
      "prepare_s" -> Json.arr(prepS.map(Json.num).toSeq),
      "check_s" -> Json.num(checkS),
      "setup_s" -> Json.num(setupS),
      "codegen_compiles" -> Json.num(setupCompiles._1.toDouble),
      "codegen_compile_ms" -> Json.num(setupCompiles._2))))
    field("checks", Json.arr(checks.zipWithIndex.map {
      case (Right(sql), i) => Json.obj(Map("item" -> i.toString,
        "dir" -> Json.str(s"$work/out/q$i")) ++
        sql.map(s => "oracle" -> Json.str(s)))
      case (Left(err), i) => Json.obj(Map("item" -> i.toString,
        "error" -> Json.str(err)))
    }))
    def sampleJson(s: Sample) = Json.obj(Map("item" -> s.item.toString,
      "pass" -> s.pass.toString, "ms" -> Json.num(s.ms),
      "ok" -> s.ok.toString) ++ Option(s.error).map(e => "error" -> Json.str(e)))
    field("measure_s", Json.num(measureS))
    field("samples", Json.arr(samples.map(sampleJson).toSeq))
    field("traced", Json.arr(traced.map(sampleJson).toSeq))
    field("after", Json.arr(after.map(sampleJson).toSeq))
    field("layer", Json.obj(layer.map { case (k, v) => k -> Json.num(v) }))
    field("spans", Json.arr(tr.spans.map(s => Json.obj(Map(
      "id" -> s.id.toString, "parent" -> s.parent.toString,
      "name" -> Json.str(s.name), "qid" -> s.qid.toString,
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))).toSeq))
    field("peak_rss_kb", peakRssKb.toString)
    json.append('}')
    Files.write(Paths.get(resultPath),
      json.toString.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def msg(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Between-query drain, outside the clock: drop cached plans, unpersist
    * leaked persists blocking, and collect garbage so cleanup of one
    * query's shuffles and broadcasts does not land on the next.
    */
  private def drain(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Peak resident set of this JVM (`VmHWM`, kB). */
  private def peakRssKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
