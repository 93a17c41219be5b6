package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // repeats>1 = measurement mode (scripts/bench_standalone.sh): each query
    // timed N times, the reported number is the MEDIAN, and a detail line
    // with every run is printed so spread is auditable. Default 1 times
    // each query once.
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "1").toInt.max(1)
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JVM/codegen/file-index startup must not be billed to
    // whichever query happens to run first (best-effort — a failed warmup
    // must not abort the per-query report). The PPJoin dedup pipeline has
    // the heaviest generated code in the suite (~6 s of janino/JIT on
    // first execution, cached thereafter) — running it once untimed keeps
    // that one-off compile cost out of whichever jaccard-family query the
    // map ordering happens to put first.
    // NonFatal, not Throwable: an OOM/JVM error during warmup means no
    // timing from this JVM is trustworthy — let it crash the process.
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().count()
      SparkEntry.queries("dedup_ngram_jaccard")(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    } finally drain(spark)
    def timeOne(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok =
        // noop write, not count(): under a bare count Catalyst prunes sorts
        // (and can prune projects), so topk/sort timings would measure a
        // plan that is not the delivered one. The noop sink materializes
        // every output row through the full plan and discards it.
        try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
        catch {
          // NonFatal only: an executor OOM or other fatal JVM error must
          // propagate and kill the run, not become a silent -1.0 — a bench
          // JVM that has OOM'd once produces garbage timings for every
          // query after.
          case NonFatal(e) =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
        }
      // capture before teardown so cache/cleaner work isn't billed to the query
      val elapsed = (System.nanoTime() - t0) / 1e9
      drain(spark)
      if (ok) elapsed else -1.0
    }
    // SPARK_GRAFT_ONLY=q1,q2 — adjudication mode: re-time just the named
    // queries (gate-flagged movers) in isolation; the totals line then
    // covers only that subset and must not be committed as the reference
    // capture
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    val allRuns = selected.map { case (name, fn) =>
      name -> (1 to repeats).map(_ => timeOne(name, fn))
    }
    val results = allRuns.map { case (name, runs) =>
      val ok = runs.filter(_ >= 0)
      name -> (if (ok.size < runs.size) -1.0 else median(ok))
    }
    // fixed-point, 3 dp: keeps the line short. Field order matters for
    // robustness, not JSON semantics: the driver tail-captures the line, so
    // the load-bearing totals go LAST — a truncated head eats individual
    // query timings, never the total/count/sf.
    // Locale.ROOT: the f-interpolator uses the default locale — a
    // comma-decimal locale would emit invalid JSON
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    if (repeats > 1) {
      // audit line: every individual run, so median + spread are checkable
      val rs = allRuns.map { case (k, runs) =>
        "\"" + k + "\":[" + runs.map(fmt).mkString(",") + "]"
      }.mkString("{", ",", "}")
      println(s"""{"metric":"runs","repeats":$repeats,"queries":$rs}""")
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.filter(_ >= 0).sum else 0.0
    val failed = results.values.count(_ < 0)
    println(s"""{"metric":"total","queries":$qs,"n_queries":${results.size},"n_failed":$failed,"sf":"$sfDir","unit":"sec","value":${fmt(total)}}""")
    // The driver tail-captures ~3 KB of output and parses the LAST JSON
    // line it finds: at ~100 queries the full line above exceeds the
    // capture window, its head gets clipped, and parsing fails. So the
    // final line is a compact summary — totals plus only the slowest
    // queries — sized well under the window; the full per-query map stays
    // one line up for human/file consumption.
    val top = results.toSeq.sortBy(-_._2).take(25)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_failed":$failed,"top_slowest":$top}""")
    spark.stop()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Inter-query teardown: one query's cleanup debt must never land on
    * the next query's clock. Cached plans are dropped,
    * leaked persists unpersisted BLOCKING (clearCache alone is async), and
    * a GC pass runs so ContextCleaner's reference queue processes shuffle/
    * broadcast cleanup now rather than mid-next-query.
    */
  private def drain(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }
}
