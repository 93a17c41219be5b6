package graft.tools

import scala.util.control.NonFatal

import graft.cascades._
import graft.ops.CascadesExecOps

/** Plan-work-isolated cost-model calibration (VERDICT r9 directive #4).
  *
  * The r9 calibration compared memo costs against BENCH_LOCAL medians,
  * where the CardinalityCostModel family's queries all measure sub-second
  * — fixed per-query overhead (session/scan setup, and a bucketed-table
  * WRITE inside the timed region for agg_clustered/smj_clustered)
  * exceeded the plan work the model prices, producing a noise-dominated
  * Spearman of −0.30. This tool isolates the plan work:
  *
  *  - runs at a 10× scale dir (default `/tmp/graft_sf1`, the ScaleGen
  *    keys-mode data) so the priced row-touches dominate fixed costs;
  *  - calls `planFor` ONCE per query UN-timed — parsing, footer-stat
  *    reads, the memo search, and any bucketed-table writes all happen
  *    here, outside the measurement;
  *  - then times `repeats` noop-sink re-executions of the returned
  *    DataFrame (the full physical plan, nothing else) and reports the
  *    median.
  *
  * Output: one JSON line per query
  * `{"query":…,"family":…,"cost":…,"runs":[…],"median_s":…}` and a final
  * summary line with the per-family Spearman. Redirect to a file and
  * pass it to DumpCascades as `GRAFT_CALIB_JSON` to embed the grounded
  * table in CASCADES.md.
  *
  * Run standalone (never sbt-co-resident while timing):
  * `scripts/calibrate_cost.sh [sfDir] [repeats]`.
  */
object CalibrateCost {

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/tmp/graft_sf1")
    val repeats = args.lift(1).map(_.toInt).getOrElse(5).max(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-calib-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val names = CascadesExecOps.sqls.keys.toSeq.sorted
    val rows = names.flatMap { name =>
      try {
        // UN-timed: parse + stats + memo search + bucketed-table writes
        val (winner, df) = CascadesExecOps.planFor(spark, sfDir, name)
        val model = CascadesExecOps.costModel(name)
        val cost = PlanCost.total(winner, model,
          CascadesExecOps.stats(spark, sfDir, name))
        // untimed warmup execution (codegen/JIT), then timed repeats of
        // the SAME DataFrame — each noop save re-runs the physical plan
        df.write.mode("overwrite").format("noop").save()
        val runs = (1 to repeats).map { _ =>
          val t0 = System.nanoTime()
          df.write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }
        val med = runs.sorted.apply(runs.length / 2)
        val fam = model.getClass.getSimpleName
        // exchange count of the winner: the stage-floor stratum the
        // grounded analysis groups by (fixed per-stage latency dominates
        // sub-million-row queries; see CASCADES.md grounded section)
        def exchanges(p: PlanNode): Int = (p.op match {
          case _: PhysicalExchange => 1
          case _                   => 0
        }) + p.inputs.map(exchanges).sum
        println(s"""{"query":"$name","family":"$fam","cost":$cost,""" +
          s""""exchanges":${exchanges(winner)},""" +
          s""""runs":[${runs.map(r => f"$r%.3f").mkString(",")}],""" +
          f""""median_s":$med%.3f}""")
        spark.catalog.clearCache()
        Some((name, fam, cost, med, exchanges(winner)))
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[calibrate] $name failed: ${e.getMessage}")
          spark.catalog.clearCache()
          None
      }
    }
    val fams = rows.groupBy(_._2).toSeq.sortBy(_._1).map { case (fam, rs) =>
      val rho = spearman(rs.map(r => (r._3, r._4)))
      f""""$fam":{"n":${rs.length},"spearman":$rho%.3f${fitJson(rs)}}"""
    }
    val pooled = f""""pooled":{"n":${rows.length},""" +
      f""""spearman":${spearman(rows.map(r => (r._3, r._4)))}%.3f""" +
      s"${fitJson(rows)}}"
    println(s"""{"summary":{${fams.mkString(",")},$pooled},""" +
      s""""sf":"$sfDir","repeats":$repeats}""")
    spark.stop()
  }

  /** Two-term least-squares fit `time ≈ a + b·exchanges + c·cost` — the
    * quantitative sufficiency test of the r10 stage-floor explanation:
    * if the floor (per-exchange fixed latency) plus the priced row-work
    * RANKS the measurements, the inversion in the cost-only Spearman is
    * the unpriced-constant term, not a wrong row model. Fitted `b` is
    * the per-stage floor in seconds; `c` the seconds per cost unit;
    * `spearman_fit` ranks the fitted prediction against the measurement.
    */
  private def fitJson(rs: Seq[(String, String, Double, Double, Int)])
      : String = {
    if (rs.length < 4) return ""
    val x1 = rs.map(_._5.toDouble); val x2 = rs.map(_._3)
    val y = rs.map(_._4)
    ols3(x1, x2, y) match {
      case Some((a, b, c)) =>
        val pred = x1.zip(x2).map { case (e, w) => a + b * e + c * w }
        val rho = spearman(pred.zip(y))
        f""","fit":{"a_s":$a%.4f,"b_s_per_exchange":$b%.4f,""" +
          f""""c_s_per_cost":$c%.3e,"spearman_fit":$rho%.3f}"""
      case None => ""
    }
  }

  /** OLS for y ≈ a + b·x1 + c·x2 via the 3×3 normal equations (None on a
    * singular system, e.g. all exchange counts equal).
    */
  private def ols3(x1: Seq[Double], x2: Seq[Double],
      y: Seq[Double]): Option[(Double, Double, Double)] = {
    val n = x1.length.toDouble
    val m = Array(
      Array(n, x1.sum, x2.sum),
      Array(x1.sum, x1.map(v => v * v).sum,
        x1.zip(x2).map(p => p._1 * p._2).sum),
      Array(x2.sum, x1.zip(x2).map(p => p._1 * p._2).sum,
        x2.map(v => v * v).sum))
    val b = Array(y.sum, x1.zip(y).map(p => p._1 * p._2).sum,
      x2.zip(y).map(p => p._1 * p._2).sum)
    // gaussian elimination with partial pivoting
    for (col <- 0 until 3) {
      val piv = (col until 3).maxBy(r => math.abs(m(r)(col)))
      if (math.abs(m(piv)(col)) < 1e-12) return None
      val (tm, tb) = (m(col), b(col))
      m(col) = m(piv); b(col) = b(piv); m(piv) = tm; b(piv) = tb
      for (r <- col + 1 until 3) {
        val f = m(r)(col) / m(col)(col)
        for (c <- col until 3) m(r)(c) -= f * m(col)(c)
        b(r) -= f * b(col)
      }
    }
    val beta = new Array[Double](3)
    for (r <- 2 to 0 by -1) {
      beta(r) = (b(r) - (r + 1 until 3).map(c => m(r)(c) * beta(c)).sum) /
        m(r)(r)
    }
    Some((beta(0), beta(1), beta(2)))
  }

  private def spearman(pairs: Seq[(Double, Double)]): Double = {
    def ranks(xs: Seq[Double]): Seq[Double] = {
      val sorted = xs.zipWithIndex.sortBy(_._1)
      val r = new Array[Double](xs.length)
      sorted.zipWithIndex.foreach { case ((_, orig), rank) =>
        r(orig) = rank + 1.0
      }
      r.toSeq
    }
    val (as, bs) = (ranks(pairs.map(_._1)), ranks(pairs.map(_._2)))
    val n = pairs.length.toDouble
    if (n < 2) return 0.0
    val d2 = as.zip(bs).map { case (a, b) => (a - b) * (a - b) }.sum
    1.0 - 6.0 * d2 / (n * (n * n - 1.0))
  }
}
