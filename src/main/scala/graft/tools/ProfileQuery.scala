package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Optimization-round measurement harness (guide §1): run named queries
  * through the noop sink and report WHERE the time goes — one line per
  * Spark job (wall, description) and per-stage shuffle volumes — so a
  * slow query can be attributed to edge-build vs iteration rounds vs
  * sink without guessing.
  *
  * Usage: ProfileQuery <sfDir> <q1,q2,...> [repeats]
  * Env: SPARK_GRAFT_CPUS as everywhere else.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val repeats = if (args.length > 2) args(2).toInt else 1
    val spark =
      graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")

    case class Job(id: Int, desc: String, start: Long, var end: Long = -1L)
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stageShuffle = mutable.LinkedHashMap[Int, (Long, Long, Long, Int)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs(js.jobId) = Job(js.jobId, desc, js.time)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(je.jobId).foreach(_.end = je.time)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stageShuffle.synchronized {
          val m = sc.stageInfo.taskMetrics
          stageShuffle(sc.stageInfo.stageId) = (
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.executorRunTime,
            sc.stageInfo.numTasks)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    // warmup like Bench
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().count()
    } catch { case e: Exception => System.err.println(s"warmup: $e") }

    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      (1 to repeats).foreach { rep =>
        jobs.synchronized(jobs.clear()); stageShuffle.synchronized(stageShuffle.clear())
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        System.gc()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events are async; let the bus drain
        Thread.sleep(300)
        println(f"=== $name rep $rep wall ${wall}%.3f s, ${jobs.size} jobs ===")
        jobs.values.toSeq.sortBy(_.start).foreach { j =>
          val dur = if (j.end >= 0) (j.end - j.start) / 1e3 else -1.0
          println(f"  job ${j.id}%4d ${dur}%8.3f s  ${j.desc.take(90)}")
        }
        val (srTot, swTot) = stageShuffle.values
          .foldLeft((0L, 0L)) { case ((a, b), (r, w, _, _)) => (a + r, b + w) }
        val runTot = stageShuffle.values.map(_._3).sum
        val tasks = stageShuffle.values.map(_._4).sum
        println(f"  stages: ${stageShuffle.size} | tasks: $tasks | " +
          f"executorRunTime ${runTot / 1e3}%.2f s | shuffle read ${srTot / 1e6}%.1f MB " +
          f"write ${swTot / 1e6}%.1f MB")
      }
    }
    spark.stop()
  }
}
