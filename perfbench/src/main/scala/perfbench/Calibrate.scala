package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}

/** Measures candidate queries for the cost bands of [[Workloads]]:
  * per query, one untimed warm-up execution, then the median of three
  * timed executions into the no-op sink; the RDD blocks it writes; the
  * lineage cuts it makes (the warm-up runs with `spark.graft.checkpointDir`
  * set, so each `cutLineage()` leaves a reliable checkpoint to count); and
  * whether it has oracle SQL.
  *
  * {{{
  * perfbench.Calibrate <dataDir> <workDir> <cores> <prefix|name>...
  * }}}
  * prints one tab-separated line per query: name, ms, blocks, cuts, oracle.
  */
object Calibrate {
  def main(argv: Array[String]): Unit = {
    val Array(dataDir, work, coresS) = argv.take(3)
    val cores = coresS.toInt
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var blocks = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        if (e.blockUpdatedInfo.blockId.isRDD &&
            e.blockUpdatedInfo.storageLevel.isValid) blocks += 1
    })
    val wanted = argv.drop(3)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => wanted.exists(w => n == w || n.startsWith(w)))
      .filterNot(_.contains("stream"))
    for (n <- names) {
      def once(): Double = {
        val t = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, dataDir)
          .write.mode("overwrite").format("noop").save()
        val ms = (System.nanoTime() - t) / 1e6
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        System.gc()
        ms
      }
      try {
        val ckpt = new java.io.File(s"$work/cuts")
        spark.conf.set(graft.ops.Checkpoints.DirConf, ckpt.getPath)
        once()
        spark.conf.unset(graft.ops.Checkpoints.DirConf)
        val cuts = Option(ckpt.listFiles).toSeq.flatten
          .flatMap(d => Option(d.listFiles).toSeq.flatten).size
        org.apache.commons.io.FileUtils.deleteDirectory(ckpt)
        Thread.sleep(200)
        blocks = 0
        val ms = Seq(once(), once(), once()).sorted.apply(1)
        Thread.sleep(200)
        println(s"$n\t${"%.1f".format(ms)}\t$blocks\t$cuts\t" +
          graft.SparkEntry.oracleSql.contains(n))
      } catch {
        case scala.util.control.NonFatal(e) =>
          println(s"$n\tERROR\t${e.getClass.getName}")
      }
    }
    spark.stop()
  }
}
