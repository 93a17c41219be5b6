package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names, each either exact
    // or a prefix ending in `*` (`cascades_exec_*`) — fast iteration on a
    // subset (the two-argument call dumps every query, as always)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSeq))
      case _ =>
        System.err.println("usage: Verify <sfDir> <outDir> [q1,prefix*,...]")
        sys.exit(2)
    }
    def keep(name: String): Boolean = only.forall(_.exists(selects(_, name)))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // the session users and perfbench run: GraftExtensions included
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var nOk, nFail = 0
    SparkEntry.queries.filter(q => keep(q._1)).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        nOk += 1
      } catch {
        // NonFatal only: an OOM'd JVM must abort the dump — a
        // partial-but-plausible verify output is worse than a failed run
        case scala.util.control.NonFatal(e) =>
          nFail += 1
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally { // query-local persists must not leak (blocking: clearCache
        // alone is async — a straggler unpersist could land on the next
        // query or leave blocks behind at process exit)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // loud, machine-grepable summary — an empty/partial dump must be
    // diagnosable from the log alone
    println(s"[verify] dumped ok=$nOk failed=$nFail " +
      s"oracle_entries=${SparkEntry.oracleSql.count(e => keep(e._1))} -> $outDir")
    spark.stop()
    // a partial dump is a failed run for anything that checks the status
    if (nFail > 0) sys.exit(1)
  }

  /** Whether a subset entry names `query`: exactly, or as a prefix when
    * it ends in `*`.
    */
  private[graft] def selects(entry: String, query: String): Boolean =
    if (entry.endsWith("*")) query.startsWith(entry.dropRight(1))
    else entry == query
}
