package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.cascades.ParquetStats.FooterStats
import graft.functions.ColumnBridge

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * The reference resolves tables by name through a catalog
  * (`dolomite/src/optimizer.rs:12-14`, registration at
  * `dolomite/src/test_utils.rs:19-24`); our catalog is simply the parquet
  * directory for the requested scale factor. Reads go through
  * `spark.read.parquet`, which gives the vectorized columnar scan, predicate
  * pushdown and column pruning for free — at 100 TB these tables would be
  * partitioned directories, and the same code paths apply unchanged.
  *
  * Each table's schema is resolved once per process, not once per read:
  * the first read infers it (one Spark job over the footers), later reads
  * pass it to `spark.read.schema(...)` and launch no job. Its relation is
  * resolved once per session: later reads in the session reuse it. The
  * cache lives in the companion object (see there for keying and
  * invalidation), so the many short-lived `Tables(spark, dir)` instances
  * share it. Every read still carries fresh attribute IDs, so self-joins
  * through `df("col")` resolve as they always did.
  */
final class Tables(spark: SparkSession, dir: String) {
  private def path(name: String): String = s"$dir/$name.parquet"

  private def t(name: String): DataFrame = Tables.read(spark, path(name))._1

  /** Scale-adaptive post-scan rebalance for CPU-heavy per-row kernels
    * (r10, guide §2.5 "input skew — one huge unsplittable file ...
    * repartition immediately after the read"): a parquet file smaller
    * than the scan split size is ONE row group, so its scan is a single
    * task and a fused codegen kernel behind it runs on ONE core — at
    * sf0.1 every table is a single-row-group file, so kernel queries
    * serialized regardless of core count (measured: sim_pq_train_step
    * 1.8 s of executorRunTime in 1 task). The repartition costs one
    * shuffle of the (tiny, provably sub-split-size) input and buys
    * kernel-stage parallelism. Apply only where downstream aggregation
    * is partition-order-insensitive (exact integer/decimal sums, counts,
    * min/max, set-semantics collects) — the repo-wide doctrine.
    *
    * r11 rework of the r10 version (both VERDICT r10 defects):
    *  - SIZE IS DIRECTORY-AWARE: leaf-file bytes are summed via Hadoop
    *    `getContentSummary` — `java.io.File.length()` on a parquet
    *    DIRECTORY (the production layout) returned the ~4 KB dirent
    *    size, so the old `bytes < cores × maxSplit` gate would have
    *    fired at ANY scale and shuffled a 100 TB table.
    *  - THE PARTITION COUNT IS BYTE-CAPPED: `min(cores, ceil(bytes /
    *    chunk))` (chunk = [[Tables.DefaultChunkBytes]]) instead of
    *    a flat `repartition(cores)`, which put 32 partitions under a
    *    600 KB file at local[32] — every one of ~170 small consumers
    *    paid a 32-task wave for no kernel gain (driver r10: mm_binary_meta
    *    0.24→0.45 s, sim_ann_recall 0.77→1.22 s). Tiny inputs now get
    *    few partitions; the 4–8-core kernel wins survive at 32.
    *  - HASH, NOT ROUND-ROBIN: keyless `repartition(n)` pays a local
    *    sort of its input (`spark.sql.execution.sortBeforeRepartition`,
    *    on by default so retries are deterministic — guide §2.5), which
    *    for the 10.8 MB lineitem was the dominant hidden cost of the
    *    r10 flip at 32c. Hashing the table's unique key is deterministic
    *    under retry BY CONSTRUCTION (no sort needed) and spreads evenly
    *    (millions of distinct ids ≫ partitions).
    *
    * The rebalance fires only when it adds parallelism the scan cannot
    * provide: `want > scanTasks` where scanTasks is what the file layout
    * already yields (≥ file count, ≥ bytes/maxPartitionBytes). At 100 TB
    * the scan spans many splits, want ≤ cores ≪ scanTasks, and the frame
    * is returned untouched — no shuffle is ever added at scale.
    */
  private[graft] def rebalanced(name: String, df: DataFrame,
      keys: Seq[String]): DataFrame =
    rebalance(Tables.dataSize(spark, path(name)), df, keys)

  /** [[rebalanced]] over a (bytes, files) size already in hand. */
  private def rebalance(size: (Long, Long), df: DataFrame,
      keys: Seq[String]): DataFrame = {
    val (bytes, nFiles) = size
    val cores = spark.sparkContext.defaultParallelism
    val chunk = Tables.DefaultChunkBytes
    val want = math.min(cores.toLong,
      math.max(1L, (bytes + chunk - 1) / chunk)).toInt
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val scanTasks = math.max(nFiles, (bytes + maxSplit - 1) / maxSplit)
    if (want > scanTasks) df.repartition(want, keys.map(df(_)): _*) else df
  }

  /** [[lineitem]] rebalanced for kernel-stage parallelism — opt-in (the
    * relational family's aggregates shuffle early anyway; the rebalance
    * pays off only where per-row kernel work dominates the scan stage).
    */
  def lineitemPar: DataFrame =
    readRebalanced("lineitem", Seq("l_orderkey", "l_linenumber"))

  /** Read `name` and rebalance it, sized from the listing the read's
    * cache check already made (no second walk of the table's files).
    */
  private def readRebalanced(name: String, keys: Seq[String]): DataFrame = {
    val (df, size) = Tables.read(spark, path(name))
    rebalance(size, df, keys)
  }

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")
  /** `ts` is microsecond-precision INT64 (NTZ-annotated) in the parquet
    * footer since the round-5 testdata regeneration (it was nanoseconds
    * through round 4, which needed a raw-LONG read). Microseconds are
    * Spark's native timestamp precision, so it reads as a real
    * TimestampType column; the schema is still declared explicitly so the
    * NTZ annotation can never flip the read to TimestampNTZType under
    * `spark.sql.parquet.inferTimestampNTZ.enabled` — the session runs in
    * UTC, where LTZ-vs-NTZ is the identity and `unix_millis` agrees with
    * DuckDB's `epoch_ms` (see [[EventOps.withMs]]).
    */
  // events deliberately NOT rebalanced (r10, measured): the family is 64
  // mostly-tiny queries whose heavy work happens post-shuffle (windows /
  // grouped state), so the extra round-robin exchange cost more than the
  // parallel-decode gain (family total 36.2 s -> 44.1 s in the flipped
  // capture; e.g. events_slo_burn 0.17 -> 0.41 s isolated). The
  // documents/embeddings flip stays: their consumers are per-row CPU
  // kernels where the same trade measured a large net win.
  def events: DataFrame =
    spark.read.schema(Tables.eventsSchema).parquet(path("events"))
  /** Documents and embeddings feed the CPU-kernel families (text/dedup/
    * sim/mm) — rebalanced by default (r10): every aggregate over them is
    * partition-order-insensitive by the repo's DuckDB-parity doctrine
    * (exact integer/decimal sums, set-semantics collects, length-tie
    * Viterbi — audited this round), so the round-robin split changes no
    * result, only kernel-stage parallelism. At production scale the
    * rebalance is the identity (see [[rebalanced]]).
    */
  def documents: DataFrame = readRebalanced("documents", Seq("doc_id"))
  def embeddings: DataFrame = readRebalanced("embeddings", Seq("vec_id"))
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  /** Chunk size (bytes) that caps the [[Tables.rebalanced]] partition
    * count: partitions = min(cores, ceil(bytes / chunk)). A measured local
    * sweet spot (OPTIMIZATION_r11.md sweep at 8/32 cores): a larger chunk
    * gives fewer, bigger kernel partitions.
    */
  val DefaultChunkBytes: Long = 64L * 1024

  /** (total leaf-file bytes, leaf-file count) of a table path — correct
    * for both a single parquet file and a parquet DIRECTORY (the
    * production layout), unlike `java.io.File.length()` which returns
    * the dirent size for a directory. A missing path sizes as (0, 1):
    * sizing never fails, the read of the path reports it with Spark's
    * own error.
    */
  private[graft] def dataSize(
      spark: SparkSession, path: String): (Long, Long) =
    listing(path, spark.sparkContext.hadoopConfiguration)
      .fold((0L, 1L))(_._2.size)

  // ---- process-wide table cache -------------------------------------
  //
  // One entry per qualified table path: the FINGERPRINT of the path's
  // data files — the sorted (relative name, length, modification time)
  // of every leaf file that is not a `_`/`.` marker, from the same walk
  // that sizes the table — plus what was derived from those files: the
  // inferred schema (per value of the schema-inference confs) and the
  // footer statistics. Every lookup lists the path again and compares
  // fingerprints; a mismatch (a file added, removed, rewritten or
  // overwritten in place) REPLACES the entry, so the cache holds at most
  // one entry per distinct path and needs no size bound or conf. The
  // fingerprint is taken BEFORE the data it guards is read, so a write
  // racing the read can at worst file new data under the old
  // fingerprint, which the next lookup sees as a mismatch. Schemas and
  // footer statistics are plain values that every session shares. The
  // one session-bound value is the RESOLVED RELATION (file index
  // included) of the session that last read the path: ONE slot per
  // entry, replaced when another session or other schema-inference conf
  // values read the path, so the cache holds at most one relation — and
  // one SparkSession reference — per distinct path. A relation is never
  // handed out as is: every read wraps `newInstance()` of it, with fresh
  // attribute IDs (Spark's session catalog likewise caches the resolved
  // relations of catalog tables per session).

  /** Sorted (path relative to the table root, bytes, modification time)
    * of a table's data files.
    */
  private[graft] final case class Fingerprint(
      files: Vector[(String, Long, Long)]) {
    /** (total bytes, file count floored at 1) — [[dataSize]]'s answer. */
    def size: (Long, Long) =
      (files.iterator.map(_._2).sum, math.max(1L, files.size.toLong))
  }

  /** `session`'s relation over the entry's files, resolved under the
    * schema-inference conf values `confs`.
    */
  private final case class Resolved(session: SparkSession,
      confs: Seq[Option[String]], relation: LogicalRelation)

  private final class Entry(val fingerprint: Fingerprint) {
    /** Inferred schema per schema-inference conf values. */
    val schemas = new ConcurrentHashMap[Seq[Option[String]], StructType]()
    @volatile var footer: Option[FooterStats] = None
    /** The relation of the session that last read the path. */
    @volatile var resolved: Option[Resolved] = None
  }

  private val cache = new ConcurrentHashMap[String, Entry]()

  /** The confs `spark.read.parquet` consults when it infers a schema; a
    * cached schema is reused only under the same values.
    */
  private val inferenceConfs = Seq(
    SQLConf.PARQUET_BINARY_AS_STRING.key,
    SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
    SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
    SQLConf.PARQUET_SCHEMA_MERGING_ENABLED.key,
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key)

  /** (qualified path, fingerprint) of a table path, or None when the
    * path does not exist.
    */
  private def listing(path: String,
      conf: Configuration): Option[(String, Fingerprint)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status =
      try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    status.map { st =>
      val root = st.getPath
      val files =
        if (st.isFile) Vector((root.getName, st.getLen, st.getModificationTime))
        else {
          // recursive walk, DATA files only — `_SUCCESS`/`.crc` markers
          // must not inflate the scan-task estimate (Spark's scan skips
          // them too). `listStatus`, not `listFiles`: the latter's
          // LocatedFileStatus reads every file's permissions, which the
          // local file system does by running `ls` once per file (~40 ms
          // for a bucketed table's 8 files and their checksums)
          val prefix = root.toUri.getPath.stripSuffix("/") + "/"
          def leaves(dir: Path): Iterator[FileStatus] =
            fs.listStatus(dir).iterator.flatMap(f =>
              if (f.isDirectory) leaves(f.getPath) else Iterator.single(f))
          leaves(p).filter { f =>
            val nm = f.getPath.getName
            !nm.startsWith("_") && !nm.startsWith(".")
          }.map(f => (f.getPath.toUri.getPath.stripPrefix(prefix), f.getLen,
            f.getModificationTime)).toVector.sorted
        }
      (root.toString, Fingerprint(files))
    }
  }

  /** (qualified path, fingerprint) of `path`, or None when the path does
    * not exist: the check the table cache keys on, for a cache of what
    * was derived from a path's files outside this object.
    */
  private[graft] def fingerprint(spark: SparkSession,
      path: String): Option[(String, Fingerprint)] =
    listing(path, spark.sparkContext.hadoopConfiguration)

  /** The live entry for a listed path: the cached one if its fingerprint
    * still matches, else a fresh one that replaces it.
    */
  private def entry(key: String, fp: Fingerprint): Entry =
    cache.compute(key, (_, old) =>
      if (old != null && old.fingerprint == fp) old else new Entry(fp))

  /** A fresh parquet read of `path` and the path's (bytes, files) size.
    * Schema inference runs only on the first read of the path's current
    * files under the session's inference confs; relation resolution
    * (path check, file index) only on a session's first read of them. A
    * later read in the same session is a new instance of the resolved
    * relation: fresh attribute IDs, no file-system work beyond the
    * fingerprint listing and no second analysis. A missing path goes
    * straight to `spark.read.parquet`, which reports it with Spark's
    * usual error.
    */
  private[graft] def read(spark: SparkSession,
      path: String): (DataFrame, (Long, Long)) =
    listing(path, spark.sparkContext.hadoopConfiguration) match {
      case None => (spark.read.parquet(path), (0L, 1L))
      case Some((key, fp)) =>
        val e = entry(key, fp)
        val confs = inferenceConfs.map(spark.conf.getOption)
        val df = e.resolved match {
          case Some(r) if (r.session eq spark) && r.confs == confs =>
            ColumnBridge.analysedDataFrame(spark, r.relation.newInstance())
          case _ =>
            val df = Option(e.schemas.get(confs)) match {
              case Some(schema) => spark.read.schema(schema).parquet(path)
              case None =>
                val inferred = spark.read.parquet(path)
                e.schemas.putIfAbsent(confs, inferred.schema)
                inferred
            }
            df.queryExecution.analyzed match {
              case lr: LogicalRelation =>
                e.resolved = Some(Resolved(spark, confs, lr))
              case _ =>
            }
            df
        }
        (df, fp.size)
    }

  /** Footer statistics of `path`, memoized under the path's fingerprint;
    * `load` computes them on a miss (and for a missing path, where it
    * raises the error).
    */
  private[graft] def footer(path: String, conf: Configuration)(
      load: => FooterStats): FooterStats =
    listing(path, conf) match {
      case None => load
      case Some((key, fp)) =>
        val e = entry(key, fp)
        e.footer.getOrElse {
          val f = load
          e.footer = Some(f)
          f
        }
    }

  /** Where the managed table `table` of the current database lives: the
    * database's location plus the table name, the path `saveAsTable`
    * creates (and refuses when something is already there). A
    * persistent metastore keeps each database's own location, which
    * need not be under `spark.sql.warehouse.dir`.
    */
  private[graft] def managedLocation(spark: SparkSession,
      table: String): Path =
    new Path(new Path(spark.catalog.getDatabase(
      spark.catalog.currentDatabase).locationUri), table)

  /** Drop the managed table `table` and delete whatever is left at its
    * [[managedLocation]], through that location's Hadoop file system, so
    * `saveAsTable` can create it anew. The delete covers a directory
    * that outlived its catalog entry, such as the one an earlier
    * SparkContext's in-memory catalog left in the warehouse.
    */
  private[graft] def resetManagedTable(spark: SparkSession,
      table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = managedLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** events.parquet physical schema (`ts`: microsecond TimestampType). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))
}
