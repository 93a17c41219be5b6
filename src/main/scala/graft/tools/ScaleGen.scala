package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the scaling-curve measurement
  * (VERDICT r7 directive #1: convert the 100 TB design-review grades into
  * measured data).
  *
  * Strategy: REPLICATION WITH KEY REMAPPING — the output at `copies = k` is
  * k disjoint, structure-preserving copies of the source scale factor, with
  * every surrogate key shifted into its own range (copy i adds
  * `i * (maxKey+1)` to each key column) and every free-text identity column
  * salted per copy (so exact/near-duplicate structure, group counts and
  * co-purchase graph components scale exactly k-fold instead of collapsing
  * across copies). Copy 0 is bit-identical to the source.
  *
  * Why replication instead of re-running a TPC-H-style generator: the
  * driver's generator is not available to the builder (TESTDATA.md:
  * read-only), and for a SCALING measurement the replication design is
  * strictly better — per-copy distributions are *exactly* the sf0.1
  * distributions, so the expected cost of every per-copy-local query is
  * exactly k times its sf0.1 cost and any measured super-linearity is
  * attributable to the PLAN, not to distribution drift between scale
  * factors. Deterministic by construction (no RNG anywhere).
  *
  * Dimension-style tables (`region`, `nation`) stay fixed, as in TPC-H,
  * where nation/region are scale-factor-independent.
  *
  * SECOND MODE — `skew` (r9, VERDICT r8 "what's wrong" #4): the keyed
  * replication above grows the NUMBER of groups while every per-key
  * group size and skew profile stays constant, so it cannot surface
  * per-key quadratic blowups. Skew mode replicates rows UNDER THE SAME
  * GROUPING KEYS: primary keys still shift (uniqueness assumptions
  * hold), but `o_custkey`/`user_id`/`l_partkey`/`l_suppkey`/document
  * TEXT/embedding VECTORS stay identical across copies — at k copies
  * every customer has k× the orders, every user k× the events (copy i's
  * timestamps offset by i×31 days, so sessions stay distinct), every
  * document text has k exact duplicates (dup-pair counts grow ~k²/group
  * BY DESIGN — the axis the window/PPJoin/sessionize families must
  * survive), every embedding vector k cosine-identical copies.
  * Dimension tables customer/supplier/part are written UNREPLICATED in
  * this mode (they are the group-key domains whose per-key fan-out the
  * fact growth multiplies).
  *
  * Usage: `runMain graft.tools.ScaleGen <srcDir> <outDir> <copies> [mode]`
  * (mode ∈ keys | skew, default keys)
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleGen <srcDir> <outDir> <copies> [keys|skew]")
    val Array(src, out, copiesStr) = args.take(3)
    val mode = if (args.length == 4) args(3) else "keys"
    require(Set("keys", "skew")(mode), s"unknown mode $mode")
    val copies = copiesStr.toInt
    require(copies >= 1, "copies must be >= 1")
    val spark = graft.GraftSession.builder(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (mode == "skew") generateSkew(spark, src, out, copies)
      else generate(spark, src, out, copies)
    } finally spark.stop()
  }

  /** Group-growth replication (mode `skew`) — see the object scaladoc. */
  def generateSkew(spark: SparkSession, src: String, out: String,
      copies: Int): Unit = {
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scalegen] wrote $t (skew)")
    }
    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getAs[Any](0) match {
        case l: Long => l + 1L
        case i: Int  => i + 1L
        case other   => sys.error(s"unexpected key type: $other")
      }
    /** k copies shifting ONLY the listed primary keys; grouping keys and
      * payloads stay byte-identical, so per-key group sizes grow k-fold.
      */
    def grow(df: DataFrame, pkShifts: Map[String, Long],
        tsOffset: Option[String] = None): DataFrame =
      (0 until copies).map { i =>
        val shifted = pkShifts.foldLeft(df) { case (d, (k, sp)) =>
          d.withColumn(k, col(k) + lit(i * sp))
        }
        tsOffset.fold(shifted)(t =>
          // copy i's month: within-copy session/window structure is
          // preserved, cross-copy events never collide in time — the
          // per-user event COUNT grows k-fold, the axis under test
          shifted.withColumn(t,
            col(t) + expr(s"INTERVAL ${i * 31} DAYS")))
      }.reduce(_ unionAll _)

    // dimensions AND group-key domains: unreplicated
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(t, read(t)))
    val orders = read("orders")
    val lineitem = read("lineitem")
    val events = read("events")
    val documents = read("documents")
    val embeddings = read("embeddings")
    val oSpan = span(orders, "o_orderkey")
    val eSpan = span(events, "event_id")
    val dSpan = span(documents, "doc_id")
    val vSpan = span(embeddings, "vec_id")
    // same o_custkey: every customer gets k× the orders
    write("orders", grow(orders, Map("o_orderkey" -> oSpan)))
    // l_orderkey shifts IN SYNC with orders (the join stays consistent);
    // same part/supplier keys: k× fan-out per part and supplier
    write("lineitem", grow(lineitem, Map("l_orderkey" -> oSpan)))
    // same user_id, month-offset timestamps: k× events/sessions per user
    write("events", grow(events, Map("event_id" -> eSpan),
      tsOffset = Some("ts")))
    // same TEXT: every document gains k−1 exact duplicates — dup groups
    // grow k-fold, candidate PAIRS ~k² per group (the quadratic axis)
    write("documents", grow(documents, Map("doc_id" -> dSpan)))
    // same vectors: cosine-identical clusters grow k-fold
    write("embeddings", grow(embeddings, Map("vec_id" -> vSpan)))
    println(s"[scalegen] done (skew): $copies copies of $src -> $out")
  }

  def generate(spark: SparkSession, src: String, out: String,
      copies: Int): Unit = {
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scalegen] wrote $t")
    }
    // key range per table, computed once (a one-row driver scalar; this is
    // a generator tool, not a pipeline operator)
    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getAs[Any](0) match {
        case l: Long => l + 1L
        case i: Int  => i + 1L
        case other   => sys.error(s"unexpected key type: $other")
      }

    /** k shifted/salted copies of `df`. `shifts` maps key column -> range
      * span; `salts` lists string columns to make copy-unique (suffixed
      * with `#c<i>` for i > 0, so copy 0 stays identical to the source and
      * within-copy duplicate structure is preserved exactly).
      */
    def replicate(df: DataFrame, shifts: Map[String, Long],
        salts: Seq[String] = Nil): DataFrame =
      (0 until copies).map { i =>
        val shifted = shifts.foldLeft(df) { case (d, (k, sp)) =>
          d.withColumn(k, col(k) + lit(i * sp))
        }
        if (i == 0) shifted
        else salts.foldLeft(shifted) { case (d, c) =>
          d.withColumn(c, concat(col(c), lit(s"#c$i")))
        }
      }.reduce(_ unionAll _)

    // dimensions: fixed, as in TPC-H
    write("region", read("region"))
    write("nation", read("nation"))

    val customer = read("customer")
    val supplier = read("supplier")
    val part = read("part")
    val orders = read("orders")
    val lineitem = read("lineitem")
    val events = read("events")
    val documents = read("documents")
    val embeddings = read("embeddings")
    val cSpan = span(customer, "c_custkey")
    val sSpan = span(supplier, "s_suppkey")
    val pSpan = span(part, "p_partkey")
    val oSpan = span(orders, "o_orderkey")
    val eSpan = span(events, "event_id")
    val uSpan = span(events, "user_id")
    val dSpan = span(documents, "doc_id")
    val vSpan = span(embeddings, "vec_id")

    write("customer", replicate(customer, Map("c_custkey" -> cSpan),
      salts = Seq("c_name")))
    write("supplier", replicate(supplier, Map("s_suppkey" -> sSpan),
      salts = Seq("s_name")))
    write("part", replicate(part, Map("p_partkey" -> pSpan),
      salts = Seq("p_name")))
    write("orders", replicate(orders,
      Map("o_orderkey" -> oSpan, "o_custkey" -> cSpan)))
    write("lineitem", replicate(lineitem, Map("l_orderkey" -> oSpan,
      "l_partkey" -> pSpan, "l_suppkey" -> sSpan)))
    write("events", replicate(events,
      Map("event_id" -> eSpan, "user_id" -> uSpan)))
    // documents: salt the TEXT itself (appended sentinel token), so exact
    // and near-duplicate groups stay within-copy (k-fold pair counts, not
    // the k^2-fold blowup cross-copy exact duplicates would produce);
    // n_chars is recomputed to keep the length invariant (n_chars ==
    // length(text) holds in the source data)
    write("documents", {
      val rep = (0 until copies).map { i =>
        val d = documents.withColumn("doc_id", col("doc_id") + lit(i * dSpan))
        if (i == 0) d
        else d.withColumn("text", concat(col("text"), lit(s" qc$i")))
      }.reduce(_ unionAll _)
      rep.withColumn("n_chars", length(col("text")).cast("long"))
    })
    // embeddings: nudge the first component per copy (deterministic
    // ±0.001·i) so cross-copy vectors are near- but not exact duplicates —
    // ANN ties stay broken, per-copy cluster geometry is unchanged
    write("embeddings", (0 until copies).map { i =>
      val d = embeddings.withColumn("vec_id", col("vec_id") + lit(i * vSpan))
      if (i == 0) d
      else d.withColumn("embedding", concat(
        transform(slice(col("embedding"), 1, 1),
          x => (x + lit(i * 0.001f)).cast("float")),
        slice(col("embedding"), 2, 1000000)))
    }.reduce(_ unionAll _))
    println(s"[scalegen] done: $copies copies of $src -> $out")
  }
}
