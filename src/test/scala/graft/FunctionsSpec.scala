package graft

import org.apache.spark.sql.functions._

import graft.functions.functions._

/** Specs for the custom Catalyst expressions: semantics plus proof that the
  * generated code actually compiles (no silent interpreted fallback).
  */
class FunctionsSpec extends GraftSuite {
  import spark.implicits._

  test("quant_cosine: exact quantized cosine, identical vectors => 1.0") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f))
    ).toDF("a", "b")
    val got = df.select(quant_cosine($"a", $"b")).as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12) // dot/(sqrt*sqrt) fp rounding
    assert(got(1) == 0.0)
    assert(got(2) == 0.0) // zero-norm guard
  }

  test("cosine_sim float path matches manual computation") {
    val df = Seq((Array(3.0f, 4.0f), Array(4.0f, 3.0f))).toDF("a", "b")
    val got = df.select(cosine_sim($"a", $"b")).as[Double].collect()(0)
    assert(math.abs(got - 24.0 / 25.0) < 1e-12)
  }

  test("jaccard_sim treats arrays as distinct sets") {
    val df = Seq((Seq("a", "b", "b", "c"), Seq("b", "c", "d")))
      .toDF("a", "b")
    val got = df.select(jaccard_sim($"a", $"b")).as[Double].collect()(0)
    assert(got == 2.0 / 4.0) // {a,b,c} vs {b,c,d}: inter 2, union 4
  }

  test("minhash_sig: equal sets => equal signatures; disjoint differ") {
    val df = Seq(
      (1L, Seq("x", "y", "z")),
      (2L, Seq("z", "x", "y")), // same set, different order
      (3L, Seq("p", "q", "r"))
    ).toDF("id", "s")
    val sigs = df.select($"id", minhash_sig($"s", 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    assert(sigs(1L).length == 16)
  }

  test("simhash64: near-identical docs have tiny Hamming distance") {
    val base = (1 to 60).map(i => s"tok$i")
    val perturbed = base.updated(5, "CHANGED")
    val other = (1 to 60).map(i => s"other$i")
    val df = Seq((1L, base), (2L, perturbed), (3L, other)).toDF("id", "t")
    val sigs = df.select($"id", simhash64($"t").as("s"))
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(2L)) <= 8,
      s"near-dup hamming ${hamming(sigs(1L), sigs(2L))}")
    assert(hamming(sigs(1L), sigs(3L)) > 12,
      s"unrelated hamming ${hamming(sigs(1L), sigs(3L))}")
  }

  test("winnowing: near-duplicate docs share most fingerprints") {
    import graft.functions.functions.winnow_fingerprints
    val fps = Tables0.documents(spark, "/root/testdata/sf0.01")
      .filter(col("doc_id").isin(98L, 290L, 3L))
      .select($"doc_id", winnow_fingerprints($"text", 16, 8).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    def overlap(a: Seq[Long], b: Seq[Long]): Double = {
      val (sa, sb) = (a.toSet, b.toSet)
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    // 98/290 are a planted near-dup pair (Jaccard ~0.99 on shingles)
    assert(overlap(fps(98L), fps(290L)) > 0.6,
      s"near-dup overlap ${overlap(fps(98L), fps(290L))}")
    assert(overlap(fps(98L), fps(3L)) < 0.3,
      s"unrelated overlap ${overlap(fps(98L), fps(3L))}")
  }

  test("top_token_count matches explode/groupBy ground truth and runs in SQL") {
    import spark.implicits._
    import graft.functions.functions.top_token_count
    val docs = Seq(
      (1L, "a b a c a"),   // 'a' x3
      (2L, "x"),           // single token
      (3L, ""),            // split('') = [""] -> count 1
      (4L, "p q p q p q")) // 'p'/'q' x3 tie
      .toDF("id", "text")
    val got = docs.select(col("id"),
        top_token_count(split(col("text"), " ")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 3))
    // ground truth via the shuffle formulation the kernel replaces
    val truth = docs
      .select(col("id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("id", "w").count()
      .groupBy("id").agg(max("count").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got == truth)
    // SQL registration surface
    docs.createOrReplaceTempView("ttc_docs")
    val viaSql = spark.sql(
      "SELECT id, top_token_count(split(text, ' ')) FROM ttc_docs")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaSql == got)
    // NULL elements are skipped, not counted as the top token
    val withNulls = spark.sql(
      "SELECT top_token_count(array('a', CAST(NULL AS STRING), " +
        "CAST(NULL AS STRING)))").collect()(0).getInt(0)
    assert(withNulls == 1, s"NULLs must not count, got $withNulls")
  }

  test("levenshtein_within: banded kernel equals the full DP up to k, " +
      "saturates to k+1 beyond, and runs in SQL") {
    import spark.implicits._
    import graft.functions.functions.levenshtein_within
    // full O(n*m) reference implementation, independent of the kernel
    def ref(s: String, t: String): Int = {
      val dp = Array.tabulate(s.length + 1, t.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to s.length; j <- 1 to t.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
          dp(i - 1)(j - 1) + (if (s(i - 1) == t(j - 1)) 0 else 1))
      dp(s.length)(t.length)
    }
    // deterministic pseudo-random word pairs over a 3-letter alphabet
    // (small alphabet forces frequent near-misses around every k)
    val rnd = new scala.util.Random(42)
    def word() = (0 until 1 + rnd.nextInt(8))
      .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    val pairs = Seq.fill(300)((word(), word())) ++
      Seq(("", ""), ("", "abc"), ("abc", ""), ("same", "same"))
    for (k <- 0 to 3) {
      val got = pairs.toDF("a", "b")
        .select(levenshtein_within(col("a"), col("b"), k)).collect()
        .map(_.getInt(0)).toSeq
      val want = pairs.map { case (a, b) => math.min(ref(a, b), k + 1) }
      assert(got == want, s"k=$k: mismatch")
    }
    // SQL registration + the saturation contract on a known pair
    assert(spark.sql("SELECT levenshtein_within('kitten', 'sitting', 2)")
      .collect()(0).getInt(0) == 3) // true distance 3 saturates to k+1
    assert(spark.sql("SELECT levenshtein_within('kitten', 'sitting', 3)")
      .collect()(0).getInt(0) == 3)
  }

  test("expressions stay inside whole-stage codegen (generated code compiles)") {
    import org.apache.spark.sql.execution.debug._
    val df = Tables0.embeddings(spark, sfDir)
      .select(quant_cosine(col("embedding"), col("embedding")).as("c"),
        simhash64(split(col("vec_id").cast("string"), "")).as("s"))
    val code = df.queryExecution.debug.codegenToSeq()
    assert(code.nonEmpty, "no whole-stage codegen stage in plan")
    val all = code.map(_._2).mkString("\n")
    assert(all.contains("quantCosine"),
      "kernel call not present in generated code")
    assert(all.contains("simhash64"),
      "simhash kernel call not present in generated code")
    df.collect() // would throw if the generated code failed to compile
  }

  test("zorder2 interleaves bits exactly (and is column-symmetric-shifted)") {
    import spark.implicits._
    import graft.functions.functions.zorder2
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 1L), (1L << 19, 1L),
      // r5: 32-bit key domain — bit 31 of a → position 62, of b → 63
      ((1L << 31) | 1L, 0L), (0L, 1L << 31))
      .toDF("a", "b")
      .select(zorder2(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")))
      .as[Long].collect()
    // bit i of a → 2i; bit i of b → 2i+1
    assert(rows.toSeq == Seq(0L, 1L, 2L, 7L, (1L << 38) | 2L,
      (1L << 62) | 1L, 1L << 63), rows.toSeq.toString)
    // keys at/over 2^32 fail loudly (no silent aliasing); depending on
    // whether constant folding evaluates on the driver, the require
    // surfaces bare or wrapped in a SparkException
    val err = intercept[Exception] {
      Seq((1L << 32, 0L)).toDF("a", "b")
        .select(zorder2(org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b")))
        .as[Long].collect()
    }
    assert(err.toString.contains("zorder2") ||
      Option(err.getCause).exists(_.toString.contains("zorder2")), err)
  }

  private def exact_micros(c: org.apache.spark.sql.Column) =
    graft.functions.ColumnBridge.column(graft.functions.ExactMicros(
      graft.functions.ColumnBridge.expression(c)))

  /** `(c.cast(DECIMAL(28,6)) * 1e6).cast(LONG)`: the per-row conversion
    * exact_micros replaces, as Spark evaluates it. */
  private def castChain(c: org.apache.spark.sql.Column) =
    (c.cast(org.apache.spark.sql.types.DecimalType(28, 6)) * lit(1000000L))
      .cast("long")

  /** What evaluating `run` gives: Right(the value, or None for NULL), or
    * Left(the error class of the first SparkThrowable in the cause chain).
    */
  private def outcome(run: => Any): Either[String, Option[Long]] =
    try Right(Option(run).map(_.asInstanceOf[Long]))
    catch {
      case e: Throwable =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case t: org.apache.spark.SparkThrowable =>
            Left(t.getCondition) }
          .getOrElse(throw e)
    }

  /** A one-column DataFrame over an RDD: no local relation the optimizer
    * could fold, so the projection runs in generated code. */
  private def doubles(vs: Seq[java.lang.Double]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    spark.createDataFrame(spark.sparkContext.parallelize(vs.map(Row(_)), 4),
      StructType(Seq(StructField("c", DoubleType))))
  }

  test("exact_micros equals the DECIMAL(28,6) cast chain: value, NULL or " +
      "error class, in generated code and interpreted, ANSI on and off") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.functions.ExactMicros
    val rnd = new scala.util.Random(20261019L)
    def sign = if (rnd.nextBoolean()) 1.0 else -1.0
    // across magnitudes: 2^-40 .. 2^42 (below the long cast's limit)
    val random = Seq.fill(100000)(
      sign * math.scalb(1.0 + rnd.nextDouble(), rnd.nextInt(83) - 40))
    // TPC-H-shaped p * (1 - d) * (1 + t): cents, whole-percent rates
    val tpch = Seq.fill(100000) {
      val p = (90000 + rnd.nextInt(10400000)) / 100.0
      p * (1.0 - rnd.nextInt(11) / 100.0) * (1.0 + rnd.nextInt(9) / 100.0)
    }
    // near half-micros: k ulp either side of (u + 0.5) / 1e6
    val nearHalf = Seq.fill(20000) {
      var d = (rnd.nextLong() % 4000000000000L + 0.5) / 1e6
      val k = rnd.nextInt(17) - 8
      (1 to k.abs).foreach(_ => d = if (k > 0) math.nextUp(d) else math.nextDown(d))
      d
    }
    val limit = 4294967296.0 // the fast path's bound, 2^32
    val edges: Seq[java.lang.Double] = Seq(5e-7, 2.5e-6, -1.0000005,
      123.4567895, -5e-7, 0.0, -0.0, Double.MinPositiveValue,
      -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL / 3,
      java.lang.Double.MIN_NORMAL, math.nextDown(limit), limit,
      math.nextUp(limit), -math.nextDown(limit), -limit, -math.nextUp(limit),
      9.2e12, -9.2e12, 9.3e12, -9.3e12, 1e21, 1e22, -1e22, 1e300,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .map(Double.box) :+ null
    val bulk = (random ++ tpch ++ nearHalf).map(Double.box)
    for (ansi <- Seq(true, false)) {
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      try {
        // bulk: no error is possible below 2^42, one query per side
        val rows = doubles(bulk)
          .select(exact_micros(col("c")), castChain(col("c"))).collect()
        val diff = rows.filter(r => r.get(0) != r.get(1))
        assert(diff.isEmpty, s"ansi=$ansi: ${diff.take(5).mkString(", ")}")
        assert(rows.length == bulk.length)
        // edges: one query each, so an error stops only its own value
        for (d <- edges) {
          val want = outcome(doubles(Seq(d)).select(castChain(col("c")))
            .collect()(0).get(0))
          val got = outcome(doubles(Seq(d)).select(exact_micros(col("c")))
            .collect()(0).get(0))
          val interpreted = outcome(
            ExactMicros(Literal(d, org.apache.spark.sql.types.DoubleType), ansi)
              .eval())
          assert(got == want && interpreted == want,
            s"ansi=$ansi d=$d: chain $want, kernel $got, interpreted $interpreted")
        }
      } finally spark.conf.unset("spark.sql.ansi.enabled")
    }
    // the edges reach every arm: NULL, both error classes, wrapping
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      assert(outcome(doubles(Seq(1e22)).select(exact_micros(col("c")))
        .collect()(0).get(0)) == Left("NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION"))
      assert(outcome(doubles(Seq(9.3e12)).select(exact_micros(col("c")))
        .collect()(0).get(0)) == Left("CAST_OVERFLOW"))
    } finally spark.conf.unset("spark.sql.ansi.enabled")
    assert(ExactMicros(Literal(Double.NaN), ansi = true).eval() == null)
    assert(ExactMicros(Literal(9.3e12), ansi = false).eval() ==
      -9146744073709551616L) // 9.3e18 - 2^64
  }

  test("dsum runs exact_micros inside whole-stage codegen") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.debug._
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(graft.ops.Oracle.dsum(col("l_extendedprice")).as("s"))
    df.collect() // the adaptive plan is final once executed
    val code = df.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
    assert(code.contains("exactMicros"), "kernel call not in generated code")
    // the map-side stage, where each row is converted, is a codegen stage
    val plan = df.queryExecution.executedPlan
    val stages = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case w: WholeStageCodegenExec => w }
    assert(stages.exists(_.child.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.ExactMicros])))), plan)
  }

  test("dsumOver equals the DECIMAL(28,6) window sum: ROWS to 1 preceding " +
      "and RANGE -30..0 frames, NULLs, ±0.0 and near half-micros") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(20261020L)
    def value: java.lang.Double = rnd.nextInt(8) match {
      case 0 => null
      case 1 => if (rnd.nextBoolean()) 0.0 else -0.0
      case 2 => // k ulp either side of a half-micro: the kernel's slow path
        var d = (rnd.nextLong() % 4000000000000L + 0.5) / 1e6
        val k = rnd.nextInt(17) - 8
        (1 to k.abs).foreach(_ =>
          d = if (k > 0) math.nextUp(d) else math.nextDown(d))
        d
      case _ => (if (rnd.nextBoolean()) 1.0 else -1.0) *
        math.scalb(1.0 + rnd.nextDouble(), rnd.nextInt(60) - 30)
    }
    val rows = (0 until 20000).map(i =>
      Row(rnd.nextInt(40), i.toLong, rnd.nextInt(400), value))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("k", IntegerType),
        StructField("i", LongType), StructField("day", IntegerType),
        StructField("c", DoubleType))))
    val frames = Seq(
      "rows" -> Window.partitionBy("k").orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1),
      "range" -> Window.partitionBy("k").orderBy("day").rangeBetween(-30, 0))
    def bits(v: Any) = Option(v).map(d =>
      java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))
    for ((frame, w) <- frames) {
      val got = df.select(graft.ops.Oracle.dsumOver(col("c"), w),
        sum(col("c").cast(DecimalType(28, 6))).over(w).cast(DoubleType))
        .collect()
      assert(got.length == rows.length)
      val diff = got.filter(r => bits(r.get(0)) != bits(r.get(1)))
      assert(diff.isEmpty, s"$frame: ${diff.take(5).mkString(", ")}")
      if (frame == "rows") // each partition's first frame is empty: NULL
        assert(got.count(_.isNullAt(1)) >= 40)
    }
  }

  private object Tables0 {
    def embeddings(s: org.apache.spark.sql.SparkSession, d: String) =
      s.read.parquet(s"$d/embeddings.parquet")
    def documents(s: org.apache.spark.sql.SparkSession, d: String) =
      s.read.parquet(s"$d/documents.parquet")
  }
}
