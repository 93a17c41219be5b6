package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Bridge between the public `Column`/`DataFrame` API and catalyst
  * `Expression`s/`LogicalPlan`s. Spark 4 moved this to the
  * `org.apache.spark.sql.classic` package (`ExpressionUtils`,
  * `Dataset.ofRows`), which is `private[sql]` at the Scala level (public
  * in bytecode) — reached via reflection; used while building plans only,
  * never per row.
  */
private[graft] object ColumnBridge {
  private val cls = Class.forName("org.apache.spark.sql.classic.ExpressionUtils")
  private val colM = cls.getMethod("column", classOf[Expression])
  private val exprM = cls.getMethod("expression", classOf[Column])
  private val ofRowsM = Class.forName("org.apache.spark.sql.classic.Dataset")
    .getMethod("ofRows",
      Class.forName("org.apache.spark.sql.classic.SparkSession"),
      classOf[LogicalPlan])
  private val setAnalyzedM = classOf[LogicalPlan].getMethod("setAnalyzed")

  def column(e: Expression): Column = colM.invoke(null, e).asInstanceOf[Column]
  /** A wrapper that defers conversion to analysis — fine as an argument
    * of a custom expression, but not the concrete node (a `SortOrder`,
    * say) that a logical operator's constructor requires.
    */
  def expression(c: Column): Expression =
    exprM.invoke(null, c).asInstanceOf[Expression]

  /** `plan`, which is analysed already (a `newInstance()` of an analysed
    * relation, say), as a DataFrame of `spark` — `Dataset.ofRows` of the
    * plan flagged as analysed, so the analyser returns it as is instead
    * of running every rule over it again. The caller owns the checks
    * analysis would have made.
    */
  def analysedDataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    setAnalyzedM.invoke(plan)
    ofRowsM.invoke(null, spark, plan).asInstanceOf[DataFrame]
  }
}

/** Custom Catalyst expressions for the training-data operators — the
  * preference-order step (b) of SURVEY.md §7.3: native `Expression`s with
  * `doGenCode` emitting calls to the static [[Kernels]], so they stay inside
  * whole-stage codegen (one virtual-free call per row, no UDF
  * serialization, no per-element Catalyst eval).
  */
private object codegenNames {
  // the top-level object's static forwarder class: janino cannot resolve
  // `Kernels.MODULE$` (MODULE$ lives on `Kernels$`), but the forwarder
  // methods on `graft.functions.Kernels` are plain statics
  val kernels: String = Kernels.getClass.getName.stripSuffix("$")
}

/** Declared input types make type mismatches fail at ANALYSIS time: the
  * kernels read raw `ArrayData` slots (`getFloat`/`getLong`), so e.g. an
  * `array<double>` argument to `cosine_sim` would otherwise pass analysis
  * and silently return garbage (4-byte reads of 8-byte slots).
  * `sameType` acceptance ignores nullability, so both `containsNull`
  * variants are admitted — the kernels null-check elements themselves.
  */
abstract class BinaryKernelExpression extends BinaryExpression
    with ExpectsInputTypes {
  protected def kernelMethod: String
  override def nullIntolerant: Boolean = true

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = ${codegenNames.kernels}.$kernelMethod($a, $b);")
}

/** Exact cosine over 1000x-quantized integer vectors (engine-portable — see
  * [[Kernels.quantCosine]]).
  */
case class QuantizedCosine(left: Expression, right: Expression)
    extends BinaryKernelExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "quant_cosine"
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  protected val kernelMethod = "quantCosine"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.quantCosine(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer dot product of two pre-quantized long vectors — for pair loops
  * where quantization/norms are computed once per row, not once per pair.
  */
case class QuantizedDot(left: Expression, right: Expression)
    extends BinaryKernelExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "quant_dot"
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  protected val kernelMethod = "quantDot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.quantDot(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Float cosine similarity (double accumulation). */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryKernelExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  protected val kernelMethod = "cosine"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.cosine(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Jaccard over two sorted, distinct long arrays (linear merge). */
case class JaccardSortedLongs(left: Expression, right: Expression)
    extends BinaryKernelExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted_longs"
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  protected val kernelMethod = "jaccardSortedLongs"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.jaccardSortedLongs(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Intersection count over two sorted long arrays — the containment
  * numerator ([[Kernels.intersectSortedLongs]]).
  */
case class IntersectSortedLongs(left: Expression, right: Expression)
    extends BinaryKernelExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_sorted_longs"
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  protected val kernelMethod = "intersectSortedLongs"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.intersectSortedLongs(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Distinct-set Jaccard over two string arrays. */
case class JaccardSimilarity(left: Expression, right: Expression)
    extends BinaryKernelExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sim"
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  protected val kernelMethod = "jaccard"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.jaccard(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature of a string array (`perms` permutations via xxh64
  * seeds). Replaces explode + groupBy + N min-aggregates with a single
  * shuffle-free pass.
  */
case class MinHashSignature(child: Expression, perms: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(items: Any): Any =
    Kernels.minhashSig(
      items.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], perms)
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"${codegenNames.kernels}.minhashSig($c, $perms)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing fingerprints of a string (k-gram rolling hash, window w). */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(s: Any): Any =
    Kernels.winnowFingerprints(
      s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"${codegenNames.kernels}.winnowFingerprints($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of the most frequent (non-NULL) token in the array — per-row hash
  * map ([[Kernels.topTokenCount]]); the repetition-quality signal without
  * an explode shuffle.
  */
case class TopTokenCount(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "top_token_count"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(tokens: Any): Any =
    Kernels.topTokenCount(
      tokens.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${codegenNames.kernels}.topTokenCount($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shannon entropy (bits) of a string-array multiset via the shared ln
  * table — see [[Kernels.entropyBits]] for the exact-parity contract.
  */
case class EntropyBits(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "entropy_bits"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(items: Any): Any =
    Kernels.entropyBits(
      items.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${codegenNames.kernels}.entropyBits($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bounded Levenshtein: `min(lev(a, b), k+1)` via the O(k·n) Ukkonen-band
  * kernel — see [[Kernels.levenshteinWithin]]. The fuzzy-join scalar:
  * unlike the built-in `levenshtein` (full O(n·m) matrix), a thresholded
  * pair search pays only the band it can ever accept.
  */
case class LevenshteinWithin(left: Expression, right: Expression, k: Int)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "levenshtein_within"
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.levenshteinWithin(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"${codegenNames.kernels}.levenshteinWithin($a, $b, $k)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Unigram-LM Viterbi segmentation ([[Kernels.unigramViterbi]]): word →
  * minimum-cost piece sequence under integer piece costs (parallel
  * piece/cost vocabulary arrays, broadcast via a one-row cross join).
  * TernaryExpression so all three inputs stay inside whole-stage codegen.
  */
case class UnigramViterbiSegment(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with ExpectsInputTypes {
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "unigram_viterbi"
  override def inputTypes: Seq[DataType] =
    Seq(StringType, ArrayType(StringType), ArrayType(LongType))
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(w: Any, p: Any, c: Any): Any =
    Kernels.unigramViterbi(
      w.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      p.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      c.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, p, c) =>
      s"${codegenNames.kernels}.unigramViterbi($w, $p, $c)")
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Contiguous n-token shingles of a token array (single pass). */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression
    with ExpectsInputTypes {
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(tokens: Any): Any =
    Kernels.wordShingles(
      tokens.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${codegenNames.kernels}.wordShingles($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** LSH bucket ids of a quantized (long) vector: `tables` x `bits`
  * sign-bit hyperplane signatures in one pass — see [[Kernels.lshBuckets]].
  */
case class LshBuckets(child: Expression, tables: Int, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(q: Any): Any =
    Kernels.lshBuckets(
      q.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      tables, bits)
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"${codegenNames.kernels}.lshBuckets($c, $tables, $bits)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** First index where two long arrays agree (-1 if none) — see
  * [[Kernels.firstMatch]].
  */
case class FirstMatch(left: Expression, right: Expression)
    extends BinaryKernelExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "first_match"
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  protected val kernelMethod = "firstMatch"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.firstMatch(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** HLL register rank rho of an xxh64 hash — see [[Kernels.rho57]]. */
case class Rho57(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "rho57"
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(h: Any): Any =
    Kernels.rho57(h.asInstanceOf[Long])
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${codegenNames.kernels}.rho57($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash of a token array (frequency-weighted). */
case class SimHash64(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(tokens: Any): Any =
    Kernels.simhash64(
      tokens.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${codegenNames.kernels}.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Exact micro-units of a double: the value, NULL or ANSI error of
  * `(child.cast(DECIMAL(28,6)) * 1000000).cast(LONG)` without a Decimal
  * per row (see [[Kernels.exactMicros]]). `ansi` is the cast's eval mode,
  * read from the conf in force when the expression is built, as `Cast`
  * reads its default.
  */
case class ExactMicros(child: Expression,
    ansi: Boolean = SQLConf.get.ansiEnabled) extends UnaryExpression
    with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "exact_micros"
  override def inputTypes: Seq[DataType] = Seq(DoubleType)
  override def nullable: Boolean = true // NaN, ±Inf, decimal overflow
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(d: Any): Any = {
    val v = d.asInstanceOf[Double]
    val units = Kernels.exactMicros(v)
    if (units != Kernels.NotFast) units else Kernels.exactMicrosSlow(v, ansi)
  }
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => {
      val slow = ctx.freshName("slow")
      s"""${ev.value} = ${codegenNames.kernels}.exactMicros($d);
         |if (${ev.value} == ${Kernels.NotFast}L) {
         |  java.lang.Long $slow = ${codegenNames.kernels}.exactMicrosSlow($d, $ansi);
         |  if ($slow == null) ${ev.isNull} = true;
         |  else ${ev.value} = $slow;
         |}""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** DECIMAL → DOUBLE with DuckDB's conversion semantics, for oracle parity
  * on large sums: DuckDB converts the int128 unscaled value as
  * `double(hi64)·2^64 + double(lo64)` and divides by `10^scale` — TWO
  * extra roundings versus the correctly-rounded single-step cast Spark's
  * `Decimal.toDouble` performs, so the engines diverge by 1 ulp once the
  * unscaled value crosses 2^64 (verified empirically; the same effect the
  * HLL harmonic sum handles via [[HllNdv256.sumToDoubleDuckdb]]). The
  * engine must mimic the oracle's conversion, not the mathematically
  * better one. Final-projection scalar over aggregated rows — interpreted
  * eval (CodegenFallback) is deliberate.
  */
case class DecimalToDoubleDuckdb(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "decimal_to_double_duckdb"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: DecimalType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a decimal child, got ${t.simpleString}")
    }

  override protected def nullSafeEval(v: Any): Any = {
    val dec = v.asInstanceOf[org.apache.spark.sql.types.Decimal]
    val u = BigInt(dec.toJavaBigDecimal.unscaledValue())
    val neg = u.signum < 0
    val m = if (neg) -u else u
    val hi = (m >> 64).toDouble // BigInt.toDouble is correctly rounded
    val lo = (m & DecimalToDoubleDuckdb.Mask64).toDouble
    // hi * 2^64 is exact scaling; + lo and / 10^scale each round once —
    // token-for-token DuckDB's path
    val d = (hi * DecimalToDoubleDuckdb.Two64 + lo) /
      BigInt(10).pow(dec.scale).toDouble
    if (neg) -d else d
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object DecimalToDoubleDuckdb {
  private val Mask64 = (BigInt(1) << 64) - 1
  private val Two64 = math.pow(2.0, 64)
}

/** Z-order (Morton) clustering key over two long columns — see
  * [[Kernels.zorder2]].
  */
case class ZOrder2(left: Expression, right: Expression)
    extends BinaryKernelExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder2"
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  protected val kernelMethod = "zorder2"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.zorder2(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Bloom-filter probe against a [[graft.functions.BloomBits]] blob: false =
  * DEFINITELY absent, true = maybe present (FP rate set by numBits/numHashes
  * at build time). numBits is carried by the blob itself (its length), so a
  * probe can never disagree with the filter it probes; `numHashes` must
  * match the build — both sides call the same [[Kernels]] methods.
  * Codegen'd: the probe runs inside whole-stage codegen on the scan side,
  * which is what makes the prefilter free at 100 TB.
  */
case class MightContainBloom(
    left: Expression, right: Expression, numHashes: Int)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "might_contain_bloom"
  override def inputTypes: Seq[DataType] = Seq(BinaryType, LongType)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(bloom: Any, h: Any): Any =
    Kernels.bloomMightContain(
      bloom.asInstanceOf[Array[Byte]], h.asInstanceOf[Long], numHashes)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, h) =>
      s"${ev.value} = ${codegenNames.kernels}" +
        s".bloomMightContain($b, $h, $numHashes);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-API facade, the user-facing function surface of the engine. */
object functions {
  import org.apache.spark.sql.functions.{floor, lit, transform}

  /** Engine-portable 1000x quantization of a float/double array:
    * floor(x*1000 + 0.5) as long — the single source of truth for the
    * column-level formula (the JVM kernels restate it; any change must
    * touch both AND the DuckDB oracle strings).
    */
  def quantize1000(c: Column): Column =
    transform(c, x => floor(x * lit(1000.0) + lit(0.5)).cast("long"))
  def quant_cosine(a: Column, b: Column): Column =
    ColumnBridge.column(
      QuantizedCosine(ColumnBridge.expression(a),
        ColumnBridge.expression(b)))

  def quant_dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      QuantizedDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSimilarity(ColumnBridge.expression(a),
        ColumnBridge.expression(b)))

  def jaccard_sorted_longs(a: Column, b: Column): Column =
    ColumnBridge.column(
      JaccardSortedLongs(ColumnBridge.expression(a),
        ColumnBridge.expression(b)))

  def intersect_sorted_longs(a: Column, b: Column): Column =
    ColumnBridge.column(
      IntersectSortedLongs(ColumnBridge.expression(a),
        ColumnBridge.expression(b)))

  def jaccard_sim(a: Column, b: Column): Column =
    ColumnBridge.column(
      JaccardSimilarity(ColumnBridge.expression(a),
        ColumnBridge.expression(b)))

  def minhash_sig(items: Column, perms: Int): Column =
    ColumnBridge.column(
      MinHashSignature(ColumnBridge.expression(items), perms))

  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens)))

  def lsh_buckets(q: Column, tables: Int, bits: Int): Column =
    ColumnBridge.column(
      LshBuckets(ColumnBridge.expression(q), tables, bits))

  def first_match(a: Column, b: Column): Column =
    ColumnBridge.column(
      FirstMatch(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def word_shingles(tokens: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(tokens), n))

  def top_token_count(tokens: Column): Column =
    ColumnBridge.column(TopTokenCount(ColumnBridge.expression(tokens)))

  def entropy_bits(items: Column): Column =
    ColumnBridge.column(EntropyBits(ColumnBridge.expression(items)))

  def winnow_fingerprints(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(
      WinnowFingerprints(ColumnBridge.expression(text), k, w))

  def might_contain_bloom(bloom: Column, hash: Column, numHashes: Int): Column =
    ColumnBridge.column(
      MightContainBloom(ColumnBridge.expression(bloom),
        ColumnBridge.expression(hash), numHashes))

  def zorder2(a: Column, b: Column): Column =
    ColumnBridge.column(
      ZOrder2(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def decimal_to_double_duckdb(c: Column): Column =
    ColumnBridge.column(DecimalToDoubleDuckdb(ColumnBridge.expression(c)))

  def rho57(c: Column): Column =
    ColumnBridge.column(Rho57(ColumnBridge.expression(c)))

  def levenshtein_within(a: Column, b: Column, k: Int): Column =
    ColumnBridge.column(LevenshteinWithin(
      ColumnBridge.expression(a), ColumnBridge.expression(b), k))

  def unigram_viterbi(word: Column, pieces: Column, costs: Column): Column =
    ColumnBridge.column(UnigramViterbiSegment(
      ColumnBridge.expression(word), ColumnBridge.expression(pieces),
      ColumnBridge.expression(costs)))
}
