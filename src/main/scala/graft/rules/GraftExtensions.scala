package graft.rules

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions._

/** Session-extension entry point — the Spark-native analog of the reference's
  * `DFOptimizerAdapterRule` (logical→logical, wraps the HepOptimizer as a
  * DataFusion `OptimizerRule`, `datafusion-dolomite-integration/src/
  * rule.rs:18-56`): `injectOptimizerRule` for the three limit rules, and
  * `injectPlannerStrategy` for the hash-join implementation rule
  * ([[Join2HashJoinStrategy]]), plus `injectFunction` for the kernel
  * expressions, so the whole custom function surface is reachable from
  * plain SQL (`SELECT simhash64(...)`), not just the Column API.
  *
  * The reference's other adapter, `DFQueryPlanner` (wraps the
  * CascadesOptimizer as a DataFusion `QueryPlanner`, `src/planner.rs:22-56`),
  * is [[CascadesJoinHints]]; a session opts in to it through
  * `experimental.extraOptimizations`, not through these extensions.
  *
  * Usage:
  * {{{
  *   graft.GraftSession.local()  // the graft session factory installs them
  *   // or, on any builder: .withExtensions(new GraftExtensions)
  *   // or the conf spark.sql.extensions=graft.rules.GraftExtensions
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def litInt(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT argument, got $other")
  }

  private def fn(e: SparkSessionExtensions, name: String,
      clazz: Class[_], usage: String)(
      build: Seq[Expression] => Expression): Unit =
    e.injectFunction((FunctionIdentifier(name),
      // 5-arg overload: (className, db, name, usage, extended) — the
      // 3-arg one is (className, db, NAME) and would register the usage
      // text as the function name
      new ExpressionInfo(clazz.getName, null, name, usage, ""), build))

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => LimitRules.RemoveLimit)
    e.injectOptimizerRule(_ => LimitRules.PushLimitOverProjection)
    e.injectOptimizerRule(_ => LimitRules.PushLimitToTableScan)
    e.injectPlannerStrategy(_ => Join2HashJoinStrategy)

    fn(e, "quant_cosine", classOf[QuantizedCosine],
      "_FUNC_(a, b) - exact cosine of 1000x-quantized float vectors") {
      a => QuantizedCosine(a(0), a(1))
    }
    fn(e, "cosine_sim", classOf[CosineSimilarity],
      "_FUNC_(a, b) - float-vector cosine similarity") {
      a => CosineSimilarity(a(0), a(1))
    }
    fn(e, "quant_dot", classOf[QuantizedDot],
      "_FUNC_(a, b) - integer dot of quantized vectors") {
      a => QuantizedDot(a(0), a(1))
    }
    fn(e, "jaccard_sim", classOf[JaccardSimilarity],
      "_FUNC_(a, b) - distinct-set Jaccard of string arrays") {
      a => JaccardSimilarity(a(0), a(1))
    }
    fn(e, "jaccard_sorted_longs", classOf[JaccardSortedLongs],
      "_FUNC_(a, b) - Jaccard of sorted distinct long arrays") {
      a => JaccardSortedLongs(a(0), a(1))
    }
    fn(e, "word_shingles", classOf[WordShingles],
      "_FUNC_(tokens, n) - contiguous n-token shingles") {
      a => WordShingles(a(0), litInt(a(1), "word_shingles"))
    }
    fn(e, "minhash_sig", classOf[MinHashSignature],
      "_FUNC_(items, perms) - MinHash signature") {
      a => MinHashSignature(a(0), litInt(a(1), "minhash_sig"))
    }
    fn(e, "simhash64", classOf[SimHash64],
      "_FUNC_(tokens) - 64-bit frequency-weighted SimHash") {
      a => SimHash64(a(0))
    }
    fn(e, "winnow_fingerprints", classOf[WinnowFingerprints],
      "_FUNC_(text, k, w) - winnowing fingerprints (k-gram, window w)") {
      a => WinnowFingerprints(a(0), litInt(a(1), "winnow_fingerprints"),
        litInt(a(2), "winnow_fingerprints"))
    }
    fn(e, "lsh_buckets", classOf[LshBuckets],
      "_FUNC_(q, tables, bits) - LSH hyperplane bucket ids") {
      a => LshBuckets(a(0), litInt(a(1), "lsh_buckets"),
        litInt(a(2), "lsh_buckets"))
    }
    fn(e, "first_match", classOf[FirstMatch],
      "_FUNC_(a, b) - first index where two long arrays agree, or -1") {
      a => FirstMatch(a(0), a(1))
    }
    fn(e, "top_token_count", classOf[TopTokenCount],
      "_FUNC_(tokens) - occurrence count of the most frequent token") {
      a => TopTokenCount(a(0))
    }
    fn(e, "entropy_bits", classOf[EntropyBits],
      "_FUNC_(items) - Shannon entropy (bits) of a string-array multiset") {
      a => EntropyBits(a(0))
    }
    fn(e, "levenshtein_within", classOf[LevenshteinWithin],
      "_FUNC_(a, b, k) - min(levenshtein(a, b), k+1), banded O(k*n)") {
      a => LevenshteinWithin(a(0), a(1), litInt(a(2), "levenshtein_within"))
    }
  }
}
