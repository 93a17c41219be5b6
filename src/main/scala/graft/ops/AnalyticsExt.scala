package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import Oracle._

/** Second tier of analytic operators: pivot, conditional aggregation,
  * moment-based variance, ordered collects, offset pagination, fuzzy string
  * matching, skew-safe salted aggregation, range-frame rolling windows,
  * ntile, median.
  *
  * Scale notes: the salted aggregate is the canonical hot-key mitigation
  * (pre-aggregate on (key, salt) before the final shuffle on key); the
  * rolling window shuffles once on the partition key with a value-range
  * frame (no unbounded state); pivot is a single partial+final aggregate
  * with a fixed column set (never pivot on unbounded cardinality).
  */
object AnalyticsExt {
  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    // Pivot: order counts per priority x status (fixed status domain).
    "pivot_status" -> { (s, d) =>
      Tables(s, d).orders
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O", "P")) // empty cells: match FILTER's 0
        .orderBy("o_orderpriority")
    },
    // Conditional aggregation (FILTER-clause semantics).
    "agg_filtered" -> { (s, d) =>
      Tables(s, d).lineitem
        .groupBy("l_returnflag")
        .agg(
          count(when(col("l_quantity") >= 25, 1)).as("n_heavy"),
          count(when(col("l_discount") > 0.05, 1)).as("n_discounted"),
          dsum(when(col("l_tax") > 0.04, col("l_extendedprice"))
            .otherwise(lit(0.0))).as("taxed_price"))
        .orderBy("l_returnflag")
    },
    // Sample variance/stddev from exact moments (explicit formula on both
    // engines — built-in var_samp uses Welford and would diverge bitwise).
    // Moments go through Oracle.dsum's long hi/lo fast path: quantity <= 50
    // so even the squared moment is ~2.5e9 micro-units/row, far inside the
    // path's per-row and per-group capacity (see Oracle doc).
    "agg_variance" -> { (s, d) =>
      val n = count(lit(1)).cast(DoubleType)
      val sm = dsum(col("l_quantity"))
      val sq = dsum(col("l_quantity") * col("l_quantity"))
      Tables(s, d).lineitem
        .groupBy("l_returnflag")
        .agg(((sq - (sm * sm) / n) / (n - lit(1.0))).as("var_qty"),
          sqrt((sq - (sm * sm) / n) / (n - lit(1.0))).as("stddev_qty"))
        .orderBy("l_returnflag")
    },
    // Ordered distinct collect, rendered as a joined string (list-typed
    // output would differ between engines only in arrow field metadata).
    "collect_sorted" -> { (s, d) =>
      Tables(s, d).lineitem
        .groupBy("l_returnflag")
        .agg(
          concat_ws(",", sort_array(collect_set(col("l_linestatus"))))
            .as("statuses"),
          concat_ws(",", transform(
            sort_array(collect_set(col("l_suppkey") % 10)),
            x => x.cast("string"))).as("supp_mod"))
        .orderBy("l_returnflag")
    },
    // Offset pagination under a total order.
    "sort_offset" -> { (s, d) =>
      Tables(s, d).orders
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .offset(10)
        .limit(20)
    },
    // Fuzzy matching: Levenshtein-close nation-name pairs.
    "fuzzy_nation_pairs" -> { (s, d) =>
      val n1 = Tables(s, d).nation
        .select(col("n_nationkey").as("k1"), col("n_name").as("name1"))
      val n2 = Tables(s, d).nation
        .select(col("n_nationkey").as("k2"), col("n_name").as("name2"))
      n1.crossJoin(n2)
        .filter(col("k1") < col("k2"))
        .select(col("k1"), col("k2"),
          levenshtein(col("name1"), col("name2")).as("dist"))
        .filter(col("dist") <= 4)
        .orderBy("k1", "k2")
    },
    // Skew-safe aggregation: pre-aggregate on (key, salt), then final on key
    // — identical result to the direct aggregate (decimal sums re-associate
    // exactly), halving the data volume entering the hot-key shuffle.
    "agg_salted" -> { (s, d) =>
      val salted = Tables(s, d).lineitem
        .withColumn("salt", pmod(col("l_orderkey"), lit(8)))
        .groupBy("l_returnflag", "salt")
        .agg(exactDecimalSumWide(col("l_extendedprice")).as("ps"),
          count(lit(1)).as("pc"))
      salted.groupBy("l_returnflag")
        .agg(sum(col("ps")).cast(DoubleType).as("sum_price"),
          sum(col("pc")).as("n"))
        .orderBy("l_returnflag")
    },
    // Skewed join left to AQE: 75% of lineitem rows collapse onto join key
    // 0 (which matches nothing), so one shuffle partition dwarfs the rest.
    // Complementary to agg_salted (manual salting): here the engine's
    // runtime re-plan (spark.sql.adaptive.skewJoin) splits the hot
    // partition — the 100 TB answer when the skew isn't known at write
    // time. ScaleSpec asserts the skew=true plan shape on a planted case.
    "join_skew_aqe" -> { (s, d) =>
      val li = Tables(s, d).lineitem
        .select(
          when(pmod(col("l_orderkey"), lit(4)) < 3, lit(0L))
            .otherwise(col("l_orderkey")).as("k"),
          col("l_extendedprice"))
      val ord = Tables(s, d).orders
        .select(col("o_orderkey").as("k"), col("o_orderstatus"))
      li.join(ord, "k")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("rev"))
        .orderBy("o_orderstatus")
    },
    // BANDED range join — the scale-safe plan for "rows within Δt of
    // each other": a naive |t_a − t_b| ≤ W predicate is a per-key cross
    // join; bucketing time into W-sized bands and emitting each LEFT row
    // under its own band and the next turns it into an EQUI-join on
    // (key, band) that covers every qualifying pair exactly once (the
    // band gap of a qualifying pair is 0 or 1). 2x probe fan-out buys a
    // linear shuffle — the same trade as the LSH band joins. Pairs are
    // ordered (t, id) strictly, so no self-pairs and no double counting.
    "join_range_bucket" -> { (s, d) =>
      val W = 1800000L
      val ev = Tables(s, d).events
        .select(col("user_id"), col("event_id"),
          expr("unix_millis(ts)").as("ts_ms"))
        .withColumn("bucket", expr(s"ts_ms div $W"))
      val probe = ev.select(col("user_id"), col("event_id").as("id_a"),
          col("ts_ms").as("t_a"),
          explode(array(col("bucket"), col("bucket") + 1)).as("k"))
      val build = ev.select(col("user_id"), col("event_id").as("id_b"),
        col("ts_ms").as("t_b"), col("bucket").as("k"))
      probe.join(build, Seq("user_id", "k"))
        .filter(col("t_b") >= col("t_a") &&
          col("t_b") - col("t_a") <= W &&
          (col("t_a") < col("t_b") || col("id_a") < col("id_b")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    },
    // 30-day rolling revenue per customer (value-range window frame).
    "window_rolling_30d" -> { (s, d) =>
      val dayNum = datediff(col("o_orderdate"), lit("1990-01-01").cast("date"))
      val w = Window.partitionBy("o_custkey").orderBy("day_num")
        .rangeBetween(-30, 0)
      Tables(s, d).orders
        .withColumn("day_num", dayNum)
        .withColumn("rolling_30d", dsumOver(col("o_totalprice"), w))
        .select("o_custkey", "o_orderkey", "day_num", "rolling_30d")
        .orderBy("o_custkey", "o_orderkey")
    },
    // Quartile assignment within each order status.
    "ntile_quartiles" -> { (s, d) =>
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      Tables(s, d).orders
        .withColumn("quartile", ntile(4).over(w))
        .groupBy("o_orderstatus", "quartile")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderstatus", "quartile")
    },
    // Custom TypedImperativeAggregate: exact top-5 order prices per status
    // (O(k) state, partial-merge heaps — the sketch-aggregation shape).
    "agg_topk_custom" -> { (s, d) =>
      import graft.functions.aggregates.topk_doubles
      val top = Tables(s, d).orders
        .groupBy("o_orderstatus")
        .agg(topk_doubles(col("o_totalprice"), 5).as("top5"))
      // try_element_at: a group with fewer than 5 rows yields NULLs (like
      // the oracle's xs[i]); plain element_at would throw under ANSI mode
      top.select(col("o_orderstatus") +:
          (1 to 5).map(i => try_element_at(col("top5"), lit(i)).as(s"p$i")): _*)
        .orderBy("o_orderstatus")
    },
    // Mergeable fixed-bin histogram quantiles (r5): the fourth sketch —
    // equi-width bin counts are the simplest MERGEABLE quantile summary
    // (union = vector add, the property t-digest/KLL refine), and unlike
    // those, every step here is exact integer/IEEE arithmetic the DuckDB
    // oracle replicates bit-for-bit (see [[quantileHistFrom]] for the
    // rounding contract). Width/count here: 840.0 × 128 bins covers this
    // corpus's price domain [901, 104950) — 840 = 107520/128 happens to
    // be exactly representable, but the contract does NOT rely on that
    // (the planted non-dyadic-width spec proves it). Scale shape: one
    // partial+final aggregate shuffles ≤ groups×nBins bin rows; the
    // quantile extraction windows over that tiny table, never the data.
    "agg_quantile_hist" -> { (s, d) =>
      quantileHistFrom(Tables(s, d).lineitem, col("l_extendedprice"),
        "l_returnflag", binWidth = 840.0, nBins = 128)
    },
    // Approximate sketches, three of them:
    //  - KMV (k-minimum-values) distinct sketch: hash each distinct key,
    //    keep the k smallest hashes; NDV ≈ (k-1)·2^64 / (u_k + 1). The
    //    estimate is plain order statistics + one IEEE double formula, so
    //    the DuckDB oracle recomputes it EXACTLY (same xxh64, same
    //    double ops in the same order) — a fully oracle-checked sketch.
    //  - HLL (approx_count_distinct) and KLL-ish percentile sketches have
    //    engine-private internals no independent oracle can reproduce, so
    //    their outputs are bounded-error CONTRACT columns: the oracle
    //    asserts TRUE for |hll-exact| <= 15% and |p50-median| <= 2; the
    //    raw estimates stay pinned by the closeness spec.
    // At 100 TB all three aggregate with O(k) partial state per group.
    "agg_approx_sketch" -> { (s, d) =>
      import graft.functions.aggregates.kmin_kth_long
      val k = 256
      val li = Tables(s, d).lineitem
      // KMV order statistic (k-th smallest distinct hash) fused into the
      // sketch aggregate: the kmin_kth_long TypedImperativeAggregate keeps a
      // bounded TreeSet of the k smallest DISTINCT hashes per group, so
      // there is no distinct() shuffle and no per-group window sort of the
      // distinct-hash table — one partial+final aggregate carries ≤ 256
      // longs per partial. NULL when the group has < k distinct hashes.
      // countDistinct stays SEPARATE (fusing it triggers an Expand that
      // doubles every input row), and the exact median from per-value
      // counts — l_quantity has ~50 distinct integer values, so median()'s
      // full value-sort aggregation is replaced by a 150-row cumulative
      // window
      val sk = li.groupBy("l_returnflag").agg(
        approx_count_distinct(col("l_partkey")).as("hll"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("amed"),
        kmin_kth_long(
          xxhash64(col("l_partkey").cast("string")), k).as("hk"))
      val exact = li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_ndv"))
      val counts = li.groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("c"))
      val cw = Window.partitionBy("l_returnflag").orderBy("l_quantity")
      val tw = Window.partitionBy("l_returnflag")
      val cum = counts
        .withColumn("hi", sum(col("c")).over(cw))
        .withColumn("lo", col("hi") - col("c") + 1)
        .withColumn("tot", sum(col("c")).over(tw))
        .withColumn("p1", expr("(tot + 1) div 2"))
        .withColumn("p2", expr("(tot + 2) div 2"))
      val emed = cum
        .filter(col("lo") <= col("p2") && col("p1") <= col("hi"))
        .groupBy("l_returnflag")
        .agg(((sum(when(col("lo") <= col("p1") && col("p1") <= col("hi"),
          col("l_quantity")).otherwise(lit(0.0))) +
          sum(when(col("lo") <= col("p2") && col("p2") <= col("hi"),
            col("l_quantity")).otherwise(lit(0.0)))) / lit(2.0)).as("emed"))
      sk.join(exact, Seq("l_returnflag"))
        .join(emed, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_ndv"),
          // u_k = hk + 2^63 maps the signed hash onto [0, 2^64); the
          // double-arithmetic order must match the oracle token for token
          when(col("hk").isNull, col("exact_ndv").cast("double"))
            .otherwise(lit(255.0) * lit(math.pow(2.0, 64)) /
              (col("hk").cast("double") + lit(math.pow(2.0, 63)) + lit(1.0)))
            .as("kmv_ndv"),
          (abs(col("hll") - col("exact_ndv")) * 100 <=
            col("exact_ndv") * 15).as("hll_within_15pct"),
          (abs(col("amed") - col("emed")) <= lit(2.0)).as("median_within_2"))
        .orderBy("l_returnflag")
    },
    // Our OWN HyperLogLog (m=256, xxh64 input) as a mergeable 256-byte
    // aggregate — unlike approx_count_distinct's engine-private HLL++,
    // every step here is public deterministic arithmetic, so the DuckDB
    // oracle replicates registers, harmonic sum, and raw estimate EXACTLY
    // (see graft.functions.HllNdv256). No distinct pre-shuffle: max is
    // idempotent. zero_regs lets readers apply small-range linear
    // counting themselves (ln is not cross-engine deterministic, so the
    // correction stays out of the oracle surface; AggregatesSpec applies
    // it and pins accuracy against exact NDV).
    "agg_hll_oracle" -> { (s, d) =>
      import graft.functions.aggregates.hll_ndv256
      Tables(s, d).lineitem
        .groupBy("l_returnflag")
        .agg(hll_ndv256(
          xxhash64(col("l_partkey").cast("string"))).as("sk"))
        .select(col("l_returnflag"),
          col("sk.raw_est").as("hll_raw"),
          col("sk.zero_regs").as("zero_regs"))
        .orderBy("l_returnflag")
    },
    // The LOW-cardinality HLL regime: per-language document counts are
    // ~100-200 distinct ids, leaving >= 128 of 256 registers at zero, so
    // the harmonic sum exceeds 2^64 — exercising the conversion path where
    // DuckDB's two-step HUGEINT->DOUBLE cast can double-round
    // ([[graft.functions.HllNdv256.sumToDoubleDuckdb]]). This corpus's
    // sums happen to convert identically either way, so the 1-ulp contract
    // itself is pinned by AggregatesSpec's counterexample, not by this
    // gate entry; readers would apply linear counting here (zero_regs is
    // large by design).
    "agg_hll_smallndv" -> { (s, d) =>
      import graft.functions.aggregates.hll_ndv256
      Tables(s, d).documents
        .groupBy("lang")
        .agg(hll_ndv256(
          xxhash64(col("doc_id").cast("string"))).as("sk"))
        .select(col("lang"),
          col("sk.raw_est").as("hll_raw"),
          col("sk.zero_regs").as("zero_regs"))
        .orderBy("lang")
    },
    // Count-min sketch frequency estimation (4x256 counters over xxh64
    // with per-row seeds "0".."3"): the mergeable CMS aggregate carries
    // one 1024-long vector per (partition, group) — no per-key shuffle —
    // and probe estimates read min-of-counters from the sketch. Every
    // counter is an exact integer, so the oracle replicates est(p) as
    // min_r (rows colliding with p in row r) without materializing the
    // sketch; exact probe counts sit alongside to expose the
    // overcount-never-undercount bound (est_p >= act_p).
    "agg_countmin_probe" -> { (s, d) =>
      import graft.functions.aggregates.cms_counters
      val D = 4; val W = 256
      val key = col("l_partkey").cast("string")
      // NULL-key gate: xxhash64(NULL) returns the seed (not NULL), so the
      // sketch must be told to skip NULL keys via a NULL ARRAY — matching
      // the oracle, whose per-row FILTER drops NULL buckets. l_partkey is
      // NOT NULL in this corpus; the gate keeps the exported pattern sound.
      val buckets = when(key.isNotNull, array((0 until D).map(r =>
        pmod(xxhash64(concat(lit(r.toString), key)), lit(W)).cast("int")): _*))
      val probes = Seq(1L, 2L, 3L)
      def est(p: Long): Column = least((0 until D).map { r =>
        // probe buckets are literal-input hashes — constant-folded
        element_at(col("cms"), lit(r * W) +
          pmod(xxhash64(lit(r.toString + p.toString)), lit(W)).cast("int") +
          lit(1))
      }: _*)
      Tables(s, d).lineitemPar // r10: D hashes/row kernel, see Tables.rebalanced
        .groupBy("l_returnflag")
        .agg(cms_counters(buckets, D, W).as("cms"),
          probes.map(p =>
            count(when(col("l_partkey") === p, 1)).as(s"act_$p")): _*)
        .select(col("l_returnflag") +:
          probes.flatMap(p => Seq(est(p).as(s"est_$p"), col(s"act_$p"))): _*)
        .orderBy("l_returnflag")
    },
    // Sketch MERGEABILITY — the property that makes sketches work at
    // 100 TB: per-group CMS counter vectors added element-wise
    // (vec_sum_longs) ARE the global sketch, so rollups/distributed unions
    // never rescan data. Probes of the merged sketch sit next to probes of
    // a directly-built global sketch; the oracle computes the global
    // estimate once and asserts both columns carry it.
    "agg_cms_union" -> { (s, d) =>
      import graft.functions.aggregates.{cms_counters, vec_sum_longs}
      val D = 4; val W = 256
      val key = col("l_partkey").cast("string")
      val buckets = when(key.isNotNull, array((0 until D).map(r =>
        pmod(xxhash64(concat(lit(r.toString), key)), lit(W)).cast("int")): _*))
      val probes = Seq(1L, 2L, 3L)
      def est(cmsCol: String, p: Long): Column = least((0 until D).map { r =>
        element_at(col(cmsCol), lit(r * W) +
          pmod(xxhash64(lit(r.toString + p.toString)), lit(W)).cast("int") +
          lit(1))
      }: _*)
      // r10: measured and reverted — both the kernel rebalance and a
      // projected persist LOST to the plain dual pruned scan here (2.0 s
      // vs 1.7 s median): the two sketch builds aggregate differently
      // (grouped vs global), each over a 2-column pruned scan, and the
      // added exchange/cache store exceeds the fused-scan saving
      val li = Tables(s, d).lineitem
      val merged = li.groupBy("l_returnflag")
        .agg(cms_counters(buckets, D, W).as("cms"))
        .agg(vec_sum_longs(col("cms")).as("cms_u"))
      val direct = li.agg(cms_counters(buckets, D, W).as("cms_g"))
      merged.crossJoin(direct)
        .select(probes.flatMap(p => Seq(
          est("cms_u", p).as(s"est_merged_$p"),
          est("cms_g", p).as(s"est_direct_$p"))): _*)
    },
    // Frame-spanning window functions: first/last/nth over the full
    // partition (explicit unbounded frame — last_value under the default
    // frame is the classic running-value bug).
    "window_first_last" -> { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, d).orders
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_totalprice")).over(w).as("first_price"),
          last(col("o_totalprice")).over(w).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
        .orderBy("o_custkey", "o_orderkey")
    },
    // Date arithmetic surface: day offset, day difference, month end,
    // quarter — all calendar-exact integer operations.
    "date_arith" -> { (s, d) =>
      Tables(s, d).orders
        .select(col("o_orderkey"),
          date_add(col("o_orderdate"), 30).as("due_date"),
          datediff(lit("2000-01-01").cast("date"), col("o_orderdate"))
            .as("days_to_y2k"),
          last_day(col("o_orderdate")).as("month_end"),
          quarter(col("o_orderdate")).as("q"))
        .orderBy("o_orderkey")
    },
    // Regex surface beyond replace: group extraction and match predicates.
    "regex_funcs" -> { (s, d) =>
      Tables(s, d).documents
        .select(col("doc_id"),
          regexp_extract(col("text"), "([a-z]+)", 1).as("first_word"),
          col("text").rlike("table").as("has_table"),
          size(split(col("text"), " value ")).as("n_value_splits"))
        .orderBy("doc_id")
    },
    // Pearson correlation + population covariance per group, from exact
    // decimal moment sums (quantity is integral, price has 2 decimals —
    // their squares/products stay exact under DECIMAL(28,6)); the final
    // formula is a fixed tree of correctly-rounded IEEE ops, identical in
    // both engines. One partial+final aggregate — the moment-sum shape
    // that distributes (Spark's own corr() uses a different update order,
    // so it is NOT oracle-comparable; the moments are).
    "agg_corr" -> { (s, d) =>
      import graft.functions.functions.decimal_to_double_duckdb
      val q = col("l_quantity"); val p = col("l_extendedprice")
      // the price-squared sum's unscaled value crosses 2^64, where
      // DuckDB's decimal->double cast double-rounds — every moment sum
      // therefore converts through the DuckDB-mimicking expression
      // (exact for the small sums, 1-ulp-matching for the large).
      // The squared moments exceed the 2-limb dsum capacity, so the
      // exact total comes from Oracle's 3-limb wide path (same decimal
      // value by construction, ~2x faster than a 128-bit decimal sum).
      def msum(c: Column): Column =
        decimal_to_double_duckdb(Oracle.exactDecimalSumWide(c))
      Tables(s, d).lineitemPar // r10: wide-decimal moment sums per row
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast("double").as("n"),
          msum(q).as("sx"), msum(p).as("sy"),
          msum(q * q).as("sxx"), msum(p * p).as("syy"),
          msum(q * p).as("sxy"))
        .select(col("l_returnflag"),
          // every term uses the proven `a - b*c/n` tree from agg_variance:
          // the n*sxy - sx*sy spelling diverged by ~2 ulp (C++-side FP
          // contraction of the two-product subtraction; Java forbids it)
          ((col("sxy") - col("sx") * col("sy") / col("n")) / col("n"))
            .as("covar_pop"),
          (((col("sxy") - col("sx") * col("sy") / col("n")) / col("n")) /
            (sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / col("n")) *
              sqrt((col("syy") - col("sy") * col("sy") / col("n")) / col("n"))))
            .as("corr"))
        .orderBy("l_returnflag")
    },
    // Skewness and excess kurtosis per event type — the third/fourth
    // standardized moments agg_variance/agg_corr stop short of (tail
    // asymmetry and tail weight are the distribution-shape signals
    // behind outlier policies and mixture diagnostics). The doctrine is
    // the integer one, not agg_corr's wide-decimal one: values are
    // floor-quantized to whole units (floor, NOT a double→int cast —
    // Spark truncates where DuckDB rounds; floor agrees everywhere, and
    // skew/kurtosis of the quantized variable is the declared readout),
    // so v ≤ 561 and all four power sums are exact BIGINT-range
    // integers (Σv⁴ ≈ 1.4·10¹³ at sf0.1, < 2⁶³ through ~10¹⁰ rows —
    // beyond that, swap in the 3-limb wide path like agg_corr). The
    // moment combination is then ONE fixed IEEE tree over exact sums,
    // with sqrt (correctly rounded by IEEE mandate) instead of pow
    // (libm, not portable). One partial+final aggregate — the identical
    // plan shape to agg_stats at any scale.
    "agg_moments" -> { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val v = col("v")
      val g = Tables(s, d).events
        .select(col("event_type"), floor(col("value")).as("v"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(v.cast(DecimalType(38, 0))).as("s1"),
          sum((v * v).cast(DecimalType(38, 0))).as("s2"),
          sum((v * v * v).cast(DecimalType(38, 0))).as("s3"),
          sum((v * v * v * v).cast(DecimalType(38, 0))).as("s4"))
      val nd = col("n").cast("double")
      val mean = col("s1").cast("double") / nd
      val e2 = col("s2").cast("double") / nd
      val e3 = col("s3").cast("double") / nd
      val e4 = col("s4").cast("double") / nd
      val m2 = e2 - mean * mean
      val m3 = e3 - lit(3.0) * mean * e2 + lit(2.0) * mean * mean * mean
      val m4 = e4 - lit(4.0) * mean * e3 + lit(6.0) * mean * mean * e2 -
        lit(3.0) * mean * mean * mean * mean
      g.select(col("event_type"), col("n"),
          (m3 / (m2 * sqrt(m2))).as("skewness"),
          (m4 / (m2 * m2) - lit(3.0)).as("excess_kurtosis"))
        .orderBy("event_type")
    },
    // Per-group mode (most frequent value, smallest-value tiebreak):
    // count aggregate then a rank-1 window — WindowGroupLimit keeps one
    // row per (group, partition) before the shuffle.
    "agg_mode" -> { (s, d) =>
      val counts = Tables(s, d).lineitem
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("cnt").desc, col("l_quantity").asc)
      counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("cnt"))
        .orderBy("l_returnflag")
    },
    // Fixed-width histogram (exact integer bucket arithmetic: one
    // correctly-rounded division + floor, engine-identical) — a
    // partial+final count aggregate over ~20 buckets.
    "histogram_prices" -> { (s, d) =>
      Tables(s, d).orders
        .select(least(lit(19), floor(col("o_totalprice") / 30000.0))
          .cast("int").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    },
    // Wide-to-long reshape (unpivot/melt) over an aggregated frame — the
    // deterministic unpivot form (the raw fact table has duplicate
    // (order, line) keys, so row order there would be unpinnable).
    "unpivot_metrics" -> { (s, d) =>
      Tables(s, d).lineitem
        .groupBy("l_returnflag")
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_discount")).as("sum_disc"),
          dsum(col("l_tax")).as("sum_tax"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_disc"), col("sum_tax")),
          "metric", "value")
        .orderBy("l_returnflag", "metric")
    },
    // Generator surface: positional explode — token streams with offsets
    // (the lateral-view shape every tokenize step uses at scale; a pure
    // map-side fan-out, no shuffle before the presentation sort).
    "posexplode_tokens" -> { (s, d) =>
      Tables(s, d).documents
        .filter(col("doc_id") < 20)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .orderBy("doc_id", "pos")
    },
    // Boolean aggregate surface (bool_and / bool_or / count_if) — all three
    // are ordinary partial+final aggregates (AND/OR/count merge trivially).
    "agg_boolean" -> { (s, d) =>
      Tables(s, d).lineitem
        .groupBy("l_returnflag")
        .agg(
          bool_and(col("l_quantity") > 0.0).as("all_pos_qty"),
          bool_or(col("l_discount") > 0.09).as("any_big_disc"),
          count_if(col("l_tax") > 0.05).as("n_taxed"))
        .orderBy("l_returnflag")
    },
    // Higher-order array functions (transform / filter / aggregate /
    // exists) over per-order quantity sequences ordered by (line number,
    // quantity) — the struct sort's full key; line numbers repeat in this
    // corpus, so the quantity tiebreak is load-bearing for the oracle.
    // The per-group array is bounded (lines per order ≤ 7), the fold is
    // left-associative in BOTH engines (0.0 + x = x exactly, so Spark's
    // explicit-init fold equals DuckDB's first-element reduce), and array
    // outputs render as strings — list-typed columns differ between
    // engines only in arrow field metadata (the collect_sorted rule).
    "higher_order_funcs" -> { (s, d) =>
      val qs = col("qs")
      Tables(s, d).lineitem
        .groupBy("l_orderkey")
        .agg(array_sort(collect_list(
          struct(col("l_linenumber"), col("l_quantity")))).as("st"))
        .select(col("l_orderkey"),
          transform(col("st"), x => x.getField("l_quantity")).as("qs"))
        .select(
          col("l_orderkey"),
          concat_ws(",", transform(transform(qs, x => x * 2.0),
            x => x.cast("string"))).as("doubled"),
          concat_ws(",", transform(filter(qs, x => x > 20.0),
            x => x.cast("string"))).as("big"),
          aggregate(qs, lit(0.0), (acc, x) => acc + x).as("q_sum"),
          exists(qs, x => x >= 50.0).as("has_50"),
          size(qs).as("n"))
        .orderBy("l_orderkey")
    },
    // Exact median of integer-valued quantities (interpolation lands on
    // exact halves — engine-portable).
    "agg_median" -> { (s, d) =>
      Tables(s, d).lineitem
        .groupBy("l_returnflag")
        .agg(median(col("l_quantity")).as("median_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
        .orderBy("l_returnflag")
    },
    // Exact multi-quantile profile in ONE percentile aggregate (the array
    // form sorts each group once for all four cut points — four scalar
    // percentile() calls would sort four times); split into scalar
    // columns because list-typed output differs between engines only in
    // arrow field metadata (the collect_sorted precedent). Interpolation
    // parity with DuckDB's quantile_cont is pinned by agg_median; the
    // cut-point arithmetic h = q·(n−1) is the same IEEE tree on both
    // sides.
    "agg_quantiles_multi" -> { (s, d) =>
      Tables(s, d).lineitem
        .groupBy("l_returnflag")
        .agg(percentile(col("l_quantity"),
          array(lit(0.25), lit(0.5), lit(0.75), lit(0.95))).as("qs"))
        .select(col("l_returnflag"),
          element_at(col("qs"), 1).as("p25"),
          element_at(col("qs"), 2).as("p50"),
          element_at(col("qs"), 3).as("p75"),
          element_at(col("qs"), 4).as("p95"))
        .orderBy("l_returnflag")
    },
    // Gini coefficient of per-customer revenue — the concentration
    // readout behind "top x% of customers drive y% of revenue". Stated
    // on EXACT decimal sums: per-customer revenue is a DECIMAL(18,6)
    // aggregate, the rank-weighted numerator Σ i·rᵢ multiplies that
    // decimal by a small int (exact in both engines regardless of
    // declared precision), and only the final closed form
    // G = (2·Σ i·rᵢ − (n+1)·Σ rᵢ) / (n·Σ rᵢ) converts to double — one
    // fixed IEEE tree. The rank is a global sort over the CUSTOMER
    // dimension (one row per customer, not per order — 1.5k rows here,
    // millions at 100 TB: swap for the two-level rank the winsorize
    // operator documents), tie-broken on custkey so ranking is total.
    "agg_gini_revenue" -> { (s, d) =>
      val rev = Tables(s, d).orders
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 6))).as("r"))
      val w = Window.orderBy(col("r").asc, col("o_custkey").asc)
      val ranked = rev.withColumn("i", row_number().over(w).cast("int"))
      // Σ i·rᵢ's unscaled decimal crosses 2^64, where DuckDB's
      // decimal→double cast double-rounds (int128 halves, then the
      // 10^-scale divide) — mimic it (the HLL rule) so the final IEEE
      // tree sees identical operands
      import graft.functions.functions.decimal_to_double_duckdb
      ranked
        .agg(count(lit(1)).as("n"),
          sum(col("r")).as("tot"),
          sum(col("i") * col("r")).as("num"))
        .select(col("n").as("n_customers"),
          col("tot").cast("double").as("total_revenue"),
          ((lit(2.0) * decimal_to_double_duckdb(col("num")) -
            (col("n").cast("double") + lit(1.0)) *
              decimal_to_double_duckdb(col("tot"))) /
            (col("n").cast("double") * decimal_to_double_duckdb(col("tot"))))
            .as("gini"))
    },
    // KMV set-operation estimation (Beyer et al., SIGMOD 2007): the k
    // smallest distinct hashes of two streams — click-active vs
    // purchase-active (user, day) pairs — estimate BOTH the union and the
    // intersection cardinality with no second scan: θ = k-th smallest of
    // the merged sketch ⇒ |A∪B| ≈ (k−1)/θ_unit; the fraction of merged-
    // sketch members present in both sketches scales it down to |A∩B|.
    // This is why sketches beat exact distinct at 100 TB: each side is
    // ONE O(k)-state zero-shuffle aggregate, the combine is array math on
    // two single-row frames, and the sketches are reusable for any later
    // set algebra. The oracle replays XXH64 (XxhSql) and the exact same
    // ORDER BY h LIMIT k construction in SQL — every integer (c, θ,
    // k_used) is hash-exact, the two estimates are the same fixed IEEE
    // tree on both engines.
    "agg_kmv_intersect" -> { (s, d) =>
      import graft.functions.aggregates.kmin_set_long
      val k = 256
      val ud = Tables(s, d).events
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          xxhash64((col("user_id") * 100000L +
            expr(EventOps.floorDivSql("unix_millis(ts)", 86400000L)))
            .cast("string")).as("h"))
      def sketch(t: String, out: String) = ud
        .filter(col("event_type") === t)
        .agg(kmin_set_long(col("h"), k).as(out))
      sketch("click", "sa").crossJoin(sketch("purchase", "sb"))
        .withColumn("uk",
          slice(array_sort(array_union(col("sa"), col("sb"))), 1, k))
        .withColumn("ku", size(col("uk")).cast("long"))
        .withColumn("theta", element_at(col("uk"), size(col("uk"))))
        .withColumn("n_common",
          size(filter(col("uk"), x =>
            array_contains(col("sa"), x) &&
              array_contains(col("sb"), x))).cast("long"))
        .withColumn("theta_unit",
          col("theta").cast("double") / lit(1.8446744073709552e19) + lit(0.5))
        .withColumn("union_est",
          (col("ku").cast("double") - lit(1.0)) / col("theta_unit"))
        .withColumn("inter_est",
          col("n_common").cast("double") * col("union_est") /
            col("ku").cast("double"))
        .select("n_common", "theta", "ku", "union_est", "inter_est")
    },
    // 2-D Pareto skyline over part (minimize price, maximize size): a part
    // survives iff no other part is at most its price AND at least its
    // size with one strict. The naive form is an O(n²) domination
    // anti-join; sorted by price it collapses to a prefix-max of size —
    // realized here as the DISTRIBUTED two-level prefix max
    // (events_concurrency's idiom): level 1 runs the within-band prefix
    // max partitioned by $10 price band (embarrassingly parallel), level
    // 2 cumulates per-band maxima on a metadata-sized frame and
    // broadcasts the carry-in back. skyline ⇔ size beats every strictly
    // cheaper part's max AND is its own price point's max. The oracle
    // states the same predicate as ONE global range-frame window — the
    // two-level decomposition equaling it is the demonstrandum.
    "skyline_pareto" -> { (s, d) =>
      val pc = round(col("p_retailprice") * 100).cast("long")
      val parts = Tables(s, d).part
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"),
          pc.as("pc"), (pc / 1000).cast("long").as("band"))
      val wIn = Window.partitionBy("band").orderBy("pc")
        .rangeBetween(Window.unboundedPreceding, -1)
      val wAt = Window.partitionBy("pc")
      val bandMax = parts.groupBy("band")
        .agg(max(col("p_size")).as("band_max"))
      val wCarry = Window.orderBy("band")
        .rowsBetween(Window.unboundedPreceding, -1)
      val carry = bandMax
        .withColumn("carry_in", max(col("band_max")).over(wCarry))
        .select("band", "carry_in")
      parts
        .withColumn("in_band_max", max(col("p_size")).over(wIn))
        .withColumn("at_price_max", max(col("p_size")).over(wAt))
        .join(broadcast(carry), Seq("band"))
        .withColumn("strict_max",
          greatest(col("in_band_max"), col("carry_in")))
        .filter((col("strict_max").isNull ||
            col("p_size") > col("strict_max")) &&
          col("p_size") === col("at_price_max"))
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    },
    // Exact distinct users per event type via a flat-bitmap aggregate
    // ([[graft.functions.BitmapDistinct]]): the dense-domain production
    // alternative to count(DISTINCT ...) — no Expand, no second shuffle
    // of the values, O(domain/8) state merged by bitwise OR exactly like
    // the HLL registers but exact. The 16384-bit domain covers this
    // corpus's user ids (max 1499 at sf0.1) with headroom; out-of-domain
    // ids fail loudly, and the sparse-id scale path is a roaring-style
    // compressed bitmap with the same merge algebra (see the aggregate's
    // Scaladoc). The oracle is the semantic ground truth:
    // count(DISTINCT user_id).
    "agg_bitmap_distinct" -> { (s, d) =>
      import graft.functions.aggregates.bitmap_distinct
      Tables(s, d).events
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          bitmap_distinct(col("user_id"), 16384).as("n_users"))
        .orderBy("event_type")
    },
    // Weighted median — the robust center of a value distribution where
    // each row carries a weight (price weighted by quantity: "the price
    // at which half the VOLUME trades", not half the line items). No
    // engine has it built in; the distributed form is the standard one:
    // collapse to per-(group, value) weight sums first (the shuffle is
    // then bounded by the DISTINCT value domain, not the row count —
    // the same reason the exact-median family pre-aggregates), one
    // running-sum window per group, and the lower weighted median is the
    // first value whose cumulative weight reaches half the total. All
    // comparisons are exact integers (cents × integral quantities;
    // 2*cum vs tot avoids the halving division); the only double is the
    // final cents→price display division, one IEEE op in both engines.
    "agg_weighted_median" -> { (s, d) =>
      val li = Tables(s, d).lineitemPar.select( // r10: kernel rebalance
        col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("pc"),
        round(col("l_quantity")).cast("long").as("w"))
      weightedMedianFrom(li, "l_returnflag")
        .select(col("l_returnflag"), col("median_cents"),
          (col("median_cents").cast("double") / 100.0).as("median_price"))
        .orderBy("l_returnflag")
    }
  )

  /** Mergeable equi-width histogram quantiles (p50/p95/p99) of `value`
    * per `groupCol`, parameterized bin width and count. Rounding
    * contract (engine-portable for ANY width, dyadic or not): bin =
    * min(nBins−1, floor(value / width)) is ONE IEEE division + floor —
    * both engines compute the identical double, so bin assignment is
    * bit-equal even when `value / width` is inexact; the quantile is the
    * upper edge (bin+1)·width of the first bin whose cumulative count
    * satisfies cum·100 ≥ n·p by integer cross-multiplication (no double
    * threshold anywhere). The estimate is within one bin width above the
    * exact ceil-rank percentile by construction. Values beyond the
    * domain clamp into the last bin (quantiles there read as the domain
    * upper edge). Separated so specs can plant non-dyadic widths.
    */
  def quantileHistFrom(df: DataFrame, value: Column, groupCol: String,
      binWidth: Double, nBins: Int): DataFrame = {
    val bin = least(lit(nBins - 1), floor(value / lit(binWidth)).cast("int"))
    val hist = df
      .groupBy(col(groupCol), bin.as("bin"))
      .agg(count(lit(1)).as("c"))
    val cw = Window.partitionBy(groupCol).orderBy("bin")
    val tw = Window.partitionBy(groupCol)
    val cum = hist
      .withColumn("cum", sum(col("c")).over(cw))
      .withColumn("n", sum(col("c")).over(tw))
    def qcol(p: Int): Column =
      min(when(col("cum") * lit(100L) >= col("n") * lit(p.toLong),
        (col("bin") + lit(1)) * lit(binWidth))).as(s"p$p")
    cum.groupBy(groupCol)
      .agg(max(col("n")).as("n"), qcol(50), qcol(95), qcol(99))
      .orderBy(groupCol)
  }

  /** Lower weighted median per group over integer `(g, pc, w)` rows: the
    * first `pc` (ascending) whose cumulative weight reaches half the
    * group total. See the `agg_weighted_median` query comment for the
    * distributed shape.
    */
  def weightedMedianFrom(df: DataFrame, g: String): DataFrame = {
    val byPrice = df.groupBy(g, "pc").agg(sum(col("w")).as("w"))
    val wCum = Window.partitionBy(g).orderBy("pc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(g)
    byPrice
      .withColumn("cum", sum(col("w")).over(wCum))
      .withColumn("tot", sum(col("w")).over(wTot))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy(g).agg(min(col("pc")).as("median_cents"))
  }

  /** The HLL-256 oracle pipeline for `SELECT group, hll FROM table GROUP
    * BY group` over xxh64(keyExpr). Hashing runs over the DISTINCT
    * (group, key) pairs — duplicates cannot move a max register, and the
    * multi-hundred-operator xxh64 expression is the dominant oracle cost.
    */
  private def hllOracleSql(
      table: String, groupCol: String, keyExpr: String): String = {
    val u64 = "18446744073709551616"
    val two56 = "72057594037927936"
    val rhoCase = (1 to 56)
      .map(r => s"WHEN w >= ${BigInt(1) << (56 - r)} THEN $r")
      .mkString("CASE ", " ", " ELSE 57 END")
    s"""WITH keys AS (SELECT DISTINCT $groupCol AS grp, $keyExpr AS k
       |  FROM $table),
       |hashed AS (SELECT grp, ${XxhSql.expr("k", "42")} AS h FROM keys),
       |u AS (SELECT grp,
       |    CASE WHEN h < 0 THEN h::HUGEINT + $u64
       |         ELSE h::HUGEINT END AS uh
       |  FROM hashed),
       |bw AS (SELECT grp, uh // $two56 AS bucket, uh % $two56 AS w
       |  FROM u),
       |reg AS (SELECT grp, bucket, max($rhoCase) AS m
       |  FROM bw GROUP BY 1, 2),
       |s AS (SELECT grp,
       |    sum((${XxhSql.pow2List})[57 - m + 1])
       |      + (256 - count(*)) * ((${XxhSql.pow2List})[58]) AS hsum,
       |    CAST(256 - count(*) AS INT) AS zero_regs
       |  FROM reg GROUP BY 1)
       |SELECT grp AS $groupCol,
       |  CAST(${graft.functions.HllNdv256.EstNumerator} AS DOUBLE) /
       |    CAST(hsum AS DOUBLE) AS hll_raw,
       |  zero_regs
       |FROM s ORDER BY $groupCol""".stripMargin
  }

  /** CMS oracle: per-key counts first (hash each distinct key once — the
    * xxh64 SQL expression is the dominant cost), then est(p) = min over
    * sketch rows of the colliding-key mass. COALESCE: a probe with zero
    * colliding mass sums over no rows (NULL), where the sketch counter
    * reads 0.
    */
  private def cmsOracleSql: String = {
    val probes = Seq(1L, 2L, 3L)
    def bucket(r: Int, keyExpr: String): String =
      s"((${XxhSql.expr(s"'$r' || $keyExpr", "42")} % 256) + 256) % 256"
    val bCols = (0 until 4)
      .map(r => s"${bucket(r, "CAST(l_partkey AS VARCHAR)")} AS b$r")
      .mkString(",\n    ")
    val estCols = probes.map { p =>
      val mins = (0 until 4)
        .map(r => s"COALESCE(CAST(sum(n) FILTER (WHERE b$r = " +
          s"${bucket(r, s"'$p'")}) AS BIGINT), 0)")
        .mkString(", ")
      s"least($mins) AS est_$p"
    }
    val actCols = probes.map(p =>
      s"COALESCE(CAST(sum(n) FILTER (WHERE l_partkey = $p) AS BIGINT), 0)" +
        s" AS act_$p")
    val cols = estCols.zip(actCols)
      .flatMap { case (e, a) => Seq(e, a) }.mkString(",\n  ")
    s"""WITH c AS (SELECT l_returnflag, l_partkey, count(*) AS n
       |  FROM lineitem GROUP BY 1, 2),
       |b AS (SELECT l_returnflag, l_partkey, n,
       |    $bCols
       |  FROM c)
       |SELECT l_returnflag,
       |  $cols
       |FROM b GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** Global (ungrouped) CMS estimates, emitted under BOTH output names —
    * merged-sketch probes and direct-global probes must agree exactly.
    */
  private def cmsUnionOracleSql: String = {
    val probes = Seq(1L, 2L, 3L)
    def bucket(r: Int, keyExpr: String): String =
      s"((${XxhSql.expr(s"'$r' || $keyExpr", "42")} % 256) + 256) % 256"
    val bCols = (0 until 4)
      .map(r => s"${bucket(r, "CAST(l_partkey AS VARCHAR)")} AS b$r")
      .mkString(",\n    ")
    val cols = probes.map { p =>
      val mins = (0 until 4)
        .map(r => s"COALESCE(CAST(sum(n) FILTER (WHERE b$r = " +
          s"${bucket(r, s"'$p'")}) AS BIGINT), 0)")
        .mkString(", ")
      s"least($mins) AS est_merged_$p,\n  least($mins) AS est_direct_$p"
    }.mkString(",\n  ")
    s"""WITH c AS (SELECT l_partkey, count(*) AS n FROM lineitem
       |  WHERE l_partkey IS NOT NULL GROUP BY 1),
       |b AS (SELECT l_partkey, n,
       |    $bCols
       |  FROM c)
       |SELECT
       |  $cols
       |FROM b""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "agg_countmin_probe" -> cmsOracleSql,
    "agg_cms_union" -> cmsUnionOracleSql,
    "window_first_last" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER w AS last_price,
        |  nth_value(o_totalprice, 2) OVER w AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate ASC, o_orderkey ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "date_arith" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) + 30 AS due_date,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |    DATE '2000-01-01') AS INT) AS days_to_y2k,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(quarter(o_orderdate) AS INT) AS q
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "regex_funcs" ->
      """SELECT doc_id,
        |  regexp_extract(text, '([a-z]+)', 1) AS first_word,
        |  regexp_matches(text, 'table') AS has_table,
        |  CAST(len(string_split_regex(text, ' value ')) AS INT)
        |    AS n_value_splits
        |FROM documents ORDER BY doc_id""".stripMargin,
    "agg_corr" ->
      s"""WITH m AS (SELECT l_returnflag,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    ${sqlSum("l_quantity")} AS sx,
         |    ${sqlSum("l_extendedprice")} AS sy,
         |    ${sqlSum("l_quantity * l_quantity")} AS sxx,
         |    ${sqlSum("l_extendedprice * l_extendedprice")} AS syy,
         |    ${sqlSum("l_quantity * l_extendedprice")} AS sxy
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag,
         |  (sxy - sx * sy / n) / n AS covar_pop,
         |  ((sxy - sx * sy / n) / n) /
         |    (sqrt((sxx - sx * sx / n) / n) *
         |     sqrt((syy - sy * sy / n) / n)) AS corr
         |FROM m ORDER BY l_returnflag""".stripMargin,
    // same whole-unit floor quantization and the same IEEE tree as the
    // Spark side; e0 literals parse as DOUBLE
    "agg_moments" ->
      """WITH c AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS v
        |  FROM events),
        |g AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(v) AS BIGINT) AS s1,
        |    CAST(sum(v * v) AS BIGINT) AS s2,
        |    CAST(sum(v * v * v) AS BIGINT) AS s3,
        |    CAST(sum(v * v * v * v) AS BIGINT) AS s4
        |  FROM c GROUP BY 1),
        |f AS (SELECT event_type, n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS e4
        |  FROM g),
        |m AS (SELECT event_type, n, e2 - mean * mean AS m2,
        |    e3 - 3.0e0 * mean * e2 + 2.0e0 * mean * mean * mean AS m3,
        |    e4 - 4.0e0 * mean * e3 + 6.0e0 * mean * mean * e2 -
        |      3.0e0 * mean * mean * mean * mean AS m4
        |  FROM f)
        |SELECT event_type, n, m3 / (m2 * sqrt(m2)) AS skewness,
        |  m4 / (m2 * m2) - 3.0e0 AS excess_kurtosis
        |FROM m ORDER BY event_type""".stripMargin,
    "agg_mode" ->
      """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY cnt DESC, l_quantity ASC) AS rn FROM c)
        |SELECT l_returnflag, l_quantity AS mode_qty, cnt
        |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
    "histogram_prices" ->
      """SELECT CAST(least(19, floor(o_totalprice / 30000.0)) AS INT)
        |    AS bucket,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "unpivot_metrics" ->
      s"""WITH a AS (SELECT l_returnflag,
         |    ${sqlSum("l_quantity")} AS sum_qty,
         |    ${sqlSum("l_discount")} AS sum_disc,
         |    ${sqlSum("l_tax")} AS sum_tax
         |  FROM lineitem GROUP BY 1)
         |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
         |UNION ALL
         |SELECT l_returnflag, 'sum_disc', sum_disc FROM a
         |UNION ALL
         |SELECT l_returnflag, 'sum_tax', sum_tax FROM a
         |ORDER BY l_returnflag, metric""".stripMargin,
    "posexplode_tokens" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS L
        |           FROM documents WHERE doc_id < 20)
        |SELECT doc_id, CAST(i - 1 AS INT) AS pos, L[i] AS tok
        |FROM t, LATERAL (SELECT unnest(generate_series(1, len(L))) AS i) g
        |ORDER BY doc_id, pos""".stripMargin,
    "agg_boolean" ->
      """SELECT l_returnflag,
        |  bool_and(l_quantity > 0.0) AS all_pos_qty,
        |  bool_or(l_discount > 0.09) AS any_big_disc,
        |  CAST(count(*) FILTER (WHERE l_tax > 0.05) AS BIGINT) AS n_taxed
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin,
    // quantities are integral doubles, so the doubled/filtered values
    // render identically ("50.0") under both engines' double->string casts
    "higher_order_funcs" ->
      """WITH g AS (SELECT l_orderkey,
        |    list(l_quantity ORDER BY l_linenumber, l_quantity) AS qs
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  array_to_string(list_transform(list_transform(qs, x -> x * 2.0),
        |    x -> CAST(x AS VARCHAR)), ',') AS doubled,
        |  COALESCE(array_to_string(
        |    list_transform(list_filter(qs, x -> x > 20.0),
        |      x -> CAST(x AS VARCHAR)), ','), '') AS big,
        |  list_reduce(qs, (a, b) -> a + b) AS q_sum,
        |  len(list_filter(qs, x -> x >= 50.0)) > 0 AS has_50,
        |  CAST(len(qs) AS INT) AS n
        |FROM g ORDER BY l_orderkey""".stripMargin,
    // KMV replication: same xxh64 over the decimal key string, same order
    // statistic, token-for-token the same IEEE double estimate formula.
    // The HLL / percentile contract columns are literal TRUE — DuckDB
    // cannot reproduce engine-private sketch internals, so the oracle
    // instead pins the bounded-error CONTRACT the Spark side computes
    // against its own exact aggregates.
    "agg_approx_sketch" ->
      s"""WITH hashed AS (SELECT DISTINCT l_returnflag,
         |    ${XxhSql.expr("CAST(l_partkey AS VARCHAR)", "42")} AS h
         |  FROM lineitem),
         |ranked AS (SELECT l_returnflag, h,
         |    row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
         |  FROM hashed),
         |kth AS (SELECT l_returnflag, h AS hk FROM ranked WHERE rn = 256),
         |ex AS (SELECT l_returnflag,
         |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_ndv
         |  FROM lineitem GROUP BY 1)
         |SELECT ex.l_returnflag, exact_ndv,
         |  CASE WHEN hk IS NULL THEN CAST(exact_ndv AS DOUBLE)
         |       ELSE 255.0 * CAST(18446744073709551616 AS DOUBLE) /
         |            (CAST(hk AS DOUBLE) +
         |             CAST(9223372036854775808 AS DOUBLE) + 1.0) END AS kmv_ndv,
         |  TRUE AS hll_within_15pct, TRUE AS median_within_2
         |FROM ex LEFT JOIN kth USING (l_returnflag)
         |ORDER BY l_returnflag""".stripMargin,
    // Same binning, same cumulative counts, same integer
    // cross-multiplied thresholds — the histogram sketch is fully
    // oracle-replicable, unlike the engine-private HLL/KLL internals.
    "agg_quantile_hist" ->
      """WITH h AS (SELECT l_returnflag,
        |    LEAST(127, CAST(floor(l_extendedprice / 840.0) AS INT)) AS bin,
        |    count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cw AS (SELECT l_returnflag, bin, c,
        |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
        |    sum(c) OVER (PARTITION BY l_returnflag) AS n
        |  FROM h)
        |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
        |  min(CASE WHEN cum * 100 >= n * 50
        |      THEN (bin + 1) * CAST(840.0 AS DOUBLE) END) AS p50,
        |  min(CASE WHEN cum * 100 >= n * 95
        |      THEN (bin + 1) * CAST(840.0 AS DOUBLE) END) AS p95,
        |  min(CASE WHEN cum * 100 >= n * 99
        |      THEN (bin + 1) * CAST(840.0 AS DOUBLE) END) AS p99
        |FROM cw GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    // Full HLL replication: signed xxh64 -> unsigned, bucket = top 8 bits,
    // rho via an exact integer leading-zero CASE cascade over the low 56
    // bits, per-bucket max registers, exact HUGEINT harmonic sum
    // (2^(57-M) via the pow2 list; absent buckets contribute 2^57), and
    // the raw estimate as ONE double division by the same pre-folded
    // numerator constant the Scala aggregate uses.
    "agg_hll_oracle" ->
      hllOracleSql("lineitem", "l_returnflag", "CAST(l_partkey AS VARCHAR)"),
    "agg_hll_smallndv" ->
      hllOracleSql("documents", "lang", "CAST(doc_id AS VARCHAR)"),
    "pivot_status" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin,
    "agg_filtered" ->
      s"""SELECT l_returnflag,
         |  count(*) FILTER (WHERE l_quantity >= 25) AS n_heavy,
         |  count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
         |  ${sqlSum("CASE WHEN l_tax > 0.04 THEN l_extendedprice ELSE 0.0 END")}
         |    AS taxed_price
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin,
    "agg_variance" ->
      """WITH m AS (SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sm,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS DOUBLE)
        |      AS sq
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  (sq - (sm * sm) / n) / (n - 1.0) AS var_qty,
        |  sqrt((sq - (sm * sm) / n) / (n - 1.0)) AS stddev_qty
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "collect_sorted" ->
      """SELECT l_returnflag,
        |  array_to_string(list_sort(list_distinct(list(l_linestatus))), ',')
        |    AS statuses,
        |  array_to_string(list_transform(
        |    list_sort(list_distinct(list(l_suppkey % 10))),
        |    x -> CAST(x AS VARCHAR)), ',') AS supp_mod
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin,
    "sort_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 20 OFFSET 10""".stripMargin,
    "fuzzy_nation_pairs" ->
      """SELECT a.n_nationkey AS k1, b.n_nationkey AS k2,
        |  CAST(levenshtein(a.n_name, b.n_name) AS INT) AS dist
        |FROM nation a, nation b
        |WHERE a.n_nationkey < b.n_nationkey
        |  AND levenshtein(a.n_name, b.n_name) <= 4
        |ORDER BY k1, k2""".stripMargin,
    "agg_salted" ->
      s"""SELECT l_returnflag, ${sqlSum("l_extendedprice")} AS sum_price,
         |  count(*) AS n
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin,
    "join_skew_aqe" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |  ${sqlSum("l_extendedprice")} AS rev
         |FROM (SELECT CASE WHEN l_orderkey % 4 < 3 THEN 0
         |             ELSE l_orderkey END AS k, l_extendedprice
         |      FROM lineitem) l
         |JOIN (SELECT o_orderkey AS k, o_orderstatus FROM orders) o
         |  USING (k)
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the plain range predicate — the banded equi-join must equal it
    "join_range_bucket" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms
        |  FROM events)
        |SELECT a.user_id, count(*) AS n_pairs
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.ts_ms >= a.ts_ms AND b.ts_ms - a.ts_ms <= 1800000
        |  AND (a.ts_ms < b.ts_ms OR a.event_id < b.event_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "window_rolling_30d" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(datediff('day', DATE '1990-01-01',
        |    CAST(o_orderdate AS DATE)) AS INT) AS day_num,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS rolling_30d
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "ntile_quartiles" ->
      s"""WITH t AS (SELECT o_orderstatus, o_totalprice,
         |    CAST(ntile(4) OVER (PARTITION BY o_orderstatus
         |      ORDER BY o_totalprice ASC, o_orderkey ASC) AS INT) AS quartile
         |  FROM orders)
         |SELECT o_orderstatus, quartile, count(*) AS n,
         |  ${sqlSum("o_totalprice")} AS sum_price
         |FROM t GROUP BY o_orderstatus, quartile
         |ORDER BY o_orderstatus, quartile""".stripMargin,
    "agg_topk_custom" ->
      """WITH l AS (SELECT o_orderstatus,
        |    list(o_totalprice ORDER BY o_totalprice DESC) AS xs
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o_orderstatus, xs[1] AS p1, xs[2] AS p2, xs[3] AS p3,
        |  xs[4] AS p4, xs[5] AS p5
        |FROM l ORDER BY o_orderstatus""".stripMargin,
    "agg_median" ->
      """SELECT l_returnflag, median(l_quantity) AS median_qty,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin,
    "agg_quantiles_multi" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5)  AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  quantile_cont(l_quantity, 0.95) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin,
    "agg_gini_revenue" ->
      """WITH rev AS (SELECT o_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS r
        |  FROM orders GROUP BY 1),
        |rk AS (SELECT r, CAST(row_number() OVER (ORDER BY r ASC,
        |    o_custkey ASC) AS INTEGER) AS i FROM rev),
        |agg AS (SELECT count(*) AS n, SUM(r) AS tot, SUM(i * r) AS num
        |  FROM rk)
        |SELECT n AS n_customers, CAST(tot AS DOUBLE) AS total_revenue,
        |  (2.0 * CAST(num AS DOUBLE) -
        |    (CAST(n AS DOUBLE) + 1.0) * CAST(tot AS DOUBLE)) /
        |   (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE)) AS gini
        |FROM agg""".stripMargin,
    "agg_kmv_intersect" ->
      s"""WITH ud AS (SELECT event_type,
         |    user_id * 100000 + epoch_ms(ts) // 86400000 AS ud
         |  FROM events WHERE event_type IN ('click', 'purchase')),
         |h AS (SELECT event_type,
         |    ${XxhSql.expr("CAST(ud AS VARCHAR)", "42")} AS h FROM ud),
         |sa AS (SELECT DISTINCT h FROM h WHERE event_type = 'click'
         |  ORDER BY h LIMIT 256),
         |sb AS (SELECT DISTINCT h FROM h WHERE event_type = 'purchase'
         |  ORDER BY h LIMIT 256),
         |uk AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb) u
         |  ORDER BY h LIMIT 256),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS ku, max(h) AS theta
         |  FROM uk),
         |c AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM uk
         |  WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb))
         |SELECT c.n_common, st.theta, st.ku,
         |  (CAST(st.ku AS DOUBLE) - 1.0) /
         |    (CAST(st.theta AS DOUBLE) / 18446744073709551616.0 + 0.5)
         |    AS union_est,
         |  CAST(c.n_common AS DOUBLE) *
         |    ((CAST(st.ku AS DOUBLE) - 1.0) /
         |     (CAST(st.theta AS DOUBLE) / 18446744073709551616.0 + 0.5)) /
         |    CAST(st.ku AS DOUBLE) AS inter_est
         |FROM st, c""".stripMargin,
    // the single global range-frame window — semantically the Spark
    // two-level decomposition, stated in its textbook form
    "skyline_pareto" ->
      """WITH p AS (SELECT p_partkey, p_retailprice, p_size,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS pc FROM part),
        |w AS (SELECT *,
        |    max(p_size) OVER (ORDER BY pc
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS strict_max,
        |    max(p_size) OVER (PARTITION BY pc) AS at_price_max
        |  FROM p)
        |SELECT p_partkey, p_retailprice, p_size FROM w
        |WHERE (strict_max IS NULL OR p_size > strict_max)
        |  AND p_size = at_price_max
        |ORDER BY p_partkey""".stripMargin,
    // ground truth for the bitmap: plain exact distinct
    "agg_bitmap_distinct" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "agg_weighted_median" ->
      """WITH li AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
        |    CAST(round(l_quantity) AS BIGINT) AS w FROM lineitem),
        |g AS (SELECT l_returnflag, pc, sum(w) AS w FROM li GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, pc,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY pc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS tot FROM g)
        |SELECT l_returnflag, min(pc) AS median_cents,
        |  CAST(min(pc) AS DOUBLE) / 100.0 AS median_price
        |FROM c WHERE cum * 2 >= tot
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin
  )
}
