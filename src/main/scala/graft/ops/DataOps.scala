package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-assembly operators for a training-data pipeline: deterministic
  * train/validation/test splitting, stratified sampling, and token-budget
  * sequence packing. (The reference has no dataset surface — like the text
  * and dedup families these extend SURVEY.md §2.3's pipeline checklist.)
  *
  * All three are hash- or prefix-sum-deterministic, so the DuckDB oracle
  * replicates them exactly (XXH64 via [[XxhSql]]):
  *
  *  - splitting/sampling by `pmod(xxh64(key), N) < rate` is the
  *    industry-standard reproducible assignment: membership depends only on
  *    the key, never on row order, partitioning, or cluster size — a
  *    re-run, a backfill, or a 1000-executor scale-up assigns every
  *    document identically (and adding data never moves old rows between
  *    splits);
  *  - packing assigns contiguous token-budget bins from a per-shard running
  *    sum — the standard approximation of greedy sequence packing that
  *    stays a single window over one shuffle.
  *
  * Scale notes: split and sample are one codegen'd map + a partial+final
  * aggregate (one shuffle of partial counts). Packing shuffles once on the
  * shard key; each shard's window is a linear scan, so shard cardinality is
  * the parallelism knob (8 here for the demo corpus; a production run
  * derives thousands of shards from the same hash).
  */
object DataOps {
  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    // Deterministic 80/10/10 split: bucket = pmod(xxh64(doc_id), 100).
    "data_split_hash" -> { (s, d) =>
      val b = pmod(xxhash64(col("doc_id").cast("string")), lit(100))
      Tables(s, d).documents
        .groupBy(when(b < 80, "train").when(b < 90, "validation")
          .otherwise("test").as("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("split")
    },
    // Split-balance χ² audit — the split-health gate next to the SRM
    // check: hash splits are unbiased only if membership is independent
    // of every stratum, so per language compare observed train/val/test
    // cells against the expected row·column/N product. All counts are
    // one map-side-combined aggregate (langs×3 cells); the totals row
    // broadcasts (scalar crossjoin); the χ² contribution is a FIXED
    // IEEE tree over exact integers, summed cell by cell in pinned
    // order so both engines produce the identical double. Per-language
    // rows localize any imbalance; df = (L−1)(S−1) for the global test.
    "data_split_balance" -> { (s, d) =>
      val b = pmod(xxhash64(col("doc_id").cast("string")), lit(100))
      val cell = Tables(s, d).documents
        .select(col("lang"),
          when(b < 80, "train").when(b < 90, "validation")
            .otherwise("test").as("split"))
        .groupBy("lang")
        .agg(count(when(col("split") === "train", 1)).as("n_train"),
          count(when(col("split") === "validation", 1)).as("n_val"),
          count(when(col("split") === "test", 1)).as("n_test"))
      val tot = cell.agg(sum(col("n_train")).as("t_train"),
        sum(col("n_val")).as("t_val"), sum(col("n_test")).as("t_test"))
      val nl = (col("n_train") + col("n_val") + col("n_test"))
        .cast("double")
      val bigN = (col("t_train") + col("t_val") + col("t_test"))
        .cast("double")
      def contrib(n: Column, t: Column): Column = {
        val e = nl * t.cast("double") / bigN
        (n.cast("double") - e) * (n.cast("double") - e) / e
      }
      cell.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_train"), col("n_val"), col("n_test"),
          (contrib(col("n_train"), col("t_train")) +
            contrib(col("n_val"), col("t_val")) +
            contrib(col("n_test"), col("t_test"))).as("chi2"))
        .orderBy("lang")
    },
    // Split leakage audit — the measurement that motivates group-aware
    // splitting: for every near-duplicate pair (the exact PPJoin ground
    // truth at J ≥ 0.8), does the pair straddle a split boundary under
    // (a) the per-document hash split and (b) the source-grouped K-fold?
    // A straddling near-dup pair means the eval side contains a
    // paraphrase of a training document — the leak that inflates eval
    // scores. One row: pair counts and the two straddle rates (single
    // IEEE divisions). The audit is a MEASUREMENT, not a verdict: on
    // this synthetic corpus near-dups do NOT concentrate within sources
    // (group rate 0.6 > hash rate 0.4 at sf0.01), which is exactly the
    // reading that sends a curator to component-based splitting
    // (dedup_components AS the grouping key) instead of source folds.
    // Shape: the pair set is the bucketed PPJoin operator's; split/fold
    // attach via two doc_id equi-joins; the rollup is scalar.
    "data_split_leak_audit" -> { (s, d) =>
      val docs = Tables(s, d).documents
      val truth = DedupOps
        .jaccardDupPairsUnsorted(DedupOps.shingleSets(docs), 4, 5)
        .select("id1", "id2")
      val b = pmod(xxhash64(col("doc_id").cast("string")), lit(100))
      val sd = docs.select(col("doc_id"),
        when(b < 80, "train").when(b < 90, "validation")
          .otherwise("test").as("split"),
        pmod(xxhash64(concat(lit("KF"), col("source"))), lit(5L))
          .as("fold"))
      truth
        .join(sd.select(col("doc_id").as("id1"), col("split").as("s1"),
          col("fold").as("f1")), "id1")
        .join(sd.select(col("doc_id").as("id2"), col("split").as("s2"),
          col("fold").as("f2")), "id2")
        .agg(count(lit(1)).as("n_dup_pairs"),
          sum(when(col("s1") =!= col("s2"), 1L).otherwise(0L))
            .as("n_cross_split_hash"),
          sum(when(col("f1") =!= col("f2"), 1L).otherwise(0L))
            .as("n_cross_fold_group"))
        .select(col("n_dup_pairs"), col("n_cross_split_hash"),
          col("n_cross_fold_group"),
          (col("n_cross_split_hash").cast("double") /
            col("n_dup_pairs").cast("double")).as("leak_rate_hash"),
          (col("n_cross_fold_group").cast("double") /
            col("n_dup_pairs").cast("double")).as("leak_rate_group"))
    },
    // RAG index-build pipeline — the retrieval ingest composition, as one
    // query: (1) overlapping 6/3 chunks (data_chunk_overlap's windows,
    // text retained); (2) EXACT chunk dedup corpus-wide (keep the first
    // (doc_id, chunk_id) instance — overlapping windows make duplicate
    // chunks the NORM, and indexing them twice wastes store and recall
    // slots); (3) 4-bit LSH bucket per surviving chunk (four salted
    // xxh64 sign bits — the equi-join index shape of the dedup/ANN
    // families); (4) per-bucket occupancy rollup (the index-balance
    // readout that decides whether buckets need splitting). Shapes: one
    // chunk-text shuffle for the dedup, a 16-group rollup; everything
    // else is a map stage. All hashes are the oracle-replicable xxh64.
    "pipeline_rag_index" -> { (s, d) =>
      val chunks = Tables(s, d).documents
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(1), size(col("w")), lit(3)),
          st => slice(col("w"), st, lit(6)))).as(Seq("chunk_id", "cw")))
        .select(col("doc_id"), col("chunk_id"),
          array_join(col("cw"), " ").as("ctext"))
      val keep = chunks.groupBy("ctext")
        .agg(count(lit(1)).as("n_copies"))
      // bucket bits hash the 16-hex-char md5 PREFIX of the chunk, not the
      // raw text: the oracle's xxh64 SQL replica covers the short-input
      // path (< 32 B) only, and a content digest is the production key
      // anyway (fixed width regardless of chunk size)
      val ckey = substring(md5(col("ctext")), 1, 16)
      val bucket = (0 until 4).map(j =>
        shiftleft(pmod(xxhash64(concat(lit(s"B$j"), ckey)),
          lit(2L)), j)).reduce(_ + _)
      keep.select(col("ctext"), col("n_copies"), bucket.as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_copies") - 1L).as("n_dups_removed"),
          sum(length(col("ctext")).cast("long")).as("sum_chars"))
        .orderBy("bucket")
    },
    // Overlapping sliding-window chunking — the RAG/embedding-prep shape
    // data_chunk_documents (disjoint chunks) doesn't cover: 6-word
    // windows at stride 3 (50% overlap), so every boundary sentence
    // appears whole in some chunk — the standard retrieval-chunking
    // tradeoff (2× storage for no lost cross-boundary context). Pure
    // map stage (sequence → slice per row, codegen'd; the chunk id is
    // the window ordinal); chunks are emitted as md5 + word count, not
    // text, so the output is index-sized. Embarrassingly parallel at
    // 100 TB.
    "data_chunk_overlap" -> { (s, d) =>
      Tables(s, d).documents
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(1), size(col("w")), lit(3)),
          st => slice(col("w"), st, lit(6)))).as(Seq("chunk_id", "cw")))
        .select(col("doc_id"), col("chunk_id"),
          size(col("cw")).as("n_words"),
          md5(array_join(col("cw"), " ")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_id")
    },
    // Waterfilling token-budget allocation — the mixture planner's hard
    // sibling: given a training token TARGET (60% of the corpus here,
    // derived so the query survives regeneration), find the flat
    // per-source cap C with Σ min(tokens_s, C) ≈ target and allocate
    // min(tokens_s, C) to each source. This is the budget rule behind
    // "cap the over-represented sources, keep the tail whole" (the
    // waterfilling solution maximizes the minimum source share under the
    // budget). EXACT integer derivation: sources sorted ascending, the
    // crossing row is the first where cum_before + remaining·tokens ≥
    // target, and C = (target − cum_before) div remaining — total
    // allocation lands within `remaining−1` tokens of the target, floor
    // documented. Shape: one source-keyed count shuffle collapses the
    // corpus; every window runs over the SOURCE-sized frame; the 1-row
    // cap broadcasts back.
    "data_token_budget" -> { (s, d) =>
      tokenBudgetFrom(Tables(s, d).documents)
    },
    // Group-aware K-fold assignment — the split data_split_hash must NOT
    // be used for when groups leak (near-duplicate documents cluster
    // within a source; per-doc hashing puts siblings on both sides of a
    // train/eval cut and inflates eval scores): fold = xxh64 of the
    // SOURCE, so every document of a source lands in one fold by
    // construction. The salted-stream discipline ("KF" prefix) keeps
    // fold assignment independent of every other hash use of the key.
    // Shape: one source-keyed aggregate (map-side combined) collapses
    // the corpus to source rows; the fold rollup and the 1-row totals
    // broadcast are metadata-scale.
    "data_group_kfold" -> { (s, d) =>
      val perSource = Tables(s, d).documents
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
        .withColumn("fold",
          pmod(xxhash64(concat(lit("KF"), col("source"))), lit(5L)))
      val tot = perSource.agg(sum(col("n_docs")).as("total_docs"))
      perSource.groupBy("fold")
        .agg(countDistinct(col("source")).as("n_sources"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .crossJoin(broadcast(tot))
        .select(col("fold"), col("n_sources"), col("n_docs"),
          col("sum_chars"),
          (col("n_docs").cast("double") / col("total_docs").cast("double"))
            .as("frac_docs"))
        .orderBy("fold")
    },
    // Stratified hash sampling: per-language keep rates (en 50%, else 25%)
    // on an INDEPENDENT hash stream ("S" prefix) so sample membership does
    // not correlate with split assignment above.
    "data_sample_stratified" -> { (s, d) =>
      val h = pmod(
        xxhash64(concat(lit("S"), col("doc_id").cast("string"))), lit(1000))
      val rate = when(col("lang") === "en", 500).otherwise(250)
      Tables(s, d).documents
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          count(when(h < rate, 1)).as("n_sampled"))
        .orderBy("lang")
    },
    // Benchmark decontamination: flag corpus documents sharing any 8-token
    // gram with a "benchmark" set (doc_id < 20 stands in for an eval set).
    // The benchmark's distinct grams BROADCAST (eval sets are tiny relative
    // to a training corpus), so the corpus side stays a map + broadcast
    // semi-shape join + partial aggregate — no corpus shuffle for candidate
    // generation, the only 100 TB-viable form of contamination checking.
    "data_decontaminate" -> { (s, d) =>
      val (bench, corpusGrams) = decontamGrams(Tables(s, d).documents)
      corpusGrams.join(broadcast(bench), Seq("g"))
        .groupBy("doc_id")
        // plain count: corpus grams are per-doc distinct and bench grams
        // are distinct, so the join emits each (doc_id, g) once — a
        // countDistinct would add a needless partial-distinct phase
        .agg(count(col("g")).as("n_shared"))
        .orderBy("doc_id")
    },
    // Training-mixture reweighting: per-source sampling weight that evens
    // the token budget across sources (weight = uniform target share over
    // observed share). The corpus collapses to one row per source in a
    // partial+final aggregate before the global window computes the total —
    // the window runs over source-cardinality rows (tens), never the
    // corpus, so the "all rows to one partition" window shape is safe here
    // by construction.
    "data_mixture_weights" -> { (s, d) =>
      val gw = Window.partitionBy()
      Tables(s, d).documents
        .select(col("source"), size(split(col("text"), " ")).as("n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("src_tokens"))
        .withColumn("total_tokens", sum(col("src_tokens")).over(gw))
        .withColumn("n_sources", count(lit(1)).over(gw))
        .select(col("source"), col("n_docs"), col("src_tokens"),
          // left-assoc double divisions, same operation order as the oracle
          (col("total_tokens").cast("double") /
            col("n_sources").cast("double") /
            col("src_tokens").cast("double")).as("weight"))
        .orderBy("source")
    },
    // Temperature-scaled mixture sampling (the multilingual/LLaMA-style
    // recipe, τ = 0.5): sampling weight ∝ (source share)^τ — up-weights
    // small sources without flattening to uniform. With τ = 0.5 the
    // unnormalized weight is sqrt(src_tokens) (the total cancels in the
    // normalization), and IEEE sqrt is CORRECTLY ROUNDED in both engines,
    // so the only parity hazard is the normalizing SUM of doubles — which
    // rides the DECIMAL(28,6) quantize-then-sum contract (exact,
    // order-free). epochs_1m = how many passes over each source a 1M-token
    // budget implies at its weight — the "how many epochs of Wikipedia"
    // planner next to data_mixture_weights' equal-share variant. Shape:
    // one map-side-combined aggregate to source cardinality; the window
    // runs over tens of rows.
    "data_mixture_temperature" -> { (s, d) =>
      val gw = Window.partitionBy()
      Tables(s, d).documents
        .select(col("source"), size(split(col("text"), " ")).as("n_tok"))
        .groupBy("source")
        .agg(sum(col("n_tok")).as("src_tokens"))
        .withColumn("sq",
          sqrt(col("src_tokens").cast("double")).cast("decimal(28,6)"))
        .withColumn("sq_total", sum(col("sq")).over(gw))
        .select(col("source"), col("src_tokens"),
          (col("sq").cast("double") / col("sq_total").cast("double"))
            .as("weight"),
          (lit(1000000.0) *
            (col("sq").cast("double") / col("sq_total").cast("double")) /
            col("src_tokens").cast("double")).as("epochs_1m"))
        .orderBy("source")
    },
    // Corpus vocabulary statistics: per-language top-5 bigrams by frequency
    // (ties broken bigram-ascending; impossible here since bigram is the
    // group key). explode → partial+final count aggregate (the only full
    // shuffle, of (lang, bigram) partials), then a rank filter that Spark
    // rewrites into WindowGroupLimit — a per-partition top-k BEFORE the
    // window sort, so only ~k rows per partition reach the per-lang sort.
    // That is the vocab-build shape that survives a billion-bigram corpus
    // (DataOpsSpec pins the WindowGroupLimit node).
    "data_vocab_topk" -> { (s, d) =>
      val w = Window.partitionBy("lang")
        .orderBy(col("n").desc, col("bigram").asc)
      Tables(s, d).documents
        .select(col("lang"),
          explode(TextOps.shingles(col("text"), 2)).as("bigram"))
        .groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .orderBy("lang", "rk")
    },
    // Token-budget sequence packing: shard by hash, order by doc_id, assign
    // pack_id = (running_token_sum - 1) div 2048 — contiguous 2048-token
    // bins per shard (a document straddling a boundary lands in the bin
    // where it ends). One shuffle; the window is a linear per-shard scan.
    "data_pack_sequences" -> { (s, d) =>
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, d).documents
        .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("shard"),
          size(split(col("text"), " ")).as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("pack_id", expr("(cum - 1) div 2048"))
        .groupBy("shard", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
        .orderBy("shard", "pack_id")
    },
    // Decontamination, removal form: emit the CLEAN corpus (drop every
    // document sharing any 8-gram with the benchmark set). The
    // contaminated-id set is tiny (bounded by the corpus' overlap with a
    // tiny eval set), so the final step is a broadcast ANTI join — the
    // corpus is scanned twice (gram generation + output) but never
    // shuffled, the only viable shape when the corpus is 100 TB and the
    // drop list is thousands of ids.
    "data_decontaminate_clean" -> { (s, d) =>
      val docs = Tables(s, d).documents
      val (bench, corpusGrams) = decontamGrams(docs)
      val contaminated = corpusGrams
        .join(broadcast(bench), Seq("g"))
        .select("doc_id").distinct()
      docs.filter(col("doc_id") >= 20)
        .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
    // Mixture upsampling by repetition: low-resource sources get repeated
    // (epoched) to rebalance the mixture — the repeat factor per language
    // is ceil(max_lang_mass / lang_mass) capped at 4 epochs, exact integer
    // arithmetic throughout. The factor table is a tiny per-language
    // aggregate joined back by broadcast, and the repetition itself is
    // explode(sequence(1, k)) — a narrow generator, NOT a union of k scans:
    // at 100 TB the corpus is read once and each row fans out map-side.
    "data_upsample_epochs" -> { (s, d) =>
      upsampleEpochsFrom(Tables(s, d).documents)
    },
    // Deterministic global shuffle: training epochs need the corpus in a
    // reproducible pseudo-random order. order-by-hash is the scalable,
    // seed-stable permutation: a range exchange + per-partition sort (no
    // single-reducer stage), independent of input partitioning and cluster
    // size, and a different seed prefix ("R" here) yields an independent
    // permutation without touching the data. Contrast with rand()-based
    // shuffles, which are irreproducible across retries/backfills.
    "data_shuffle_deterministic" -> { (s, d) =>
      Tables(s, d).documents
        .select(col("doc_id"),
          xxhash64(concat(lit("R"), col("doc_id").cast("string")))
            .as("shuffle_key"))
        .orderBy("shuffle_key", "doc_id")
    },
    // Epoch dedup with a bloom prefilter: the new crawl (doc_id%10 >= 5)
    // keeps only documents whose content hash was NOT seen in the previous
    // epoch (doc_id%10 < 8 — the ranges overlap, modeling a re-crawl).
    // The 100 TB shape: the old epoch reduces to ONE bloom blob via an
    // ordinary partial+final aggregate (OR-merge of 128 KiB partials), the
    // blob broadcasts, and the probe is a codegen'd map over the new scan.
    // Bloom "no" rows (the overwhelming majority of genuinely-new docs)
    // exit WITHOUT touching a join; only bloom "maybe" rows — true dups
    // plus the tiny FP set — reach the exact anti-join confirm. The result
    // is EXACTLY the anti-join (the bloom can only shrink the join, never
    // change the answer), which is what the oracle checks.
    "data_bloom_dedup" -> { (s, d) =>
      import graft.functions.aggregates.bloom_bits
      import graft.functions.functions.might_contain_bloom
      val docs = Tables(s, d).documents
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
      val old = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
        .select("text_md5")
      val neu = docs.filter(pmod(col("doc_id"), lit(10)) >= 5)
      val bloom = old.agg(
        bloom_bits(xxhash64(col("text_md5")), 1 << 20, 5).as("bf"))
      val probed = neu.crossJoin(broadcast(bloom))
        .withColumn("maybe",
          might_contain_bloom(col("bf"), xxhash64(col("text_md5")), 5))
      val definiteNew = probed.filter(!col("maybe"))
        .select("doc_id", "text_md5")
      // The probe term in the anti-join condition is an OPTIMIZER PIN,
      // not semantics: without it, PushLeftSemiLeftAntiThroughJoin hoists
      // the exact-confirm anti-join below the bloom probe, so the join
      // input is the FULL new epoch instead of the bloom-maybe candidates
      // — same answer, but the prefilter does no work at scale. Because
      // the condition references `bf` (produced by the probe), the join
      // cannot move below it; and since every matching old hash is IN the
      // bloom (no false negatives), the extra conjunct is provably true
      // on every match — the join still equals the plain anti-join.
      // BloomSpec asserts the pinned shape; a persist barrier would pin
      // it too but costs a materialization pass (measured 4x on bench).
      val oldKeys = old.select(col("text_md5").as("old_md5"))
      val confirmNew = probed.filter(col("maybe"))
        .join(oldKeys,
          col("text_md5") === col("old_md5") &&
            might_contain_bloom(col("bf"), xxhash64(col("old_md5")), 5),
          "left_anti")
        .select("doc_id", "text_md5")
      definiteNew.unionByName(confirmNew).orderBy("doc_id")
    },
    // Per-source document cap (domain caps in web-crawl pipelines): keep
    // the 10 longest documents per source. The rank predicate becomes a
    // WindowGroupLimit: each map task keeps its local top-10 per source
    // BEFORE the shuffle, so the exchange carries at most 10 rows per
    // (task, source) — never the full corpus sorted.
    "data_cap_per_source" -> { (s, d) =>
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      Tables(s, d).documents
        .select("source", "doc_id", "n_chars")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .orderBy("source", "rn")
    },
    // MERGE-INTO (upsert) shape without a table format: a re-processed
    // update set (hash-selected ~20% of the corpus, so the predicate is
    // NOT foldable and the join genuinely executes) replaces the base
    // version of each document; untouched base rows survive via a
    // left-anti join on the key. At 100 TB the update set is typically
    // ≪ base, so the anti-join broadcasts the update KEYS — the base
    // corpus is scanned once and never shuffled.
    "data_upsert_snapshot" -> { (s, d) =>
      val docs = Tables(s, d).documents
      val isUpd = pmod(xxhash64(
        concat(lit("U"), col("doc_id").cast("string"))), lit(5)) === 0
      val base = docs.select(col("doc_id"), md5(col("text")).as("text_md5"))
      val updates = docs.filter(isUpd)
        .select(col("doc_id"), md5(upper(col("text"))).as("text_md5"))
      updates.withColumn("src", lit("update"))
        .unionByName(
          base.join(updates.select("doc_id"), Seq("doc_id"), "left_anti")
            .withColumn("src", lit("base")))
        .orderBy("doc_id")
    },
    // SCD Type-2 dimension build — the lakehouse change-history shape:
    // each customer's order stream becomes validity intervals
    // [valid_from, valid_to) over the observed order status, closed by
    // the NEXT change (lead over the per-key time order, o_orderkey
    // tiebreak for same-day orders) and left open on the current row.
    // One shuffle on the dimension key, intervals attach map-side after
    // the per-key sort — at 100 TB the window runs per key, never
    // globally, and the key count bounds state exactly as in
    // sessionization.
    "data_scd2" -> { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables(s, d).orders
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_orderstatus"))
        .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
        // date-pure validity bounds rendered as DATE: a timestamp_ntz
        // OUTPUT is a cross-stack hazard (plan-gate type audit)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("valid_from"),
          col("valid_to").cast("date").as("valid_to"),
          col("o_orderstatus").as("status"),
          col("valid_to").isNull.as("is_current"))
        .orderBy("o_custkey", "valid_from", "o_orderkey")
    },
    // Fixed-size document chunking — the tokenize-and-split step that
    // turns documents into training sequences: each doc yields
    // ceil(n_tokens/64) chunks of <= 64 tokens, emitted with (doc_id,
    // chunk_idx, chunk hash, token count). Pure map-side fan-out
    // (posexplode over a generated index range + array slice), no shuffle
    // before the presentation sort; at 100 TB this is the
    // embarrassingly-parallel stage between cleaning and packing.
    "data_chunk_documents" -> { (s, d) =>
      val toksC = split(col("text"), " ")
      Tables(s, d).documents
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), toksC.as("t"), size(toksC).as("n"))
        .select(col("doc_id"), col("t"),
          posexplode(sequence(lit(0L), expr("(n - 1) div 64")))
            .as(Seq("ci", "_")))
        .select(col("doc_id"), col("ci").as("chunk_idx"),
          slice(col("t"), col("ci") * 64 + 1, lit(64)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).as("chunk_tokens"),
          md5(array_join(col("chunk"), " ")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    },
    // Deterministic source interleaving — curriculum-style epoch
    // composition: documents ordered so sources alternate (rank-within-
    // source first, source name second). One window per source partition
    // assigns the rank; the global presentation order IS the interleave.
    // Seed-stable like the hash shuffle (rank ties impossible: doc_id is
    // unique within a source).
    "data_interleave_sources" -> { (s, d) =>
      val w = Window.partitionBy("source").orderBy(
        xxhash64(concat(lit("I"), col("doc_id").cast("string"))).asc,
        col("doc_id").asc)
      Tables(s, d).documents
        .select(col("doc_id"), col("source"))
        .withColumn("rank_in_source", row_number().over(w))
        .orderBy(col("rank_in_source").asc, col("source").asc,
          col("doc_id").asc)
        .limit(200)
    },
    // Z-order clustering key: Morton-interleave two join/filter columns so
    // ONE sort clusters the data for range predicates on EITHER column —
    // the lakehouse data-skipping layout (sorting by (a, b) clusters only
    // a; the z-curve clusters both). The key is a codegen'd bit-interleave
    // expression; writing the sorted output with min/max file stats is
    // what turns this into file pruning at 100 TB.
    "data_zorder_cluster" -> { (s, d) =>
      Tables(s, d).lineitem
        .select("l_partkey", "l_suppkey").distinct()
        .withColumn("z", graft.functions.functions.zorder2(
          col("l_partkey"), col("l_suppkey")))
        .orderBy("z")
        .limit(100)
    },
    // File-SKIPPING evaluation of the z-order layout — the number that
    // justifies data_zorder_cluster's sort: lay the pair projection out
    // linearly (partkey-major) and z-ordered, cut 64-row blocks, compute
    // each block's suppkey zone map, and count blocks a range predicate
    // on l_suppkey IN [40, 49] can skip (mx < lo OR mn > hi — exactly the
    // parquet row-group pruning test). Linear-by-partkey blocks span the
    // whole suppkey domain (skip ≈ 0); z-order blocks confine BOTH
    // dimensions (skip ≈ the selectivity complement). The global
    // row_number is the block-definition device of the EVAL harness
    // (same single-reducer caveat as data_shuffle_blocks) — a production
    // run reads block stats from file footers written by the clustered
    // sink; this query is the decision readout, not the write path.
    "data_zorder_skipping" -> { (s, d) =>
      // r10: the pair projection feeds BOTH layout evaluations — persist
      // so the fact-table distinct runs once, not per eval branch
      val pairs = Tables(s, d).lineitem
        .select("l_partkey", "l_suppkey").distinct()
        .withColumn("z", graft.functions.functions.zorder2(
          col("l_partkey"), col("l_suppkey")))
        .persist()
      def eval(name: String, ord: Seq[Column]): DataFrame =
        pairs
          .withColumn("rn", row_number().over(Window.orderBy(ord: _*)))
          .withColumn("blk", expr("(rn - 1) div 64"))
          .groupBy("blk")
          .agg(min(col("l_suppkey")).as("mn"), max(col("l_suppkey")).as("mx"))
          .agg(count(lit(1)).as("n_blocks"),
            count(when(col("mx") < 40 || col("mn") > 49, 1))
              .as("n_skipped"))
          .select(lit(name).as("layout"), col("n_blocks"), col("n_skipped"),
            (col("n_skipped").cast("double") / col("n_blocks").cast("double"))
              .as("skip_frac"))
      eval("linear_partkey", Seq(col("l_partkey"), col("l_suppkey")))
        .unionByName(eval("zorder",
          Seq(col("z"), col("l_partkey"), col("l_suppkey"))))
        .orderBy("layout")
    },
    // FLAGSHIP end-to-end pretraining-corpus build — the full chain a
    // training-data pipeline runs, composed from the operators above as
    // ONE dataflow: language filter → quality gate (token count + stopword
    // ratio) → PII scrub → exact dedup (canonical representative = min
    // doc_id per scrubbed-content hash) → benchmark decontamination
    // (8-gram overlap). Scale shape: stages 1-3 fuse into one codegen'd
    // map over a pruned scan; the dedup is one partial+final aggregate on
    // the content hash + a semi-join of representatives; decontamination
    // broadcasts the (tiny) benchmark gram set and the contaminated-id
    // list. The corpus is scanned three times (gate+scrub, gram stream,
    // benchmark slice) — at 100 TB re-scanning pruned parquet beats
    // caching the corpus, and no stage shuffles full text (only hashes,
    // grams, and ids move).
    "pipeline_pretrain" -> { (s, d) =>
      pipelinePretrainFrom(Tables(s, d).documents)
    },
    // Partitioned SINK demo (r5): the lakehouse write path, end to end —
    // repartition BY the partition column (without it, every task writes
    // a file into every partition directory: the files×partitions
    // explosion that is the #1 real-world partitioned-write mistake),
    // sortWithinPartitions for row-group clustering (min/max statistics
    // stay tight so read-side predicate pushdown prunes row groups), then
    // `partitionBy(lang)` parquet. The query result is the READ-BACK
    // per-partition summary, so the oracle (straight SQL over the source
    // table) verifies write→read roundtrip integrity; SinkSpec asserts
    // partition pruning on the read-back path. Fixed output dir,
    // overwrite mode: deterministic and self-cleaning per run. At true
    // 100 TB one task per partition VALUE would itself bottleneck on a
    // giant partition — production salts the repartition key
    // (repartition(lang, salt)) and bounds file size with
    // spark.sql.files.maxRecordsPerFile; the single-key form here keeps
    // the 1-file-per-dir layout assertable.
    // CSV sink + source roundtrip — the remaining text-format surface
    // next to the parquet sinks: the `tricky` column PLANTS the cases
    // CSV serialization must survive (embedded commas, double quotes —
    // the corpus itself is verified clean of them, so the stressor is
    // synthetic by construction), and the row-wise md5 against the
    // parquet-source oracle proves write→quote→escape→read is lossless
    // byte for byte. Schema is explicit on read (CSV carries none — at
    // 100 TB inference would cost a full extra pass). One map-shaped
    // write + one map-shaped read; no shuffle but the presentation sort.
    "data_csv_roundtrip" -> { (s, d) =>
      val out = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_csv_demo").toString
      Tables(s, d).documents
        .select(col("doc_id"), col("lang"), col("n_chars"),
          concat(lit("a,\"b\" "), col("text")).as("tricky"))
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read
        .schema("doc_id BIGINT, lang STRING, n_chars BIGINT, tricky STRING")
        .option("header", "true").csv(out)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("tricky")).as("digest"))
        .orderBy("doc_id")
    },
    // JSON-lines sink + source roundtrip — same contract as the CSV
    // row: explicit read schema, row-wise content digest against the
    // parquet source. JSON needs no quoting stressor (strings are
    // unambiguous), so the digest covers the raw text.
    "data_json_roundtrip" -> { (s, d) =>
      val out = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_json_demo").toString
      Tables(s, d).documents.select("doc_id", "lang", "text", "n_chars")
        .write.mode("overwrite").json(out)
      s.read
        .schema("doc_id BIGINT, lang STRING, text STRING, n_chars BIGINT")
        .json(out)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("text")).as("digest"))
        .orderBy("doc_id")
    },
    // ORC sink + source roundtrip — the third columnar-format contract
    // row next to CSV and JSON (ORC ships native in Spark; Avro's
    // connector jar is absent from this container, noted not stubbed).
    // Same discipline: explicit read schema, row-wise digest vs parquet.
    "data_orc_roundtrip" -> { (s, d) =>
      val out = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_orc_demo").toString
      Tables(s, d).documents.select("doc_id", "lang", "text", "n_chars")
        .write.mode("overwrite").orc(out)
      s.read
        .schema("doc_id BIGINT, lang STRING, text STRING, n_chars BIGINT")
        .orc(out)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("text")).as("digest"))
        .orderBy("doc_id")
    },
    // Functional-dependency audit — schema-quality profiling's other
    // half next to data_inclusion_check's FK discovery: for each
    // candidate A → B, count LHS groups, violating groups (>1 distinct
    // RHS), and the worst fan-out. Each candidate is one partial+final
    // aggregate on its LHS (countDistinct collapses map-side per
    // group), then a one-row rollup — at 100 TB the shuffles carry
    // (lhs, rhs) pairs, never rows. A key-FD (o_orderkey → o_custkey)
    // pins the "holds" verdict; three denormalization candidates pin
    // the violation statistics.
    "data_fd_check" -> { (s, d) =>
      val t = Tables(s, d)
      def fd(df: DataFrame, name: String, lhs: String, rhs: String) =
        df.groupBy(col(lhs))
          .agg(countDistinct(col(rhs)).as("nd"))
          .agg(count(lit(1)).as("n_lhs"),
            count(when(col("nd") > 1, 1)).as("n_violating"),
            max(col("nd")).as("max_rhs"))
          .select(lit(name).as("fd"), col("n_lhs"), col("n_violating"),
            col("max_rhs"), (col("n_violating") === 0L).as("holds"))
      fd(t.orders, "o_orderkey->o_custkey", "o_orderkey", "o_custkey")
        .unionAll(fd(t.orders, "o_custkey->o_orderpriority",
          "o_custkey", "o_orderpriority"))
        .unionAll(fd(t.lineitem, "l_orderkey->l_returnflag",
          "l_orderkey", "l_returnflag"))
        .unionAll(fd(t.customer, "c_nationkey->c_mktsegment",
          "c_nationkey", "c_mktsegment"))
        .orderBy("fd")
    },
    // Table-level reconciliation checksums — the replica-comparison
    // primitive behind every migration/backfill audit: per table, an
    // ORDER-INDEPENDENT xor + modular-sum signature of a canonical row
    // hash, so two 100 TB replicas compare with one aggregate each and
    // a 3-row diff (no row-level join). Row hash is xxh64 of a pinned
    // '|'-joined key projection (each < 32 bytes — the [[XxhSql]]
    // replica's domain, so the oracle recomputes every row hash).
    // bit_xor and the mod-10^12 sum both collapse map-side; the sum
    // accumulates in DECIMAL(38,0) (like the components convergence
    // check) so it is exact to 10²⁶ rows per table — a Long would
    // silently overflow past ~9·10⁶ rows, exactly the scale a
    // replica checksum exists for, while DuckDB sums in HUGEINT.
    // The OUTPUT renders the sum as STRING: wide decimals
    // (precision > 18) canonicalize differently across arrow/duckdb
    // stacks (r6 driver-gate finding — the suite's only 3 hash fails
    // were exactly its only DECIMAL(38,0) output columns); digits are
    // exact and collation-free on every consumer.
    "data_table_checksum" -> { (s, d) =>
      val t = Tables(s, d)
      def sig(df: DataFrame, name: String, canonical: Column) = {
        val h = xxhash64(canonical)
        df.select(h.as("h"))
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(h)").as("xor_sig"),
            sum(pmod(col("h"), lit(1000000000000L))
              .cast("decimal(38,0)")).cast("string").as("sum_sig"))
          .select(lit(name).as("table_name"), col("n_rows"),
            col("xor_sig"), col("sum_sig"))
      }
      sig(t.documents, "documents",
        concat_ws("|", col("doc_id"), col("lang"), col("n_chars")))
        .unionAll(sig(t.orders, "orders",
          concat_ws("|", col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"))))
        .unionAll(sig(t.customer, "customer",
          concat_ws("|", col("c_custkey"), col("c_nationkey"),
            col("c_mktsegment"))))
        .orderBy("table_name")
    },
    "data_sink_partitioned" -> { (s, d) =>
      val out = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_sink_demo").toString
      Tables(s, d).documents.select("doc_id", "lang", "n_chars")
        .repartition(col("lang"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("lang")
    },
    // BUCKETED sink + co-located join (the other half of the lakehouse
    // write path next to data_sink_partitioned): both tables are written
    // `bucketBy(8, doc_id) sortBy(doc_id)`, so the read-back join is a
    // sort-merge join with ZERO exchanges and zero sorts — the bucket
    // layout IS the shuffle, paid once at write time and amortized over
    // every subsequent join/agg on the key. This is the canonical 100 TB
    // fact⋈fact answer when neither side broadcasts: at write time each
    // task hashes rows to bucket files; at read time bucket i of one
    // table joins bucket i of the other, executor-local. The merge hint
    // pins the plan against the small-scale broadcast fallback (at sf0.01
    // the dimension fits under the broadcast threshold and the bucket
    // demo would silently degenerate). SinkSpec asserts the single
    // post-join shuffle (the aggregate's) and bucketed scans on both
    // sides; the oracle verifies the write→read→join roundtrip against
    // straight SQL over the sources.
    "data_sink_bucketed" -> { (s, d) =>
      val docs = Tables(s, d).documents.select("doc_id", "lang", "n_chars")
      val emb = Tables(s, d).embeddings
        .select(col("vec_id").as("doc_id"),
          element_at(col("embedding"), 1).as("e1"))
      // written anew on every build, which is what this query shows;
      // saveAsTable(overwrite) refuses an orphaned location, so the
      // reset drops the entry AND deletes the leftover directory
      Seq("graft_bkt_docs", "graft_bkt_emb")
        .foreach(Tables.resetManagedTable(s, _))
      // repartition ON THE BUCKET FUNCTION before writing (same pmod
      // hash): one task per bucket -> one file per bucket. Without it
      // every task writes a file into every bucket, and the read side
      // can no longer trust per-bucket sortedness (Spark re-sorts) —
      // the bucketed-write counterpart of the partitioned sink's
      // files×partitions lesson.
      docs.repartition(8, col("doc_id"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .saveAsTable("graft_bkt_docs")
      emb.repartition(8, col("doc_id"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .saveAsTable("graft_bkt_emb")
      s.table("graft_bkt_docs").hint("merge")
        .join(s.table("graft_bkt_emb"), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          min(col("e1")).as("min_e1"), max(col("e1")).as("max_e1"))
        .orderBy("lang")
    },
    // Mass-proportional SYSTEMATIC sampling (r5): select ~20 docs per
    // language with probability proportional to n_chars, fully
    // deterministic — the weighted counterpart of data_split_hash's
    // uniform membership. Classic survey-sampling construction: per
    // stratum, running mass cum_i over doc_id order, stride = total/20,
    // and a doc is picked iff its mass interval (cum-w, cum] contains a
    // stride multiple — pure integer division in BOTH engines (Spark
    // `div`, DuckDB `//`), no RNG, no float thresholds. Scale shape: the
    // prefix sum windows per-stratum (parallel across languages; a
    // production single-stratum variant is the textbook two-pass
    // distributed prefix sum — per-partition totals broadcast as offsets);
    // everything else is a codegen'd map + filter.
    "data_sample_systematic" -> { (s, d) =>
      val w = Window.partitionBy("lang").orderBy("doc_id")
      val tw = Window.partitionBy("lang")
      Tables(s, d).documents
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .withColumn("cum", sum(col("n_chars")).over(w))
        .withColumn("total", sum(col("n_chars")).over(tw))
        .withColumn("stride", expr("total div 20"))
        .filter(col("stride") > 0 &&
          expr("cum div stride") > expr("(cum - n_chars) div stride"))
        .select(col("lang"), col("doc_id"), col("n_chars"),
          expr("cum div stride").as("pick"))
        .orderBy("lang", "doc_id")
    },
    // CDC-style snapshot diff: classify every key as added / removed /
    // changed between two corpus snapshots (the update set re-processed,
    // one id slice present only in each snapshot). Both snapshots derive
    // from the SAME base table, so the textbook full-outer join (covered
    // by `join_full`) is avoidable entirely: ONE scan computes membership
    // flags + both md5s conditionally, then the status classifier — zero
    // joins, zero shuffles except the final delta-sized sort. Better
    // still, a row can only be 'changed' when it is in the update set,
    // and added/removed membership is a cheap modulo predicate — so the
    // candidate pre-filter (a superset of the delta: spurious candidates
    // whose re-processed md5 is unchanged fall out at the status filter)
    // prunes ~4/5 of the corpus BEFORE any md5 is computed. At 100 TB
    // this is the difference between hashing the corpus twice plus a
    // corpus-sized SMJ and one pruned codegen'd map.
    "data_snapshot_diff" -> { (s, d) =>
      val docs = Tables(s, d).documents.select(col("doc_id"), col("text"))
      val isUpd = pmod(xxhash64(
        concat(lit("U"), col("doc_id").cast("string"))), lit(5)) === 0
      val inOld = col("doc_id") % 17 =!= 5
      val inNew = col("doc_id") % 17 =!= 3
      docs
        .filter(!inOld || !inNew || isUpd)
        .select(col("doc_id"),
          when(inOld, md5(col("text"))).as("old_md5"),
          when(inNew,
            md5(when(isUpd, upper(col("text"))).otherwise(col("text"))))
            .as("new_md5"))
        .withColumn("status",
          when(col("old_md5").isNull, "added")
            .when(col("new_md5").isNull, "removed")
            .when(col("old_md5") =!= col("new_md5"), "changed")
            .otherwise("same"))
        .filter(col("status") =!= "same")
        .select("doc_id", "status", "old_md5", "new_md5")
        .orderBy("doc_id")
    },
    // Winsorize: per-group robust clipping at the EXACT 5th/95th
    // percentile order statistics (percentile_disc semantics: the value at
    // rank floor(p*(n-1))+1 — rank selection, no interpolation, so the
    // thresholds are corpus values and every comparison is exact). The
    // outlier-trimming step a value-weighted pipeline runs before
    // aggregating: one shuffle on the group key orders each group for the
    // rank pass; the 5-row threshold table then broadcasts back onto a
    // second scan for the clip + aggregate. With ties on v the value AT a
    // rank is deterministic (the sorted multiset doesn't care which tied
    // row got which rank), which is all the threshold extraction reads.
    "data_winsorize" -> { (s, d) =>
      winsorizeFrom(Tables(s, d).lineitemPar // r10: kernel rebalance
        .select(col("l_returnflag").as("grp"), col("l_extendedprice").as("v")))
    },
    // Small-file compaction planner — the OPTIMIZE/bin-packing step a
    // lakehouse table needs continuously at 100 TB: given a per-partition
    // file inventory (simulated here: a "file" is a doc_id bucket of
    // documents, sized by byte length), assign files to compaction groups
    // by prefix-sum binning — group = floor(bytes-before-this-file /
    // target) within the partition, so every group closes at ~target
    // bytes and file adjacency is preserved (groups are contiguous in
    // file order, which keeps any clustering the files already have).
    // This is metadata-scale work: one row per FILE, not per record — a
    // window prefix sum partitioned by the table partition key, then one
    // tiny aggregate. Pure integer arithmetic end to end.
    "data_compaction_plan" -> { (s, d) =>
      compactionPlanFrom(Tables(s, d).documents, 16384L)
    },
    // Range-partition planning — the boundary computation behind every
    // global-sorted write (the step Spark's RangePartitioner does by
    // SAMPLING; this is the exact-histogram form): quantize the sort key
    // (floor(price/100) — the quantizer is the scale lever: boundaries
    // only need key-range resolution, and quantizing keeps the histogram
    // orders of magnitude smaller than the data at any scale), build a
    // value-count histogram (one shuffle, combiner collapses it), prefix-
    // sum it with a ROWS window (single-partition — over the QUANTIZED
    // histogram, metadata-scale like the compaction plan), and read off
    // boundary i = smallest key with cum·8 ≥ i·N. Integer arithmetic end
    // to end (cum·8 vs i·N avoids the ceil-division pitfall); the result
    // is the 8-way range-bucket boundary table a 1000-executor sorted
    // write would shuffle against.
    "data_range_partition_plan" -> { (s, d) =>
      rangePartitionPlanFrom(
        Tables(s, d).lineitem
          .select(floor(col("l_extendedprice") / 100).as("vq")),
        nBuckets = 8)
    },
    // Weighted sampling WITHOUT replacement, the distributed way
    // (Efraimidis & Spirakis 2006, public literature): each doc draws a
    // deterministic hash-uniform u and competes on key = u^(1/w) — the
    // top-k by key IS an exact weight-proportional sample. Ranking by
    // ln(u)/w (monotone in the key, no pow) keeps the arithmetic tame.
    // The whole operator is a codegen'd map + ONE TakeOrderedAndProject:
    // per-partition top-k heaps, k rows to the driver-side merge — no
    // sort, no shuffle of the corpus, the shape that samples 100 TB for
    // the cost of a scan. Weight = n_chars (longer docs proportionally
    // likelier). The double key is kept OUT of the output (ln may differ
    // in the last ulp across engines); membership is decided by ordering,
    // where random keys make 1-ulp flips measure-zero.
    // Zone-map file skipping, the table-format planner readout behind
    // every "files pruned" line in an Iceberg/Delta scan: per simulated
    // file (a doc_id range bucket), min/max/count zone stats for
    // n_chars, then the pruning decision for the predicate
    // `n_chars BETWEEN 900 AND 1100` — a file survives iff its zone
    // CAN contain a match (max ≥ 900 AND min ≤ 1100). n_matching
    // (actual matches per file) rides along and proves soundness in the
    // output itself: every pruned file shows n_matching = 0. Like
    // data_compaction_plan this is metadata-scale planning — one
    // aggregate builds the stats table (one row per FILE), the decision
    // is a codegen'd map over it; at 100 TB the stats frame is what the
    // manifest store holds, and the same two-sided interval test is the
    // pruning the real scan applies.
    // Data-quality gate — the expectation-suite readout (null checks,
    // key uniqueness, referential integrity, domain ranges) every
    // ingestion pipeline runs before promoting a snapshot. Each check is
    // one aggregate over its table; the two FK checks ride a LEFT join
    // with a null probe (one pass, no separate anti-join count), and the
    // report is a union of six single-row aggregates — at 100 TB each
    // check is a scan-shaped partial+final aggregate, and the scans
    // per table fuse when checks share one. All-integer output.
    "data_quality_checks" -> { (s, d) =>
      val t = Tables(s, d)
      def row(name: String, n: Column, viol: Column, df: DataFrame) =
        df.agg(n.as("n_checked"), viol.as("n_violations"))
          .select(lit(name).as("check_name"), col("n_checked"),
            col("n_violations"))
      val cnt = count(lit(1))
      val checks = Seq(
        row("lineitem_fk_orders", cnt,
          count(when(col("o_orderkey").isNull, 1)),
          t.lineitem.join(t.orders.select("o_orderkey").distinct(),
            col("l_orderkey") === col("o_orderkey"), "left")),
        row("lineitem_price_positive", cnt,
          count(when(col("l_extendedprice") <= 0.0, 1)), t.lineitem),
        row("lineitem_qty_range", cnt,
          count(when(!col("l_quantity").between(1.0, 50.0), 1)),
          t.lineitem),
        row("orders_custkey_not_null", cnt,
          count(when(col("o_custkey").isNull, 1)), t.orders),
        row("orders_fk_customer", cnt,
          count(when(col("c_custkey").isNull, 1)),
          t.orders.join(t.customer.select("c_custkey"),
            col("o_custkey") === col("c_custkey"), "left")),
        row("orders_orderkey_unique", cnt,
          cnt - countDistinct(col("o_orderkey")), t.orders))
      checks.reduce(_.union(_)).orderBy("check_name")
    },
    // Schema-evolution union — reading two snapshot generations whose
    // schemas drifted (v2 added a derived column, dropped another) as
    // ONE frame: union-by-NAME with missing columns null-filled, the
    // semantics every table format's schema evolution resolves at read
    // time (a positional union would silently misalign columns — the
    // classic drift bug). The readout counts per-generation presence of
    // each column so the null-fill is itself oracle-checked. Pure map +
    // one aggregate; schema reconciliation is plan-time work.
    "data_union_evolved" -> { (s, d) =>
      val docs = Tables(s, d).documents
      val v1 = docs.filter(col("doc_id") < 250)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val v2 = docs.filter(col("doc_id") >= 250)
        .select(col("doc_id"), col("n_chars"),
          (col("n_chars") >= 1000).as("is_long"))
      v1.unionByName(v2, allowMissingColumns = true)
        .groupBy(when(col("doc_id") < 250, "v1").otherwise("v2")
          .as("schema_v"))
        .agg(count(lit(1)).as("n"),
          count(col("lang")).as("n_lang"),
          count(col("is_long")).as("n_is_long"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("schema_v")
    },
    // Incremental JOIN maintenance (delta-join decomposition) — the ETL
    // pattern that keeps a 100 TB join view fresh without recomputing
    // it: with both inputs split into a standing snapshot and a delta
    // (here a deterministic 90/10 hash split standing in for "yesterday"
    // vs "today"), the new view is old⋈old ∪ old⋈Δr ∪ Δl⋈old ∪ Δl⋈Δr —
    // three of the four terms touch a delta side, so the incremental
    // work is O(Δ·matches), not O(view). The oracle is simply the FULL
    // join: the gate proves the four-term assembly IS the recompute,
    // row-for-row. Each term is the same equi-join on the natural key;
    // at scale the snapshot sides are bucketed on the key so delta terms
    // co-locate without reshuffling the big side.
    "data_incremental_join" -> { (s, d) =>
      val isDelta = (c: Column) =>
        pmod(xxhash64(concat(lit("D"), c.cast("string"))), lit(10)) === 0
      // r10: persisting these projections for the four old/new terms was
      // measured SLOWER (1.92 s vs 1.81 s median) — the cache store costs
      // what the re-scans cost at this width; left on pruned scans
      val li = Tables(s, d).lineitem
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          isDelta(col("l_orderkey") * 10000 + col("l_linenumber"))
            .as("l_new"))
      val ord = Tables(s, d).orders
        .select(col("o_orderkey"), col("o_orderstatus"),
          isDelta(col("o_orderkey")).as("o_new"))
      def term(lNew: Boolean, oNew: Boolean) =
        li.filter(col("l_new") === lNew)
          .join(ord.filter(col("o_new") === oNew),
            col("l_orderkey") === col("o_orderkey"))
      term(false, false).union(term(false, true))
        .union(term(true, false)).union(term(true, true))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          Oracle.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderstatus")
    },
    "data_zonemap_prune" -> { (s, d) =>
      Tables(s, d).documents
        .groupBy(expr("doc_id div 50").as("file_id"))
        .agg(min(col("n_chars")).as("zmin"), max(col("n_chars")).as("zmax"),
          count(lit(1)).as("n_docs"),
          sum(when(col("n_chars").between(900, 1100), 1L).otherwise(0L))
            .as("n_matching"))
        .withColumn("pruned",
          !(col("zmax") >= 900 && col("zmin") <= 1100))
        .select("file_id", "zmin", "zmax", "n_docs", "n_matching", "pruned")
        .orderBy("file_id")
    },
    "data_weighted_sample" -> { (s, d) =>
      val u = xxhash64(concat(lit("W"), col("doc_id").cast("string")))
        .cast("double") / lit(1.8446744073709552e19) + lit(0.5)
      val key = log(u) / col("n_chars").cast("double")
      Tables(s, d).documents
        .select(col("doc_id"), col("lang"), col("n_chars"),
          key.as("es_key"))
        .orderBy(col("es_key").desc, col("doc_id").asc)
        .limit(100)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },
    // Columnar-encoding advisor — the storage-layout companion to
    // `data_compaction_plan` and `data_zorder_cluster`: per column,
    // measure cardinality and run structure in the table's physical
    // (event_id) order and recommend dictionary / RLE / plain encoding
    // with integer-threshold rules (ndv·20 <= n → dict; runs·2 <= n →
    // RLE). Runs are counted WITHIN 4096-row blocks (window partitioned
    // by block — embarrassingly parallel, no global sort), which is the
    // honest framing anyway: encodings are chosen per row-group, and a
    // run crossing a row-group boundary can't be exploited. One scan
    // feeds all three columns via stack(); doubles/ids are compared
    // through their string rendering, which is injective per engine, so
    // ndv and run counts are rendering-independent.
    "data_encoding_advisor" -> { (s, d) =>
      encodingAdvisorFrom(Tables(s, d).events, blockSize = 4096L)
    },
    // k-anonymity audit — the privacy gate a training corpus passes
    // before release: group records by their quasi-identifier tuple
    // (nation × market segment × account-balance band) and flag every
    // equivalence class smaller than k=5 — those records are
    // re-identifiable by the QI combination alone and must be suppressed
    // or generalized. One hash-aggregate shuffle keyed on the QI tuple
    // (output is class-sized, not record-sized — at 100 TB the report
    // stays tiny); the balance band is floor(acctbal/2000), one IEEE
    // divide + floor, identical in both engines. Companion of
    // `text_pii_scrub` (direct identifiers) — this is the LINKAGE risk
    // side of the privacy ledger.
    "data_k_anonymity" -> { (s, d) =>
      Tables(s, d).customer
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 2000.0).cast("long").as("bal_band"))
        .agg(count(lit(1)).as("n"))
        .withColumn("at_risk", col("n") < 5)
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    },
    // Cross-source overlap matrix — the corpus-composition audit run
    // before mixing sources into a training blend: for every source
    // pair, how many distinct 3-gram shingles they share and the
    // Jaccard of their gram sets (near-identical sources = double
    // counting; high one-way containment = one source scrapes another).
    // Scale shape: the corpus collapses to per-source DISTINCT gram
    // sets (map-side-combined distinct, gram-keyed — far smaller than
    // the token stream), the pair counts are one gram-keyed equi-join
    // of that set with itself (hot boilerplate grams are AQE-splittable),
    // and the matrix is |sources|² rows with the size table broadcast.
    "data_source_overlap" -> { (s, d) =>
      val g = Tables(s, d).documents
        .select(col("source"), explode(array_distinct(
          TextOps.shingles(col("text"), 3))).as("g"))
        .distinct()
        .persist()
      val sizes = g.groupBy("source").agg(count(lit(1)).as("n"))
      g.as("a").join(g.as("b"),
          col("a.g") === col("b.g") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(sizes.select(col("source").as("src_a"),
          col("n").as("n_a"))), Seq("src_a"))
        .join(broadcast(sizes.select(col("source").as("src_b"),
          col("n").as("n_b"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"),
          col("n_b"),
          (col("n_shared").cast("double") /
            (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
            .as("jaccard"))
        .orderBy("src_a", "src_b")
    },
    // l-diversity audit — k-anonymity's necessary complement (Machanavajjhala
    // et al. 2007): a quasi-identifier group can be k-large yet still leak
    // if every member shares the SENSITIVE value. Quasi-identifiers here
    // are (nation, balance band); the sensitive attribute is the market
    // segment; a group is at risk when it holds fewer than 3 distinct
    // segments. One hash aggregate (Spark plans count(DISTINCT) as the
    // two-phase expand — both phases map-side combinable); output is
    // QI-group-sized regardless of corpus scale.
    "data_l_diversity" -> { (s, d) =>
      Tables(s, d).customer
        .groupBy(col("c_nationkey"),
          floor(col("c_acctbal") / 2000.0).cast("long").as("bal_band"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("c_mktsegment")).as("l_div"))
        .withColumn("at_risk", col("l_div") < 3)
        .orderBy("c_nationkey", "bal_band")
    },
    // t-closeness audit (Li/Li/Venkatasubramanian, ICDE 2007) — the third
    // rung of the privacy-audit ladder after k-anonymity and l-diversity:
    // a QI group can be large (k ok) and diverse (l ok) yet still leak if
    // its SENSITIVE-VALUE DISTRIBUTION deviates from the table's (e.g. a
    // group that is 90% bottom balance band). For the ORDERED sensitive
    // attribute (balance band) t = the Earth Mover's Distance between the
    // group's band distribution and the global one = Σ|cumulative diff| /
    // (B−1). All arithmetic is exact until the single final division:
    // the cumulative difference is cross-multiplied to the common
    // denominator n_g·N (cum_gb·N − cum_b·n_g), carried as DECIMAL
    // products (the data_table_checksum lesson — Long cross-products
    // overflow exactly at the population scale a privacy audit targets).
    // Scale shape: the corpus collapses to QI×B cells in one map-side-
    // combined aggregate; the grid densify (missing bands = 0), windows,
    // and EMD all run over that metadata-sized frame.
    "data_t_closeness" -> { (s, d) =>
      val cells = Tables(s, d).customer
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 2000.0).cast("long").as("band"))
        .agg(count(lit(1)).as("n_gb"))
      val groups = cells.groupBy("c_nationkey", "c_mktsegment")
        .agg(sum(col("n_gb")).as("n_g"))
      val bands = cells.groupBy("band").agg(sum(col("n_gb")).as("n_b"))
      val tot = bands.agg(sum(col("n_b")).as("nn"),
        count(lit(1)).as("n_bands"))
      def dec(c: Column): Column = c.cast("decimal(19,0)")
      val w = Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      groups.crossJoin(broadcast(bands))
        .join(cells, Seq("c_nationkey", "c_mktsegment", "band"), "left")
        .na.fill(0L, Seq("n_gb"))
        .crossJoin(broadcast(tot))
        .withColumn("cd", sum(dec(col("n_gb")) * dec(col("nn")) -
          dec(col("n_b")) * dec(col("n_g"))).over(w))
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("n_g"))
        .agg(sum(abs(col("cd"))).as("sabs"),
          max(col("nn")).as("nn"), max(col("n_bands")).as("nb"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("n_g").as("n"),
          (col("sabs").cast("double") /
            (col("n_g").cast("double") * col("nn").cast("double") *
              (col("nb") - 1).cast("double"))).as("t_emd"))
        .withColumn("at_risk", col("t_emd") > 0.25)
        .orderBy("c_nationkey", "c_mktsegment")
    },
    // k-anonymity ENFORCEMENT via a generalization ladder — the audit
    // family's missing action: groups below k at the finest
    // quasi-identifier (lang, source) escalate as a WHOLE to (lang, *);
    // if the pooled LEVEL-1 RESIDUAL (only the escalated rows — a
    // classic ladder bug pools the already-published level-0 rows too,
    // undercounting re-identification risk) is still below k it
    // suppresses to (*, *). Emits the generalized release table: one row
    // per published group with its generalization level. Scale shape:
    // everything after the first map-side-combined groupBy runs on the
    // QI-sized group table; tagging the corpus rows themselves is the
    // same logic as a broadcast map-only join. The suppressed (*,*)
    // bucket is reported whatever its size — in production it is
    // redacted, never published.
    "data_anonymize_ladder" -> { (s, d) =>
      anonymizeLadderFrom(Tables(s, d).documents, 10)
    },
    // Contamination SCORE per training document — the thresholdable
    // readout behind data_decontaminate's drop list: every corpus doc's
    // total distinct 8-gram count, how many of those appear in the
    // benchmark set, and the overlap fraction (zero-overlap docs
    // included via the left join — the score every doc gets, not just
    // the contaminated ones). Same shared gram definition as the
    // decontaminate family ([[decontamGrams]]); the benchmark side
    // broadcasts, the per-doc totals are a map-side-combined count, and
    // the corpus gram stream never shuffles twice.
    "data_contamination_score" -> { (s, d) =>
      val (bench, corpusGrams) = decontamGrams(Tables(s, d).documents)
      val cg = corpusGrams.persist()
      val totals = cg.groupBy("doc_id").agg(count(col("g")).as("n_grams"))
      val shared = cg.join(broadcast(bench), Seq("g"))
        .groupBy("doc_id").agg(count(col("g")).as("n_shared"))
      totals.join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)).cast("double") /
            col("n_grams")).as("contamination"))
        .orderBy("doc_id")
    },
    // Right-to-erasure impact report — the cascade a GDPR/CCPA delete
    // batch triggers: a deterministic victim set (custkey % 97 = 0
    // stands in for the request table), propagated through the FK chain
    // customer → orders → lineitem, reporting purged/retained counts per
    // table BEFORE anything is rewritten (the dry-run every compliance
    // pipeline emits first). Customer and orders classify with a row-local
    // predicate (no join at all); lineitem inherits its verdict through
    // one equi-join on the order key. Output is three rows regardless of
    // scale; the sibling write path is `data_upsert_snapshot`'s MERGE
    // shape with these flags as the delete condition.
    "data_delete_propagation" -> { (s, d) =>
      val t = Tables(s, d)
      def report(name: String, df: DataFrame, purge: Column) =
        df.agg(count(lit(1)).as("n"),
          count(when(purge, 1)).as("n_purged"))
          .select(lit(name).as("table_name"), col("n_purged"),
            (col("n") - col("n_purged")).as("n_retained"))
      val victim = (k: Column) => k % 97 === 0
      Seq(
        report("customer", t.customer, victim(col("c_custkey"))),
        report("lineitem",
          t.lineitem.join(t.orders.select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"), "left"),
          victim(col("o_custkey"))),
        report("orders", t.orders, victim(col("o_custkey"))))
        .reduce(_.union(_)).orderBy("table_name")
    },
    // Shuffle-skew diagnostic — the report that decides whether a join
    // key needs salting (or AQE skew splitting) BEFORE the 100 TB job
    // runs: hash the join key into 32 buckets exactly as a shuffle
    // would, and report per-bucket load, key count, and the heaviest
    // single key. A bucket whose n_rows is many× the mean means skewed
    // partitions; max_key_rows ≈ n_rows pinpoints a single hot key
    // (salt it) vs many colliding keys (more partitions). Two
    // aggregates: per-key counts (the only row-sized shuffle), then a
    // 32-row rollup — the report itself is constant-size at any scale.
    "data_skew_report" -> { (s, d) =>
      Tables(s, d).lineitem
        .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("n"))
        .withColumn("bucket",
          pmod(xxhash64(col("k").cast("string")), lit(32)))
        .groupBy("bucket")
        .agg(sum(col("n")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("n")).as("max_key_rows"))
        .orderBy("bucket")
    },
    // Column-level data profile — the summary every catalog/discovery
    // tool materializes per table: row count, null count, NDV, domain
    // bounds, and the modal value per column. Profiled over the RENDERED
    // (string) domain, restricted to integer/varchar columns where the
    // rendering is engine-identical (doubles and timestamps render
    // differently across engines — their profile lives in the typed
    // queries); bounds are therefore lexicographic, which is the honest
    // contract for a type-agnostic profiler. stack() fans the row out
    // column-wise in one scan; the mode is a (col, value) count plus a
    // rank-1 pushdown, tie broken to the smallest value. Output is
    // 4 rows at any scale.
    "data_column_profile" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val src = Tables(s, d).orders.selectExpr(
        "stack(4, 'o_custkey', CAST(o_custkey AS STRING), " +
          "'o_orderkey', CAST(o_orderkey AS STRING), " +
          "'o_orderpriority', o_orderpriority, " +
          "'o_orderstatus', o_orderstatus) AS (col_name, v)")
      val stats = src.groupBy("col_name").agg(
        count(lit(1)).as("n"),
        count(when(col("v").isNull, 1)).as("n_null"),
        countDistinct(col("v")).as("ndv"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      val w = Window.partitionBy("col_name")
        .orderBy(col("cnt").desc, col("v").asc)
      val mode = src.filter(col("v").isNotNull)
        .groupBy("col_name", "v").agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("col_name"), col("v").as("top_v"),
          col("cnt").as("top_n"))
      stats.join(mode, "col_name")
        .select(col("col_name"), col("n"), col("n_null"), col("ndv"),
          col("min_v"), col("max_v"), col("top_v"), col("top_n"))
        .orderBy("col_name")
    },
    // Inclusion-dependency profiling — the foreign-key DISCOVERY step a
    // catalog runs before it can trust join paths (the column profile
    // above sees one column at a time; this is the cross-table
    // containment check): for each candidate (child → parent) edge,
    // count distinct child keys, count those with no parent match, and
    // flag full inclusion. The third candidate deliberately FAILS:
    // customer → events.user_id ("is every customer active in the event
    // log?") — only a sliver of the customer domain ever emits events in
    // this corpus, so the readout exercises both verdicts.
    // Shape per candidate: both sides collapse to DISTINCT key sets
    // (key-sized, partial-agg'd map-side) before a LEFT ANTI join — the
    // anti join shuffles keys, never facts; the verdict is two scalar
    // counts crossed. At 100 TB each check is one key-shuffle, and
    // candidates run independently (a real profiler fans hundreds out).
    "data_inclusion_check" -> { (s, d) =>
      val t = Tables(s, d)
      def check(childName: String, parentName: String, child: DataFrame,
          parent: DataFrame): DataFrame = {
        val c = child.toDF("k").distinct()
        val p = parent.toDF("k").distinct()
        val n = c.agg(count(lit(1)).as("n_child_distinct"))
        val miss = c.join(p, Seq("k"), "left_anti")
          .agg(count(lit(1)).as("n_unmatched"))
        n.crossJoin(miss)
          .select(lit(childName).as("child"), lit(parentName).as("parent"),
            col("n_child_distinct"), col("n_unmatched"),
            (col("n_unmatched") === 0L).as("included"),
            ((col("n_child_distinct") - col("n_unmatched")).cast("double") /
              col("n_child_distinct").cast("double")).as("coverage"))
      }
      check("lineitem.l_orderkey", "orders.o_orderkey",
          t.lineitem.select("l_orderkey"), t.orders.select("o_orderkey"))
        .unionAll(check("orders.o_custkey", "customer.c_custkey",
          t.orders.select("o_custkey"), t.customer.select("c_custkey")))
        .unionAll(check("customer.c_custkey", "events.user_id",
          t.customer.select("c_custkey"), t.events.select("user_id")))
        .orderBy("child")
    },
    // Deterministic keyed pseudonymization — the GDPR-grade "replace the
    // natural key, keep the joins working" transform: user_id maps to
    // xxh64('P' || id) under a pipeline salt, so the SAME user always
    // gets the SAME opaque 64-bit pseudonym (per-user aggregation,
    // sessionization, and cross-table joins still line up) while the raw
    // id never leaves the scan. The readout proves joinability survived:
    // per-pseudonym event count, purchase count, and exact value total.
    // Map-side hash + one user-keyed shuffle — the identical plan the
    // raw-id aggregate would have; pseudonymization is plan-free at any
    // scale. The oracle recomputes the pseudonyms via the XXH64 SQL
    // replica, so the mapping itself is gate-checked, not just row
    // counts. (One-way: reversing requires brute-forcing the id domain;
    // a production run would put a secret salt in the prefix.)
    "data_pseudonymize" -> { (s, d) =>
      Tables(s, d).events
        .select(
          xxhash64(concat(lit("P"), col("user_id").cast("string")))
            .as("pseudonym"),
          col("event_type"), col("value"))
        .groupBy("pseudonym")
        .agg(count(lit(1)).as("n_events"),
          count(when(col("event_type") === "purchase", 1))
            .as("n_purchases"),
          Oracle.dsum(col("value")).as("sum_value"))
        .orderBy("pseudonym")
    },
    // CDC apply — the change-data-capture merge every lakehouse table
    // maintenance job runs: a base snapshot plus an LSN-ordered changelog
    // of INSERT/UPDATE/DELETE ops collapses to the current table state by
    // LAST-WRITER-WINS per key. The changelog here is derived
    // deterministically from `orders` (inserts for the keys missing from
    // the base, double-updates to prove last-wins, deletes, and a
    // delete-then-reinsert to prove op ordering), because the corpus
    // ships no log table — the APPLY machinery is the operator. Stated as
    // ONE aggregate, not a window: `max(struct(lsn, op, price))` picks
    // the final op per key map-side (LSNs are unique per key by
    // construction), so the only shuffle is the key-partitioned combine —
    // the same plan at 100 TB, where the base never sorts and the
    // changelog is a fraction of the snapshot. Deleted keys drop out in
    // one post-aggregate filter.
    "data_cdc_apply" -> { (s, d) =>
      val o = Tables(s, d).orders
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      def slice(cond: Column, lsnOff: Int, op: String, price: Column) =
        o.filter(cond).select(col("k"),
          (col("k") * 10 + lsnOff).as("lsn"), lit(op).as("op"),
          price.as("p"))
      val base = o.filter(pmod(col("k"), lit(4)) =!= 0)
        .select(col("k"), lit(0L).as("lsn"), lit("I").as("op"), col("p"))
      val log = Seq(
        slice(pmod(col("k"), lit(4)) === 0, 1, "I", col("p")),
        slice(pmod(col("k"), lit(10)) === 1, 2, "U", col("p") + 100.0),
        slice(pmod(col("k"), lit(10)) === 1, 5, "U", col("p") + 200.0),
        slice(pmod(col("k"), lit(10)) === 2, 3, "U", col("p") + 50.0),
        slice(pmod(col("k"), lit(10)) === 3, 7, "D",
          lit(null).cast("double")),
        slice(pmod(col("k"), lit(10)) === 4, 2, "D",
          lit(null).cast("double")),
        slice(pmod(col("k"), lit(10)) === 4, 6, "I", col("p") + 1000.0)
      ).reduce(_ union _)
      base.union(log)
        .groupBy("k")
        .agg(max(struct(col("lsn"), col("op"), col("p"))).as("last"),
          count(lit(1)).as("n_ops"))
        .filter(col("last.op") =!= "D")
        .select(col("k").as("o_orderkey"), col("last.p").as("price"),
          col("last.lsn").as("last_lsn"), col("n_ops"))
        .orderBy("o_orderkey")
    },
    // Dataset card — the one-row datasheet a corpus release ships
    // (docs/tokens/chars, language and source diversity, the exact-dup
    // rate, token-length center): the summary every "Datasheets for
    // Datasets"-style release publishes next to the parquet. ONE scan,
    // one global aggregate; the three countDistincts expand to the
    // standard two-phase plan. Exact distinct-digest counting is the
    // gate-checked semantics — at 100 TB a release pipeline would swap
    // the digest distinct for the HLL sketch (agg_approx_sketch's
    // machinery) and keep the rest unchanged. The mean and dup-rate are
    // single IEEE divisions of exact counts; p50 rides the
    // percentile ≡ quantile_cont parity agg_median pins.
    "data_dataset_card" -> { (s, d) =>
      val t = split(col("text"), " ")
      Tables(s, d).documents
        .select(col("lang"), col("source"), col("n_chars"),
          size(t).cast("long").as("n_tokens"), md5(col("text")).as("digest"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("digest")).as("n_distinct_texts"),
          percentile(col("n_tokens"), lit(0.5)).as("p50_tokens"))
        .select(col("n_docs"), col("n_tokens"), col("n_chars"),
          col("n_langs"), col("n_sources"), col("n_distinct_texts"),
          col("p50_tokens"),
          (col("n_tokens").cast("double") / col("n_docs").cast("double"))
            .as("mean_tokens"),
          ((col("n_docs") - col("n_distinct_texts")).cast("double") /
            col("n_docs").cast("double")).as("dup_frac"))
    },
    // Block shuffle — the shuffle large-scale training loaders actually
    // run: a full row-level shuffle (data_shuffle_deterministic) destroys
    // sequential read locality at 100 TB (every row a random seek), so
    // loaders shuffle fixed-size BLOCKS and keep rows sequential within
    // each block (the shard+buffer shuffle of tf.data / torch datapipes /
    // megatron loaders). Blocks of 64 docs by the natural key, block
    // order permuted by salted xxh64, within-block order preserved.
    // Pure map arithmetic + the presentation sort — no window, no
    // shuffle, and at scale the sort is the write-side range partition.
    "data_shuffle_blocks" -> { (s, d) =>
      Tables(s, d).documents
        .select(col("doc_id"),
          expr("doc_id div 64").as("block")) // ids are non-negative
        .withColumn("block_key",
          xxhash64(concat(lit("B"), col("block").cast("string"))))
        .orderBy("block_key", "doc_id")
    },
    // Skew-salt PLAN — the actionable sibling of data_skew_report: for
    // every join/agg key whose row count exceeds the per-task cap, the
    // salt factor ceil(n / cap) that splits it into under-cap subkeys,
    // and the post-split residual max. This is the table a salted join
    // reads to fan out ONLY the hot keys (uniform salting multiplies
    // the small-side rows for every key; planned salting pays the
    // fan-out exactly where the skew is). All-integer arithmetic
    // (ceil(n/cap) = (n + cap − 1) div cap); one key-count aggregate,
    // plan rows only for the hot tail.
    "data_skew_salt_plan" -> { (s, d) =>
      val cap = 40L
      Tables(s, d).lineitem
        .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("n"))
        .filter(col("n") > cap)
        .withColumn("salt_factor", expr(s"(n + ${cap - 1}) div $cap"))
        .withColumn("max_per_salt",
          expr(s"(n + salt_factor - 1) div salt_factor"))
        .select(col("k"), col("n"), col("salt_factor"), col("max_per_salt"))
        .orderBy(col("n").desc, col("k").asc)
    },
    // Fifth flagship pipeline — the RELEASE pipeline: everything between
    // a raw crawl and a shippable training corpus, composed from the
    // shipped stage machinery. Quality gate (pipeline_clean_corpus's
    // rule) → near-dup removal (exact-Jaccard ≥ 0.8 PPJoin pairs, drop
    // the higher id) → benchmark decontamination (exact 8-gram overlap
    // with the doc_id < 20 eval set, data_decontaminate's rule) → hash
    // split (data_split_hash's buckets) → the release manifest: per
    // split, docs, tokens, and an order-independent content signature
    // (the data_table_checksum DECIMAL contract) — the row a release
    // pipeline publishes and a consumer re-verifies after download.
    // Scale shape: the text is tokenized ONCE into a persisted base read
    // by the gate, the pair join, and the split rollup; the dedup and
    // decontamination stages are the already-bucketed operators' shapes.
    "pipeline_release" -> { (s, d) =>
      val toksC = split(col("text"), " ")
      val nTok = size(toksC)
      val base = Tables(s, d).documents
        .select(col("doc_id"), col("text"), nTok.cast("long").as("n_tokens"),
          (size(filter(toksC,
            x => x.isin("the", "a", "of", "and", "to", "in")))
            .cast("double") / nTok.cast("double")).as("stop_ratio"),
          array_distinct(
            graft.functions.functions.word_shingles(toksC, 3)).as("sh"))
        .persist()
      val dropIds = DedupOps
        .jaccardDupPairsUnsorted(base.select(col("doc_id"), col("sh")), 4, 5)
        .select(col("id2").as("doc_id")).distinct()
      val (bench, corpusGrams) = decontamGrams(Tables(s, d).documents)
      val contaminated = corpusGrams
        .join(broadcast(bench), Seq("g")).select("doc_id").distinct()
      base
        .filter(col("n_tokens") >= 50 && col("stop_ratio") <= 0.35)
        .filter(col("doc_id") >= 20)
        .join(dropIds, Seq("doc_id"), "left_anti")
        .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
        .withColumn("b",
          pmod(xxhash64(col("doc_id").cast("string")), lit(100)))
        .withColumn("split", when(col("b") < 80, "train")
          .when(col("b") < 90, "validation").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          // hash a 31-char md5 prefix, not the raw text: the oracle's
          // XXH64 SQL replica is defined for < 32-byte inputs only.
          // Sum in DECIMAL(38,0) (exact), render as STRING: wide
          // decimals canonicalize differently across arrow/duckdb
          // stacks (r6 driver-gate finding).
          sum(pmod(xxhash64(substring(md5(col("text")), 1, 31)),
            lit(1000000000000L)).cast("decimal(38,0)")).cast("string")
            .as("content_sig"))
        .orderBy("split")
    },
    // Temporal split — the OTHER split next to data_split_hash: events
    // before the boundary day (min_day + 24) train, the rest evaluate —
    // the design every forecasting/recommendation eval needs (a hash
    // split leaks the future into training). The readout carries the
    // LEAKAGE number a temporal split must publish: users active on
    // both sides (their eval behavior is conditioned on trained-on
    // history — the cross-user generalization caveat). Shape: one
    // user-keyed aggregate derives each user's per-side presence; the
    // split rollup and the 1-row shared-user count (scalar broadcast,
    // whitelisted shape) are metadata-scale.
    "data_split_temporal" -> { (s, d) =>
      val day = expr("unix_millis(ts) div 86400000")
      val ev = Tables(s, d).events.select(col("user_id"), day.as("day"))
      // 1-row boundary scalar broadcast under the corpus scan (the
      // events_did shape) — NOT a window over the raw stream
      val b = ev.agg((min(col("day")) + 24L).as("boundary"))
      val withB = ev.crossJoin(broadcast(b))
        .withColumn("split",
          when(col("day") < col("boundary"), "train").otherwise("eval"))
      val perUser = withB.groupBy("user_id")
        .agg(countDistinct(col("split")).as("n_sides"))
      val shared = perUser.agg(
        count(when(col("n_sides") === 2, 1)).as("n_shared_users"))
      withB.groupBy("split")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .crossJoin(broadcast(shared))
        .select(col("split"), col("n_events"), col("n_users"),
          col("n_shared_users"))
        .orderBy("split")
    },
    // Retention/TTL purge plan — the lifecycle job every day-partitioned
    // event table runs: partitions older than the retention horizon (14
    // days behind the table watermark = max event day) are marked for
    // drop, with the row counts the job will reclaim. The corpus
    // collapses to the day-partition table in ONE aggregate; the
    // watermark is a window max over that metadata-scale frame (no
    // scalar crossjoin needed), and at 100 TB the drops are O(1)
    // partition-metadata deletes — exactly why day-partitioned layout
    // (data_sink_partitioned) is the shape TTL needs.
    "data_retention_ttl" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val wAll = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, d).events
        .select(expr("unix_millis(ts) div 86400000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("n_rows"))
        .withColumn("watermark_day", max(col("day")).over(wAll))
        .select(col("day"), col("n_rows"),
          (col("watermark_day") - col("day")).as("age_days"),
          when(col("watermark_day") - col("day") > 14, lit("drop"))
            .otherwise(lit("retain")).as("action"))
        .orderBy("day")
    },
    // Length-bucketed batching vs sequential batching — the padding-waste
    // readout every fixed-shape training loop pays for: a batch pads every
    // sequence to its longest member, so batching docs of similar length
    // (bucket = n_tokens div 64) recovers the tokens sequential batching
    // burns as padding. Both strategies batch 16 docs in doc_id order
    // WITHIN a shard (pmod(doc_id, 8) — the pack_sequences sharding; a
    // global order would be a single-reducer window at 100 TB, per-shard
    // windows scale with the shard count). Exact integers end-to-end
    // (padded = n_in_batch x max_tokens), one IEEE division per strategy
    // row for the waste share.
    // Curriculum staging: order the corpus easy -> hard by a difficulty
    // proxy (document length) and cut it into 4 stages of ~equal doc
    // count, emitting the schedule manifest (docs, real tokens,
    // cumulative tokens per stage) a curriculum trainer consumes. The
    // scale path avoids any global sort/ntile over documents: a
    // 16-char-bucket length histogram (bounded, metadata scale) gets a
    // cumulative window, each bucket maps to the stage its PRECEDING
    // mass lands in (stage = 1 + 4*cum_before/N, capped), and documents
    // equi-join their bucket's stage — the full corpus is touched by
    // one aggregation and one broadcast join, never a single-partition
    // window.
    "data_curriculum_stages" -> { (s, d) =>
      val docs = Tables(s, d).documents
        .select(col("doc_id"),
          expr("n_chars div 16").as("lb"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val hist = docs.groupBy("lb").agg(count(lit(1)).as("n"))
      val wcum = Window.orderBy("lb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = hist.agg(sum(col("n")).as("nt"))
      val stages = hist
        .withColumn("cum_before", sum(col("n")).over(wcum) - col("n"))
        .crossJoin(broadcast(tot))
        .select(col("lb"),
          least(lit(4L), expr("cum_before * 4 div nt") + 1L).as("stage"))
      val w4 = Window.orderBy("stage")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.join(broadcast(stages), "lb")
        .groupBy("stage")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("stage_tokens"),
          min(col("lb") * 16).as("min_len"),
          max(col("lb") * 16 + 15).as("max_len"))
        .select(col("stage"), col("n_docs"), col("stage_tokens"),
          sum(col("stage_tokens")).over(w4).as("cum_tokens"),
          col("min_len"), col("max_len"))
        .orderBy("stage")
    },
    "data_length_buckets" -> { (s, d) =>
      val base = Tables(s, d).documents
        .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("shard"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      def strat(name: String, parts: Seq[String]): DataFrame = {
        val w = Window.partitionBy(parts.map(col): _*).orderBy("doc_id")
        base
          .withColumn("bucket", expr("n_tokens div 64"))
          .withColumn("rn", row_number().over(w))
          .withColumn("batch", expr("(rn - 1) div 16"))
          .groupBy((parts.map(col) :+ col("batch")): _*)
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("real_t"),
            max(col("n_tokens")).as("max_t"))
          .agg(count(lit(1)).as("n_batches"),
            sum(col("real_t")).as("real_tokens"),
            sum(col("n_docs") * col("max_t")).as("padded_tokens"))
          .select(lit(name).as("strategy"), col("n_batches"),
            col("real_tokens"), col("padded_tokens"),
            ((col("padded_tokens") - col("real_tokens")).cast("double") /
              col("padded_tokens").cast("double")).as("waste_share"))
      }
      strat("bucketed", Seq("shard", "bucket"))
        .unionByName(strat("sequential", Seq("shard")))
        .orderBy("strategy")
    },
    // Duplication rate BY LENGTH band — the curation diagnostic behind
    // length-dependent dedup thresholds: short documents duplicate far
    // more often (boilerplate, templates), and a single corpus-wide
    // Jaccard threshold over- or under-fires by band. Exact-dup
    // instances (md5 multiplicity > 1) per fixed 16-token band, capped
    // at band 7 — fixed thresholds, no quantile sort. One hash
    // aggregate + one hash-keyed equi-join + the band rollup.
    "data_dup_rate_by_length" -> { (s, d) =>
      val docs = Tables(s, d).documents
        .select(col("doc_id"), md5(col("text")).as("h"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val mult = docs.groupBy("h").agg(count(lit(1)).as("k"))
      docs.join(mult, "h")
        .withColumn("band", expr("least(n_tokens div 16, 7)"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("k") > 1, 1)).as("n_dup_instances"))
        .select(col("band"), col("n_docs"), col("n_dup_instances"),
          (col("n_dup_instances").cast("double") /
            col("n_docs").cast("double")).as("dup_rate"))
        .orderBy("band")
    },
    // ε-differentially-private per-source histogram (ε=1, sensitivity 1):
    // true counts + discrete-Laplace noise + the max(0, ·) post-processing
    // release. The noise is the REAL two-sided geometric mechanism
    // (P(k) ∝ e^{-|k|}, truncated at ±8 ≈ 3.4e-4 tail mass) drawn by
    // inverse-CDF lookup over a PINNED cumulative threshold table on
    // h = xxh64('DP' || source) mod 2^20 — deterministic so the oracle
    // can gate the mechanism bit-for-bit (a production run swaps h for a
    // fresh uniform draw; everything downstream is unchanged). The true
    // count is emitted NEXT to the release for the gate's sake — a real
    // release drops it. Shape: one partial+final count per source, noise
    // is a map-side expression on the |sources|-sized rollup.
    "data_dp_histogram" -> { (s, d) =>
      val h = pmod(xxhash64(concat(lit("DP"), col("source"))),
        lit(1048576L))
      val noise = DpThresholds.foldRight(lit(null).cast("long")) {
        case ((k, t), rest) => when(h < t, lit(k.toLong)).otherwise(rest)
      }
      Tables(s, d).documents
        .groupBy("source").agg(count(lit(1)).as("n_true"))
        .select(col("source"), col("n_true"), noise.as("noise"),
          greatest(col("n_true") + noise, lit(0L)).as("n_dp"))
        .orderBy("source")
    },
    // Partition-column advisor — the layout decision every lakehouse
    // write makes once and pays for forever: for each candidate
    // partition column, the partition count (small-file risk), the max
    // partition's rows, and the imbalance factor max/mean =
    // max·ndv/rows (cross-multiplied exact integers, ONE division).
    // Three candidate rollups, each a partial+final count — at 100 TB
    // the advisor reads column STATISTICS scale, never data scale.
    "data_partition_advisor" -> { (s, d) =>
      val docs = Tables(s, d).documents
      def score(key: Column, name: String): DataFrame =
        docs.groupBy(key.as("k")).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_partitions"),
            sum(col("n")).as("n_rows"), max(col("n")).as("max_rows"))
          .select(lit(name).as("candidate"), col("n_partitions"),
            col("n_rows"), col("max_rows"),
            ((col("max_rows") * col("n_partitions")).cast("double") /
              col("n_rows").cast("double")).as("imbalance"))
      score(col("lang"), "lang")
        .unionAll(score(col("source"), "source"))
        .unionAll(score(concat_ws("/", col("lang"), col("source")),
          "lang/source"))
        .orderBy("candidate")
    },
    // Target-file-size write plan — the small-files report: per
    // partition (lang), bytes (Σ n_chars as the proxy), file count at a
    // 64 KiB target (ceiling division — exact), rows per file, and the
    // fill percentage of the last-file-averaged layout (integer percent:
    // bytes·100 div (files·target)). The planner output is
    // partition-count-sized metadata.
    "data_file_plan" -> { (s, d) =>
      val T = 65536L
      Tables(s, d).documents
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("bytes"))
        .select(col("lang"), col("n_rows"), col("bytes"),
          expr(s"(bytes + ${T - 1}) div $T").as("n_files"),
          expr(s"(n_rows + (bytes + ${T - 1}) div $T - 1) div " +
            s"((bytes + ${T - 1}) div $T)").as("rows_per_file"),
          expr(s"bytes * 100 div (((bytes + ${T - 1}) div $T) * $T)")
            .as("fill_pct"))
        .orderBy("lang")
    },
    // Quality quarantine — failing rows routed OUT of the pipeline with
    // machine-readable reason bits (the pattern that makes a 100 TB
    // clean re-runnable: the quarantine is the diff, the reasons are the
    // dashboard). Three Gopher-style rules as EXACT integer predicates
    // (the stopword rule cross-multiplies — no float ratio at the
    // boundary); bitmask = too_short·1 + stop_heavy·2 + non_en·4. Pure
    // map stage over the scan; only failing rows survive the filter.
    "data_quarantine" -> { (s, d) =>
      val t = split(col("text"), " ")
      val nt = size(t).cast("long")
      val ns = size(filter(t,
        x => x.isin("the", "a", "of", "and", "to", "in"))).cast("long")
      Tables(s, d).documents
        .select(col("doc_id"), col("lang"),
          (nt < 50L).as("too_short"),
          (ns * 100L > nt * 35L).as("stop_heavy"),
          (col("lang") =!= "en").as("non_en"))
        .withColumn("reason_mask",
          when(col("too_short"), 1L).otherwise(0L) +
            when(col("stop_heavy"), 2L).otherwise(0L) +
            when(col("non_en"), 4L).otherwise(0L))
        .filter(col("reason_mask") > 0L)
        .orderBy("doc_id")
    },
    // Distribution drift between snapshot halves — the schema/content
    // monitor a daily-partitioned table needs: split the event stream at
    // the midpoint day and compare each event_type's share across the
    // halves. Counts exact; the midpoint is a 1-row broadcast; the
    // share delta is two IEEE divisions per type row. At 100 TB both
    // halves are one partial+final aggregate over the same scan.
    "data_schema_drift" -> { (s, d) =>
      val day = expr("unix_millis(ts) div 86400000")
      val ev = Tables(s, d).events.select(col("event_type"), day.as("day"))
      val mid = ev.agg((min(col("day")) +
        expr("(max(day) - min(day)) div 2")).as("mid_day"))
      val halves = ev.crossJoin(broadcast(mid))
        .select(col("event_type"),
          when(col("day") < col("mid_day"), 1L).otherwise(0L).as("first"))
        .groupBy("event_type")
        .agg(sum(col("first")).as("n_first"),
          sum(lit(1L) - col("first")).as("n_second"))
      val tot = halves.agg(sum(col("n_first")).as("t_first"),
        sum(col("n_second")).as("t_second"))
      halves.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n_first"), col("n_second"),
          (col("n_first").cast("double") / col("t_first").cast("double") -
            col("n_second").cast("double") / col("t_second").cast("double"))
            .as("share_delta"))
        .orderBy("event_type")
    },
    // Wide-to-long metric melt via the `stack` GENERATOR — the second of
    // Spark's two unpivot surfaces (`unpivot_metrics` in AnalyticsExt
    // exercises the native DataFrame.unpivot operator; this one the
    // codegen'd stack() generator, the form SQL-only callers reach for),
    // over the day-keyed metrics rollup every metrics store ingests.
    // One pass over the day-sized rollup, no joins; the rollup is one
    // partial+final aggregate over the scan.
    "data_unpivot_metrics" -> { (s, d) =>
      Tables(s, d).events
        .select(expr("unix_millis(ts) div 86400000").as("day"),
          col("user_id"), col("event_type"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchases"))
        .selectExpr("day",
          "stack(3, 'n_events', n_events, 'n_users', n_users, " +
            "'n_purchases', n_purchases) AS (metric, value)")
        .orderBy("day", "metric")
    },
    // CDC net-effect collapse — the changelog compaction that turns N
    // ops per key into ONE effective op before a merge (less write
    // amplification than applying every row). Changelog = each user's
    // signup/click/error events as insert/update/delete in (ts,
    // event_id) order; first/last op via min/max(struct) aggregates (no
    // window pass), net classified by the standard collapse matrix
    // (I..D → none, I..U/I → insert, U..D → delete, else upsert). One
    // key-partitioned aggregate; output is key-sized.
    "data_cdc_net_effect" -> { (s, d) =>
      val ops = Tables(s, d).events
        .filter(col("event_type").isin("signup", "click", "error"))
        .select(col("user_id"), expr("unix_millis(ts)").as("ts_ms"),
          col("event_id"),
          when(col("event_type") === "signup", "I")
            .when(col("event_type") === "click", "U")
            .otherwise("D").as("op"))
      ops.groupBy("user_id")
        .agg(count(lit(1)).as("n_ops"),
          min(struct(col("ts_ms"), col("event_id"), col("op"))).as("f"),
          max(struct(col("ts_ms"), col("event_id"), col("op"))).as("l"))
        .select(col("user_id"), col("n_ops"),
          col("f.op").as("first_op"), col("l.op").as("last_op"),
          when(col("l.op") === "D",
            when(col("f.op") === "I", "none").otherwise("delete"))
            .otherwise(
              when(col("f.op") === "I", "insert").otherwise("upsert"))
            .as("net"))
        .orderBy("user_id")
    }
  )

  /** Cumulative inverse-CDF thresholds for the truncated discrete Laplace
    * (b = 1/ε = 1, support −8..8) on a 2^20 uniform grid: noise = the
    * first k with h < threshold. Shared verbatim with the DuckDB oracle —
    * the pinned-table doctrine of [[graft.functions.Kernels.LnTable]].
    * Last threshold is exactly 2^20 so every h maps.
    */
  private val DpThresholds: Seq[(Int, Long)] = Seq(
    -8 -> 162L, -7 -> 604L, -6 -> 1805L, -5 -> 5071L, -4 -> 13948L,
    -3 -> 38077L, -2 -> 103668L, -1 -> 281961L, 0 -> 766614L,
    1 -> 944907L, 2 -> 1010498L, 3 -> 1034627L, 4 -> 1043504L,
    5 -> 1046770L, 6 -> 1047971L, 7 -> 1048413L, 8 -> 1048576L)

  /** The `data_encoding_advisor` core over any events-shaped frame
    * (event_id, event_type, user_id, value) — separated so specs can
    * plant run/cardinality structure with known advice outcomes.
    */
  def encodingAdvisorFrom(events: DataFrame, blockSize: Long): DataFrame = {
    val src = events.selectExpr(
      "event_id", s"event_id div $blockSize AS block",
      "stack(3, 'event_type', event_type, " +
        "'user_id', CAST(user_id AS STRING), " +
        "'value', CAST(value AS STRING)) AS (col_name, v)")
    val w = Window.partitionBy("col_name", "block").orderBy("event_id")
    val runs = src.withColumn("rs",
      when(lag(col("v"), 1).over(w).isNull ||
        lag(col("v"), 1).over(w) =!= col("v"), 1L).otherwise(0L))
    runs.groupBy("col_name")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("v")).as("ndv"),
        sum(col("rs")).as("n_runs"))
      .withColumn("avg_run_len",
        col("n").cast("double") / col("n_runs").cast("double"))
      .withColumn("advice",
        when(col("ndv") * 20 <= col("n"), lit("dictionary"))
          .when(col("n_runs") * 2 <= col("n"), lit("rle"))
          .otherwise(lit("plain")))
      .orderBy("col_name")
  }

  /** Compaction-plan core: build the simulated per-(lang, file) inventory
    * from a documents frame and bin-pack by running size. Separated so
    * specs can plant file sizes with known group boundaries.
    */
  def compactionPlanFrom(docs: DataFrame, targetBytes: Long): DataFrame =
    compactionPlanFromInventory(
      docs.groupBy(col("lang"), (col("doc_id") % 50).as("file_id"))
        .agg(sum(octet_length(coalesce(col("text"), lit(""))))
          .as("bytes")),
      targetBytes)

  /** The planner itself over any (lang, file_id, bytes) inventory.
    * file_id must be UNIQUE within a lang (true of any real file
    * inventory): the prefix sum is an explicit ROWS frame (Spark's
    * default RANGE frame would give tied file_ids a shared cumulative
    * sum — not sequential packing, and not what the oracle computes),
    * and with a duplicate file_id the tied rows' relative order — hence
    * their bin split — would be engine-dependent.
    */
  def compactionPlanFromInventory(
      inv: DataFrame, targetBytes: Long): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("file_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    inv
      .withColumn("cum", sum(col("bytes")).over(w))
      // non-negative running sums, so `div` (truncate) == floor division
      .withColumn("bin", expr(s"(cum - bytes) div $targetBytes"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("group_bytes"),
        min(col("file_id")).as("first_file"),
        max(col("file_id")).as("last_file"))
      .orderBy("lang", "bin")
  }

  /** Range-partition boundary core over any single-column (vq) frame of
    * quantized sort keys (see the `data_range_partition_plan` query
    * comment): boundary i = smallest vq with cum·nBuckets ≥ i·N.
    * Separated so specs can plant value distributions with
    * hand-computable boundaries.
    */
  def rangePartitionPlanFrom(vals: DataFrame, nBuckets: Int): DataFrame = {
    val hist = vals.groupBy("vq").agg(count(lit(1)).as("n"))
    val tot = hist.agg(sum(col("n")).as("nt"))
    val w = Window.orderBy("vq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("cum", sum(col("n")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("vq"), col("cum"), col("nt"),
        explode(sequence(lit(1L), lit(nBuckets.toLong))).as("bucket"))
      .filter(col("cum") * nBuckets >= col("bucket") * col("nt"))
      .groupBy("bucket").agg(min(col("vq")).as("boundary"))
      .orderBy("bucket")
  }

  /** Winsorize core over any frame with (grp, v) — separated so specs can
    * plant a group with known order statistics.
    */
  def winsorizeFrom(vals: DataFrame): DataFrame = {
    val lorank = floor(lit(0.05) * (col("n") - 1)) + 1
    val hirank = floor(lit(0.95) * (col("n") - 1)) + 1
    val thr = vals
      .withColumn("rn",
        row_number().over(Window.partitionBy("grp").orderBy(col("v").asc)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("grp")))
      .groupBy("grp")
      .agg(max(when(col("rn") === lorank, col("v"))).as("lo"),
        max(when(col("rn") === hirank, col("v"))).as("hi"))
    vals.join(broadcast(thr), Seq("grp"))
      .select(col("grp"),
        greatest(least(col("v"), col("hi")), col("lo")).as("cv"),
        (col("v") < col("lo")).cast("long").as("lowf"),
        (col("v") > col("hi")).cast("long").as("highf"),
        col("lo"), col("hi"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), max(col("lo")).as("lo"),
        max(col("hi")).as("hi"), sum(col("lowf")).as("n_low"),
        sum(col("highf")).as("n_high"),
        Oracle.dsum(col("cv")).as("sum_winsorized"))
      .orderBy("grp")
  }

  /** The flagship pipeline core over any frame with (doc_id, lang, text) —
    * separated so specs can plant a corpus exercising every stage. Stage
    * semantics are the pipeline_pretrain scaladoc's; benchmark docs are
    * doc_id < 20 (the decontamination family's convention).
    */
  /** The generalization-ladder core over any (lang, source) frame —
    * separated so specs can plant a residual pool small enough to force
    * the (*,*) suppression rung. See `data_anonymize_ladder`.
    */
  private[graft] def anonymizeLadderFrom(docs: DataFrame, k: Int)
      : DataFrame = {
    val n0 = docs.groupBy("lang", "source").agg(count(lit(1)).as("n_docs"))
    val keep0 = n0.filter(col("n_docs") >= k)
      .select(col("lang").as("lang_gen"), col("source").as("source_gen"),
        lit(0).as("level"), col("n_docs"))
    val resid1 = n0.filter(col("n_docs") < k)
      .groupBy("lang").agg(sum(col("n_docs")).as("n_docs"))
    val keep1 = resid1.filter(col("n_docs") >= k)
      .select(col("lang").as("lang_gen"), lit("*").as("source_gen"),
        lit(1).as("level"), col("n_docs"))
    val suppressed = resid1.filter(col("n_docs") < k)
      .agg(sum(col("n_docs")).as("n_docs"))
      .filter(col("n_docs").isNotNull)
      .select(lit("*").as("lang_gen"), lit("*").as("source_gen"),
        lit(2).as("level"), col("n_docs"))
    keep0.unionAll(keep1).unionAll(suppressed)
      .orderBy("level", "lang_gen", "source_gen")
  }

  private[graft] def pipelinePretrainFrom(docs: DataFrame): DataFrame = {
    val toksC = split(col("text"), " ")
    val nTok = size(toksC)
    val gated = docs
      .filter(col("lang") === "en" && col("doc_id") >= 20)
      .select(col("doc_id"), col("text"), nTok.as("n_tokens"),
        (size(filter(toksC,
          x => x.isin("the", "a", "of", "and", "to", "in"))).cast("double")
          / nTok.cast("double")).as("stop_ratio"))
      .filter(col("n_tokens") >= 50 && col("stop_ratio") <= 0.35)
    val withHash = gated.select(col("doc_id"), col("n_tokens"),
      md5(regexp_replace(
        regexp_replace(col("text"), TextOps.EmailRe, "<EMAIL>"),
        TextOps.TermRe, "<REDACTED>")).as("clean_hash"))
    val reps = withHash.groupBy("clean_hash")
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val deduped = withHash.join(reps, Seq("doc_id"), "left_semi")
    val (bench, corpusGrams) = decontamGrams(docs)
    val contaminated = corpusGrams
      .join(broadcast(bench), Seq("g"))
      .select("doc_id").distinct()
    deduped
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      .select("doc_id", "n_tokens", "clean_hash")
      .orderBy("doc_id")
  }

  /** Shared engine-side gram streams for the two decontamination forms:
    * ONE tokenization/shingling definition (the text family's
    * TextOps.shingles) yielding the benchmark's distinct grams (doc_id <
    * 20) and the corpus' per-doc distinct grams (doc_id >= 20) — the
    * engine mirror of the shared [[gramCtes]] oracle CTEs, so the two
    * queries cannot diverge on either side.
    */
  private def decontamGrams(docs: DataFrame): (DataFrame, DataFrame) = {
    def grams = explode(array_distinct(
      TextOps.shingles(col("text"), 8))).as("g")
    (docs.filter(col("doc_id") < 20).select(grams).distinct(),
      docs.filter(col("doc_id") >= 20).select(col("doc_id"), grams))
  }

  /** Shared gram CTEs for the two decontamination oracles (one
    * tokenization definition, like the engine side's TextOps.shingles). */
  private val gramCtes: String =
    """tok AS (SELECT doc_id, string_split(text, ' ') AS L
      |  FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |    L[i] || ' ' || L[i+1] || ' ' || L[i+2] || ' ' || L[i+3] || ' ' ||
      |    L[i+4] || ' ' || L[i+5] || ' ' || L[i+6] || ' ' || L[i+7] AS g
      |  FROM tok,
      |    LATERAL (SELECT unnest(generate_series(1, len(L) - 7)) AS i) s),
      |bench AS (SELECT DISTINCT g FROM g WHERE doc_id < 20)""".stripMargin

  /** The upsampling core over any frame with (doc_id, lang, n_chars) —
    * see the `data_upsample_epochs` notes above. Separated so specs can
    * plant a known mass imbalance and check the exact repeat factors.
    */
  def upsampleEpochsFrom(docs: DataFrame): DataFrame = {
    val mass = docs.groupBy("lang").agg(sum(col("n_chars")).as("m"))
    val mx = mass.agg(max(col("m")).as("maxm"))
    val fac = mass.crossJoin(broadcast(mx))
      .select(col("lang"),
        least(lit(4L), expr("(maxm + m - 1) div m")).as("k"))
    docs.join(broadcast(fac), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), col("k"))).as("epoch"),
        col("k").cast("int").as("n_epochs"))
      .select(col("doc_id"), col("lang"),
        col("epoch").cast("int").as("epoch"), col("n_epochs"))
      .orderBy("doc_id", "epoch")
  }

  /** Waterfilling allocation at a 60%-of-corpus token target — see the
    * `data_token_budget` notes. Separated so specs can plant exact
    * crossing-row cases. The 60% target is strictly below the total, so
    * a crossing row always exists (an above-total target means "take
    * everything" — no cap to derive).
    */
  private[graft] def tokenBudgetFrom(docs: DataFrame): DataFrame = {
    val st = docs
      .select(col("source"), size(split(col("text"), " ")).as("n_tok"))
      .groupBy("source")
      .agg(sum(col("n_tok")).cast("long").as("n_tokens"))
    val gw = Window.partitionBy()
    val w = Window.orderBy(col("n_tokens").asc, col("source").asc)
    val ranked = st
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("cum_before", coalesce(
        sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_sources", count(lit(1)).over(gw))
      .withColumn("total", sum(col("n_tokens")).over(gw))
      .withColumn("target", expr("(total * 6) div 10"))
      .withColumn("remaining", col("n_sources") - col("k") + 1L)
    val cap = ranked
      .filter(col("cum_before") + col("remaining") * col("n_tokens") >=
        col("target"))
      .orderBy("k").limit(1)
      .select(expr("(target - cum_before) div remaining").as("cap"))
    ranked.crossJoin(broadcast(cap))
      .select(col("source"), col("n_tokens"),
        least(col("n_tokens"), col("cap")).as("alloc_tokens"),
        (col("n_tokens") > col("cap")).as("capped"))
      .orderBy("source")
  }

  def oracles: Map[String, String] = Map(
    "data_split_hash" ->
      s"""WITH h AS (SELECT n_chars,
         |    ((${XxhSql.expr("CAST(doc_id AS VARCHAR)", "42")} % 100) + 100)
         |      % 100 AS b
         |  FROM documents)
         |SELECT CASE WHEN b < 80 THEN 'train'
         |            WHEN b < 90 THEN 'validation'
         |            ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM h GROUP BY 1 ORDER BY split""".stripMargin,
    "data_split_balance" ->
      s"""WITH h AS (SELECT lang,
         |    ((${XxhSql.expr("CAST(doc_id AS VARCHAR)", "42")} % 100) + 100)
         |      % 100 AS b
         |  FROM documents),
         |cell AS (SELECT lang,
         |    count(CASE WHEN b < 80 THEN 1 END) AS n_train,
         |    count(CASE WHEN b >= 80 AND b < 90 THEN 1 END) AS n_val,
         |    count(CASE WHEN b >= 90 THEN 1 END) AS n_test
         |  FROM h GROUP BY lang),
         |tot AS (SELECT sum(n_train) AS t_train, sum(n_val) AS t_val,
         |    sum(n_test) AS t_test FROM cell)
         |SELECT lang, n_train, n_val, n_test,
         |  (CAST(n_train AS DOUBLE) -
         |     CAST(n_train + n_val + n_test AS DOUBLE) *
         |       CAST(t_train AS DOUBLE) /
         |       CAST(t_train + t_val + t_test AS DOUBLE)) *
         |  (CAST(n_train AS DOUBLE) -
         |     CAST(n_train + n_val + n_test AS DOUBLE) *
         |       CAST(t_train AS DOUBLE) /
         |       CAST(t_train + t_val + t_test AS DOUBLE)) /
         |  (CAST(n_train + n_val + n_test AS DOUBLE) *
         |     CAST(t_train AS DOUBLE) /
         |     CAST(t_train + t_val + t_test AS DOUBLE)) +
         |  (CAST(n_val AS DOUBLE) -
         |     CAST(n_train + n_val + n_test AS DOUBLE) *
         |       CAST(t_val AS DOUBLE) /
         |       CAST(t_train + t_val + t_test AS DOUBLE)) *
         |  (CAST(n_val AS DOUBLE) -
         |     CAST(n_train + n_val + n_test AS DOUBLE) *
         |       CAST(t_val AS DOUBLE) /
         |       CAST(t_train + t_val + t_test AS DOUBLE)) /
         |  (CAST(n_train + n_val + n_test AS DOUBLE) *
         |     CAST(t_val AS DOUBLE) /
         |     CAST(t_train + t_val + t_test AS DOUBLE)) +
         |  (CAST(n_test AS DOUBLE) -
         |     CAST(n_train + n_val + n_test AS DOUBLE) *
         |       CAST(t_test AS DOUBLE) /
         |       CAST(t_train + t_val + t_test AS DOUBLE)) *
         |  (CAST(n_test AS DOUBLE) -
         |     CAST(n_train + n_val + n_test AS DOUBLE) *
         |       CAST(t_test AS DOUBLE) /
         |       CAST(t_train + t_val + t_test AS DOUBLE)) /
         |  (CAST(n_train + n_val + n_test AS DOUBLE) *
         |     CAST(t_test AS DOUBLE) /
         |     CAST(t_train + t_val + t_test AS DOUBLE)) AS chi2
         |FROM cell CROSS JOIN tot ORDER BY lang""".stripMargin,
    // the PPJoin truth pairs + both split assignments, scalar rollup
    "data_split_leak_audit" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS L
         |  FROM documents),
         |sh AS (SELECT DISTINCT doc_id,
         |         L[i] || ' ' || L[i+1] || ' ' || L[i+2] AS s
         |       FROM tok,
         |         LATERAL (SELECT unnest(generate_series(1, len(L) - 2)) AS i) g),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pair AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
         |         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2),
         |truth AS (SELECT id1, id2
         |  FROM pair JOIN cnt ca ON ca.doc_id = id1
         |            JOIN cnt cb ON cb.doc_id = id2
         |  WHERE CAST(inter AS DOUBLE) /
         |    CAST(ca.n + cb.n - inter AS DOUBLE) >= 0.8),
         |sd AS (SELECT doc_id,
         |    CASE WHEN ((${XxhSql.expr("CAST(doc_id AS VARCHAR)", "42")}
         |        % 100) + 100) % 100 < 80 THEN 'train'
         |      WHEN ((${XxhSql.expr("CAST(doc_id AS VARCHAR)", "42")}
         |        % 100) + 100) % 100 < 90 THEN 'validation'
         |      ELSE 'test' END AS split,
         |    ((${XxhSql.expr("'KF' || source", "42")} % 5) + 5) % 5 AS fold
         |  FROM documents),
         |j AS (SELECT t.id1, t.id2, a.split AS s1, a.fold AS f1,
         |    b.split AS s2, b.fold AS f2
         |  FROM truth t JOIN sd a ON a.doc_id = t.id1
         |               JOIN sd b ON b.doc_id = t.id2),
         |g AS (SELECT count(*) AS n_dup_pairs,
         |    CAST(sum(CASE WHEN s1 <> s2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_cross_split_hash,
         |    CAST(sum(CASE WHEN f1 <> f2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_cross_fold_group
         |  FROM j)
         |SELECT n_dup_pairs, n_cross_split_hash, n_cross_fold_group,
         |  CAST(n_cross_split_hash AS DOUBLE) / CAST(n_dup_pairs AS DOUBLE)
         |    AS leak_rate_hash,
         |  CAST(n_cross_fold_group AS DOUBLE) / CAST(n_dup_pairs AS DOUBLE)
         |    AS leak_rate_group
         |FROM g""".stripMargin,
    "pipeline_rag_index" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS L
         |  FROM documents),
         |c AS (SELECT doc_id, (st - 1) // 3 AS chunk_id,
         |    array_to_string(L[st:least(st + 5, len(L))], ' ') AS ctext
         |  FROM tok, LATERAL (SELECT
         |    unnest(generate_series(1, len(L), 3)) AS st) g),
         |keep AS (SELECT ctext, substr(md5(ctext), 1, 16) AS ckey,
         |    count(*) AS n_copies FROM c GROUP BY 1, 2),
         |b AS (SELECT ctext, n_copies,
         |    ((${XxhSql.expr("'B0' || ckey", "42")} % 2) + 2) % 2
         |    + (((${XxhSql.expr("'B1' || ckey", "42")} % 2) + 2) % 2) * 2
         |    + (((${XxhSql.expr("'B2' || ckey", "42")} % 2) + 2) % 2) * 4
         |    + (((${XxhSql.expr("'B3' || ckey", "42")} % 2) + 2) % 2) * 8
         |      AS bucket
         |  FROM keep)
         |SELECT bucket, count(*) AS n_chunks,
         |  CAST(sum(n_copies - 1) AS BIGINT) AS n_dups_removed,
         |  CAST(sum(length(ctext)) AS BIGINT) AS sum_chars
         |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin,
    "data_chunk_overlap" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS L
        |  FROM documents),
        |c AS (SELECT doc_id, (st - 1) // 3 AS chunk_id,
        |    L[st:least(st + 5, len(L))] AS cw
        |  FROM tok, LATERAL (SELECT
        |    unnest(generate_series(1, len(L), 3)) AS st) g)
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        |  CAST(len(cw) AS INT) AS n_words,
        |  md5(array_to_string(cw, ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "data_token_budget" ->
      """WITH st AS (SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |r AS (SELECT source, n_tokens,
        |    row_number() OVER (ORDER BY n_tokens ASC, source ASC) AS k,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY n_tokens ASC,
        |      source ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) AS cum_before,
        |    count(*) OVER () AS n_sources,
        |    CAST(sum(n_tokens) OVER () AS BIGINT) AS total
        |  FROM st),
        |t2 AS (SELECT *, (total * 6) // 10 AS target,
        |    n_sources - k + 1 AS remaining FROM r),
        |c AS (SELECT (target - cum_before) // remaining AS cap FROM t2
        |  WHERE cum_before + remaining * n_tokens >= target
        |  ORDER BY k LIMIT 1)
        |SELECT source, n_tokens,
        |  least(n_tokens, cap) AS alloc_tokens, n_tokens > cap AS capped
        |FROM t2, c ORDER BY source""".stripMargin,
    "data_group_kfold" ->
      s"""WITH ps AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS n_chars
         |  FROM documents GROUP BY 1),
         |f AS (SELECT source, n_docs, n_chars,
         |    ((${XxhSql.expr("'KF' || source", "42")} % 5) + 5) % 5 AS fold
         |  FROM ps),
         |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs FROM f),
         |g AS (SELECT fold, count(DISTINCT source) AS n_sources,
         |    CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |  FROM f GROUP BY 1)
         |SELECT fold, n_sources, n_docs, sum_chars,
         |  CAST(n_docs AS DOUBLE) / CAST(total_docs AS DOUBLE) AS frac_docs
         |FROM g, t ORDER BY fold""".stripMargin,
    "data_sample_stratified" ->
      s"""WITH h AS (SELECT lang,
         |    ((${XxhSql.expr("'S' || CAST(doc_id AS VARCHAR)", "42")} % 1000)
         |      + 1000) % 1000 AS hb
         |  FROM documents)
         |SELECT lang, count(*) AS n_total,
         |  count(*) FILTER (WHERE hb < CASE WHEN lang = 'en' THEN 500
         |                              ELSE 250 END) AS n_sampled
         |FROM h GROUP BY lang ORDER BY lang""".stripMargin,
    "data_decontaminate" ->
      s"""WITH $gramCtes
         |SELECT doc_id, CAST(count(g.g) AS BIGINT) AS n_shared
         |FROM g JOIN bench USING (g)
         |WHERE doc_id >= 20
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "data_decontaminate_clean" ->
      s"""WITH $gramCtes,
         |contam AS (SELECT DISTINCT doc_id FROM g JOIN bench USING (g)
         |  WHERE doc_id >= 20)
         |SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id >= 20
         |  AND doc_id NOT IN (SELECT doc_id FROM contam)
         |ORDER BY doc_id""".stripMargin,
    "data_mixture_weights" ->
      """WITH t AS (SELECT source, count(*) AS n_docs,
        |    sum(len(string_split(text, ' '))) AS src_tokens
        |  FROM documents GROUP BY source),
        |g AS (SELECT *, sum(src_tokens) OVER () AS total_tokens,
        |    count(*) OVER () AS n_sources
        |  FROM t)
        |SELECT source, n_docs, CAST(src_tokens AS BIGINT) AS src_tokens,
        |  CAST(total_tokens AS DOUBLE) / CAST(n_sources AS DOUBLE)
        |    / CAST(src_tokens AS DOUBLE) AS weight
        |FROM g ORDER BY source""".stripMargin,
    "data_mixture_temperature" ->
      """WITH st AS (SELECT source,
        |    sum(len(string_split(text, ' '))) AS src_tokens
        |  FROM documents GROUP BY 1),
        |sq AS (SELECT source, CAST(src_tokens AS BIGINT) AS src_tokens,
        |    CAST(sqrt(CAST(src_tokens AS DOUBLE)) AS DECIMAL(28,6)) AS sq
        |  FROM st),
        |g AS (SELECT *, sum(sq) OVER () AS sq_total FROM sq)
        |SELECT source, src_tokens,
        |  CAST(sq AS DOUBLE) / CAST(sq_total AS DOUBLE) AS weight,
        |  1000000.0 * (CAST(sq AS DOUBLE) / CAST(sq_total AS DOUBLE)) /
        |    CAST(src_tokens AS DOUBLE) AS epochs_1m
        |FROM g ORDER BY source""".stripMargin,
    "data_vocab_topk" ->
      """WITH tok AS (SELECT lang, string_split(text, ' ') AS L
        |  FROM documents),
        |bg AS (SELECT lang, L[i] || ' ' || L[i+1] AS bigram
        |  FROM tok,
        |    LATERAL (SELECT unnest(generate_series(1, len(L) - 1)) AS i) s),
        |c AS (SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2),
        |r AS (SELECT lang, bigram, n,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n DESC, bigram ASC) AS rk
        |  FROM c)
        |SELECT lang, bigram, n, CAST(rk AS INT) AS rk
        |FROM r WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,
    "data_pack_sequences" ->
      """WITH b AS (SELECT doc_id, ((doc_id % 8) + 8) % 8 AS shard,
        |    len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |c AS (SELECT shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM b)
        |SELECT shard, CAST((cum - 1) // 2048 AS BIGINT) AS pack_id,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
        |FROM c GROUP BY 1, 2 ORDER BY shard, pack_id""".stripMargin,
    "data_upsample_epochs" ->
      """WITH mass AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS m
        |  FROM documents GROUP BY 1),
        |mx AS (SELECT CAST(max(m) AS BIGINT) AS maxm FROM mass),
        |fac AS (SELECT lang, least(4, (maxm + m - 1) // m) AS k
        |        FROM mass CROSS JOIN mx)
        |SELECT d.doc_id, d.lang, CAST(e.epoch AS INT) AS epoch,
        |  CAST(f.k AS INT) AS n_epochs
        |FROM documents d JOIN fac f USING (lang),
        |  LATERAL (SELECT unnest(generate_series(1, f.k)) AS epoch) e
        |ORDER BY doc_id, epoch""".stripMargin,
    "data_shuffle_deterministic" ->
      s"""SELECT doc_id,
         |  ${XxhSql.expr("'R' || CAST(doc_id AS VARCHAR)", "42")}
         |    AS shuffle_key
         |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin,
    // The bloom is an engine-side optimization only — the oracle is the
    // plain NOT EXISTS (the bloom provably cannot change the result set).
    "data_bloom_dedup" ->
      """SELECT n.doc_id, md5(n.text) AS text_md5
        |FROM documents n
        |WHERE n.doc_id % 10 >= 5
        |  AND NOT EXISTS (SELECT 1 FROM documents o
        |                  WHERE o.doc_id % 10 < 8
        |                    AND md5(o.text) = md5(n.text))
        |ORDER BY n.doc_id""".stripMargin,
    "data_cap_per_source" ->
      """SELECT source, doc_id, n_chars, CAST(rn AS INT) AS rn FROM (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents) t
        |WHERE rn <= 10 ORDER BY source, rn""".stripMargin,
    // chunking: DuckDB 1-based inclusive list slices L[a:b] == Spark's
    // slice(t, a, 64) clipped at the document end
    "data_chunk_documents" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS L,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents WHERE doc_id < 100),
        |c AS (SELECT doc_id, L,
        |    unnest(generate_series(0, (n - 1) // 64)) AS ci
        |  FROM t)
        |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
        |  CAST(len(L[ci*64 + 1 : ci*64 + 64]) AS INT) AS chunk_tokens,
        |  md5(array_to_string(L[ci*64 + 1 : ci*64 + 64], ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "data_interleave_sources" ->
      s"""WITH r AS (SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source ORDER BY
         |      ${XxhSql.expr("'I' || CAST(doc_id AS VARCHAR)", "42")} ASC,
         |      doc_id ASC) AS rank_in_source
         |  FROM documents)
         |SELECT doc_id, source, CAST(rank_in_source AS INT)
         |    AS rank_in_source
         |FROM r ORDER BY rank_in_source, source, doc_id
         |LIMIT 200""".stripMargin,
    // the Morton interleave replicated as 40 shift/mask terms
    "data_zorder_cluster" ->
      s"""SELECT l_partkey, l_suppkey, ${zorderSql("l_partkey", "l_suppkey")}
         |    AS z
         |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) p
         |ORDER BY z LIMIT 100""".stripMargin,
    // the same two layouts, 64-row blocks, and the row-group pruning test
    "data_zorder_skipping" -> {
      def layout(name: String, ord: String): String =
        s"""(SELECT '$name' AS layout, count(*) AS n_blocks,
           |  count(CASE WHEN mx < 40 OR mn > 49 THEN 1 END) AS n_skipped
           |FROM (SELECT (rn - 1) // 64 AS blk, min(l_suppkey) AS mn,
           |    max(l_suppkey) AS mx
           |  FROM (SELECT *, row_number() OVER (ORDER BY $ord) AS rn
           |        FROM zp) GROUP BY 1))""".stripMargin
      s"""WITH p AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         |zp AS (SELECT l_partkey, l_suppkey,
         |    ${zorderSql("l_partkey", "l_suppkey")} AS z FROM p)
         |SELECT layout, n_blocks, n_skipped,
         |  CAST(n_skipped AS DOUBLE) / CAST(n_blocks AS DOUBLE)
         |    AS skip_frac
         |FROM (${layout("linear_partkey", "l_partkey, l_suppkey")}
         |  UNION ALL
         |  ${layout("zorder", "z, l_partkey, l_suppkey")})
         |ORDER BY layout""".stripMargin
    },
    // the five pipeline stages as CTEs, sharing the gram CTEs with the
    // decontamination oracles and the scrub regexes with text_pii_scrub
    "pipeline_pretrain" ->
      s"""WITH $gramCtes,
         |cont AS (SELECT DISTINCT doc_id FROM g JOIN bench USING (g)
         |         WHERE doc_id >= 20),
         |t2 AS (SELECT doc_id, text, string_split(text, ' ') AS L
         |  FROM documents WHERE lang = 'en' AND doc_id >= 20),
         |gate AS (SELECT doc_id, text, len(L) AS n_tokens FROM t2
         |  WHERE len(L) >= 50
         |    AND CAST(len(list_filter(L,
         |      x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
         |      / CAST(len(L) AS DOUBLE) <= 0.35),
         |scrub AS (SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
         |    md5(regexp_replace(regexp_replace(text,
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
         |      '<EMAIL>', 'g'),
         |      '\\b(customer|supplier|account)\\b', '<REDACTED>', 'g'))
         |      AS clean_hash
         |  FROM gate),
         |reps AS (SELECT min(doc_id) AS doc_id FROM scrub
         |         GROUP BY clean_hash)
         |SELECT doc_id, n_tokens, clean_hash
         |FROM scrub
         |WHERE doc_id IN (SELECT doc_id FROM reps)
         |  AND doc_id NOT IN (SELECT doc_id FROM cont)
         |ORDER BY doc_id""".stripMargin,
    // the merged corpus is every doc, with the update-set rows carrying the
    // re-processed hash — the engine's union/anti-join must reduce to this
    "data_upsert_snapshot" ->
      s"""SELECT doc_id,
         |  md5(CASE WHEN ${updSetSql} THEN upper(text) ELSE text END)
         |    AS text_md5,
         |  CASE WHEN ${updSetSql} THEN 'update' ELSE 'base' END AS src
         |FROM documents ORDER BY doc_id""".stripMargin,
    // the same lead() interval build; DATE columns compare exactly
    "data_scd2" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS valid_from,
        |  CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC) AS DATE) AS valid_to,
        |  o_orderstatus AS status,
        |  lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC) IS NULL AS is_current
        |FROM orders
        |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin,
    // the parquet source IS the roundtrip ground truth: digest equality
    // proves the CSV quote/escape cycle was lossless
    "data_csv_roundtrip" ->
      """SELECT doc_id, lang, n_chars,
        |  md5('a,"b" ' || text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,
    "data_json_roundtrip" ->
      """SELECT doc_id, lang, n_chars, md5(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,
    "data_orc_roundtrip" ->
      """SELECT doc_id, lang, n_chars, md5(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,
    "data_fd_check" ->
      """WITH c1 AS (SELECT o_orderkey AS l,
        |    count(DISTINCT o_custkey) AS nd FROM orders GROUP BY 1),
        |c2 AS (SELECT o_custkey AS l,
        |    count(DISTINCT o_orderpriority) AS nd FROM orders GROUP BY 1),
        |c3 AS (SELECT l_orderkey AS l,
        |    count(DISTINCT l_returnflag) AS nd FROM lineitem GROUP BY 1),
        |c4 AS (SELECT c_nationkey AS l,
        |    count(DISTINCT c_mktsegment) AS nd FROM customer GROUP BY 1),
        |u AS (
        |  SELECT 'o_orderkey->o_custkey' AS fd, count(*) AS n_lhs,
        |    count(CASE WHEN nd > 1 THEN 1 END) AS n_violating,
        |    max(nd) AS max_rhs FROM c1
        |  UNION ALL
        |  SELECT 'o_custkey->o_orderpriority', count(*),
        |    count(CASE WHEN nd > 1 THEN 1 END), max(nd) FROM c2
        |  UNION ALL
        |  SELECT 'l_orderkey->l_returnflag', count(*),
        |    count(CASE WHEN nd > 1 THEN 1 END), max(nd) FROM c3
        |  UNION ALL
        |  SELECT 'c_nationkey->c_mktsegment', count(*),
        |    count(CASE WHEN nd > 1 THEN 1 END), max(nd) FROM c4)
        |SELECT fd, n_lhs, n_violating, max_rhs,
        |  n_violating = 0 AS holds
        |FROM u ORDER BY fd""".stripMargin,
    "data_table_checksum" -> {
      def sig(table: String, name: String, canonical: String) = {
        val h = XxhSql.expr(canonical, "42")
        s"""SELECT '$name' AS table_name, count(*) AS n_rows,
           |    bit_xor(($h)::BIGINT) AS xor_sig,
           |    CAST(CAST(sum(((($h) % 1000000000000) + 1000000000000)
           |      % 1000000000000) AS DECIMAL(38,0)) AS VARCHAR) AS sum_sig
           |  FROM $table""".stripMargin
      }
      sig("documents", "documents",
        "CAST(doc_id AS VARCHAR) || '|' || lang || '|' " +
          "|| CAST(n_chars AS VARCHAR)") +
        "\nUNION ALL\n" +
        sig("orders", "orders",
          "CAST(o_orderkey AS VARCHAR) || '|' " +
            "|| CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus") +
        "\nUNION ALL\n" +
        sig("customer", "customer",
          "CAST(c_custkey AS VARCHAR) || '|' " +
            "|| CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment") +
        "\nORDER BY table_name"
    },
    // the source table IS the roundtrip ground truth
    "data_sink_partitioned" ->
      """SELECT lang, count(*) AS n_docs, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id, CAST(sum(n_chars) AS BIGINT)
        |    AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // write->read->join roundtrip vs straight SQL over the sources; the
    // bucket layout must not change a single value
    "data_sink_bucketed" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(embedding[1]) AS min_e1, max(embedding[1]) AS max_e1
        |FROM documents JOIN embeddings ON vec_id = doc_id
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "data_sample_systematic" ->
      """WITH c AS (SELECT lang, doc_id, n_chars,
        |    sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id) AS cum,
        |    sum(n_chars) OVER (PARTITION BY lang) AS total
        |  FROM documents),
        |s AS (SELECT lang, doc_id, n_chars, cum, total // 20 AS stride
        |  FROM c)
        |SELECT lang, doc_id, n_chars, CAST(cum // stride AS BIGINT) AS pick
        |FROM s
        |WHERE stride > 0 AND cum // stride > (cum - n_chars) // stride
        |ORDER BY lang, doc_id""".stripMargin,
    "data_snapshot_diff" ->
      s"""WITH o AS (SELECT doc_id, md5(text) AS old_md5 FROM documents
         |           WHERE doc_id % 17 <> 5),
         |n AS (SELECT doc_id,
         |    md5(CASE WHEN ${updSetSql} THEN upper(text) ELSE text END)
         |      AS new_md5
         |  FROM documents WHERE doc_id % 17 <> 3),
         |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         |    CASE WHEN o.doc_id IS NULL THEN 'added'
         |         WHEN n.doc_id IS NULL THEN 'removed'
         |         WHEN old_md5 <> new_md5 THEN 'changed'
         |         ELSE 'same' END AS status,
         |    old_md5, new_md5
         |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         |SELECT doc_id, status, old_md5, new_md5 FROM j
         |WHERE status <> 'same' ORDER BY doc_id""".stripMargin,
    // CAST(0.05 AS DOUBLE) pins the rank arithmetic to the engine's IEEE
    // double path (a bare 0.05 literal is DECIMAL(3,2) in DuckDB, and a
    // decimal-exact product could floor differently at the boundary).
    "data_winsorize" ->
      s"""WITH v AS (SELECT l_returnflag AS grp, l_extendedprice AS v
         |  FROM lineitem),
         |r AS (SELECT grp, v,
         |    row_number() OVER (PARTITION BY grp ORDER BY v ASC) AS rn,
         |    count(*) OVER (PARTITION BY grp) AS n FROM v),
         |thr AS (SELECT grp,
         |    max(CASE WHEN rn = CAST(floor(CAST(0.05 AS DOUBLE) * (n - 1))
         |      AS BIGINT) + 1 THEN v END) AS lo,
         |    max(CASE WHEN rn = CAST(floor(CAST(0.95 AS DOUBLE) * (n - 1))
         |      AS BIGINT) + 1 THEN v END) AS hi
         |  FROM r GROUP BY grp),
         |c AS (SELECT v.grp AS grp, greatest(least(v, hi), lo) AS cv,
         |    CASE WHEN v < lo THEN 1 ELSE 0 END AS lowf,
         |    CASE WHEN v > hi THEN 1 ELSE 0 END AS highf, lo, hi
         |  FROM v JOIN thr ON v.grp = thr.grp)
         |SELECT grp, count(*) AS n, max(lo) AS lo, max(hi) AS hi,
         |  CAST(sum(lowf) AS BIGINT) AS n_low,
         |  CAST(sum(highf) AS BIGINT) AS n_high,
         |  ${Oracle.sqlSum("cv")} AS sum_winsorized
         |FROM c GROUP BY grp ORDER BY grp""".stripMargin,
    // Same inventory simulation and the same prefix-sum binning; DuckDB's
    // `//` is floor division, equal to Spark's `div` on these non-negative
    // running sums.
    "data_compaction_plan" ->
      """WITH inv AS (SELECT lang, doc_id % 50 AS file_id,
        |    CAST(sum(octet_length(encode(COALESCE(text, '')))) AS BIGINT)
        |      AS bytes
        |  FROM documents GROUP BY 1, 2),
        |c AS (SELECT lang, file_id, bytes,
        |    CAST(sum(bytes) OVER (PARTITION BY lang ORDER BY file_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM inv)
        |SELECT lang, (cum - bytes) // 16384 AS bin, count(*) AS n_files,
        |  CAST(sum(bytes) AS BIGINT) AS group_bytes,
        |  min(file_id) AS first_file, max(file_id) AS last_file
        |FROM c GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin,
    // same quantized histogram, ROWS prefix sum, and cum*8 >= i*N boundary
    // rule; floor(x/100) on DOUBLE is the same IEEE op in both engines
    "data_range_partition_plan" ->
      """WITH q AS (SELECT CAST(floor(l_extendedprice / 100) AS BIGINT)
        |    AS vq FROM lineitem),
        |h AS (SELECT vq, count(*) AS n FROM q GROUP BY 1),
        |c AS (SELECT vq, CAST(sum(n) OVER (ORDER BY vq ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum FROM h),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM h)
        |SELECT bucket, min(vq) AS boundary
        |FROM c, t, (SELECT unnest(generate_series(1, 8)) AS bucket) b
        |WHERE cum * 8 >= bucket * nt
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "data_quality_checks" ->
      """SELECT * FROM (
        |  SELECT 'lineitem_fk_orders' AS check_name,
        |    count(*) AS n_checked,
        |    count(CASE WHEN o.o_orderkey IS NULL THEN 1 END)
        |      AS n_violations
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey
        |    FROM orders) o ON l.l_orderkey = o.o_orderkey
        |  UNION ALL
        |  SELECT 'lineitem_price_positive', count(*),
        |    count(CASE WHEN l_extendedprice <= 0.0 THEN 1 END)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem_qty_range', count(*),
        |    count(CASE WHEN NOT (l_quantity BETWEEN 1.0 AND 50.0) THEN 1
        |      END)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'orders_custkey_not_null', count(*),
        |    count(CASE WHEN o_custkey IS NULL THEN 1 END)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders_fk_customer', count(*),
        |    count(CASE WHEN c.c_custkey IS NULL THEN 1 END)
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |  UNION ALL
        |  SELECT 'orders_orderkey_unique', count(*),
        |    count(*) - count(DISTINCT o_orderkey)
        |  FROM orders)
        |ORDER BY check_name""".stripMargin,
    "data_union_evolved" ->
      """WITH u AS (
        |  SELECT doc_id, lang, n_chars, CAST(NULL AS BOOLEAN) AS is_long
        |  FROM documents WHERE doc_id < 250
        |  UNION ALL
        |  SELECT doc_id, CAST(NULL AS VARCHAR), n_chars, n_chars >= 1000
        |  FROM documents WHERE doc_id >= 250)
        |SELECT CASE WHEN doc_id < 250 THEN 'v1' ELSE 'v2' END AS schema_v,
        |  count(*) AS n, count(lang) AS n_lang,
        |  count(is_long) AS n_is_long,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM u GROUP BY 1 ORDER BY schema_v""".stripMargin,
    // the full recompute — equality proves the delta decomposition
    "data_incremental_join" ->
      s"""SELECT o_orderstatus, count(*) AS n_rows,
         |  ${Oracle.sqlSum("l_quantity")} AS sum_qty
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    "data_zonemap_prune" ->
      """SELECT doc_id // 50 AS file_id,
        |  min(n_chars) AS zmin, max(n_chars) AS zmax,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_chars BETWEEN 900 AND 1100 THEN 1 ELSE 0
        |    END) AS BIGINT) AS n_matching,
        |  NOT (max(n_chars) >= 900 AND min(n_chars) <= 1100) AS pruned
        |FROM documents GROUP BY 1 ORDER BY file_id""".stripMargin,
    "data_weighted_sample" ->
      s"""WITH w AS (SELECT doc_id, lang, n_chars,
         |    ln(CAST(${XxhSql.expr("'W' || CAST(doc_id AS VARCHAR)", "42")}
         |         AS DOUBLE) / 18446744073709551616.0 + 0.5)
         |      / CAST(n_chars AS DOUBLE) AS es_key
         |  FROM documents)
         |SELECT doc_id, lang, n_chars FROM (
         |  SELECT * FROM w ORDER BY es_key DESC, doc_id ASC LIMIT 100)
         |ORDER BY doc_id""".stripMargin,
    // same per-block run counting; IS DISTINCT FROM covers the
    // block-leading NULL lag exactly like the isNull branch
    "data_encoding_advisor" ->
      """WITH src AS (
        |  SELECT event_id, event_id // 4096 AS block,
        |    'event_type' AS col_name, event_type AS v FROM events
        |  UNION ALL
        |  SELECT event_id, event_id // 4096, 'user_id',
        |    CAST(user_id AS VARCHAR) FROM events
        |  UNION ALL
        |  SELECT event_id, event_id // 4096, 'value',
        |    CAST(value AS VARCHAR) FROM events),
        |r AS (SELECT col_name, v,
        |    CASE WHEN lag(v) OVER (PARTITION BY col_name, block
        |        ORDER BY event_id) IS DISTINCT FROM v
        |      THEN 1 ELSE 0 END AS rs
        |  FROM src),
        |g AS (SELECT col_name, count(*) AS n, count(DISTINCT v) AS ndv,
        |    CAST(sum(rs) AS BIGINT) AS n_runs
        |  FROM r GROUP BY 1)
        |SELECT col_name, n, ndv, n_runs,
        |  CAST(n AS DOUBLE) / CAST(n_runs AS DOUBLE) AS avg_run_len,
        |  CASE WHEN ndv * 20 <= n THEN 'dictionary'
        |       WHEN n_runs * 2 <= n THEN 'rle'
        |       ELSE 'plain' END AS advice
        |FROM g ORDER BY col_name""".stripMargin,
    "data_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
        |  count(*) AS n, count(*) < 5 AS at_risk
        |FROM customer GROUP BY 1, 2, 3
        |ORDER BY c_nationkey, c_mktsegment, bal_band""".stripMargin,
    "data_source_overlap" ->
      """WITH tok AS (SELECT source, string_split(text, ' ') AS L
        |  FROM documents),
        |g AS (SELECT DISTINCT source,
        |    L[i] || ' ' || L[i+1] || ' ' || L[i+2] AS g
        |  FROM tok,
        |    LATERAL (SELECT unnest(generate_series(1, len(L) - 2)) AS i) s),
        |sz AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
        |p AS (SELECT a.source AS src_a, b.source AS src_b,
        |    count(*) AS n_shared
        |  FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_shared, za.n AS n_a, zb.n AS n_b,
        |  CAST(n_shared AS DOUBLE) / (za.n + zb.n - n_shared) AS jaccard
        |FROM p JOIN sz za ON za.source = src_a
        |       JOIN sz zb ON zb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin,
    "data_l_diversity" ->
      """SELECT c_nationkey,
        |  CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
        |  count(*) AS n, count(DISTINCT c_mktsegment) AS l_div,
        |  count(DISTINCT c_mktsegment) < 3 AS at_risk
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_nationkey, bal_band""".stripMargin,
    "data_t_closeness" ->
      """WITH cells AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS band,
        |    count(*) AS n_gb
        |  FROM customer GROUP BY 1, 2, 3),
        |grp AS (SELECT c_nationkey, c_mktsegment, sum(n_gb) AS n_g
        |  FROM cells GROUP BY 1, 2),
        |bnd AS (SELECT band, sum(n_gb) AS n_b FROM cells GROUP BY 1),
        |tot AS (SELECT sum(n_b) AS nn, count(*) AS n_bands FROM bnd),
        |grid AS (SELECT g.c_nationkey, g.c_mktsegment, g.n_g,
        |    b.band, b.n_b, COALESCE(c.n_gb, 0) AS n_gb
        |  FROM grp g CROSS JOIN bnd b
        |  LEFT JOIN cells c ON c.c_nationkey = g.c_nationkey
        |    AND c.c_mktsegment = g.c_mktsegment AND c.band = b.band),
        |cum AS (SELECT c_nationkey, c_mktsegment, n_g, nn, n_bands,
        |    sum(CAST(n_gb AS DECIMAL(19,0)) * CAST(nn AS DECIMAL(19,0)) -
        |        CAST(n_b AS DECIMAL(19,0)) * CAST(n_g AS DECIMAL(19,0)))
        |      OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY band
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd
        |  FROM grid CROSS JOIN tot),
        |emd AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(n_g AS BIGINT) AS n,
        |    CAST(sum(abs(cd)) AS DOUBLE) /
        |      (CAST(n_g AS DOUBLE) * CAST(max(nn) AS DOUBLE) *
        |        CAST(max(n_bands) - 1 AS DOUBLE)) AS t_emd
        |  FROM cum GROUP BY c_nationkey, c_mktsegment, n_g)
        |SELECT c_nationkey, c_mktsegment, n, t_emd, t_emd > 0.25 AS at_risk
        |FROM emd ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "data_anonymize_ladder" ->
      """WITH n0 AS (SELECT lang, source, count(*) AS n_docs
        |  FROM documents GROUP BY 1, 2),
        |keep0 AS (SELECT lang AS lang_gen, source AS source_gen,
        |    0 AS level, n_docs FROM n0 WHERE n_docs >= 10),
        |resid1 AS (SELECT lang, sum(n_docs) AS n_docs FROM n0
        |  WHERE n_docs < 10 GROUP BY 1),
        |keep1 AS (SELECT lang AS lang_gen, '*' AS source_gen,
        |    1 AS level, n_docs FROM resid1 WHERE n_docs >= 10),
        |supp AS (SELECT '*' AS lang_gen, '*' AS source_gen, 2 AS level,
        |    n_docs FROM (SELECT sum(n_docs) AS n_docs FROM resid1
        |      WHERE n_docs < 10) WHERE n_docs IS NOT NULL)
        |SELECT lang_gen, source_gen, CAST(level AS INT) AS level,
        |  CAST(n_docs AS BIGINT) AS n_docs
        |FROM (SELECT * FROM keep0 UNION ALL SELECT * FROM keep1
        |      UNION ALL SELECT * FROM supp)
        |ORDER BY level, lang_gen, source_gen""".stripMargin,
    "data_contamination_score" ->
      s"""WITH $gramCtes,
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM g
         |  WHERE doc_id >= 20 GROUP BY 1),
         |sh AS (SELECT g.doc_id, count(*) AS n_shared
         |  FROM g JOIN bench USING (g) WHERE g.doc_id >= 20 GROUP BY 1)
         |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         |  CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
         |  CAST(COALESCE(n_shared, 0) AS DOUBLE) / n_grams
         |    AS contamination
         |FROM tot LEFT JOIN sh USING (doc_id) ORDER BY doc_id""".stripMargin,
    "data_delete_propagation" ->
      """SELECT * FROM (
        |  SELECT 'customer' AS table_name,
        |    count(CASE WHEN c_custkey % 97 = 0 THEN 1 END) AS n_purged,
        |    count(*) - count(CASE WHEN c_custkey % 97 = 0 THEN 1 END)
        |      AS n_retained
        |  FROM customer
        |  UNION ALL
        |  SELECT 'lineitem',
        |    count(CASE WHEN o.o_custkey % 97 = 0 THEN 1 END),
        |    count(*) - count(CASE WHEN o.o_custkey % 97 = 0 THEN 1 END)
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  UNION ALL
        |  SELECT 'orders',
        |    count(CASE WHEN o_custkey % 97 = 0 THEN 1 END),
        |    count(*) - count(CASE WHEN o_custkey % 97 = 0 THEN 1 END)
        |  FROM orders)
        |ORDER BY table_name""".stripMargin,
    "data_skew_report" ->
      s"""WITH k AS (SELECT l_partkey AS k, count(*) AS n
         |  FROM lineitem GROUP BY 1),
         |b AS (SELECT n,
         |    ((${XxhSql.expr("CAST(k AS VARCHAR)", "42")} % 32) + 32) % 32
         |      AS bucket
         |  FROM k)
         |SELECT bucket, CAST(sum(n) AS BIGINT) AS n_rows,
         |  count(*) AS n_keys, max(n) AS max_key_rows
         |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin,
    "data_column_profile" ->
      """WITH src AS (
        |  SELECT 'o_custkey' AS col_name, CAST(o_custkey AS VARCHAR) AS v
        |    FROM orders
        |  UNION ALL SELECT 'o_orderkey', CAST(o_orderkey AS VARCHAR)
        |    FROM orders
        |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
        |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders),
        |stats AS (SELECT col_name, count(*) AS n,
        |    count(CASE WHEN v IS NULL THEN 1 END) AS n_null,
        |    count(DISTINCT v) AS ndv, min(v) AS min_v, max(v) AS max_v
        |  FROM src GROUP BY 1),
        |cnts AS (SELECT col_name, v, count(*) AS cnt FROM src
        |  WHERE v IS NOT NULL GROUP BY 1, 2),
        |md AS (SELECT col_name, v AS top_v, cnt AS top_n FROM (
        |  SELECT col_name, v, cnt, row_number() OVER (
        |      PARTITION BY col_name ORDER BY cnt DESC, v ASC) AS rk
        |  FROM cnts) WHERE rk = 1)
        |SELECT s.col_name, n, n_null, ndv, min_v, max_v, top_v, top_n
        |FROM stats s JOIN md USING (col_name) ORDER BY col_name"""
        .stripMargin,
    "data_inclusion_check" ->
      """WITH
        |c1 AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
        |n1 AS (SELECT count(*) AS n FROM c1),
        |u1 AS (SELECT count(*) AS u FROM c1
        |  WHERE k NOT IN (SELECT o_orderkey FROM orders)),
        |c2 AS (SELECT DISTINCT o_custkey AS k FROM orders),
        |n2 AS (SELECT count(*) AS n FROM c2),
        |u2 AS (SELECT count(*) AS u FROM c2
        |  WHERE k NOT IN (SELECT c_custkey FROM customer)),
        |c3 AS (SELECT DISTINCT c_custkey AS k FROM customer),
        |n3 AS (SELECT count(*) AS n FROM c3),
        |u3 AS (SELECT count(*) AS u FROM c3
        |  WHERE k NOT IN (SELECT user_id FROM events))
        |SELECT * FROM (
        |  SELECT 'lineitem.l_orderkey' AS child, 'orders.o_orderkey'
        |      AS parent, n AS n_child_distinct, u AS n_unmatched,
        |    u = 0 AS included,
        |    CAST(n - u AS DOUBLE) / CAST(n AS DOUBLE) AS coverage
        |  FROM n1, u1
        |  UNION ALL
        |  SELECT 'orders.o_custkey', 'customer.c_custkey', n, u, u = 0,
        |    CAST(n - u AS DOUBLE) / CAST(n AS DOUBLE) FROM n2, u2
        |  UNION ALL
        |  SELECT 'customer.c_custkey', 'events.user_id', n, u, u = 0,
        |    CAST(n - u AS DOUBLE) / CAST(n AS DOUBLE) FROM n3, u3)
        |ORDER BY child""".stripMargin,
    "data_pseudonymize" ->
      s"""SELECT ${XxhSql.expr("'P' || CAST(user_id AS VARCHAR)", "42")}
         |    AS pseudonym,
         |  count(*) AS n_events,
         |  count(CASE WHEN event_type = 'purchase' THEN 1 END)
         |    AS n_purchases,
         |  ${Oracle.sqlSum("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY pseudonym""".stripMargin,
    // the same derived changelog; arg_max replicates the struct-max
    // last-writer pick (LSNs unique per key, so no tie to break)
    "data_cdc_apply" ->
      """WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
        |log AS (
        |  SELECT k, 0 AS lsn, 'I' AS op, p FROM o WHERE k % 4 <> 0
        |  UNION ALL SELECT k, k*10+1, 'I', p FROM o WHERE k % 4 = 0
        |  UNION ALL SELECT k, k*10+2, 'U', p + 100.0 FROM o WHERE k % 10 = 1
        |  UNION ALL SELECT k, k*10+5, 'U', p + 200.0 FROM o WHERE k % 10 = 1
        |  UNION ALL SELECT k, k*10+3, 'U', p + 50.0 FROM o WHERE k % 10 = 2
        |  UNION ALL SELECT k, k*10+7, 'D', NULL FROM o WHERE k % 10 = 3
        |  UNION ALL SELECT k, k*10+2, 'D', NULL FROM o WHERE k % 10 = 4
        |  UNION ALL SELECT k, k*10+6, 'I', p + 1000.0 FROM o WHERE k % 10 = 4),
        |last AS (SELECT k, arg_max(op, lsn) AS op, arg_max(p, lsn) AS p,
        |    max(lsn) AS last_lsn, count(*) AS n_ops
        |  FROM log GROUP BY k)
        |SELECT k AS o_orderkey, p AS price,
        |  CAST(last_lsn AS BIGINT) AS last_lsn, n_ops
        |FROM last WHERE op <> 'D' ORDER BY o_orderkey""".stripMargin,
    "data_dataset_card" ->
      """WITH b AS (SELECT lang, source, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    md5(text) AS digest
        |  FROM documents),
        |g AS (SELECT count(*) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |    count(DISTINCT lang) AS n_langs,
        |    count(DISTINCT source) AS n_sources,
        |    count(DISTINCT digest) AS n_distinct_texts,
        |    quantile_cont(n_tokens, 0.5) AS p50_tokens
        |  FROM b)
        |SELECT n_docs, n_tokens, n_chars, n_langs, n_sources,
        |  n_distinct_texts, p50_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_tokens,
        |  CAST(n_docs - n_distinct_texts AS DOUBLE) /
        |    CAST(n_docs AS DOUBLE) AS dup_frac
        |FROM g""".stripMargin,
    "data_shuffle_blocks" ->
      s"""SELECT doc_id, doc_id // 64 AS block,
         |  ${XxhSql.expr("'B' || CAST(doc_id // 64 AS VARCHAR)", "42")}
         |    AS block_key
         |FROM documents ORDER BY block_key, doc_id""".stripMargin,
    "data_skew_salt_plan" ->
      """WITH k AS (SELECT l_partkey AS k, count(*) AS n
        |  FROM lineitem GROUP BY 1)
        |SELECT k, n, (n + 39) // 40 AS salt_factor,
        |  (n + (n + 39) // 40 - 1) // ((n + 39) // 40) AS max_per_salt
        |FROM k WHERE n > 40 ORDER BY n DESC, k ASC""".stripMargin,
    // stage CTEs composed verbatim from the member operators' oracles:
    // quality gate, exact-Jaccard dups, 8-gram decontamination, hash
    // split, checksum contract
    "pipeline_release" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS L
         |  FROM documents),
         |q AS (SELECT doc_id, len(L) AS n_tokens,
         |    CAST(len(list_filter(L,
         |      x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
         |      / CAST(len(L) AS DOUBLE) AS stop_ratio
         |  FROM tok),
         |sh AS (SELECT DISTINCT doc_id,
         |         L[i] || ' ' || L[i+1] || ' ' || L[i+2] AS s
         |       FROM tok,
         |         LATERAL (SELECT unnest(generate_series(1, len(L)-2)) AS i) g),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pair AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
         |         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2),
         |dups AS (SELECT DISTINCT id2 AS doc_id
         |  FROM pair JOIN cnt ca ON ca.doc_id = id1
         |            JOIN cnt cb ON cb.doc_id = id2
         |  WHERE CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE)
         |    >= 0.8),
         |g8 AS (SELECT DISTINCT doc_id,
         |    L[i] || ' ' || L[i+1] || ' ' || L[i+2] || ' ' || L[i+3] || ' ' ||
         |    L[i+4] || ' ' || L[i+5] || ' ' || L[i+6] || ' ' || L[i+7] AS g
         |  FROM tok,
         |    LATERAL (SELECT unnest(generate_series(1, len(L) - 7)) AS i) s),
         |bench AS (SELECT DISTINCT g FROM g8 WHERE doc_id < 20),
         |contam AS (SELECT DISTINCT doc_id FROM g8 JOIN bench USING (g)
         |  WHERE doc_id >= 20),
         |clean AS (SELECT d.doc_id, d.text, q.n_tokens FROM documents d
         |  JOIN q ON q.doc_id = d.doc_id
         |  WHERE q.n_tokens >= 50 AND q.stop_ratio <= 0.35
         |    AND d.doc_id >= 20
         |    AND d.doc_id NOT IN (SELECT doc_id FROM dups)
         |    AND d.doc_id NOT IN (SELECT doc_id FROM contam)),
         |h AS (SELECT n_tokens, text,
         |    ((${XxhSql.expr("CAST(doc_id AS VARCHAR)", "42")} % 100) + 100)
         |      % 100 AS b
         |  FROM clean)
         |SELECT CASE WHEN b < 80 THEN 'train'
         |            WHEN b < 90 THEN 'validation'
         |            ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(CAST(sum(((${XxhSql.expr("substr(md5(text), 1, 31)", "42")}
         |      % 1000000000000)
         |      + 1000000000000) % 1000000000000) AS DECIMAL(38,0))
         |    AS VARCHAR) AS content_sig
         |FROM h GROUP BY 1 ORDER BY split""".stripMargin,
    "data_split_temporal" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day
        |  FROM events),
        |b AS (SELECT min(day) + 24 AS boundary FROM e),
        |s AS (SELECT user_id,
        |    CASE WHEN day < boundary THEN 'train' ELSE 'eval' END AS split
        |  FROM e, b),
        |pu AS (SELECT user_id, count(DISTINCT split) AS n_sides
        |  FROM s GROUP BY 1),
        |sh AS (SELECT count(CASE WHEN n_sides = 2 THEN 1 END)
        |    AS n_shared_users FROM pu)
        |SELECT split, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users, sh.n_shared_users
        |FROM s, sh GROUP BY split, sh.n_shared_users
        |ORDER BY split""".stripMargin,
    "data_retention_ttl" ->
      """WITH d AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    count(*) AS n_rows
        |  FROM events GROUP BY 1),
        |w AS (SELECT day, n_rows, max(day) OVER () AS wm FROM d)
        |SELECT day, n_rows, wm - day AS age_days,
        |  CASE WHEN wm - day > 14 THEN 'drop' ELSE 'retain' END AS action
        |FROM w ORDER BY day""".stripMargin,
    // the same histogram → preceding-mass stage rule → stage rollup;
    // the cumulative windows run over the bounded bucket/stage frames
    "data_curriculum_stages" ->
      """WITH docs AS (SELECT doc_id, n_chars // 16 AS lb,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |hist AS (SELECT lb, count(*) AS n FROM docs GROUP BY lb),
        |tot AS (SELECT sum(n) AS nt FROM hist),
        |st AS (SELECT lb, CAST(least(4,
        |    (sum(n) OVER (ORDER BY lb) - n) * 4 // nt + 1) AS BIGINT)
        |    AS stage
        |  FROM hist, tot),
        |agg AS (SELECT stage, count(*) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS stage_tokens,
        |    CAST(min(lb * 16) AS BIGINT) AS min_len,
        |    CAST(max(lb * 16 + 15) AS BIGINT) AS max_len
        |  FROM docs JOIN st USING (lb) GROUP BY stage)
        |SELECT stage, n_docs, stage_tokens,
        |  CAST(sum(stage_tokens) OVER (ORDER BY stage) AS BIGINT)
        |    AS cum_tokens,
        |  min_len, max_len
        |FROM agg ORDER BY stage""".stripMargin,
    // the identical per-shard(/bucket) row_number batching, both
    // strategies, rolled up with the same exact-integer padding arithmetic
    "data_length_buckets" -> {
      def strat(name: String, parts: String): String =
        s"""SELECT '$name' AS strategy, count(*) AS n_batches,
           |  CAST(sum(real_t) AS BIGINT) AS real_tokens,
           |  CAST(sum(n_docs * max_t) AS BIGINT) AS padded_tokens,
           |  CAST(sum(n_docs * max_t) - sum(real_t) AS DOUBLE) /
           |    CAST(sum(n_docs * max_t) AS DOUBLE) AS waste_share
           |FROM (
           |  SELECT $parts, (rn - 1) // 16 AS batch, count(*) AS n_docs,
           |    sum(n_tokens) AS real_t, max(n_tokens) AS max_t
           |  FROM (SELECT *, row_number() OVER (
           |      PARTITION BY $parts ORDER BY doc_id) AS rn FROM base)
           |  GROUP BY $parts, batch)""".stripMargin
      s"""WITH base AS (SELECT doc_id, doc_id % 8 AS shard,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) // 64 AS bucket
         |  FROM documents)
         |SELECT * FROM (
         |${strat("bucketed", "shard, bucket")}
         |UNION ALL
         |${strat("sequential", "shard")})
         |ORDER BY strategy""".stripMargin
    },
    // the same md5 multiplicity + fixed band arithmetic
    "data_dup_rate_by_length" ->
      """WITH d AS (SELECT doc_id, md5(text) AS h,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |k AS (SELECT h, count(*) AS k FROM d GROUP BY 1),
        |b AS (SELECT least(n_tokens // 16, 7) AS band,
        |    CASE WHEN k.k > 1 THEN 1 END AS dup
        |  FROM d JOIN k USING (h))
        |SELECT band, count(*) AS n_docs, count(dup) AS n_dup_instances,
        |  CAST(count(dup) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS dup_rate
        |FROM b GROUP BY 1 ORDER BY band""".stripMargin,
    // the same pinned inverse-CDF threshold table over the XXH64 replica
    "data_dp_histogram" -> {
      val h = s"((${XxhSql.expr("'DP' || source", "42")} % 1048576)" +
        " + 1048576) % 1048576"
      val noiseCase = DpThresholds
        .map { case (k, t) => s"WHEN h < $t THEN CAST($k AS BIGINT)" }
        .mkString("CASE ", " ", " END")
      s"""WITH c AS (SELECT source, count(*) AS n_true FROM documents
         |  GROUP BY 1),
         |n AS (SELECT source, n_true, $h AS h FROM c)
         |SELECT source, n_true, $noiseCase AS noise,
         |  greatest(n_true + ($noiseCase), 0) AS n_dp
         |FROM n ORDER BY source""".stripMargin
    },
    // the same per-candidate rollups with the cross-multiplied imbalance
    "data_partition_advisor" -> {
      def score(key: String, name: String) =
        s"""SELECT '$name' AS candidate,
           |  count(*) AS n_partitions, CAST(sum(n) AS BIGINT) AS n_rows,
           |  CAST(max(n) AS BIGINT) AS max_rows,
           |  CAST(max(n) * count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
           |    AS imbalance
           |FROM (SELECT $key AS k, count(*) AS n FROM documents
           |  GROUP BY 1)""".stripMargin
      score("lang", "lang") + "\nUNION ALL\n" +
        score("source", "source") + "\nUNION ALL\n" +
        score("lang || '/' || source", "lang/source") +
        "\nORDER BY candidate"
    },
    "data_file_plan" ->
      """WITH p AS (SELECT lang, count(*) AS n_rows,
        |    CAST(sum(n_chars) AS BIGINT) AS bytes
        |  FROM documents GROUP BY 1)
        |SELECT lang, n_rows, bytes,
        |  (bytes + 65535) // 65536 AS n_files,
        |  (n_rows + (bytes + 65535) // 65536 - 1)
        |    // ((bytes + 65535) // 65536) AS rows_per_file,
        |  bytes * 100 // (((bytes + 65535) // 65536) * 65536) AS fill_pct
        |FROM p ORDER BY lang""".stripMargin,
    // the identical integer predicates and bitmask
    "data_quarantine" ->
      """WITH q AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','a','of','and','to','in'))) AS BIGINT)
        |      AS ns
        |  FROM documents)
        |SELECT doc_id, lang, nt < 50 AS too_short,
        |  ns * 100 > nt * 35 AS stop_heavy, lang <> 'en' AS non_en,
        |  CAST((CASE WHEN nt < 50 THEN 1 ELSE 0 END)
        |    + (CASE WHEN ns * 100 > nt * 35 THEN 2 ELSE 0 END)
        |    + (CASE WHEN lang <> 'en' THEN 4 ELSE 0 END) AS BIGINT)
        |    AS reason_mask
        |FROM q
        |WHERE nt < 50 OR ns * 100 > nt * 35 OR lang <> 'en'
        |ORDER BY doc_id""".stripMargin,
    "data_schema_drift" ->
      """WITH e AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day
        |  FROM events),
        |m AS (SELECT min(day) + (max(day) - min(day)) // 2 AS mid_day
        |  FROM e),
        |h AS (SELECT event_type,
        |    CAST(sum(CASE WHEN day < mid_day THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_first,
        |    CAST(sum(CASE WHEN day < mid_day THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_second
        |  FROM e, m GROUP BY 1),
        |t AS (SELECT CAST(sum(n_first) AS BIGINT) AS t_first,
        |    CAST(sum(n_second) AS BIGINT) AS t_second FROM h)
        |SELECT event_type, n_first, n_second,
        |  CAST(n_first AS DOUBLE) / CAST(t_first AS DOUBLE) -
        |    CAST(n_second AS DOUBLE) / CAST(t_second AS DOUBLE)
        |    AS share_delta
        |FROM h, t ORDER BY event_type""".stripMargin,
    "data_unpivot_metrics" ->
      """WITH w AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    count(*) AS n_events,
        |    count(DISTINCT user_id) AS n_users,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END)
        |      AS n_purchases
        |  FROM events GROUP BY 1)
        |SELECT day, metric, value FROM (
        |  SELECT day, 'n_events' AS metric, n_events AS value FROM w
        |  UNION ALL
        |  SELECT day, 'n_users', n_users FROM w
        |  UNION ALL
        |  SELECT day, 'n_purchases', n_purchases FROM w)
        |ORDER BY day, metric""".stripMargin,
    // first/last op via the identical (ts_ms, event_id) total order;
    // the same collapse matrix
    "data_cdc_net_effect" ->
      """WITH ops AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
        |    CASE event_type WHEN 'signup' THEN 'I' WHEN 'click' THEN 'U'
        |      ELSE 'D' END AS op
        |  FROM events
        |  WHERE event_type IN ('signup', 'click', 'error')),
        |w AS (SELECT user_id, op,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts_ms ASC, event_id ASC) AS rf,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts_ms DESC, event_id DESC) AS rl
        |  FROM ops),
        |c AS (SELECT user_id, count(*) AS n_ops FROM ops GROUP BY 1),
        |f AS (SELECT user_id, op AS first_op FROM w WHERE rf = 1),
        |l AS (SELECT user_id, op AS last_op FROM w WHERE rl = 1)
        |SELECT c.user_id, n_ops, first_op, last_op,
        |  CASE WHEN last_op = 'D' THEN
        |    (CASE WHEN first_op = 'I' THEN 'none' ELSE 'delete' END)
        |  ELSE (CASE WHEN first_op = 'I' THEN 'insert' ELSE 'upsert' END)
        |  END AS net
        |FROM c JOIN f ON f.user_id = c.user_id
        |  JOIN l ON l.user_id = c.user_id
        |ORDER BY c.user_id""".stripMargin
  )

  /** Oracle spelling of [[graft.functions.Kernels.zorder2]]: the same 32
    * bit positions per column, OR-combined (DuckDB BIGINT shifts share
    * Scala's two's-complement wraparound, so even bit 63 agrees).
    */
  private def zorderSql(a: String, b: String): String =
    (0 until 32).map(i =>
      s"((($a >> $i) & 1) << ${2 * i}) | ((($b >> $i) & 1) << ${2 * i + 1})")
      .mkString("(", " | ", ")")

  /** Oracle spelling of the hash-selected update set (xxh64 seed 42,
    * positive mod 5 == 0) — must stay token-identical between the two
    * snapshot oracles above and the Spark-side `isUpd` predicate.
    */
  private def updSetSql: String =
    s"((${XxhSql.expr("'U' || CAST(doc_id AS VARCHAR)", "42")} % 5) + 5) % 5 = 0"
}
