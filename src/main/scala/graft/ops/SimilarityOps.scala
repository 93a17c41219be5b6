package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.functions.{quant_cosine, quant_dot}
import graft.ops.Checkpoints._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * The similarity kernel is the codegen'd [[graft.functions.QuantizedCosine]]
  * expression: exact integer arithmetic on 1000x-quantized vectors, so
  * results are bit-identical to the DuckDB oracle while running as one
  * whole-stage-codegen call per pair.
  *
  * Scale design: brute-force top-k broadcasts the (small) query set against
  * the corpus scan — no shuffle until the per-query top-k. The LSH path
  * buckets vectors by random-hyperplane signature: candidate generation
  * becomes an equi-join on the bucket id; at 100 TB the corpus would be
  * written bucketed by signature so probes touch one bucket each. The
  * centroid query is the IVF coarse-quantizer readout.
  */
object SimilarityOps {
  type Q = (SparkSession, String) => DataFrame

  /** Quantized integer embedding (for the integer LSH planes). */
  private def quantize(e: Column): Column =
    graft.functions.functions.quantize1000(e)

  /** Per-table sign-bit signatures of quantized vector `q`: `tables` x
    * `bits` integer hyperplanes (weight(k,i) = ((k*131 + i*31 + 7) mod 61)
    * - 30), computed in ONE codegen'd pass ([[graft.functions.LshBuckets]]
    * — the Column-combinator form re-evaluated `sequence`/`zip_with` per
    * plane per row, 64x the work at 64 planes). Shared by the single-table
    * ANN probe (1 x 8) and the OR-amplified embedding dedup (16 x 4).
    */
  private[graft] def lshBuckets(q: Column, tables: Int, bits: Int): Column =
    graft.functions.functions.lsh_buckets(q, tables, bits)

  private def topk(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "cos", "rk")
      .orderBy("query_id", "rk")
  }

  /** Brute-force cosine top-5 (query vectors vec_id < 10 over the rest) —
    * shared by the contract query and the recall evaluation.
    */
  private[graft] def bruteTopkFrom(e: DataFrame, k: Int = 5): DataFrame = {
    val qs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val corpus = e.filter(col("vec_id") >= 10)
    topk(corpus.join(broadcast(qs))
      .select(col("query_id"), col("vec_id"),
        quant_cosine(col("qe"), col("embedding")).as("cos")), k)
  }

  /** Multi-probe LSH top-5 — shared by the contract query and the recall
    * evaluation.
    *
    * CACHE LIFETIME CONTRACT: the bucketed corpus is persisted (read by
    * both the query and corpus sides); the CALLER owns release. The
    * contract sweeps (Verify, Bench, PlanCheckSpec) call
    * `spark.catalog.clearCache()` after each query; a long-lived session
    * embedding this helper should do the same after materializing the
    * result, or repeated invocations accumulate cached copies.
    */
  private[graft] def lshTopkFrom(e0: DataFrame, k: Int = 5): DataFrame = {
    val e = e0
      .withColumn("bucket",
        element_at(lshBuckets(quantize(col("embedding")), 1, 8), 1))
      .persist() // bucketed corpus read by both the query and corpus sides
    val probes = typedLit(0L +: (0 until 8).map(b => 1L << b))
    val qs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(transform(probes, m => col("bucket").bitwiseXOR(m)))
          .as("bucket"))
    val corpus = e.filter(col("vec_id") >= 10)
    topk(corpus.join(broadcast(qs), Seq("bucket"))
      .select(col("query_id"), col("vec_id"),
        quant_cosine(col("qe"), col("embedding")).as("cos")), k)
  }

  /** MIPS top-5 via the norm-augmentation reduction (Bachrach et al.,
    * RecSys 2014): corpus vector x becomes [x, √(M²−‖x‖²)] with M² the
    * corpus max quantized squared norm, queries become [q, 0]. Every
    * augmented corpus vector then has norm exactly M, so angle order in
    * the augmented space IS inner-product order in the original space —
    * which lets maximum-inner-product search ride the SAME sign-plane
    * bucket equi-join as [[lshTopkFrom]] (plane weight index D falls on
    * the augmentation coordinate). Candidates score by the EXACT integer
    * dot — the augmentation exists only for bucketing — so the output is
    * integer end-to-end: the one √ is floored to a BIGINT, engine-portable
    * because IEEE √ is correctly rounded and cannot round a non-square
    * ≤ D·10⁶ ≪ 2⁵² onto an integer.
    *
    * Scale shape: M² is a 1-row broadcast; bucketing is a codegen'd map;
    * the probe is a broadcast equi-join on the bucket id — identical
    * cost profile to the cosine LSH path.
    */
  private[graft] def mipsTopkFrom(e0: DataFrame): DataFrame = {
    val base = e0.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nn",
        aggregate(transform(col("qv"), x => x * x), lit(0L), (a, x) => a + x))
    val corpus0 = base.filter(col("vec_id") >= 10)
    val m2 = corpus0.agg(max(col("nn")).as("m2"))
    val corpus = corpus0.crossJoin(broadcast(m2))
      .withColumn("aug",
        floor(sqrt((col("m2") - col("nn")).cast("double"))).cast("long"))
      .withColumn("bucket", element_at(
        lshBuckets(concat(col("qv"), array(col("aug"))), 1, 8), 1))
    val probes = typedLit(0L +: (0 until 8).map(k => 1L << k))
    // query bucket materialized BEFORE the probe lambda (lambda-CSE: an
    // inline signature would recompute all 8 planes per probe)
    val qs = base.filter(col("vec_id") < 10)
      .withColumn("bucket0", element_at(
        lshBuckets(concat(col("qv"), array(lit(0L))), 1, 8), 1))
      .select(col("vec_id").as("query_id"), col("qv").as("qq"),
        explode(transform(probes, m => col("bucket0").bitwiseXOR(m)))
          .as("bucket"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot").desc, col("vec_id").asc)
    corpus.join(broadcast(qs), Seq("bucket"))
      .select(col("query_id"), col("vec_id"),
        quant_dot(col("qq"), col("qv")).as("dot"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("query_id", "vec_id", "dot", "rk")
      .orderBy("query_id", "rk")
  }

  /** (vec_id, label, qv, nn): the quantized view every centroid-based
    * operator starts from (quantize scale 1000; nn = Σqv², the zero-norm
    * sentinel). NOT persisted — each caller owns persist/release for its
    * own read pattern.
    */
  private def quantizedBase(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), col("label"),
        quantize(col("embedding")).as("qv"))
      .withColumn("nn",
        aggregate(transform(col("qv"), x => x * x), lit(0L), (a, x) => a + x))

  /** Per-label quantized centroids (label, cvec, cnn) of a quantizedBase
    * frame: ONE vec_sum_longs pass — a single D-length partial per
    * (partition, label), no posexplode of N×D rows into the shuffle.
    * Counts NON-NULL vectors: vec_sum_longs skips NULLs, and the oracle's
    * LATERAL over len(embedding) drops NULL rows — a count(*) divisor
    * would silently deflate every centroid the moment a NULL embedding
    * appears. Shared by IVF, IVF-PQ, SemDeDup and the Lloyd step so the
    * quantization/floor arithmetic can never desynchronize from the
    * oracle CTE it replicates.
    */
  private def labelCentroids(base: DataFrame): DataFrame =
    base.groupBy("label")
      .agg(graft.functions.aggregates.vec_sum_longs(col("qv")).as("svec"),
        count(col("qv")).as("cnt"))
      .select(col("label"),
        transform(col("svec"),
          sv => floor(sv * lit(1000) / col("cnt")).cast("long")).as("cvec"))
      .withColumn("cnn",
        aggregate(transform(col("cvec"), x => x * x), lit(0L), (a, x) => a + x))

  /** labelCentroids with the label negate-able for struct-max tie-breaks:
    * (clabel BIGINT, cvec, cnn).
    */
  private def labelCentroidsL(base: DataFrame): DataFrame =
    labelCentroids(base)
      .select(col("label").cast("long").as("clabel"), col("cvec"),
        col("cnn"))

  /** Zero-norm-guarded quantized cosine: 0.0 when either norm is zero,
    * otherwise one correctly-rounded IEEE division — the exact expression
    * every oracle CTE replicates.
    */
  private def cosSim(nn: Column, cnn: Column, a: Column, b: Column): Column =
    when(nn === 0L || cnn === 0L, lit(0.0))
      .otherwise(quant_dot(a, b).cast("double") /
        (sqrt(nn.cast("double")) * sqrt(cnn.cast("double"))))

  /** NSW-style greedy search over a cell-partitioned proximity graph —
    * see the `sim_ann_graph_greedy` query comment. Returns the full walk
    * (query_id, step, vec_id, cos) for steps 0..`steps`.
    */
  private[graft] def graphGreedyFrom(emb: DataFrame, m: Int,
      steps: Int): DataFrame = {
    val base = quantizedBase(emb).persist()
    val corpus = base.filter(col("vec_id") >= 10)
    val centVec = labelCentroids(base)
    val queries = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("qq"),
        col("nn").as("qnn"))
    val wq = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("label").asc)
    val probes = queries.join(broadcast(centVec))
      .select(col("query_id"), col("label"),
        cosSim(col("qnn"), col("cnn"), col("qq"), col("cvec")).as("csim"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") === 1)
      .select("query_id", "label")
    val wm = Window.partitionBy("label")
      .orderBy(col("msim").desc, col("vec_id").asc)
    val medoids = corpus.join(broadcast(centVec), Seq("label"))
      .select(col("label"), col("vec_id"),
        cosSim(col("nn"), col("cnn"), col("qv"), col("cvec")).as("msim"))
      .withColumn("rn", row_number().over(wm)).filter(col("rn") === 1)
      .select(col("label"), col("vec_id").as("entry"))
    val we = Window.partitionBy("src")
      .orderBy(col("ecos").desc, col("dst").asc)
    val edges = corpus.as("a").join(corpus.as("b"),
        col("a.label") === col("b.label") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        cosSim(col("a.nn"), col("b.nn"), col("a.qv"), col("b.qv"))
          .as("ecos"))
      .withColumn("rn", row_number().over(we)).filter(col("rn") <= m)
      .select("src", "dst").persist()
    def score(cand: DataFrame): DataFrame =
      cand
        .join(corpus.select(col("vec_id"), col("qv"), col("nn")), "vec_id")
        .join(broadcast(queries), "query_id")
        .select(col("query_id"), col("vec_id"),
          cosSim(col("qnn"), col("nn"), col("qq"), col("qv")).as("cos"))
    var cur = score(probes.join(medoids, "label")
        .select(col("query_id"), col("entry").as("vec_id")))
      .withColumn("step", lit(0)).cutLineage()
    var walk = cur
    for (k <- 1 to steps) {
      val cand = cur.select("query_id", "vec_id")
        .unionByName(cur
          .join(edges, cur("vec_id") === edges("src"))
          .select(col("query_id"), col("dst").as("vec_id")))
      cur = score(cand)
        .groupBy("query_id")
        .agg(max(struct(col("cos"), (-col("vec_id")).as("nv"))).as("b"))
        .select(col("query_id"), (-col("b.nv")).as("vec_id"),
          col("b.cos").as("cos"))
        .withColumn("step", lit(k))
        .cutLineage() // 10-row walk frame feeds union AND the next step
      walk = walk.unionByName(cur)
    }
    walk.select("query_id", "step", "vec_id", "cos")
      .orderBy("query_id", "step")
  }

  /** Cross-cohort centroid cosine per label — see the
    * `sim_embedding_drift` query comment. Cohort = vec_id parity. On an
    * i.i.d. mean-zero corpus the cohort centroids are NOISE vectors and
    * the cosine is near-chance (the LSH-recall honesty precedent) — the
    * spec plants directional labels where stability reads ~1 and a
    * shifted cohort reads low; the sf row gates the MACHINERY.
    */
  private[graft] def embeddingDriftFrom(emb: DataFrame): DataFrame = {
    val base = quantizedBase(emb)
      .withColumn("half", pmod(col("vec_id"), lit(2L)))
    val cent = base.groupBy("label", "half")
      .agg(graft.functions.aggregates.vec_sum_longs(col("qv"))
        .as("svec"), count(col("qv")).as("cnt"))
      .select(col("label"), col("half"), col("cnt"),
        transform(col("svec"),
          sv => floor(sv * lit(1000) / col("cnt")).cast("long"))
          .as("cvec"))
      .withColumn("cnn",
        aggregate(transform(col("cvec"), x => x * x), lit(0L),
          (a, x) => a + x))
    val ev = cent.filter(col("half") === 0)
      .select(col("label"), col("cnt").as("n_even"),
        col("cvec").as("v0"), col("cnn").as("nn0"))
    val od = cent.filter(col("half") === 1)
      .select(col("label"), col("cnt").as("n_odd"),
        col("cvec").as("v1"), col("cnn").as("nn1"))
    ev.join(od, "label")
      .select(col("label"), col("n_even"), col("n_odd"),
        cosSim(col("nn0"), col("nn1"), col("v0"), col("v1"))
          .as("drift_cos"))
      .orderBy("label")
  }

  /** IVF cosine top-5: coarse-assign each query to its `nprobe` nearest
    * per-label centroids, probe only those inverted lists, exact-score
    * the candidates. Shared by `sim_ann_ivf` and `sim_ann_recall_ivf` so
    * the measured recall is of EXACTLY the shipped search path.
    */
  private[graft] def ivfTopkFrom(emb: DataFrame, nprobe: Int): DataFrame = {
    val base = quantizedBase(emb).persist()
    // per-label quantized centroid — the shared [[labelCentroids]] pass
    val centVec = labelCentroids(base)
    val queries = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("qq"),
        col("nn").as("qnn"))
    // coarse assignment: nprobe nearest centroids per query
    val w = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("label").asc)
    val probes = queries.join(broadcast(centVec))
      .select(col("query_id"), col("label"),
        cosSim(col("qnn"), col("cnn"), col("qq"), col("cvec"))
          .as("csim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nprobe)
      .select("query_id", "label")
    // probe the inverted lists, exact-score, top-5
    val cand = base.filter(col("vec_id") >= 10)
      .join(broadcast(probes), Seq("label"))
      .join(broadcast(queries), Seq("query_id"))
    topk(cand.select(col("query_id"), col("vec_id"),
      cosSim(col("qnn"), col("nn"), col("qq"), col("qv")).as("cos")), 5)
  }

  def queries: Map[String, Q] = Map(
    // Brute-force cosine top-5 for query vectors (vec_id < 10) over the rest.
    "sim_topk_bruteforce" -> { (s, d) =>
      bruteTopkFrom(Tables(s, d).embeddings)
    },
    // LSH-bucketed ANN: 8-plane signature buckets with multi-probe (the
    // query probes its own bucket plus every Hamming-1 neighbor — 9 probes),
    // trading 9x probe fan-out for recall while staying an equi-join on the
    // bucket id (linear shuffle — the scale path; single-probe recall on
    // weakly-correlated vectors is near chance). The integer hyperplanes
    // are SQL arithmetic, so the DuckDB oracle replicates the whole
    // bucket+probe pipeline; DedupSpec measures recall against brute force.
    "sim_ann_lsh" -> { (s, d) =>
      lshTopkFrom(Tables(s, d).embeddings)
    },
    // Maximum-inner-product search — the retrieval scoring (unnormalized
    // dot) the cosine family can't answer: a long document embedding can
    // out-dot a same-direction short one. Norm-augmentation reduces MIPS
    // to the angular search the sign-plane buckets already solve; scores
    // stay exact integers. See [[mipsTopkFrom]].
    "sim_ann_mips" -> { (s, d) =>
      mipsTopkFrom(Tables(s, d).embeddings)
    },
    // Recall@5 of the norm-augmented MIPS search against the exact
    // max-dot ground truth — the last ANN variant without its measured
    // recall row (LSH, IVF, Hamming and the matryoshka prefix already
    // ship theirs). Ground truth is the brute-force integer dot top-5;
    // the approximate side is the shipped mipsTopkFrom pipeline.
    "sim_ann_recall_mips" -> { (s, d) =>
      val e = Tables(s, d).embeddings
      val base = e.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      val qs = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("qv").as("qq"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("dot").desc, col("vec_id").asc)
      val bf = base.filter(col("vec_id") >= 10)
        .join(broadcast(qs))
        .select(col("query_id"), col("vec_id"),
          quant_dot(col("qq"), col("qv")).as("dot"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select("query_id", "vec_id")
      val mp = mipsTopkFrom(e)
        .select(col("query_id").as("lq"), col("vec_id").as("lv"))
      val hits = bf.join(mp,
          col("query_id") === col("lq") && col("vec_id") === col("lv"),
          "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      bf.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") / 5.0)
            .as("recall_at_5"))
        .orderBy("query_id")
    },
    // Recall evaluation — the honesty harness for the approximate path:
    // per query, how many of the TRUE (brute-force) top-5 the multi-probe
    // LSH search returned. Both sides run in the same job; the oracle
    // replicates both pipelines and the intersection, so the recall
    // numbers themselves are oracle-checked, not just spec-sampled. At
    // 100 TB this query IS the eval job a pipeline runs on a held-out
    // slice before trusting an ANN index. Expected result on THIS corpus:
    // near-chance recall (~0.1) — the synthetic embeddings are i.i.d.
    // random with no neighbor structure, the regime where every sublinear
    // method degrades to chance. That is the point of shipping the eval:
    // it MEASURES the degradation instead of assuming index quality
    // (planted-clone specs show the same pipeline at high recall when
    // true near-duplicates exist).
    "sim_ann_recall" -> { (s, d) =>
      val e = Tables(s, d).embeddings
      val bf = bruteTopkFrom(e).select("query_id", "vec_id")
      val ls = lshTopkFrom(e)
        .select(col("query_id").as("lq"), col("vec_id").as("lv"))
      val hits = bf.join(ls,
          col("query_id") === col("lq") && col("vec_id") === col("lv"),
          "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      bf.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") / 5.0)
            .as("recall_at_5"))
        .orderBy("query_id")
    },
    // IVF ANN search: the label partitions are the inverted lists, their
    // quantized centroids the coarse quantizer. Each query probes its
    // nprobe=2 nearest centroids and scores ONLY vectors in those lists —
    // at 100 TB the corpus is stored partitioned by list id, so a probe
    // reads nprobe partitions instead of the full corpus (the partition-
    // pruning form of ANN, complementing the LSH equi-join form).
    // Deterministic integer centroids + IEEE double scoring → the DuckDB
    // oracle replicates the whole pipeline (assignment included).
    "sim_ann_ivf" -> { (s, d) =>
      ivfTopkFrom(Tables(s, d).embeddings, nprobe = 2)
    },
    // GRAPH-based ANN (the NSW/HNSW family — the ANN shape the bucket
    // (LSH), list (IVF), and code (PQ) variants don't cover): greedy
    // best-first walk over a proximity graph. Graph build: within each
    // coarse cell, every corpus vector keeps its top-4 neighbors by exact
    // quantized cosine (the DiskANN-style partitioned build — the
    // quadratic term is bounded per cell, never corpus-wide). Search:
    // enter at the query's nearest cell's MEDOID (the member closest to
    // the cell centroid), then three synchronous greedy steps — move to
    // the best-scoring neighbor-or-self, ties to the smaller id. Three
    // FIXED steps keep the oracle CTE-unrollable (the kcore doctrine);
    // greedy is monotone so extra steps only extend converged walks.
    // Emits the whole walk (step 0..3) — the monotone cos trajectory IS
    // the readout. The engine scores ONLY visited candidates (≤ 5 per
    // step per query); the oracle affords the full query×corpus matrix
    // because it runs at sf0.01.
    "sim_ann_graph_greedy" -> { (s, d) =>
      graphGreedyFrom(Tables(s, d).embeddings, m = 4, steps = 3)
    },
    // Endpoint quality of the greedy graph walk vs brute-force ground
    // truth — the measured-recall row every ANN variant ships (LSH, IVF,
    // PQ, IVF-PQ, Hamming, MIPS, matryoshka all have one): per query,
    // whether the walk's terminal point IS the true top-1 and whether it
    // lands in the true top-5. Greedy returns ONE point, so the readout
    // is hit@1/hit@5, not recall@k. The walk side is exactly the shipped
    // sim_ann_graph_greedy machinery (the oracle embeds that query's SQL
    // verbatim as a CTE — same doctrine as the other recall rows).
    "sim_ann_recall_graph" -> { (s, d) =>
      val e = Tables(s, d).embeddings
      val end = graphGreedyFrom(e, m = 4, steps = 3)
        .filter(col("step") === 3)
        .select(col("query_id"), col("vec_id").as("found"))
      val bf = bruteTopkFrom(e)
      val top1 = bf.filter(col("rk") === 1)
        .select(col("query_id"), col("vec_id").as("t1"))
      // explicit broadcasts: every frame here is 10-query-sized but
      // stats-free after the walk's lineage cut — unhinted, Spark falls
      // back to sort-merge joins (the sim_mmr_diversify lesson)
      val in5 = broadcast(end)
        .join(bf.select(col("query_id"), col("vec_id")), Seq("query_id"))
        .filter(col("vec_id") === col("found"))
        .groupBy("query_id").agg(count(lit(1)).as("n5"))
      end.join(broadcast(top1), Seq("query_id"))
        .join(broadcast(in5), Seq("query_id"), "left")
        .select(col("query_id"), col("found").as("vec_id"),
          (col("found") === col("t1")).as("hit_at_1"),
          (coalesce(col("n5"), lit(0L)) > 0).as("hit_at_5"))
        .orderBy("query_id")
    },
    // Embedding DRIFT monitor — the production check every vector
    // pipeline runs when the embedder, corpus, or upstream filters
    // change: split the corpus into two cohorts (vec_id parity here; in
    // production, before/after the change), compute each label's integer
    // centroid per cohort, and report the cross-cohort centroid cosine.
    // drift_cos ≈ 1 = stable geometry; a drop flags the label whose
    // distribution moved (retrain/reindex trigger). Exact integer
    // centroids (the labelCentroids arithmetic keyed by cohort) into one
    // IEEE cosine per label; one vec_sum_longs aggregate, label-sized
    // everything after.
    "sim_embedding_drift" -> { (s, d) =>
      embeddingDriftFrom(Tables(s, d).embeddings)
    },
    // Recall@5 of the IVF search against the brute-force ground truth —
    // the evaluation row the LSH path already has (sim_ann_recall),
    // completing the harness: every ANN variant ships with its measured
    // recall, so the list-pruning loss (nprobe=2 of 10 lists) is a
    // NUMBER in the gate, not a claim. Same plan shape as
    // sim_ann_recall: two top-5 runs, a left-semi intersection count,
    // per-query readout.
    "sim_ann_recall_ivf" -> { (s, d) =>
      val e = Tables(s, d).embeddings
      val bf = bruteTopkFrom(e).select("query_id", "vec_id")
      val iv = ivfTopkFrom(e, nprobe = 2)
        .select(col("query_id").as("lq"), col("vec_id").as("lv"))
      val hits = bf.join(iv,
          col("query_id") === col("lq") && col("vec_id") === col("lv"),
          "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      bf.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") / 5.0)
            .as("recall_at_5"))
        .orderBy("query_id")
    },
    // Product-quantization ANN (the codes+ADC form, completing the family:
    // brute force, LSH equi-join, IVF partition-pruning, and now PQ
    // compression): vectors split into M=4 subspaces of 16 dims; each
    // subspace quantized to its nearest of K=16 sub-centroids (a
    // training-free deterministic codebook — the 16 smallest-vec_id
    // vectors' subvectors); queries rank candidates by ADC (asymmetric
    // distance): Σ_m ‖q_m − centroid[code_m(x)]‖², exact integer
    // arithmetic end-to-end so the DuckDB oracle replicates code
    // assignment AND the ADC ranking. Scale shape: the codebook is ONE
    // broadcast row (K·D longs), so encoding is a map stage over the
    // corpus scan — each vector compresses from D longs to M bytes — and
    // scoring never touches raw corpus vectors; at 100 TB only the codes
    // column (4 bytes/vector) feeds the search.
    "sim_ann_pq" -> { (s, d) =>
      pqTopkFrom(Tables(s, d).embeddings)
    },
    // IVF-PQ — the fifth ANN family member and the production composition:
    // coarse lists prune, PQ codes rank. See [[ivfpqTopkFrom]].
    "sim_ann_ivfpq" -> { (s, d) =>
      ivfpqTopkFrom(Tables(s, d).embeddings, 2)
    },
    // Matryoshka-truncation recall — the modern embedding-cost question
    // (Kusupati et al. 2022, arXiv:2205.13147: MRL-trained models keep
    // semantic mass in the prefix dims, so stores truncate vectors to
    // cut memory 4×): recall@5 of brute-force search over the FIRST 16
    // of 64 dimensions against the full-dimension ground truth. These
    // embeddings are i.i.d. synthetic (not MRL-trained), so the measured
    // recall is the honest near-chance floor — the harness row exists so
    // a real corpus swap reads its true number from the same gate. Same
    // two-top-5 + left-semi intersection shape as the other recall rows.
    "sim_recall_matryoshka" -> { (s, d) =>
      val e = Tables(s, d).embeddings
      val bf = bruteTopkFrom(e).select("query_id", "vec_id")
      val tr = bruteTopkFrom(e.select(col("vec_id"),
          slice(col("embedding"), 1, 16).as("embedding")))
        .select(col("query_id").as("lq"), col("vec_id").as("lv"))
      val hits = bf.join(tr,
          col("query_id") === col("lq") && col("vec_id") === col("lv"),
          "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      bf.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") / 5.0)
            .as("recall_at_5"))
        .orderBy("query_id")
    },
    // Cosine RANGE search — the radius-query sibling of the top-k family
    // (every vector-store API ships both): all corpus vectors within
    // cosine >= 0.2 of each query, found through the SAME multi-probe
    // LSH bucket equi-join as sim_ann_lsh (candidates from 9 probed
    // buckets per query, exact quantized-cosine verify, threshold
    // filter instead of rank-k). Range semantics change the scale story
    // only in the output: result size is data-dependent, so the
    // threshold — not a k — bounds it, and the bucket recall tradeoff
    // is identical to the top-k path. Deterministic output order.
    "sim_range_search" -> { (s, d) =>
      rangeSearchFrom(Tables(s, d).embeddings)
        .orderBy("query_id", "vec_id")
    },
    // Recall of the multi-probe range search against the EXACT radius
    // query — the eval row the range-search sibling was missing (every
    // top-k variant ships one). Precision is 1.0 by construction (the
    // probe path exact-scores its candidates with the same threshold),
    // so recall — the neighbors the bucket probes never surface — is THE
    // quality number. Ground truth broadcasts the 10-query set against
    // the corpus (the sim_topk_bruteforce shape, whitelisted); the
    // approximate side is the SHIPPED rangeSearchFrom pipeline, and a
    // semi-join (rather than trusting found ⊆ truth) keeps the measured
    // number honest under any future threshold drift.
    "sim_range_recall" -> { (s, d) =>
      val e = Tables(s, d).embeddings
      val found = rangeSearchFrom(e).select("query_id", "vec_id")
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val truth = e.filter(col("vec_id") >= 10)
        .join(broadcast(qs))
        .select(col("query_id"), col("vec_id"),
          quant_cosine(col("qe"), col("embedding")).as("cos"))
        .filter(col("cos") >= 0.2)
        .select("query_id", "vec_id")
      val hits = truth.join(found, Seq("query_id", "vec_id"), "left_semi")
      qs.select("query_id")
        .join(truth.groupBy("query_id").agg(count(lit(1)).as("n_true")),
          Seq("query_id"), "left")
        .join(hits.groupBy("query_id").agg(count(lit(1)).as("n_found")),
          Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_found"), lit(0L)).as("n_found"),
          when(coalesce(col("n_true"), lit(0L)) > 0,
            coalesce(col("n_found"), lit(0L)).cast("double") /
              col("n_true").cast("double")).otherwise(lit(1.0))
            .as("recall"))
        .orderBy("query_id")
    },
    // Binary quantization + Hamming rerank — the modern two-stage
    // retrieval shape (sign-bit codes à la Charikar 2002 hyperplane
    // hashing; "RaBitQ/BQ" deployments run exactly this scan): stage 1
    // packs each 64-dim vector's SIGN BITS into two 32-bit words (64×
    // smaller than the float vector) and scans ALL corpus codes per query
    // with one xor+popcount per word — the SIMD-friendly linear scan that
    // replaces full-vector IO at 100 TB; stage 2 fetches only the 20
    // Hamming-nearest full vectors per query and reranks them by exact
    // cosine. Packing is an exact integer Horner fold (first element of
    // each half carries weight 2^31), Hamming is bit_count(xor) — all
    // integers, so the DuckDB oracle replicates codes, shortlist, and
    // rerank bit-for-bit. Scale shape: the code table is 16 bytes/vector
    // (map-only derivation, written once next to the index); the query
    // side broadcasts; the rerank touches 20 vectors/query via a
    // broadcast semi-probe, never a corpus shuffle.
    "sim_ann_hamming" -> { (s, d) =>
      hammingTopkFrom(Tables(s, d).embeddings)
    },
    // Recall@5 of the binary-quantization Hamming search against the
    // brute-force ground truth — the evaluation row every ANN variant in
    // this suite ships with (sim_ann_recall, sim_ann_recall_ivf): the
    // 64→2-word code compression loses angular resolution, and this
    // measures that loss as a NUMBER in the gate. Same plan shape as the
    // other recall rows: both top-5 pipelines, a left-semi intersection
    // count, per-query readout.
    "sim_ann_recall_hamming" -> { (s, d) =>
      val e = Tables(s, d).embeddings
      val bf = bruteTopkFrom(e).select("query_id", "vec_id")
      val hm = hammingTopkFrom(e)
        .select(col("query_id").as("lq"), col("vec_id").as("lv"))
      val hits = bf.join(hm,
          col("query_id") === col("lq") && col("vec_id") === col("lv"),
          "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      bf.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") / 5.0)
            .as("recall_at_5"))
        .orderBy("query_id")
    },
    // FILTERED vector search, pre- vs post-filter — the design decision
    // every vector store documents (Qdrant/Weaviate/pgvector docs all
    // carry this page): a metadata predicate (here "same label as the
    // query", the tenant-filter shape) can be applied BEFORE the scan
    // (exact top-5 over the filtered corpus — always fills k) or AFTER
    // a label-blind top-20 (cheap, but the filter eats the shortlist
    // and under-fills — the classic recall hole). Per query: how many
    // slots each strategy fills and how far they agree. At 100 TB
    // pre-filter rides partition pruning on the label (the IVF-list
    // layout), post-filter is the fallback when the predicate is not a
    // partition key — this readout is the evidence for choosing.
    "sim_ann_filtered" -> { (s, d) =>
      val e = Tables(s, d).embeddings
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("label").as("qlabel"))
      val corpus = e.filter(col("vec_id") >= 10)
      val pre = topk(corpus.join(broadcast(qs),
          col("label") === col("qlabel"))
        .select(col("query_id"), col("vec_id"),
          quant_cosine(col("qe"), col("embedding")).as("cos")), 5)
        .select(col("query_id"), col("vec_id"))
      val post20 = topk(corpus.join(
          broadcast(qs.select(col("query_id"), col("qe"))))
        .select(col("query_id"), col("vec_id"),
          quant_cosine(col("qe"), col("embedding")).as("cos")), 20)
      val postW = Window.partitionBy("query_id").orderBy(col("rk").asc)
      val post = post20
        .join(broadcast(corpus.select(col("vec_id"), col("label"))),
          "vec_id")
        .join(broadcast(qs.select(col("query_id"), col("qlabel"))),
          "query_id")
        .filter(col("label") === col("qlabel"))
        .withColumn("prk", row_number().over(postW))
        .filter(col("prk") <= 5)
        .select(col("query_id"), col("vec_id"))
      val overlap = pre.join(broadcast(post
          .select(col("query_id").as("pq"), col("vec_id").as("pv"))),
          col("query_id") === col("pq") && col("vec_id") === col("pv"),
          "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
      pre.groupBy("query_id").agg(count(lit(1)).as("n_pre"))
        .join(broadcast(post.groupBy("query_id")
          .agg(count(lit(1)).as("n_post"))), Seq("query_id"), "left")
        .join(broadcast(overlap), Seq("query_id"), "left")
        .select(col("query_id"), col("n_pre"),
          coalesce(col("n_post"), lit(0L)).as("n_post"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
        .orderBy("query_id")
    },
    // Farthest-point (maximin) centroid initialization — the
    // deterministic k-means++ variant (Gonzalez 1985) that seeds
    // sim_kmeans_step: start from vector 0, then 3 rounds of "pick the
    // vector maximizing its min squared distance to the chosen set"
    // (ties → smallest id). The selection is SEQUENTIAL by nature — each
    // round is one corpus scan against the ≤3-row broadcast chosen set
    // plus a 1-row driver argmax (k driver steps for k centroids, the
    // same legitimate iterative exception as the components convergence
    // scalar; the corpus itself never collects). Exact integer distances
    // end-to-end, so the oracle replays all three argmaxes CTE for CTE.
    "sim_farthest_init" -> { (s, d) =>
      val base = Tables(s, d).embeddings
        .select(col("vec_id"), quantize(col("embedding")).as("qv"))
        .persist()
      def sq(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, x) => acc + x)
      var chosen = Seq(0L)
      val picked = scala.collection.mutable.ArrayBuffer((0, 0L, 0L))
      for (r <- 1 to 3) {
        val ch = base.filter(col("vec_id").isin(chosen: _*))
          .select(col("vec_id").as("cid"), col("qv").as("cqv"))
        val next = base.filter(!col("vec_id").isin(chosen: _*))
          .join(broadcast(ch))
          .select(col("vec_id"), sq(col("qv"), col("cqv")).as("dd"))
          .groupBy("vec_id").agg(min(col("dd")).as("mind"))
          .agg(max(struct(col("mind"), (-col("vec_id")).as("nid"))).as("m"))
          .select((-col("m.nid")).as("vec_id"), col("m.mind").as("mind"))
          .collect()(0)
        picked += ((r, next.getLong(0), next.getLong(1)))
        chosen = chosen :+ next.getLong(0)
      }
      val spark = s
      import spark.implicits._
      picked.toSeq.toDF("round", "vec_id", "min_dist_sq")
    },
    // IVF recall-vs-nprobe tuning curve — the knob an operator actually
    // turns (nprobe trades scanned-list volume for recall; the curve
    // says where the knee is): mean recall@5 across the query set at
    // nprobe ∈ {1, 2, 4} of the 10 lists, one row each. The per-point
    // pipelines share the brute ground truth; at 100 TB each point is
    // the sim_ann_ivf scan shape with a different list fan-in, and the
    // curve is what justifies the production nprobe before the index
    // ships. Mean recall = total hits / (queries·5), one division.
    "sim_ivf_nprobe_curve" -> { (s, d) =>
      val e = Tables(s, d).embeddings
      val bf = bruteTopkFrom(e).select("query_id", "vec_id").persist()
      Seq(1, 2, 4).map { np =>
        val iv = ivfTopkFrom(e, np)
          .select(col("query_id").as("lq"), col("vec_id").as("lv"))
        bf.join(iv,
            col("query_id") === col("lq") && col("vec_id") === col("lv"),
            "left_semi")
          .agg(count(lit(1)).as("n_hit"))
          .select(lit(np).as("nprobe"), col("n_hit"),
            (col("n_hit").cast("double") / 50.0).as("mean_recall_at_5"))
      }.reduce(_ unionAll _).orderBy("nprobe")
    },
    // Recall@5 of the PQ ADC ranking against brute force — the eval row
    // the compression stage owes the harness (brute/LSH/IVF/MIPS/Hamming
    // each ship one): 4-byte codes lose within-cell geometry, and this
    // measures that loss as a NUMBER in the gate. Shared recallAt5 shape.
    "sim_ann_recall_pq" -> { (s, d) =>
      val e = Tables(s, d).embeddings
      recallAt5(bruteTopkFrom(e).select("query_id", "vec_id"),
        pqTopkFrom(e))
    },
    // Recall@5 of the full IVF-PQ composition — the number a production
    // deployment actually watches (list pruning loss × code quantization
    // loss compound; measuring the stages separately, as
    // sim_ann_recall_ivf and sim_ann_recall_pq do, bounds but does not
    // determine it). Completes the measured-recall matrix: EVERY ANN
    // variant in the suite now has its eval row.
    "sim_ann_recall_ivfpq" -> { (s, d) =>
      val e = Tables(s, d).embeddings
      recallAt5(bruteTopkFrom(e).select("query_id", "vec_id"),
        ivfpqTopkFrom(e, 2))
    },
    // MMR diversification (Carbonell & Goldstein 1998) — the re-ranking
    // pass between retrieval and consumption: plain top-k returns
    // near-duplicate neighbors (the corpus HAS near-dups; see the dedup
    // family), so the context assembled from it wastes its budget on
    // redundancy. Five greedy rounds pick the candidate maximizing
    // 0.7·relevance − 0.3·(max similarity to the already-selected set) —
    // round 1 has no penalty, later rounds trade relevance against
    // redundancy; ties to the smaller vec_id. Arithmetic: relevance and
    // pairwise sims are the exact quantized cosine, the MMR score is one
    // fixed IEEE tree, and the greedy argmax is a row_number over the
    // ≤10-candidate frame — the DuckDB oracle replicates all five rounds
    // CTE for CTE. Scale shape: only the top-10 relevance stage touches
    // the corpus (the sim_topk_bruteforce broadcast scan); the greedy
    // loop runs on (queries × 10) rows.
    "sim_mmr_diversify" -> { (s, d) =>
      mmrDiversifyFrom(Tables(s, d).embeddings)
    },
    // Int8 scalar quantization audit — the calibration+error readout every
    // vector store runs before switching the index to int8 storage: per
    // dimension, min/max over the corpus (the affine calibration range),
    // each element quantized to a 0..255 code, reconstructed at the bucket
    // midpoint, and the per-label MSE / max-abs error reported. Arithmetic
    // parity: min/max are order-independent exact doubles, the code is one
    // FIXED IEEE tree + floor/clamp (exact), and the squared-error sum
    // goes through the DECIMAL exact-sum contract scaled by 1e9 so
    // ~1e-6-magnitude squared errors survive the DECIMAL(28,6) quantum.
    // Scale shape: the stats pass map-side-combines the 64× posexplode to
    // 64 groups; the 64-row calibration table broadcasts back; the audit
    // aggregate is label-keyed. (A 100 TB run calibrates min/max on a
    // sampled slice instead of the full corpus — the audit shape is
    // identical.)
    "sim_quantize_int8" -> { (s, d) =>
      int8AuditFrom(s, Tables(s, d).embeddings)
    },
    // One PQ codebook TRAINING step (Jégou et al. 2011: per-subspace
    // Lloyd iteration — the trainer whose converged output sim_ann_pq's
    // deterministic seed codebook stands in for): assign every vector's
    // m-th subvector to its nearest sub-centroid (the same integer-L2
    // argmin as the encoder), then refresh each sub-centroid as the
    // floored mean of its members' subvectors. Output per (subspace,
    // code): member count + exact integer checksums of the refreshed
    // sub-centroid (sum / sum-of-squares — no list columns), mirroring
    // sim_kmeans_step's readout. Scale shape: the codebook is one
    // broadcast row, encoding is a map stage, and the refresh shuffles
    // 16-long partials keyed by (m, code) — M·K = 64 groups regardless
    // of corpus size.
    "sim_pq_train_step" -> { (s, d) =>
      val base = Tables(s, d).embeddings
        .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      val sub = pqEncode(base)
        .select(col("qv"), posexplode(col("codes")).as(Seq("m", "code")))
        .select(col("m"), col("code"),
          slice(col("qv"), col("m") * lit(PqSub) + lit(1),
            lit(PqSub)).as("sv"))
      sub.groupBy("m", "code")
        .agg(graft.functions.aggregates.vec_sum_longs(col("sv")).as("svec"),
          count(lit(1)).as("n_members"))
        .withColumn("cvec", transform(col("svec"),
          sv => floor(sv.cast("double") / col("n_members")).cast("long")))
        .select(col("m"), col("code"), col("n_members"),
          aggregate(col("cvec"), lit(0L), (a, x) => a + x).as("csum"),
          aggregate(transform(col("cvec"), x => x * x), lit(0L),
            (a, x) => a + x).as("csq"))
        .orderBy("m", "code")
    },
    // One Lloyd (k-means) iteration, seeded by the per-label centroids:
    // (1) score every vector against the 10 broadcast centroids and keep
    // the argmax via a partial+final max(struct(sim, -label)) aggregate —
    // map-side combine collapses the k-way fan-out to one row per vector
    // BEFORE any shuffle (never a window over the exploded pairs);
    // (2) recompute per-cluster centroids with the same one-pass
    // vec_sum_longs aggregate the coarse quantizer uses. This is the
    // iteration body a distributed k-means runs to convergence; one step
    // keeps the gate deterministic. New centroids are pinned by exact
    // integer checksums (sum / sum-of-squares of the quantized
    // components) — no list-typed output columns.
    "sim_kmeans_step" -> { (s, d) =>
      kmeansStepFrom(Tables(s, d).embeddings)
    },
    // One distributed power-iteration step w = Xᵀ(X·v₀) over the
    // quantized embedding matrix — the matvec primitive under PCA /
    // spectral methods, in its two-pass map-reduce form: pass 1 computes
    // the row-local scalar dot = q·v₀ (codegen'd zip_with fold, no
    // shuffle), pass 2 distributes dot·qⱼ into D=64 dimension buckets
    // (one posexplode shuffle keyed on dim — D·N terms, the minimum any
    // matvec moves; the result is D rows regardless of N). EXACT INTEGER
    // end-to-end: v₀ⱼ = (j mod 7) − 3 and the ×1000 quantization keep
    // every partial a BIGINT (|dot·qⱼ| ≤ 5.5e7/row → headroom to ~1.6e11
    // rows), so the result is bit-identical under any partitioning and
    // the oracle replicates it term for term. Fixed-dimension contract
    // as sim_label_centroid: zip_with against the 64-long v₀ NULLs out
    // ragged rows → NULL dot fails the BIGINT sum loudly under ANSI.
    "sim_power_iteration" -> { (s, d) =>
      val v0 = Array.tabulate(64)(j => ((j % 7) - 3).toLong)
      val q = Tables(s, d).embeddings
        .select(col("vec_id"), quantize(col("embedding")).as("q"))
      q.withColumn("dot",
          aggregate(zip_with(col("q"), lit(v0), (x, v) => x * v),
            lit(0L), (a, x) => a + x))
        .select(col("dot"), posexplode(col("q")).as(Seq("dim", "qj")))
        .groupBy("dim").agg(sum(col("qj") * col("dot")).as("w"))
        .orderBy("dim")
    },
    // Per-label centroid similarity: IVF-style coarse quantizer readout —
    // exact integer/decimal math end-to-end (oracle-checked).
    // dot_sum = Σ_vec Σ_i v_i·cv_i = Σ_i cv_i·(Σ_vec v_i) = dot(cvec, svec),
    // so the whole readout is ONE vec_sum_longs aggregation pass plus
    // narrow array arithmetic — no posexplode, no (label, i) shuffle, no
    // self-join. n_terms = cnt · D (every vector contributes D terms).
    //
    // CONTRACT: the embeddings table is FIXED-DIMENSION (every real vector
    // store is). The identity above and the per-label `cnt` divisor both
    // assume it — on ragged input the old posexplode formula (and the
    // oracle) would divide dimension i by its CONTRIBUTOR count while this
    // path divides by the row count. AggregatesSpec pins the contract on
    // the table so a ragged corpus fails loudly, not silently.
    // SemDeDup — semantic near-duplicate removal (Abbas et al. 2023,
    // arXiv:2303.09540, public): coarse-cluster the embedding space, then
    // compare pairs ONLY within a cluster — the cluster count is the knob
    // that keeps the quadratic term bounded (pairs ~ N^2/k per cluster; a
    // production run scales k with N). Assignment reuses the per-label
    // seed centroids + cosine argmax of sim_kmeans_step; the drop rule is
    // keep-smallest-id per duplicate pair, aggregated to one row per
    // dropped vector. Everything is quantized-integer + IEEE-division
    // arithmetic, so the DuckDB oracle replicates clustering, pairing,
    // and the drop list exactly.
    "dedup_semantic" -> { (s, d) =>
      semanticDupsFrom(Tables(s, d).embeddings, 0.4)
    },
    // Embedding-quality audit — the vector-side data-quality gate a
    // pipeline runs before ANN/centroid work trusts the corpus: per
    // label, vector count, ZERO-NORM count (the rows quant-cosine must
    // guard against), and the min/max/quartile profile of the quantized
    // squared norm. Norms are exact BIGINTs (Σqv² on the shared
    // 1000×-quantized view), so everything except the three interpolated
    // quartiles is integer-exact; one label-keyed shuffle, label-sized
    // output.
    "sim_norm_profile" -> { (s, d) =>
      quantizedBase(Tables(s, d).embeddings)
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          count(when(col("nn") === 0L, 1)).as("n_zero"),
          min(col("nn")).as("min_nn"), max(col("nn")).as("max_nn"),
          percentile(col("nn"),
            array(lit(0.25), lit(0.5), lit(0.75))).as("qs"))
        .select(col("label"), col("n_vecs"), col("n_zero"),
          col("min_nn"), col("max_nn"),
          element_at(col("qs"), 1).as("p25"),
          element_at(col("qs"), 2).as("p50"),
          element_at(col("qs"), 3).as("p75"))
        .orderBy("label")
    },
    "sim_label_centroid" -> { (s, d) =>
      val agg = Tables(s, d).embeddings
        .select(col("label"), quantize(col("embedding")).as("qv"))
        .groupBy("label")
        .agg(graft.functions.aggregates.vec_sum_longs(col("qv")).as("svec"),
          // count NON-NULL vectors: vec_sum_longs skips NULLs, and the
          // oracle's LATERAL over len(embedding) drops NULL rows — a
          // count(*) divisor would silently deflate every centroid the
          // moment a NULL embedding appears
          count(col("qv")).as("cnt"))
      agg.select(col("label"),
          aggregate(zip_with(col("svec"),
            transform(col("svec"),
              sv => floor(sv * lit(1000) / col("cnt")).cast("long")),
            (sv, cv) => sv * cv), lit(0L), (a, x) => a + x).as("dot_sum"),
          (col("cnt") * size(col("svec"))).as("n_terms"))
        .orderBy("label")
    },
    // Simplified (centroid-based) silhouette per label — the clustering-
    // QUALITY readout the centroid/kmeans queries stop short of: for each
    // vector, a = distance to its own label's centroid, b = distance to
    // the nearest OTHER centroid, s = (b−a)/max(a,b); the per-label mean
    // says which clusters are tight vs bleeding into a neighbor. (The
    // classic silhouette's mean-pairwise-distance form is O(n²); the
    // centroid form is the linear-time variant actually run at scale.)
    // Arithmetic: same 1000x-quantized integer centroids as
    // sim_label_centroid, distances as EXACT integer squared sums (diff
    // ≤ 2·10⁶ per dim, Σ over 64 dims ≤ 2.6·10¹⁴ — Long-safe), then one
    // sqrt/divide IEEE tree per vector and a dsum rollup. Shape: the
    // label-sized centroid table broadcasts; each vector meets all k
    // centroids in a map-side crossJoin (k × n rows, the kmeans-step
    // fan-out), collapses to (a, b) by conditional min, and the final
    // aggregate is label-keyed.
    "sim_silhouette" -> { (s, d) =>
      silhouetteFrom(Tables(s, d).embeddings)
    },
    // Recall-vs-depth curve for the multi-probe LSH search — the THIRD
    // tuning axis next to the nprobe curve (IVF) and threshold curve
    // (dedup): how recall@k moves with the result depth k ∈ {1, 5, 10}.
    // A curve that IMPROVES with k means the misses are near-boundary
    // rank inversions (retrieve deeper and rerank); flat means the
    // bucketing loses the neighborhood outright (fix the planes, not
    // k). Both sides come from ONE run each at depth 10 (the k-prefix
    // property of ranked lists: top-k = first k of top-10), joined once;
    // the three (k, hits) rows are conditional counts over that join.
    "sim_recall_vs_k" -> { (s, d) =>
      val e = Tables(s, d).embeddings
      val bf = bruteTopkFrom(e, 10)
        .select(col("query_id"), col("vec_id"), col("rk"))
      val ls = lshTopkFrom(e, 10)
        .select(col("query_id").as("lq"), col("vec_id").as("lv"),
          col("rk").as("lrk"))
      val joined = bf.join(ls,
        col("query_id") === col("lq") && col("vec_id") === col("lv"))
        .select(col("rk"), col("lrk"))
      joined.agg(
        count(when(col("rk") <= 1 && col("lrk") <= 1, 1)).as("h1"),
        count(when(col("rk") <= 5 && col("lrk") <= 5, 1)).as("h5"),
        count(when(col("rk") <= 10 && col("lrk") <= 10, 1)).as("h10"))
        .selectExpr("stack(3, 1, h1, 5, h5, 10, h10) AS (k, n_hits)")
        .select(col("k"), col("n_hits"),
          (col("n_hits").cast("double") /
            (col("k") * 10).cast("double")).as("mean_recall"))
        .orderBy("k")
    },
    // kNN classification eval — what the embedding index is ultimately
    // FOR: predict each query's label by majority vote over its exact
    // top-5 cosine neighbors (ties: most votes, then smallest label) and
    // score against the stored ground-truth label. The per-class
    // correctness readout is the label-quality probe a curation pipeline
    // runs before trusting embeddings for clustering or dedup. Reuses
    // the shipped bruteTopkFrom path (whitelisted 10-query broadcast);
    // voting and the argmax are k-row-per-query metadata aggregates
    // (one max(struct) — no window over the corpus).
    "sim_knn_classify" -> { (s, d) =>
      val e = Tables(s, d).embeddings
      val labels = e.select(col("vec_id"), col("label"))
      val votes = bruteTopkFrom(e)
        .join(labels.toDF("nid", "nlabel"), col("vec_id") === col("nid"))
        .groupBy(col("query_id"), col("nlabel"))
        .agg(count(lit(1)).as("votes"))
      val pred = votes
        .groupBy("query_id")
        .agg(max(struct(col("votes"), (-col("nlabel")).as("nl"))).as("b"))
        .select(col("query_id"), col("b.votes").as("n_votes"),
          (-col("b.nl")).as("pred_label"))
      pred.join(labels.toDF("query_id", "true_label"), "query_id")
        .select(col("query_id"), col("true_label"), col("pred_label"),
          col("n_votes"),
          (col("pred_label") === col("true_label")).as("correct"))
        .orderBy("query_id")
    },
    // Lloyd-iteration convergence monitor — the stopping criterion
    // sim_kmeans_step (one refinement step) doesn't answer: run TWO
    // assignment→recompute rounds from the label seeds and report each
    // cluster's centroid DISPLACEMENT between rounds (exact integer
    // Σ(c1_i − c2_i)² over the quantized grid — zero means that cluster
    // is at its fixpoint). A trainer loops exactly this until max
    // displacement under ε. Shape: the corpus meets the k broadcast
    // centroids twice (the whitelisted kmeans fan-out, once per round);
    // everything after the two argmax aggregates is k-row metadata.
    // Clusters emptied by round 2 drop from the (inner) displacement
    // join — on this corpus every seed cluster survives (spec-pinned).
    "sim_kmeans_convergence" -> { (s, d) =>
      import graft.functions.aggregates.vec_sum_longs
      val base = quantizedBase(Tables(s, d).embeddings).persist()
      def assign(cent: DataFrame): DataFrame =
        base.join(broadcast(cent))
          .select(col("vec_id"), struct(
            cosSim(col("nn"), col("cnn"), col("qv"), col("cvec")).as("sim"),
            (-col("clabel")).as("nl"),
            col("qv").as("qv")).as("sc"))
          .groupBy("vec_id")
          .agg(max(col("sc")).as("best"))
          .select(col("best.qv").as("qv"), (-col("best.nl")).as("cluster"))
      def centroids(assigned: DataFrame): DataFrame =
        assigned.groupBy("cluster")
          .agg(vec_sum_longs(col("qv")).as("svec"),
            count(col("qv")).as("n"))
          .select(col("cluster").as("clabel"),
            transform(col("svec"),
              sv => floor(sv * lit(1000) / col("n")).cast("long"))
              .as("cvec"),
            col("n"))
          .withColumn("cnn", aggregate(transform(col("cvec"), x => x * x),
            lit(0L), (a, x) => a + x))
      val c1 = centroids(assign(labelCentroidsL(base))).persist()
      val c2 = centroids(assign(c1))
      c1.as("a").join(c2.as("b"), col("a.clabel") === col("b.clabel"))
        .select(col("a.clabel").as("cluster"),
          col("a.n").as("n_round1"), col("b.n").as("n_round2"),
          aggregate(zip_with(col("a.cvec"), col("b.cvec"),
            (x, y) => (x - y) * (x - y)), lit(0L), (a, x) => a + x)
            .as("disp2"))
        .withColumn("converged", col("disp2") === 0L)
        .orderBy("cluster")
    },
    // Index shard plan — the serving-side step after the IVF family: the
    // inverted lists (the per-label corpus partitions sim_ann_ivf probes)
    // must be placed on k index servers with balanced vector load, or the
    // hottest shard gates every query's tail latency. Deterministic
    // serpentine placement (rank lists by size desc, deal rank r to shard
    // r%k on even passes and k−1−(r%k) on odd — the boustrophedon
    // balancing heuristic, within one list of LPT on near-uniform sizes)
    // with a per-shard load readout: lists, vectors, and load_ratio =
    // k·load/total (1.0 = perfectly even). Shape: one label-keyed count
    // collapses the corpus to the list table (label-cardinality rows);
    // the rank window and rollup run on that metadata-scale frame — the
    // "window over everything" is safe because lists, not vectors, are
    // the rows.
    "sim_shard_plan" -> { (s, d) =>
      val k = 4
      val lists = Tables(s, d).embeddings.filter(col("vec_id") >= 10)
        .groupBy("label").agg(count(lit(1)).as("n_vecs"))
      val wr = Window.orderBy(col("n_vecs").desc, col("label").asc)
      val assigned = lists
        .withColumn("r", (row_number().over(wr) - 1).cast("long"))
        .withColumn("pos", pmod(col("r"), lit(k.toLong)))
        .withColumn("shard",
          when(pmod(col("r").divide(lit(k)).cast("long"), lit(2L)) === 0L,
            col("pos")).otherwise(lit((k - 1).toLong) - col("pos")))
      val wAll = Window.orderBy(col("shard"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      assigned.groupBy("shard")
        .agg(count(lit(1)).as("n_lists"), sum(col("n_vecs")).as("n_vectors"))
        .withColumn("total", sum(col("n_vectors")).over(wAll))
        .select(col("shard"), col("n_lists"), col("n_vectors"),
          (col("n_vectors").cast("double") * k /
            col("total").cast("double")).as("load_ratio"))
        .orderBy("shard")
    },
    // IVF list-balance panel — the health check BEFORE committing to an
    // IVF layout (sim_shard_plan packs lists; this decides whether the
    // lists are usable at all): per coarse cell, the corpus share a
    // 1-probe query scans and the load factor vs a perfectly even split
    // (n·k/total — cross-multiplied exact integers, ONE division). A
    // load factor far above 1 means the hot cell dominates every probe —
    // the signal to re-train or split the cell. One partial+final count
    // plus a 1-row broadcast.
    "sim_cluster_balance" -> { (s, d) =>
      val lists = Tables(s, d).embeddings.filter(col("vec_id") >= 10)
        .groupBy("label").agg(count(lit(1)).as("n_vecs"))
      val tot = lists.agg(sum(col("n_vecs")).as("n_total"),
        count(lit(1)).as("k"))
      lists.crossJoin(broadcast(tot))
        .select(col("label"), col("n_vecs"),
          (col("n_vecs").cast("double") / col("n_total").cast("double"))
            .as("scan_share"),
          ((col("n_vecs") * col("k")).cast("double") /
            col("n_total").cast("double")).as("load_factor"))
        .orderBy("label")
    },
    // Pairwise centroid affinity — the cluster-confusion matrix: cosine
    // between every pair of label centroids (k(k-1)/2 rows). High
    // affinity = clusters an ANN probe will cross-talk between (the
    // nprobe>1 motivation) and the merge candidates for SemDeDup-style
    // semantic dedup. Centroids via the shared one-pass vec_sum_longs
    // aggregate; the pair join is a k-row x k-row broadcast nested loop
    // (k = 10 — METADATA scale, never corpus scale; the corpus touches
    // only the centroid aggregate).
    "sim_centroid_affinity" -> { (s, d) =>
      val base = quantizedBase(
        Tables(s, d).embeddings.filter(col("embedding").isNotNull))
      val cents = labelCentroids(base)
      val a = cents.select(col("label").as("label_a"),
        col("cvec").as("va"), col("cnn").as("na"))
      val b = cents.select(col("label").as("label_b"),
        col("cvec").as("vb"), col("cnn").as("nb"))
      a.join(broadcast(b), col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"),
          cosSim(col("na"), col("nb"), col("va"), col("vb")).as("csim"))
        .orderBy("label_a", "label_b")
    }
  )

  /** Binary-quantization + Hamming-rerank core over any
    * (vec_id, embedding) frame — separated so specs can plant clones and
    * sign-flips with hand-computable codes. See `sim_ann_hamming`.
    *
    * CACHE LIFETIME CONTRACT: the packed-code frame is persisted (read by
    * the query side, the corpus side and the rerank fetch); the CALLER
    * owns release, as with [[lshTopkFrom]].
    */
  private[graft] def hammingTopkFrom(e0: DataFrame): DataFrame = {
    def word(qv: Column, lo: Int): Column =
      aggregate(slice(qv, lo + 1, 32), lit(0L),
        (a, x) => a * 2 + when(x > 0L, 1L).otherwise(0L))
    val packed = e0
      .select(col("vec_id"), col("embedding"),
        quantize(col("embedding")).as("qv"))
      .select(col("vec_id"), col("embedding"),
        word(col("qv"), 0).as("w1"), word(col("qv"), 32).as("w2"))
      .persist() // codes read by query + corpus sides and the rerank
    val qCodes = packed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        col("w1").as("qw1"), col("w2").as("qw2"))
    val wSh = Window.partitionBy("query_id")
      .orderBy(col("ham").asc, col("vec_id").asc)
    val shortlist = packed.filter(col("vec_id") >= 10)
      .select(col("vec_id"), col("w1"), col("w2"))
      .join(broadcast(qCodes)) // 10-query code set against corpus codes
      .select(col("query_id"), col("vec_id"),
        (bit_count(col("w1").bitwiseXOR(col("qw1"))) +
          bit_count(col("w2").bitwiseXOR(col("qw2"))))
          .cast("int").as("ham"))
      .withColumn("rn", row_number().over(wSh))
      .filter(col("rn") <= 20)
      .select("query_id", "vec_id", "ham")
    // stage 2: fetch the 20 shortlisted full vectors per query and rerank
    val qVecs = packed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val wRk = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    packed.select(col("vec_id"), col("embedding"))
      .join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(qVecs), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("ham"),
        quant_cosine(col("qe"), col("embedding")).as("cos"))
      .withColumn("rk", row_number().over(wRk))
      .filter(col("rk") <= 5)
      .select("query_id", "vec_id", "ham", "cos", "rk")
      .orderBy("query_id", "rk")
  }

  /** Greedy maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998) over any (vec_id, embedding) frame — see
    * `sim_mmr_diversify`. Five unrolled greedy rounds: each picks the
    * not-yet-selected candidate maximizing
    * 0.7·rel − 0.3·max(sim to selected), ties to the smaller vec_id.
    * Every round's frames are (queries × ≤10 candidates) — metadata
    * scale; the corpus is touched only by the top-10 relevance stage.
    *
    * CACHE LIFETIME CONTRACT: the candidate and pairwise-sim frames are
    * persisted (read by all five rounds); the CALLER owns release.
    */
  private[graft] def mmrDiversifyFrom(e: DataFrame): DataFrame = {
    val qs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val corpus = e.filter(col("vec_id") >= 10)
    val w10 = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("vec_id").asc)
    val cands = corpus.join(broadcast(qs))
      .select(col("query_id"), col("vec_id"), col("embedding"),
        quant_cosine(col("qe"), col("embedding")).as("rel"))
      .withColumn("rn", row_number().over(w10))
      .filter(col("rn") <= 10)
      .select("query_id", "vec_id", "embedding", "rel")
      .persist()
    val sims = cands.as("a")
      .join(cands.select(col("query_id"), col("vec_id").as("vb"),
        col("embedding").as("eb")).as("b"), Seq("query_id"))
      .filter(col("vec_id") =!= col("vb"))
      .select(col("query_id"), col("vec_id"), col("vb"),
        quant_cosine(col("embedding"), col("eb")).as("sim"))
      .persist()
    val wPick = Window.partitionBy("query_id")
      .orderBy(col("mmr").desc, col("vec_id").asc)
    var sel = cands.select("query_id", "vec_id").filter(lit(false))
    var picks: DataFrame = null
    for (r <- 1 to 5) {
      val pen = sims
        .join(broadcast(sel.select(col("query_id"), col("vec_id").as("vb"))),
          Seq("query_id", "vb"))
        .groupBy("query_id", "vec_id").agg(max(col("sim")).as("pen"))
      // per-round lineage cut: the pick feeds BOTH next-round consumers
      // (the anti-join exclusion and the penalty set) — without the cut
      // each round replans all earlier rounds and the plan explodes
      // (measured 1124 scans + an SMJ at round 5); the frame is
      // queries-sized, the cut is trivial. Broadcasts are by
      // construction: sel/pen are ≤ queries×round rows.
      val pick = cands.select("query_id", "vec_id", "rel")
        .join(broadcast(sel), Seq("query_id", "vec_id"), "left_anti")
        .join(broadcast(pen), Seq("query_id", "vec_id"), "left")
        .withColumn("mmr", lit(0.7) * col("rel") -
          lit(0.3) * coalesce(col("pen"), lit(0.0)))
        .withColumn("rk", row_number().over(wPick))
        .filter(col("rk") === 1)
        .select(col("query_id"), lit(r).as("rank"), col("vec_id"),
          col("rel"), col("mmr"))
        .cutLineage()
      sel = sel.unionAll(pick.select("query_id", "vec_id"))
      picks = if (picks == null) pick else picks.unionAll(pick)
    }
    picks.orderBy("query_id", "rank")
  }

  /** Int8 scalar-quantization audit core over any (label, embedding)
    * frame — separated so specs can replay calibration + error bounds on
    * planted ranges. See `sim_quantize_int8`.
    */
  private[graft] def int8AuditFrom(s: SparkSession, e0: DataFrame)
      : DataFrame = {
    val elems = e0
      .select(col("label"), posexplode(col("embedding")).as(Seq("i0", "x0")))
      .select(col("label"), (col("i0") + 1).as("i"),
        col("x0").cast("double").as("x"))
    val stats = elems.groupBy("i")
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val err = elems.join(broadcast(stats), Seq("i"))
      .withColumn("c",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(greatest(
            floor((col("x") - col("mn")) * lit(255.0) /
              (col("mx") - col("mn"))), lit(0.0)), lit(255.0))
            .cast("long")))
      .withColumn("err", col("x") -
        (col("mn") + (col("c").cast("double") + lit(0.5)) *
          (col("mx") - col("mn")) / lit(255.0)))
    err.groupBy("label")
      .agg(count(lit(1)).as("n_elems"),
        Oracle.dsum(col("err") * col("err") * lit(1.0e9)).as("se9"),
        max(abs(col("err"))).as("max_abs_err"))
      .select(col("label"), col("n_elems"),
        ((col("se9") / lit(1.0e9)) / col("n_elems").cast("double"))
          .as("mse"),
        col("max_abs_err"))
      .orderBy("label")
  }

  /** The centroid-silhouette core over any (vec_id, label, embedding)
    * frame — separated so specs can plant clusters with hand-computable
    * integer distances. See the `sim_silhouette` query comment.
    */
  def silhouetteFrom(emb: DataFrame): DataFrame = {
      val base = emb
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("label"),
          quantize(col("embedding")).as("qv"))
      val cent = base.groupBy(col("label").as("clabel"))
        .agg(graft.functions.aggregates.vec_sum_longs(col("qv"))
            .as("svec"),
          count(col("qv")).as("cnt"))
        .select(col("clabel"),
          transform(col("svec"),
            sv => floor(sv * lit(1000) / col("cnt")).cast("long"))
            .as("cv"))
      val d2 = aggregate(zip_with(col("qv"), col("cv"),
          (q, c) => (q * lit(1000) - c) * (q * lit(1000) - c)),
        lit(0L), (a, x) => a + x)
      val per = base.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("label"), col("clabel"), d2.as("d2"))
        .groupBy("vec_id", "label")
        .agg(min(when(col("clabel") === col("label"), col("d2")))
            .as("a2"),
          min(when(col("clabel") =!= col("label"), col("d2"))).as("b2"))
      val sil = (sqrt(col("b2").cast("double")) -
        sqrt(col("a2").cast("double"))) /
        greatest(sqrt(col("a2").cast("double")),
          sqrt(col("b2").cast("double")))
      per.select(col("label"), sil.as("s"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          graft.ops.Oracle.dsum(col("s")).as("sum_silhouette"))
        .select(col("label"), col("n"), col("sum_silhouette"),
          (col("sum_silhouette") / col("n").cast("double"))
            .as("avg_silhouette"))
        .orderBy("label")
  }

  /** The PQ encode+ADC core over any frame with (vec_id, embedding) —
    * see the `sim_ann_pq` notes above. Separated so specs can replay the
    * declared semantics (codes + ADC ranking) on planted vectors. The
    * embedding dimension must be M·sub = 64 (the fixed-dimension contract
    * of the embeddings table).
    */
  /** Brute-force top-5 as DuckDB CTEs (`bdot`/`bscored`/`btop`) — assumes
    * `q` (vec_id, i, v) and `n` (vec_id, nn) CTEs upstream; the shared
    * ground-truth half of every recall oracle.
    */
  private val bruteTopSql =
    """bdot AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
      |           sum(a.v * b.v) AS dot
      |         FROM q a JOIN q b ON b.i = a.i AND b.vec_id >= 10
      |         WHERE a.vec_id < 10 GROUP BY 1, 2),
      |bscored AS (SELECT query_id, bdot.vec_id AS vec_id,
      |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
      |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
      |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
      |  FROM bdot JOIN n na ON na.vec_id = query_id
      |            JOIN n nb ON nb.vec_id = bdot.vec_id),
      |btop AS (SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, vec_id ASC) AS rk FROM bscored) r
      |  WHERE rk <= 5)""".stripMargin

  /** Recall@5 final SELECT over `btop` (ground truth) and `itop`
    * (approximate top-5) CTEs.
    */
  private val recallTailSql =
    """SELECT b.query_id, CAST(count(l.vec_id) AS BIGINT) AS n_hit,
      |  CAST(count(l.vec_id) AS DOUBLE) / 5.0 AS recall_at_5
      |FROM btop b LEFT JOIN itop l
      |  ON l.query_id = b.query_id AND l.vec_id = b.vec_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Recall@5 readout — the shared shape of every `sim_ann_recall_*` row:
    * per query, how many of the approximate top-5 intersect the
    * brute-force top-5 (left-semi count), densified to all queries.
    * `bf` carries (query_id, vec_id) ground truth; `approx` any frame
    * with (query_id, vec_id) in its columns.
    */
  private def recallAt5(bf: DataFrame, approx: DataFrame): DataFrame = {
    val ap = approx.select(col("query_id").as("lq"), col("vec_id").as("lv"))
    val hits = bf.join(ap,
        col("query_id") === col("lq") && col("vec_id") === col("lv"),
        "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    bf.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / 5.0)
          .as("recall_at_5"))
      .orderBy("query_id")
  }

  def pqTopkFrom(emb: DataFrame): DataFrame = {
    val base = emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val coded = pqEncode(base)
    val qs = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"))
    val scored = coded.filter(col("vec_id") >= 10)
      .join(broadcast(qs))
      .select(col("query_id"), col("vec_id"), adcDist.as("adist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("query_id", "vec_id", "adist", "rk")
      .orderBy("query_id", "rk")
  }

  private val PqM = 4; private val PqSub = 16; private val PqK = 16

  /** Squared L2 between subspace m of a and subspace m of b (PqSub dims). */
  private def subdist(a: Column, b: Column, m: Column): Column =
    aggregate(zip_with(
      slice(a, m * lit(PqSub) + lit(1), lit(PqSub)),
      slice(b, m * lit(PqSub) + lit(1), lit(PqSub)),
      (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x)

  /** PQ-encode a (vec_id, qv, ...) frame: attaches the broadcast one-row
    * codebook column `cb` (the PqK smallest-vec_id vectors, cid-sorted)
    * and the per-vector `codes` array (argmin sub-centroid per subspace,
    * ties to the smallest centroid id). Extra input columns ride along.
    */
  private def pqEncode(base: DataFrame): DataFrame = {
    val cb = base.select(col("vec_id"), col("qv")).filter(col("vec_id") < PqK)
      .agg(sort_array(collect_list(struct(
        col("vec_id").cast("int").as("cid"), col("qv").as("cqv"))))
        .as("cb"))
    base.crossJoin(broadcast(cb))
      .withColumn("codes", transform(sequence(lit(0), lit(PqM - 1)), m =>
        element_at(array_sort(transform(col("cb"), e =>
          struct(subdist(col("qv"), e.getField("cqv"), m).as("dm"),
            e.getField("cid").as("cid")))), 1).getField("cid")))
  }

  /** ADC distance of query `qqv` to the codes/cb columns of a pqEncode
    * frame. element_at(cb, code+1) is direct indexing: vec_ids are
    * contiguous from 0 (fixed contract of the embeddings table, planted
    * likewise in specs), so the cid-sorted codebook holds cid=i-1 at
    * position i.
    */
  private def adcDist: Column =
    aggregate(sequence(lit(0), lit(PqM - 1)), lit(0L), (acc, m) =>
      acc + subdist(col("qqv"),
        element_at(col("cb"),
          element_at(col("codes"), m + lit(1)) + lit(1))
          .getField("cqv"), m))

  /** IVF-PQ: the production ANN composition — IVF's coarse quantizer
    * prunes the corpus to nprobe inverted lists per query, and within the
    * probed lists candidates are ranked by PQ ADC distance over their
    * 4-byte codes instead of exact scoring. At 100 TB this is the only
    * economical shape: the corpus is stored partitioned by list id with
    * only the codes column hot, a probe reads nprobe partitions of
    * codes (bytes per vector, not the raw floats), and the codebook +
    * query set broadcast. Exact integer arithmetic end to end (same
    * pieces as sim_ann_ivf and sim_ann_pq, both oracle-verified), so the
    * full composition replicates in DuckDB.
    */
  def ivfpqTopkFrom(emb: DataFrame, nprobe: Int): DataFrame = {
    val base = quantizedBase(emb)
      .persist() // read three times: centroids, codebook/encode, queries
    val centVec = labelCentroids(base)
    val queries = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        col("nn").as("qnn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("label").asc)
    val probes = queries.join(broadcast(centVec))
      .select(col("query_id"), col("label"),
        cosSim(col("qnn"), col("cnn"), col("qqv"), col("cvec"))
          .as("csim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nprobe)
      .select("query_id", "label")
    val coded = pqEncode(base.select(col("vec_id"), col("label"), col("qv")))
    val scored = coded.filter(col("vec_id") >= 10)
      .join(broadcast(probes), Seq("label"))
      .join(broadcast(queries.select(col("query_id"), col("qqv"))),
        Seq("query_id"))
      .select(col("query_id"), col("vec_id"), adcDist.as("adist"))
    val rw = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(rw))
      .filter(col("rk") <= 5)
      .select("query_id", "vec_id", "adist", "rk")
      .orderBy("query_id", "rk")
  }

  /** The SemDeDup core over any frame with (vec_id, label, embedding) —
    * see the `dedup_semantic` notes above. Separated so specs can plant
    * clone pairs (the uniform synthetic corpus has only a thin organic
    * tail above the threshold).
    *
    * CACHE LIFETIME CONTRACT: `base` and `assigned` are persisted (each is
    * read twice — centroid build + scoring, and both sides of the pair
    * join); the CALLER owns release via `spark.catalog.clearCache()`, as
    * with [[lshTopkFrom]].
    */
  private[graft] def semanticDupsFrom(emb: DataFrame, tau: Double): DataFrame = {
    val base = quantizedBase(emb)
      .persist() // read twice: seed-centroid build + assignment scoring
    val centVec = labelCentroidsL(base)
    // argmax over the 10 broadcast centroids, exactly as kmeansStepFrom:
    // (sim, -label) inside one max struct so the k-way fan-out collapses
    // map-side; qv/nn ride in the struct for the pair join downstream
    val assigned = base.join(broadcast(centVec))
      .select(col("vec_id"), struct(
        cosSim(col("nn"), col("cnn"), col("qv"), col("cvec")).as("sim"),
        (-col("clabel")).as("nl"),
        col("qv").as("qv"), col("nn").as("nn")).as("sc"))
      .groupBy("vec_id")
      .agg(max(col("sc")).as("best"))
      .select(col("vec_id"), (-col("best.nl")).as("cluster"),
        col("best.qv").as("qv"), col("best.nn").as("nn"))
      .persist() // both sides of the within-cluster pair join
    val pairSim =
      cosSim(col("a.nn"), col("b.nn"), col("a.qv"), col("b.qv"))
    assigned.alias("a").join(assigned.alias("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"), col("a.vec_id").as("keep_id"),
        col("a.cluster").as("cluster"), pairSim.as("sim"))
      .filter(col("sim") >= tau)
      .groupBy("vec_id")
      .agg(min(col("keep_id")).as("kept_by"), max(col("sim")).as("max_sim"),
        // cluster is constant per vec_id (assignment is a function of the
        // vector); min() is just the aggregate spelling of "the value"
        min(col("cluster")).as("cluster"))
      .orderBy("vec_id")
  }

  /** The Lloyd-iteration core over any frame with (vec_id, label,
    * embedding) — see the `sim_kmeans_step` notes above. Separated so
    * specs can drive it with planted clusters (the uniform synthetic
    * corpus rarely reassigns anything).
    */
  /** The `sim_range_search` core: single-table 8-bit LSH bucket with
    * Hamming-1 multi-probe, exact cosine verify at `t` — separated so
    * the recall eval measures the SHIPPED search path. Unordered.
    */
  private[graft] def rangeSearchFrom(emb: DataFrame,
      t: Double = 0.2): DataFrame = {
    val e = emb
      .withColumn("bucket",
        element_at(lshBuckets(quantize(col("embedding")), 1, 8), 1))
      .persist()
    val probes = typedLit(0L +: (0 until 8).map(k => 1L << k))
    val qs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(transform(probes, m => col("bucket").bitwiseXOR(m)))
          .as("bucket"))
    e.filter(col("vec_id") >= 10)
      .join(broadcast(qs), Seq("bucket"))
      .select(col("query_id"), col("vec_id"),
        quant_cosine(col("qe"), col("embedding")).as("cos"))
      .filter(col("cos") >= t)
    // no dedup needed: the 9 probe buckets are distinct values and a
    // corpus vector holds ONE bucket, so each pair matches at most once
  }

  def kmeansStepFrom(emb: DataFrame): DataFrame = {
    val base = quantizedBase(emb)
      .persist() // read twice: seed-centroid build + assignment scoring
    val centVec = labelCentroidsL(base)
    // qv rides INSIDE the max struct rather than in the group key: the
    // argmax aggregate then sorts/hashes on the bare vec_id, and because
    // nl is distinct across centroids the (sim, nl) prefix always decides
    // a comparison before the D-element array would be touched
    val assigned = base.join(broadcast(centVec))
      .select(col("vec_id"), struct(
        cosSim(col("nn"), col("cnn"), col("qv"), col("cvec")).as("sim"),
        // ties: highest sim then SMALLEST label — max picks largest nl
        (-col("clabel")).as("nl"),
        col("qv").as("qv")).as("sc"))
      .groupBy("vec_id")
      .agg(max(col("sc")).as("best"))
      .select(col("best.qv").as("qv"), (-col("best.nl")).as("cluster"))
    val newCent = assigned.groupBy("cluster")
      .agg(graft.functions.aggregates.vec_sum_longs(col("qv")).as("svec"),
        count(col("qv")).as("n_members"))
    newCent
      .withColumn("cvec", transform(col("svec"),
        sv => floor(sv * lit(1000) / col("n_members")).cast("long")))
      .select(col("cluster"), col("n_members"),
        aggregate(col("cvec"), lit(0L), (a, x) => a + x).as("csum"),
        aggregate(transform(col("cvec"), x => x * x), lit(0L),
          (a, x) => a + x).as("csq"))
      .orderBy("cluster")
  }

  def oracles: Map[String, String] = {
    val base = Map(
    // Hamming replication: the shared quantize CTE, sign-bit words as a
    // sum of shifted weights (2^(32-i) within each half ≡ the Spark-side
    // Horner fold), xor+bit_count Hamming, row_number shortlist, then the
    // sim_topk_bruteforce exact-cosine CTEs restricted to the shortlist.
    "sim_ann_hamming" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5)
        |      AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |w AS (SELECT vec_id,
        |    sum(CASE WHEN i <= 32 AND v > 0
        |        THEN (CAST(1 AS BIGINT) << (32 - i)) ELSE 0 END) AS w1,
        |    sum(CASE WHEN i > 32 AND v > 0
        |        THEN (CAST(1 AS BIGINT) << (64 - i)) ELSE 0 END) AS w2
        |  FROM q GROUP BY vec_id),
        |ham AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
        |    CAST(bit_count(xor(a.w1, b.w1)) +
        |         bit_count(xor(a.w2, b.w2)) AS INT) AS ham
        |  FROM w a JOIN w b ON a.vec_id < 10 AND b.vec_id >= 10),
        |short AS (SELECT query_id, vec_id, ham FROM (
        |    SELECT query_id, vec_id, ham,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY ham ASC, vec_id ASC) AS rn FROM ham) r
        |  WHERE rn <= 20),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |p AS (SELECT s.query_id, s.vec_id, s.ham, sum(a.v * b.v) AS dot
        |  FROM short s JOIN q a ON a.vec_id = s.query_id
        |    JOIN q b ON b.vec_id = s.vec_id AND a.i = b.i
        |  GROUP BY 1, 2, 3),
        |scored AS (SELECT query_id, p.vec_id AS vec_id, ham,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
        |  FROM p JOIN n na ON na.vec_id = query_id
        |         JOIN n nb ON nb.vec_id = p.vec_id),
        |ranked AS (SELECT query_id, vec_id, ham, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS INT) AS rk FROM scored)
        |SELECT query_id, vec_id, ham, cos, rk FROM ranked
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // the sim_ann_hamming CTEs (codes, shortlist, rerank) next to the
    // sim_topk_bruteforce CTEs, intersected per query
    "sim_ann_recall_hamming" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5)
        |      AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |w AS (SELECT vec_id,
        |    sum(CASE WHEN i <= 32 AND v > 0
        |        THEN (CAST(1 AS BIGINT) << (32 - i)) ELSE 0 END) AS w1,
        |    sum(CASE WHEN i > 32 AND v > 0
        |        THEN (CAST(1 AS BIGINT) << (64 - i)) ELSE 0 END) AS w2
        |  FROM q GROUP BY vec_id),
        |ham AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
        |    CAST(bit_count(xor(a.w1, b.w1)) +
        |         bit_count(xor(a.w2, b.w2)) AS INT) AS ham
        |  FROM w a JOIN w b ON a.vec_id < 10 AND b.vec_id >= 10),
        |short AS (SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY ham ASC, vec_id ASC) AS rn FROM ham) r
        |  WHERE rn <= 20),
        |hdot AS (SELECT s.query_id, s.vec_id, sum(a.v * b.v) AS dot
        |  FROM short s JOIN q a ON a.vec_id = s.query_id
        |    JOIN q b ON b.vec_id = s.vec_id AND a.i = b.i
        |  GROUP BY 1, 2),
        |hscored AS (SELECT query_id, hdot.vec_id AS vec_id,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
        |  FROM hdot JOIN n na ON na.vec_id = query_id
        |            JOIN n nb ON nb.vec_id = hdot.vec_id),
        |htop AS (SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS rk FROM hscored)
        |  WHERE rk <= 5),
        |bdot AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
        |           sum(a.v * b.v) AS dot
        |         FROM q a JOIN q b ON b.i = a.i AND b.vec_id >= 10
        |         WHERE a.vec_id < 10 GROUP BY 1, 2),
        |bscored AS (SELECT query_id, bdot.vec_id AS vec_id,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
        |  FROM bdot JOIN n na ON na.vec_id = query_id
        |            JOIN n nb ON nb.vec_id = bdot.vec_id),
        |btop AS (SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS rk FROM bscored)
        |  WHERE rk <= 5)
        |SELECT b.query_id, CAST(count(h.vec_id) AS BIGINT) AS n_hit,
        |  CAST(count(h.vec_id) AS DOUBLE) / 5.0 AS recall_at_5
        |FROM btop b LEFT JOIN htop h
        |  ON h.query_id = b.query_id AND h.vec_id = b.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the sim_ann_mips CTEs verbatim next to the exact max-dot top-5,
    // intersected per query
    "sim_ann_recall_mips" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |mx AS (SELECT max(nn) AS m2 FROM n WHERE vec_id >= 10),
        |aug AS (SELECT n.vec_id,
        |    CAST(floor(sqrt(CAST(m2 - nn AS DOUBLE))) AS BIGINT) AS a
        |  FROM n CROSS JOIN mx WHERE n.vec_id >= 10),
        |qa AS (SELECT * FROM q
        |       UNION ALL
        |       SELECT e.vec_id, len(e.embedding) + 1 AS i, a.a AS v
        |       FROM embeddings e JOIN aug a ON a.vec_id = e.vec_id),
        |dots AS (SELECT vec_id, k,
        |           sum(v * (((k * 131 + (i - 1) * 31 + 7) % 61) - 30)) AS dt
        |         FROM qa CROSS JOIN
        |           (SELECT unnest(generate_series(0, 7)) AS k) pl
        |         GROUP BY 1, 2),
        |bkt AS (SELECT vec_id,
        |          CAST(sum(CASE WHEN dt > 0 THEN 1 << k ELSE 0 END) AS BIGINT)
        |            AS bucket
        |        FROM dots GROUP BY 1),
        |qs AS (SELECT vec_id AS query_id, xor(bucket, m) AS bucket
        |       FROM bkt CROSS JOIN
        |         (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS m) pr
        |       WHERE vec_id < 10),
        |pairs AS (SELECT query_id, c.vec_id
        |          FROM qs JOIN (SELECT vec_id, bucket FROM bkt
        |                        WHERE vec_id >= 10) c USING (bucket)),
        |mdot AS (SELECT p.query_id, p.vec_id,
        |          CAST(sum(a.v * b.v) AS BIGINT) AS dot
        |        FROM pairs p
        |        JOIN q a ON a.vec_id = p.query_id
        |        JOIN q b ON b.vec_id = p.vec_id AND b.i = a.i
        |        GROUP BY 1, 2),
        |mtop AS (SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY dot DESC, vec_id ASC) AS rk FROM mdot)
        |  WHERE rk <= 5),
        |bdt AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
        |           sum(a.v * b.v) AS dot
        |         FROM q a JOIN q b ON b.i = a.i AND b.vec_id >= 10
        |         WHERE a.vec_id < 10 GROUP BY 1, 2),
        |btop AS (SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY dot DESC, vec_id ASC) AS rk FROM bdt)
        |  WHERE rk <= 5)
        |SELECT b.query_id, CAST(count(m.vec_id) AS BIGINT) AS n_hit,
        |  CAST(count(m.vec_id) AS DOUBLE) / 5.0 AS recall_at_5
        |FROM btop b LEFT JOIN mtop m
        |  ON m.query_id = b.query_id AND m.vec_id = b.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the sim_topk_bruteforce CTEs widened to top-10 candidates, the
    // candidate-pair cosine matrix, then the five greedy rounds CTE for
    // CTE: pen_r joins sims against the selected set, p_r is the
    // row_number argmax over the not-yet-selected candidates, sel_r
    // accumulates
    "sim_mmr_diversify" -> {
      def rounds = (1 to 5).map { r =>
        s"""pen$r AS (SELECT s.query_id, s.va AS vec_id, max(s.sim) AS pen
           |  FROM sims s JOIN sel${r - 1} z ON z.query_id = s.query_id
           |    AND z.vec_id = s.vb
           |  GROUP BY 1, 2),
           |p$r AS (SELECT query_id, $r AS rank, vec_id, rel, mmr FROM (
           |    SELECT c.query_id, c.vec_id, c.rel,
           |      0.7 * c.rel - 0.3 * COALESCE(pen, 0.0) AS mmr,
           |      row_number() OVER (PARTITION BY c.query_id
           |        ORDER BY 0.7 * c.rel - 0.3 * COALESCE(pen, 0.0) DESC,
           |          c.vec_id ASC) AS rk
           |    FROM cand c LEFT JOIN pen$r pp ON pp.query_id = c.query_id
           |      AND pp.vec_id = c.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} z
           |      WHERE z.query_id = c.query_id AND z.vec_id = c.vec_id)
           |  ) WHERE rk = 1),
           |sel$r AS (SELECT query_id, vec_id FROM sel${r - 1}
           |  UNION ALL SELECT query_id, vec_id FROM p$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT vec_id, i,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5)
         |      AS BIGINT) AS v
         |  FROM embeddings,
         |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
         |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
         |bdot AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |           sum(a.v * b.v) AS dot
         |         FROM q a JOIN q b ON b.i = a.i AND b.vec_id >= 10
         |         WHERE a.vec_id < 10 GROUP BY 1, 2),
         |bscored AS (SELECT query_id, bdot.vec_id AS vec_id,
         |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
         |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
         |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
         |  FROM bdot JOIN n na ON na.vec_id = query_id
         |            JOIN n nb ON nb.vec_id = bdot.vec_id),
         |cand AS (SELECT query_id, vec_id, cos AS rel FROM (
         |    SELECT query_id, vec_id, cos,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, vec_id ASC) AS rk FROM bscored)
         |  WHERE rk <= 10),
         |cdot AS (SELECT ca.query_id, ca.vec_id AS va, cb.vec_id AS vb,
         |    sum(x.v * y.v) AS dot
         |  FROM cand ca JOIN cand cb ON cb.query_id = ca.query_id
         |    AND cb.vec_id <> ca.vec_id
         |  JOIN q x ON x.vec_id = ca.vec_id
         |  JOIN q y ON y.vec_id = cb.vec_id AND y.i = x.i
         |  GROUP BY 1, 2, 3),
         |sims AS (SELECT query_id, va, vb,
         |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
         |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
         |           sqrt(CAST(nb.nn AS DOUBLE))) END AS sim
         |  FROM cdot JOIN n na ON na.vec_id = va
         |            JOIN n nb ON nb.vec_id = vb),
         |sel0 AS (SELECT query_id, vec_id FROM cand WHERE 1 = 0),
         |$rounds
         |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, rel, mmr
         |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
         |      UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4
         |      UNION ALL SELECT * FROM p5)
         |ORDER BY query_id, rank""".stripMargin
    },
    "sim_quantize_int8" ->
      s"""WITH e AS (SELECT label, i, CAST(embedding[i] AS DOUBLE) AS x
         |  FROM embeddings,
         |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
         |st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM e GROUP BY i),
         |r AS (SELECT label, x -
         |    (mn + (CAST(CASE WHEN mx = mn THEN 0
         |       ELSE CAST(least(greatest(
         |         floor((x - mn) * 255.0 / (mx - mn)), 0.0), 255.0)
         |         AS BIGINT) END AS DOUBLE) + 0.5) *
         |      (mx - mn) / 255.0) AS err
         |  FROM e JOIN st USING (i))
         |SELECT label, count(*) AS n_elems,
         |  (${Oracle.sqlSum("err * err * 1.0e9")} / 1.0e9) /
         |    CAST(count(*) AS DOUBLE) AS mse,
         |  max(abs(err)) AS max_abs_err
         |FROM r GROUP BY label ORDER BY label""".stripMargin,
    "sim_norm_profile" ->
      """WITH q AS (SELECT vec_id, label,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5)
        |      AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding)))
        |      AS i) g),
        |nn AS (SELECT vec_id, label, CAST(sum(v * v) AS BIGINT) AS nn
        |  FROM q GROUP BY 1, 2)
        |SELECT label, count(*) AS n_vecs,
        |  count(CASE WHEN nn = 0 THEN 1 END) AS n_zero,
        |  min(nn) AS min_nn, max(nn) AS max_nn,
        |  quantile_cont(nn, 0.25) AS p25,
        |  quantile_cont(nn, 0.5) AS p50,
        |  quantile_cont(nn, 0.75) AS p75
        |FROM nn GROUP BY 1 ORDER BY label""".stripMargin,
    // Full replication of the LSH-bucketed ANN: the hyperplanes are plain
    // integer arithmetic (planeWeight above), so DuckDB recomputes the
    // 8-bit bucket signatures, the 9 multi-probe buckets, the candidate
    // equi-join and the quantized-cosine top-5 — the oracle checks bucket
    // assignment and probing, not just scores.
    // the sim_ann_lsh candidate CTEs verbatim with the threshold filter
    // in place of the rank-k window
    "sim_range_search" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |dots AS (SELECT vec_id, k,
        |           sum(v * (((k * 131 + (i - 1) * 31 + 7) % 61) - 30)) AS dt
        |         FROM q CROSS JOIN
        |           (SELECT unnest(generate_series(0, 7)) AS k) pl
        |         GROUP BY 1, 2),
        |bkt AS (SELECT vec_id,
        |          CAST(sum(CASE WHEN dt > 0 THEN 1 << k ELSE 0 END) AS BIGINT)
        |            AS bucket
        |        FROM dots GROUP BY 1),
        |qs AS (SELECT vec_id AS query_id, xor(bucket, m) AS bucket
        |       FROM bkt CROSS JOIN
        |         (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS m) pr
        |       WHERE vec_id < 10),
        |pairs AS (SELECT query_id, c.vec_id
        |          FROM qs JOIN (SELECT vec_id, bucket FROM bkt
        |                        WHERE vec_id >= 10) c USING (bucket)),
        |dot AS (SELECT p.query_id, p.vec_id, sum(a.v * b.v) AS dot
        |        FROM pairs p
        |        JOIN q a ON a.vec_id = p.query_id
        |        JOIN q b ON b.vec_id = p.vec_id AND b.i = a.i
        |        GROUP BY 1, 2),
        |scored AS (SELECT query_id, dot.vec_id AS vec_id,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
        |  FROM dot JOIN n na ON na.vec_id = query_id
        |           JOIN n nb ON nb.vec_id = dot.vec_id)
        |SELECT query_id, vec_id, cos FROM scored
        |WHERE cos >= 0.2 ORDER BY query_id, vec_id""".stripMargin,
    // the sim_range_search CTE chain as the found set, the brute radius
    // query as the truth set, per-query rollup with the vacuous-1.0 rule
    "sim_range_recall" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |dots AS (SELECT vec_id, k,
        |           sum(v * (((k * 131 + (i - 1) * 31 + 7) % 61) - 30)) AS dt
        |         FROM q CROSS JOIN
        |           (SELECT unnest(generate_series(0, 7)) AS k) pl
        |         GROUP BY 1, 2),
        |bkt AS (SELECT vec_id,
        |          CAST(sum(CASE WHEN dt > 0 THEN 1 << k ELSE 0 END) AS BIGINT)
        |            AS bucket
        |        FROM dots GROUP BY 1),
        |qs AS (SELECT vec_id AS query_id, xor(bucket, m) AS bucket
        |       FROM bkt CROSS JOIN
        |         (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS m) pr
        |       WHERE vec_id < 10),
        |pairs AS (SELECT query_id, c.vec_id
        |          FROM qs JOIN (SELECT vec_id, bucket FROM bkt
        |                        WHERE vec_id >= 10) c USING (bucket)),
        |tdot AS (SELECT a.vec_id AS query_id, b.vec_id, sum(a.v * b.v) AS dot
        |         FROM q a JOIN q b ON b.i = a.i AND b.vec_id >= 10
        |         WHERE a.vec_id < 10 GROUP BY 1, 2),
        |truth AS (SELECT query_id, tdot.vec_id FROM tdot
        |  JOIN n na ON na.vec_id = query_id
        |  JOIN n nb ON nb.vec_id = tdot.vec_id
        |  WHERE (CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END) >= 0.2),
        |hits AS (SELECT t.query_id, t.vec_id FROM truth t
        |  JOIN pairs p ON p.query_id = t.query_id AND p.vec_id = t.vec_id),
        |nt AS (SELECT query_id, count(*) AS n_true FROM truth GROUP BY 1),
        |nf AS (SELECT query_id, count(*) AS n_found FROM hits GROUP BY 1)
        |SELECT b.vec_id AS query_id,
        |  COALESCE(nt.n_true, 0) AS n_true,
        |  COALESCE(nf.n_found, 0) AS n_found,
        |  CASE WHEN COALESCE(nt.n_true, 0) > 0
        |    THEN CAST(COALESCE(nf.n_found, 0) AS DOUBLE) /
        |      CAST(nt.n_true AS DOUBLE)
        |    ELSE 1.0 END AS recall
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) b
        |LEFT JOIN nt ON nt.query_id = b.vec_id
        |LEFT JOIN nf ON nf.query_id = b.vec_id
        |ORDER BY query_id""".stripMargin,
    "sim_ann_lsh" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |dots AS (SELECT vec_id, k,
        |           sum(v * (((k * 131 + (i - 1) * 31 + 7) % 61) - 30)) AS dt
        |         FROM q CROSS JOIN
        |           (SELECT unnest(generate_series(0, 7)) AS k) pl
        |         GROUP BY 1, 2),
        |bkt AS (SELECT vec_id,
        |          CAST(sum(CASE WHEN dt > 0 THEN 1 << k ELSE 0 END) AS BIGINT)
        |            AS bucket
        |        FROM dots GROUP BY 1),
        |qs AS (SELECT vec_id AS query_id, xor(bucket, m) AS bucket
        |       FROM bkt CROSS JOIN
        |         (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS m) pr
        |       WHERE vec_id < 10),
        |pairs AS (SELECT query_id, c.vec_id
        |          FROM qs JOIN (SELECT vec_id, bucket FROM bkt
        |                        WHERE vec_id >= 10) c USING (bucket)),
        |dot AS (SELECT p.query_id, p.vec_id, sum(a.v * b.v) AS dot
        |        FROM pairs p
        |        JOIN q a ON a.vec_id = p.query_id
        |        JOIN q b ON b.vec_id = p.vec_id AND b.i = a.i
        |        GROUP BY 1, 2),
        |scored AS (SELECT query_id, dot.vec_id AS vec_id,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
        |  FROM dot JOIN n na ON na.vec_id = query_id
        |           JOIN n nb ON nb.vec_id = dot.vec_id),
        |ranked AS (SELECT query_id, vec_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS INT) AS rk
        |  FROM scored)
        |SELECT query_id, vec_id, cos, rk FROM ranked
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // MIPS via norm augmentation, replicated end-to-end: the corpus max
    // norm, the floored-sqrt augmentation coordinate (plane index D), the
    // augmented 8-bit signatures, the 9 probe buckets, and the EXACT
    // integer dot ranking. sum(BIGINT) comes back HUGEINT — the dot is
    // CAST back to BIGINT.
    "sim_ann_mips" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |mx AS (SELECT max(nn) AS m2 FROM n WHERE vec_id >= 10),
        |aug AS (SELECT n.vec_id,
        |    CAST(floor(sqrt(CAST(m2 - nn AS DOUBLE))) AS BIGINT) AS a
        |  FROM n CROSS JOIN mx WHERE n.vec_id >= 10),
        |qa AS (SELECT * FROM q
        |       UNION ALL
        |       SELECT e.vec_id, len(e.embedding) + 1 AS i, a.a AS v
        |       FROM embeddings e JOIN aug a ON a.vec_id = e.vec_id),
        |dots AS (SELECT vec_id, k,
        |           sum(v * (((k * 131 + (i - 1) * 31 + 7) % 61) - 30)) AS dt
        |         FROM qa CROSS JOIN
        |           (SELECT unnest(generate_series(0, 7)) AS k) pl
        |         GROUP BY 1, 2),
        |bkt AS (SELECT vec_id,
        |          CAST(sum(CASE WHEN dt > 0 THEN 1 << k ELSE 0 END) AS BIGINT)
        |            AS bucket
        |        FROM dots GROUP BY 1),
        |qs AS (SELECT vec_id AS query_id, xor(bucket, m) AS bucket
        |       FROM bkt CROSS JOIN
        |         (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS m) pr
        |       WHERE vec_id < 10),
        |pairs AS (SELECT query_id, c.vec_id
        |          FROM qs JOIN (SELECT vec_id, bucket FROM bkt
        |                        WHERE vec_id >= 10) c USING (bucket)),
        |dot AS (SELECT p.query_id, p.vec_id,
        |          CAST(sum(a.v * b.v) AS BIGINT) AS dot
        |        FROM pairs p
        |        JOIN q a ON a.vec_id = p.query_id
        |        JOIN q b ON b.vec_id = p.vec_id AND b.i = a.i
        |        GROUP BY 1, 2),
        |ranked AS (SELECT query_id, vec_id, dot,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY dot DESC, vec_id ASC) AS INT) AS rk
        |  FROM dot)
        |SELECT query_id, vec_id, dot, rk FROM ranked
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // Recall evaluation: BOTH pipelines (multi-probe LSH and brute force)
    // replicated in full, then the per-query intersection count — the
    // recall numbers are oracle-exact.
    "sim_ann_recall" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |dots AS (SELECT vec_id, k,
        |           sum(v * (((k * 131 + (i - 1) * 31 + 7) % 61) - 30)) AS dt
        |         FROM q CROSS JOIN
        |           (SELECT unnest(generate_series(0, 7)) AS k) pl
        |         GROUP BY 1, 2),
        |bkt AS (SELECT vec_id,
        |          CAST(sum(CASE WHEN dt > 0 THEN 1 << k ELSE 0 END) AS BIGINT)
        |            AS bucket
        |        FROM dots GROUP BY 1),
        |qs AS (SELECT vec_id AS query_id, xor(bucket, m) AS bucket
        |       FROM bkt CROSS JOIN
        |         (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS m) pr
        |       WHERE vec_id < 10),
        |pairs AS (SELECT query_id, c.vec_id
        |          FROM qs JOIN (SELECT vec_id, bucket FROM bkt
        |                        WHERE vec_id >= 10) c USING (bucket)),
        |ldot AS (SELECT p.query_id, p.vec_id, sum(a.v * b.v) AS dot
        |        FROM pairs p
        |        JOIN q a ON a.vec_id = p.query_id
        |        JOIN q b ON b.vec_id = p.vec_id AND b.i = a.i
        |        GROUP BY 1, 2),
        |lscored AS (SELECT query_id, ldot.vec_id AS vec_id,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
        |  FROM ldot JOIN n na ON na.vec_id = query_id
        |            JOIN n nb ON nb.vec_id = ldot.vec_id),
        |ltop AS (SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS rk FROM lscored)
        |  WHERE rk <= 5),
        |bdot AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
        |           sum(a.v * b.v) AS dot
        |         FROM q a JOIN q b ON b.i = a.i AND b.vec_id >= 10
        |         WHERE a.vec_id < 10 GROUP BY 1, 2),
        |bscored AS (SELECT query_id, bdot.vec_id AS vec_id,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
        |  FROM bdot JOIN n na ON na.vec_id = query_id
        |            JOIN n nb ON nb.vec_id = bdot.vec_id),
        |btop AS (SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS rk FROM bscored)
        |  WHERE rk <= 5)
        |SELECT b.query_id, CAST(count(l.vec_id) AS BIGINT) AS n_hit,
        |  CAST(count(l.vec_id) AS DOUBLE) / 5.0 AS recall_at_5
        |FROM btop b LEFT JOIN ltop l
        |  ON l.query_id = b.query_id AND l.vec_id = b.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // two brute-force top-5s — full dims and the i <= 16 prefix (slicing
    // floats then quantizing == quantizing then slicing) — intersected
    "sim_recall_matryoshka" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |n16 AS (SELECT vec_id, sum(v * v) AS nn FROM q WHERE i <= 16
        |  GROUP BY vec_id),
        |bdot AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
        |           sum(a.v * b.v) AS dot
        |         FROM q a JOIN q b ON b.i = a.i AND b.vec_id >= 10
        |         WHERE a.vec_id < 10 GROUP BY 1, 2),
        |bscored AS (SELECT query_id, bdot.vec_id AS vec_id,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
        |  FROM bdot JOIN n na ON na.vec_id = query_id
        |            JOIN n nb ON nb.vec_id = bdot.vec_id),
        |btop AS (SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS rk FROM bscored)
        |  WHERE rk <= 5),
        |tdot AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
        |           sum(a.v * b.v) AS dot
        |         FROM q a JOIN q b ON b.i = a.i AND b.vec_id >= 10
        |           AND a.i <= 16
        |         WHERE a.vec_id < 10 GROUP BY 1, 2),
        |tscored AS (SELECT query_id, tdot.vec_id AS vec_id,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
        |  FROM tdot JOIN n16 na ON na.vec_id = query_id
        |            JOIN n16 nb ON nb.vec_id = tdot.vec_id),
        |ttop AS (SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS rk FROM tscored)
        |  WHERE rk <= 5)
        |SELECT b.query_id, CAST(count(t.vec_id) AS BIGINT) AS n_hit,
        |  CAST(count(t.vec_id) AS DOUBLE) / 5.0 AS recall_at_5
        |FROM btop b LEFT JOIN ttop t
        |  ON t.query_id = b.query_id AND t.vec_id = b.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // IVF replication: quantized centroids, nprobe=2 coarse assignment,
    // inverted-list probe, exact top-5 — assignment checked, not just
    // final scores.
    "sim_ann_ivf" ->
      """WITH q AS (SELECT vec_id, label, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |cent AS (SELECT label, i,
        |    CAST(floor(CAST(sum(v) * 1000 AS DOUBLE) / count(*)) AS BIGINT)
        |      AS cv
        |  FROM q GROUP BY 1, 2),
        |cn AS (SELECT label, sum(cv * cv) AS cnn FROM cent GROUP BY 1),
        |cdot AS (SELECT a.vec_id AS query_id, c.label, sum(a.v * c.cv) AS dot
        |         FROM q a JOIN cent c ON c.i = a.i
        |         WHERE a.vec_id < 10 GROUP BY 1, 2),
        |csim AS (SELECT query_id, cdot.label,
        |    CASE WHEN na.nn = 0 OR cn.cnn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(cn.cnn AS DOUBLE))) END AS sim
        |  FROM cdot JOIN n na ON na.vec_id = query_id
        |            JOIN cn ON cn.label = cdot.label),
        |probe AS (SELECT query_id, label FROM (
        |    SELECT query_id, label, row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, label ASC) AS rn FROM csim)
        |  WHERE rn <= 2),
        |cand AS (SELECT p.query_id, e.vec_id
        |         FROM probe p JOIN (SELECT DISTINCT vec_id, label
        |                            FROM embeddings WHERE vec_id >= 10) e
        |           USING (label)),
        |dt AS (SELECT c.query_id, c.vec_id, sum(a.v * b.v) AS dot
        |       FROM cand c
        |       JOIN q a ON a.vec_id = c.query_id
        |       JOIN q b ON b.vec_id = c.vec_id AND b.i = a.i
        |       GROUP BY 1, 2),
        |scored AS (SELECT query_id, dt.vec_id AS vec_id,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
        |  FROM dt JOIN n na ON na.vec_id = query_id
        |          JOIN n nb ON nb.vec_id = dt.vec_id),
        |ranked AS (SELECT query_id, vec_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS INT) AS rk
        |  FROM scored)
        |SELECT query_id, vec_id, cos, rk FROM ranked
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // the quantize/centroid CTEs, then: medoid entry, within-cell top-4
    // edges, and the three greedy steps unrolled (argmax via row_number
    // with the identical (cos DESC, vec_id ASC) tie order); the oracle
    // scores the full query×corpus matrix once for convenience — the
    // VALUES equal the engine's visited-candidates-only scoring
    "sim_ann_graph_greedy" -> {
      def stepSql(prev: String, out: String): String =
        s"""$out AS (SELECT query_id, vec_id, cos FROM (
           |  SELECT c.query_id, c.vec_id, c.cos, row_number() OVER (
           |      PARTITION BY c.query_id
           |      ORDER BY c.cos DESC, c.vec_id ASC) AS rn
           |  FROM (SELECT s.query_id, s.vec_id, s.cos FROM $prev s
           |        UNION ALL
           |        SELECT s.query_id, qc.vec_id, qc.cos FROM $prev s
           |        JOIN edges e ON e.src = s.vec_id
           |        JOIN qc ON qc.query_id = s.query_id
           |          AND qc.vec_id = e.dst) c) WHERE rn = 1)""".stripMargin
      """WITH q AS (SELECT vec_id, label, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |cent AS (SELECT label, i,
        |    CAST(floor(CAST(sum(v) * 1000 AS DOUBLE) / count(*)) AS BIGINT)
        |      AS cv
        |  FROM q GROUP BY 1, 2),
        |cn AS (SELECT label, sum(cv * cv) AS cnn FROM cent GROUP BY 1),
        |cdot AS (SELECT a.vec_id AS query_id, c.label, sum(a.v * c.cv) AS dot
        |         FROM q a JOIN cent c ON c.i = a.i
        |         WHERE a.vec_id < 10 GROUP BY 1, 2),
        |csim AS (SELECT query_id, cdot.label,
        |    CASE WHEN na.nn = 0 OR cn.cnn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(cn.cnn AS DOUBLE))) END AS sim
        |  FROM cdot JOIN n na ON na.vec_id = query_id
        |            JOIN cn ON cn.label = cdot.label),
        |probe AS (SELECT query_id, label FROM (
        |    SELECT query_id, label, row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, label ASC) AS rn FROM csim)
        |  WHERE rn = 1),
        |mdot AS (SELECT b.vec_id, b.label, sum(b.v * c.cv) AS dot
        |         FROM q b JOIN cent c ON c.label = b.label AND c.i = b.i
        |         WHERE b.vec_id >= 10 GROUP BY 1, 2),
        |msim AS (SELECT mdot.vec_id, mdot.label,
        |    CASE WHEN nb.nn = 0 OR cn.cnn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(nb.nn AS DOUBLE)) *
        |           sqrt(CAST(cn.cnn AS DOUBLE))) END AS sim
        |  FROM mdot JOIN n nb ON nb.vec_id = mdot.vec_id
        |            JOIN cn ON cn.label = mdot.label),
        |med AS (SELECT label, vec_id AS entry FROM (
        |    SELECT label, vec_id, row_number() OVER (PARTITION BY label
        |      ORDER BY sim DESC, vec_id ASC) AS rn FROM msim)
        |  WHERE rn = 1),
        |pd AS (SELECT a.vec_id AS src, b.vec_id AS dst, sum(a.v * b.v) AS dot
        |       FROM q a JOIN q b ON a.label = b.label AND a.i = b.i
        |         AND a.vec_id <> b.vec_id
        |       WHERE a.vec_id >= 10 AND b.vec_id >= 10 GROUP BY 1, 2),
        |es AS (SELECT src, dst,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
        |  FROM pd JOIN n na ON na.vec_id = src
        |          JOIN n nb ON nb.vec_id = dst),
        |edges AS (SELECT src, dst FROM (
        |    SELECT src, dst, row_number() OVER (PARTITION BY src
        |      ORDER BY cos DESC, dst ASC) AS rn FROM es) WHERE rn <= 4),
        |qd AS (SELECT a.vec_id AS query_id, b.vec_id, sum(a.v * b.v) AS dot
        |       FROM q a JOIN q b ON a.i = b.i
        |       WHERE a.vec_id < 10 AND b.vec_id >= 10 GROUP BY 1, 2),
        |qc AS (SELECT query_id, qd.vec_id,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
        |  FROM qd JOIN n na ON na.vec_id = query_id
        |          JOIN n nb ON nb.vec_id = qd.vec_id),
        |s0 AS (SELECT p.query_id, qc.vec_id, qc.cos
        |  FROM probe p JOIN med m USING (label)
        |  JOIN qc ON qc.query_id = p.query_id AND qc.vec_id = m.entry),
        |""".stripMargin +
        stepSql("s0", "s1") + ",\n" + stepSql("s1", "s2") + ",\n" +
        stepSql("s2", "s3") + "\n" +
        """SELECT query_id, CAST(step AS INT) AS step, vec_id, cos FROM (
          |  SELECT query_id, 0 AS step, vec_id, cos FROM s0
          |  UNION ALL SELECT query_id, 1, vec_id, cos FROM s1
          |  UNION ALL SELECT query_id, 2, vec_id, cos FROM s2
          |  UNION ALL SELECT query_id, 3, vec_id, cos FROM s3)
          |ORDER BY query_id, step""".stripMargin
    },
    // the same quantize/centroid arithmetic keyed by parity cohort, then
    // one cosine per label
    "sim_embedding_drift" ->
      """WITH q AS (SELECT vec_id, label, vec_id % 2 AS half, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |cent AS (SELECT label, half, i,
        |    CAST(floor(CAST(sum(v) * 1000 AS DOUBLE) / count(*)) AS BIGINT)
        |      AS cv
        |  FROM q GROUP BY 1, 2, 3),
        |cn AS (SELECT label, half, sum(cv * cv) AS cnn
        |  FROM cent GROUP BY 1, 2),
        |ct AS (SELECT label, half, count(DISTINCT vec_id) AS cnt
        |  FROM q GROUP BY 1, 2),
        |dt AS (SELECT a.label, sum(a.cv * b.cv) AS dot
        |  FROM cent a JOIN cent b ON a.label = b.label AND a.i = b.i
        |  WHERE a.half = 0 AND b.half = 1 GROUP BY 1)
        |SELECT dt.label, ce.cnt AS n_even, co.cnt AS n_odd,
        |  CASE WHEN n0.cnn = 0 OR n1.cnn = 0 THEN 0.0
        |       ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(n0.cnn AS DOUBLE)) *
        |         sqrt(CAST(n1.cnn AS DOUBLE))) END AS drift_cos
        |FROM dt
        |JOIN ct ce ON ce.label = dt.label AND ce.half = 0
        |JOIN ct co ON co.label = dt.label AND co.half = 1
        |JOIN cn n0 ON n0.label = dt.label AND n0.half = 0
        |JOIN cn n1 ON n1.label = dt.label AND n1.half = 1
        |ORDER BY dt.label""".stripMargin,
    // the sim_ann_ivf CTE chain verbatim through `scored`, plus the
    // brute-force top-5 CTEs from sim_ann_recall, joined into recall@5
    "sim_ann_recall_ivf" ->
      """WITH q AS (SELECT vec_id, label, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |cent AS (SELECT label, i,
        |    CAST(floor(CAST(sum(v) * 1000 AS DOUBLE) / count(*)) AS BIGINT)
        |      AS cv
        |  FROM q GROUP BY 1, 2),
        |cn AS (SELECT label, sum(cv * cv) AS cnn FROM cent GROUP BY 1),
        |cdot AS (SELECT a.vec_id AS query_id, c.label, sum(a.v * c.cv) AS dot
        |         FROM q a JOIN cent c ON c.i = a.i
        |         WHERE a.vec_id < 10 GROUP BY 1, 2),
        |csim AS (SELECT query_id, cdot.label,
        |    CASE WHEN na.nn = 0 OR cn.cnn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(cn.cnn AS DOUBLE))) END AS sim
        |  FROM cdot JOIN n na ON na.vec_id = query_id
        |            JOIN cn ON cn.label = cdot.label),
        |probe AS (SELECT query_id, label FROM (
        |    SELECT query_id, label, row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, label ASC) AS rn FROM csim)
        |  WHERE rn <= 2),
        |cand AS (SELECT p.query_id, e.vec_id
        |         FROM probe p JOIN (SELECT DISTINCT vec_id, label
        |                            FROM embeddings WHERE vec_id >= 10) e
        |           USING (label)),
        |dt AS (SELECT c.query_id, c.vec_id, sum(a.v * b.v) AS dot
        |       FROM cand c
        |       JOIN q a ON a.vec_id = c.query_id
        |       JOIN q b ON b.vec_id = c.vec_id AND b.i = a.i
        |       GROUP BY 1, 2),
        |scored AS (SELECT query_id, dt.vec_id AS vec_id,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
        |  FROM dt JOIN n na ON na.vec_id = query_id
        |          JOIN n nb ON nb.vec_id = dt.vec_id),
        |itop AS (SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS rk FROM scored) r
        |  WHERE rk <= 5),
        |bdot AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
        |           sum(a.v * b.v) AS dot
        |         FROM q a JOIN q b ON b.i = a.i AND b.vec_id >= 10
        |         WHERE a.vec_id < 10 GROUP BY 1, 2),
        |bscored AS (SELECT query_id, bdot.vec_id AS vec_id,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
        |  FROM bdot JOIN n na ON na.vec_id = query_id
        |            JOIN n nb ON nb.vec_id = bdot.vec_id),
        |btop AS (SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS rk FROM bscored) r
        |  WHERE rk <= 5)
        |SELECT b.query_id, CAST(count(l.vec_id) AS BIGINT) AS n_hit,
        |  CAST(count(l.vec_id) AS DOUBLE) / 5.0 AS recall_at_5
        |FROM btop b LEFT JOIN itop l
        |  ON l.query_id = b.query_id AND l.vec_id = b.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sim_topk_bruteforce" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |p AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
        |        sum(a.v * b.v) AS dot
        |      FROM q a JOIN q b ON a.i = b.i
        |      WHERE a.vec_id < 10 AND b.vec_id >= 10
        |      GROUP BY 1, 2),
        |scored AS (SELECT query_id, p.vec_id AS vec_id,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
        |  FROM p JOIN n na ON na.vec_id = query_id
        |         JOIN n nb ON nb.vec_id = p.vec_id),
        |ranked AS (SELECT query_id, vec_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS INT) AS rk
        |  FROM scored)
        |SELECT query_id, vec_id, cos, rk FROM ranked
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // PQ replication: per-(vector, centroid, subspace) squared distances,
    // argmin code assignment (ties → smallest cid), then ADC = the sum of
    // the QUERY's own subspace distances to the assigned centroids — all
    // exact integers, so assignment and ranking are both oracle-checked.
    "sim_ann_pq" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |dist AS (SELECT a.vec_id, b.vec_id AS cid, (a.i - 1) // 16 AS m,
        |           sum((a.v - b.v) * (a.v - b.v)) AS d
        |         FROM q a JOIN q b ON a.i = b.i AND b.vec_id < 16
        |         GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, m, cid FROM (
        |    SELECT vec_id, m, cid, row_number() OVER (PARTITION BY vec_id, m
        |      ORDER BY d ASC, cid ASC) AS rn FROM dist) r WHERE rn = 1),
        |qd AS (SELECT vec_id AS query_id, m, cid, d FROM dist
        |       WHERE vec_id < 10),
        |adc AS (SELECT qd.query_id, c.vec_id, CAST(sum(qd.d) AS BIGINT)
        |          AS adist
        |        FROM codes c JOIN qd ON qd.m = c.m AND qd.cid = c.cid
        |        WHERE c.vec_id >= 10 GROUP BY 1, 2),
        |ranked AS (SELECT query_id, vec_id, adist,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY adist ASC, vec_id ASC) AS INT) AS rk FROM adc)
        |SELECT query_id, vec_id, adist, rk FROM ranked WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    // PQ-trainer replication: the sim_ann_pq code-assignment CTEs
    // verbatim, then per-(m, code, dim) floored means and the integer
    // checksums
    "sim_pq_train_step" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |dist AS (SELECT a.vec_id, b.vec_id AS cid, (a.i - 1) // 16 AS m,
        |           sum((a.v - b.v) * (a.v - b.v)) AS d
        |         FROM q a JOIN q b ON a.i = b.i AND b.vec_id < 16
        |         GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, m, cid FROM (
        |    SELECT vec_id, m, cid, row_number() OVER (PARTITION BY vec_id, m
        |      ORDER BY d ASC, cid ASC) AS rn FROM dist) r WHERE rn = 1),
        |mem AS (SELECT c.m, c.cid AS code, a.i, a.v
        |        FROM q a JOIN codes c ON c.vec_id = a.vec_id
        |          AND c.m = (a.i - 1) // 16),
        |cent AS (SELECT m, code, i,
        |    CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS cv
        |  FROM mem GROUP BY 1, 2, 3),
        |cnt AS (SELECT m, cid AS code, count(*) AS n_members
        |  FROM codes GROUP BY 1, 2)
        |SELECT CAST(m AS INT) AS m, CAST(code AS INT) AS code, n_members,
        |  CAST(sum(cv) AS BIGINT) AS csum,
        |  CAST(sum(cv * cv) AS BIGINT) AS csq
        |FROM cent JOIN cnt USING (m, code)
        |GROUP BY m, code, n_members ORDER BY m, code""".stripMargin,
    // IVF-PQ replication: the sim_ann_ivf coarse-probe CTEs verbatim,
    // composed with the sim_ann_pq code/ADC CTEs verbatim — candidates
    // from the probed lists, ranked by ADC.
    "sim_ann_ivfpq" ->
      """WITH q AS (SELECT vec_id, label, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |cent AS (SELECT label, i,
        |    CAST(floor(CAST(sum(v) * 1000 AS DOUBLE) / count(*)) AS BIGINT)
        |      AS cv
        |  FROM q GROUP BY 1, 2),
        |cn AS (SELECT label, sum(cv * cv) AS cnn FROM cent GROUP BY 1),
        |cdot AS (SELECT a.vec_id AS query_id, c.label, sum(a.v * c.cv) AS dot
        |         FROM q a JOIN cent c ON c.i = a.i
        |         WHERE a.vec_id < 10 GROUP BY 1, 2),
        |csim AS (SELECT query_id, cdot.label,
        |    CASE WHEN na.nn = 0 OR cn.cnn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(cn.cnn AS DOUBLE))) END AS sim
        |  FROM cdot JOIN n na ON na.vec_id = query_id
        |            JOIN cn ON cn.label = cdot.label),
        |probe AS (SELECT query_id, label FROM (
        |    SELECT query_id, label, row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, label ASC) AS rn FROM csim)
        |  WHERE rn <= 2),
        |pdist AS (SELECT a.vec_id, b.vec_id AS cid, (a.i - 1) // 16 AS m,
        |           sum((a.v - b.v) * (a.v - b.v)) AS d
        |         FROM q a JOIN q b ON a.i = b.i AND b.vec_id < 16
        |         GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, m, cid FROM (
        |    SELECT vec_id, m, cid, row_number() OVER (PARTITION BY vec_id, m
        |      ORDER BY d ASC, cid ASC) AS rn FROM pdist) r WHERE rn = 1),
        |qd AS (SELECT vec_id AS query_id, m, cid, d FROM pdist
        |       WHERE vec_id < 10),
        |cand AS (SELECT p.query_id, e.vec_id
        |         FROM probe p JOIN (SELECT DISTINCT vec_id, label
        |                            FROM embeddings WHERE vec_id >= 10) e
        |           USING (label)),
        |adc AS (SELECT c.query_id, c.vec_id, CAST(sum(qd.d) AS BIGINT)
        |          AS adist
        |        FROM cand c JOIN codes co ON co.vec_id = c.vec_id
        |        JOIN qd ON qd.query_id = c.query_id AND qd.m = co.m
        |          AND qd.cid = co.cid
        |        GROUP BY 1, 2),
        |ranked AS (SELECT query_id, vec_id, adist,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY adist ASC, vec_id ASC) AS INT) AS rk FROM adc)
        |SELECT query_id, vec_id, adist, rk FROM ranked WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    // the shared brute CTEs label-blind, then both filter strategies:
    // pre ranks within the label-matched corpus, post ranks the blind
    // top-20 after the filter
    "sim_ann_filtered" ->
      s"""WITH q AS (SELECT vec_id, i,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
         |  FROM embeddings,
         |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
         |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
         |$bruteTopSql,
         |lab AS (SELECT DISTINCT vec_id, label FROM embeddings),
         |ql AS (SELECT vec_id AS query_id, label AS qlabel FROM lab
         |  WHERE vec_id < 10),
         |pre AS (SELECT query_id, vec_id FROM (
         |    SELECT s.query_id, s.vec_id,
         |      row_number() OVER (PARTITION BY s.query_id
         |        ORDER BY s.cos DESC, s.vec_id ASC) AS rk
         |    FROM bscored s JOIN lab cl ON cl.vec_id = s.vec_id
         |         JOIN ql ON ql.query_id = s.query_id
         |    WHERE cl.label = ql.qlabel) r WHERE rk <= 5),
         |post20 AS (SELECT query_id, vec_id, rk FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, vec_id ASC) AS rk
         |    FROM bscored) r WHERE rk <= 20),
         |post AS (SELECT query_id, vec_id FROM (
         |    SELECT p.query_id, p.vec_id,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY p.rk ASC) AS prk
         |    FROM post20 p JOIN lab cl ON cl.vec_id = p.vec_id
         |         JOIN ql ON ql.query_id = p.query_id
         |    WHERE cl.label = ql.qlabel) r WHERE prk <= 5),
         |ov AS (SELECT pre.query_id, count(*) AS n_overlap
         |  FROM pre JOIN post ON post.query_id = pre.query_id
         |    AND post.vec_id = pre.vec_id GROUP BY 1),
         |pc AS (SELECT query_id, count(*) AS n_pre FROM pre GROUP BY 1),
         |oc AS (SELECT query_id, count(*) AS n_post FROM post GROUP BY 1)
         |SELECT pc.query_id, n_pre, COALESCE(n_post, 0) AS n_post,
         |  COALESCE(n_overlap, 0) AS n_overlap
         |FROM pc LEFT JOIN oc USING (query_id) LEFT JOIN ov USING (query_id)
         |ORDER BY query_id""".stripMargin,
    // the three maximin argmaxes unrolled as CTEs (d_k = distances to
    // pick k, m_k = running min, c_k = argmax with the same tie rule)
    "sim_farthest_init" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |d0 AS (SELECT a.vec_id,
        |    CAST(sum((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS dd
        |  FROM q a JOIN q b ON b.i = a.i AND b.vec_id = 0
        |  WHERE a.vec_id <> 0 GROUP BY 1),
        |c1 AS (SELECT vec_id, dd FROM d0
        |  ORDER BY dd DESC, vec_id ASC LIMIT 1),
        |d1 AS (SELECT a.vec_id,
        |    CAST(sum((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS dd
        |  FROM q a JOIN c1 ON true
        |  JOIN q b ON b.i = a.i AND b.vec_id = c1.vec_id
        |  WHERE a.vec_id <> 0 AND a.vec_id <> c1.vec_id GROUP BY 1),
        |m1 AS (SELECT d0.vec_id, least(d0.dd, d1.dd) AS mind
        |  FROM d0 JOIN d1 USING (vec_id)),
        |c2 AS (SELECT vec_id, mind FROM m1
        |  ORDER BY mind DESC, vec_id ASC LIMIT 1),
        |d2 AS (SELECT a.vec_id,
        |    CAST(sum((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS dd
        |  FROM q a JOIN c2 ON true
        |  JOIN q b ON b.i = a.i AND b.vec_id = c2.vec_id
        |  WHERE a.vec_id <> 0 AND a.vec_id <> c2.vec_id GROUP BY 1),
        |m2 AS (SELECT m1.vec_id, least(m1.mind, d2.dd) AS mind
        |  FROM m1 JOIN d2 USING (vec_id)),
        |c3 AS (SELECT vec_id, mind FROM m2
        |  ORDER BY mind DESC, vec_id ASC LIMIT 1)
        |SELECT CAST(0 AS INT) AS round, CAST(0 AS BIGINT) AS vec_id,
        |  CAST(0 AS BIGINT) AS min_dist_sq
        |UNION ALL SELECT 1, vec_id, dd FROM c1
        |UNION ALL SELECT 2, vec_id, mind FROM c2
        |UNION ALL SELECT 3, vec_id, mind FROM c3
        |ORDER BY round""".stripMargin,
    // the sim_ann_ivf probe/candidate CTEs at nprobe=4 carrying the
    // probe rank, exact scoring ONCE over the superset, per-k top-5 by
    // restricting to prn <= k, the shared brute CTEs, 3-row union
    "sim_ivf_nprobe_curve" ->
      s"""WITH q AS (SELECT vec_id, label, i,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
         |  FROM embeddings,
         |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
         |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
         |cent AS (SELECT label, i,
         |    CAST(floor(CAST(sum(v) * 1000 AS DOUBLE) / count(*)) AS BIGINT)
         |      AS cv
         |  FROM q GROUP BY 1, 2),
         |cn AS (SELECT label, sum(cv * cv) AS cnn FROM cent GROUP BY 1),
         |cdot AS (SELECT a.vec_id AS query_id, c.label, sum(a.v * c.cv) AS dot
         |         FROM q a JOIN cent c ON c.i = a.i
         |         WHERE a.vec_id < 10 GROUP BY 1, 2),
         |csim AS (SELECT query_id, cdot.label,
         |    CASE WHEN na.nn = 0 OR cn.cnn = 0 THEN 0.0
         |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
         |           sqrt(CAST(cn.cnn AS DOUBLE))) END AS sim
         |  FROM cdot JOIN n na ON na.vec_id = query_id
         |            JOIN cn ON cn.label = cdot.label),
         |probe AS (SELECT query_id, label, rn FROM (
         |    SELECT query_id, label, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, label ASC) AS rn FROM csim)
         |  WHERE rn <= 4),
         |cand AS (SELECT p.query_id, e.vec_id, min(p.rn) AS prn
         |         FROM probe p JOIN (SELECT DISTINCT vec_id, label
         |                            FROM embeddings WHERE vec_id >= 10) e
         |           USING (label)
         |         GROUP BY 1, 2),
         |dt AS (SELECT c.query_id, c.vec_id, sum(a.v * b.v) AS dot
         |       FROM cand c
         |       JOIN q a ON a.vec_id = c.query_id
         |       JOIN q b ON b.vec_id = c.vec_id AND b.i = a.i
         |       GROUP BY 1, 2),
         |scored AS (SELECT dt.query_id, dt.vec_id AS vec_id, c.prn,
         |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
         |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
         |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
         |  FROM dt JOIN n na ON na.vec_id = dt.query_id
         |          JOIN n nb ON nb.vec_id = dt.vec_id
         |          JOIN cand c ON c.query_id = dt.query_id
         |            AND c.vec_id = dt.vec_id),
         |itop1 AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, vec_id ASC) AS rk
         |    FROM scored WHERE prn <= 1) r WHERE rk <= 5),
         |itop2 AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, vec_id ASC) AS rk
         |    FROM scored WHERE prn <= 2) r WHERE rk <= 5),
         |itop4 AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, vec_id ASC) AS rk
         |    FROM scored WHERE prn <= 4) r WHERE rk <= 5),
         |$bruteTopSql,
         |h1 AS (SELECT CAST(count(*) AS BIGINT) AS n_hit FROM btop b
         |  JOIN itop1 l ON l.query_id = b.query_id AND l.vec_id = b.vec_id),
         |h2 AS (SELECT CAST(count(*) AS BIGINT) AS n_hit FROM btop b
         |  JOIN itop2 l ON l.query_id = b.query_id AND l.vec_id = b.vec_id),
         |h4 AS (SELECT CAST(count(*) AS BIGINT) AS n_hit FROM btop b
         |  JOIN itop4 l ON l.query_id = b.query_id AND l.vec_id = b.vec_id)
         |SELECT CAST(1 AS INT) AS nprobe, n_hit,
         |  CAST(n_hit AS DOUBLE) / 50.0 AS mean_recall_at_5 FROM h1
         |UNION ALL SELECT 2, n_hit, CAST(n_hit AS DOUBLE) / 50.0 FROM h2
         |UNION ALL SELECT 4, n_hit, CAST(n_hit AS DOUBLE) / 50.0 FROM h4
         |ORDER BY nprobe""".stripMargin,
    // the sim_ann_pq CTE chain through its top-5, plus the brute-force
    // top-5 CTEs from sim_ann_recall, joined into recall@5
    "sim_ann_recall_pq" ->
      s"""WITH q AS (SELECT vec_id, i,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
         |  FROM embeddings,
         |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
         |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
         |dist AS (SELECT a.vec_id, b.vec_id AS cid, (a.i - 1) // 16 AS m,
         |           sum((a.v - b.v) * (a.v - b.v)) AS d
         |         FROM q a JOIN q b ON a.i = b.i AND b.vec_id < 16
         |         GROUP BY 1, 2, 3),
         |codes AS (SELECT vec_id, m, cid FROM (
         |    SELECT vec_id, m, cid, row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY d ASC, cid ASC) AS rn FROM dist) r WHERE rn = 1),
         |qd AS (SELECT vec_id AS query_id, m, cid, d FROM dist
         |       WHERE vec_id < 10),
         |adc AS (SELECT qd.query_id, c.vec_id, CAST(sum(qd.d) AS BIGINT)
         |          AS adist
         |        FROM codes c JOIN qd ON qd.m = c.m AND qd.cid = c.cid
         |        WHERE c.vec_id >= 10 GROUP BY 1, 2),
         |itop AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist ASC, vec_id ASC) AS rk FROM adc) r
         |  WHERE rk <= 5),
         |$bruteTopSql
         |$recallTailSql""".stripMargin,
    // the sim_ann_ivfpq CTE chain through its top-5, plus the brute-force
    // top-5 CTEs, joined into recall@5
    "sim_ann_recall_ivfpq" ->
      s"""WITH q AS (SELECT vec_id, label, i,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
         |  FROM embeddings,
         |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
         |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
         |cent AS (SELECT label, i,
         |    CAST(floor(CAST(sum(v) * 1000 AS DOUBLE) / count(*)) AS BIGINT)
         |      AS cv
         |  FROM q GROUP BY 1, 2),
         |cn AS (SELECT label, sum(cv * cv) AS cnn FROM cent GROUP BY 1),
         |cdot AS (SELECT a.vec_id AS query_id, c.label, sum(a.v * c.cv) AS dot
         |         FROM q a JOIN cent c ON c.i = a.i
         |         WHERE a.vec_id < 10 GROUP BY 1, 2),
         |csim AS (SELECT query_id, cdot.label,
         |    CASE WHEN na.nn = 0 OR cn.cnn = 0 THEN 0.0
         |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
         |           sqrt(CAST(cn.cnn AS DOUBLE))) END AS sim
         |  FROM cdot JOIN n na ON na.vec_id = query_id
         |            JOIN cn ON cn.label = cdot.label),
         |probe AS (SELECT query_id, label FROM (
         |    SELECT query_id, label, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, label ASC) AS rn FROM csim)
         |  WHERE rn <= 2),
         |pdist AS (SELECT a.vec_id, b.vec_id AS cid, (a.i - 1) // 16 AS m,
         |           sum((a.v - b.v) * (a.v - b.v)) AS d
         |         FROM q a JOIN q b ON a.i = b.i AND b.vec_id < 16
         |         GROUP BY 1, 2, 3),
         |codes AS (SELECT vec_id, m, cid FROM (
         |    SELECT vec_id, m, cid, row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY d ASC, cid ASC) AS rn FROM pdist) r WHERE rn = 1),
         |qd AS (SELECT vec_id AS query_id, m, cid, d FROM pdist
         |       WHERE vec_id < 10),
         |cand AS (SELECT p.query_id, e.vec_id
         |         FROM probe p JOIN (SELECT DISTINCT vec_id, label
         |                            FROM embeddings WHERE vec_id >= 10) e
         |           USING (label)),
         |adc AS (SELECT c.query_id, c.vec_id, CAST(sum(qd.d) AS BIGINT)
         |          AS adist
         |        FROM cand c JOIN codes co ON co.vec_id = c.vec_id
         |        JOIN qd ON qd.query_id = c.query_id AND qd.m = co.m
         |          AND qd.cid = co.cid
         |        GROUP BY 1, 2),
         |itop AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist ASC, vec_id ASC) AS rk FROM adc) r
         |  WHERE rk <= 5),
         |$bruteTopSql
         |$recallTailSql""".stripMargin,
    // Lloyd-step replication: seed centroids, cosine argmax assignment
    // (ties sim DESC, label ASC), recomputed centroids, exact checksums.
    // the same two passes as CTEs: per-row dot via an indexed-lambda
    // fold (DuckDB i is 1-based, hence (i-1) mod 7), then the dim-bucket
    // sum via a range cross join over the 64 dimensions
    "sim_power_iteration" ->
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding, e ->
        |      CAST(floor(CAST(e AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))
        |      AS q
        |  FROM embeddings),
        |d AS (SELECT vec_id, q,
        |    list_reduce(list_transform(q,
        |      (x, i) -> x * (((i - 1) % 7) - 3)), (a, b) -> a + b) AS dot
        |  FROM q)
        |SELECT CAST(j AS INT) AS dim,
        |  CAST(sum(q[j + 1] * dot) AS BIGINT) AS w
        |FROM d CROSS JOIN range(64) t(j)
        |GROUP BY 1 ORDER BY dim""".stripMargin,
    "sim_kmeans_step" ->
      """WITH q AS (SELECT vec_id, label, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |cent AS (SELECT label, i,
        |    CAST(floor(CAST(sum(v) * 1000 AS DOUBLE) / count(*)) AS BIGINT)
        |      AS cv
        |  FROM q GROUP BY 1, 2),
        |cn AS (SELECT label, sum(cv * cv) AS cnn FROM cent GROUP BY 1),
        |dots AS (SELECT a.vec_id, c.label, sum(a.v * c.cv) AS dot
        |         FROM q a JOIN cent c ON c.i = a.i GROUP BY 1, 2),
        |sim AS (SELECT vec_id, dots.label,
        |    CASE WHEN n.nn = 0 OR cn.cnn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(n.nn AS DOUBLE)) *
        |           sqrt(CAST(cn.cnn AS DOUBLE))) END AS sim
        |  FROM dots JOIN n USING (vec_id) JOIN cn ON cn.label = dots.label),
        |assign AS (SELECT vec_id, label AS cluster FROM (
        |    SELECT vec_id, label, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY sim DESC, label ASC) AS rn FROM sim) r
        |  WHERE rn = 1),
        |nc AS (SELECT cluster, i,
        |    CAST(floor(CAST(sum(v) * 1000 AS DOUBLE) / count(*)) AS BIGINT)
        |      AS cv,
        |    count(*) AS cnt
        |  FROM q JOIN assign USING (vec_id) GROUP BY 1, 2)
        |SELECT CAST(cluster AS BIGINT) AS cluster,
        |  CAST(min(cnt) AS BIGINT) AS n_members,
        |  CAST(sum(cv) AS BIGINT) AS csum,
        |  CAST(sum(cv * cv) AS BIGINT) AS csq
        |FROM nc GROUP BY cluster ORDER BY cluster""".stripMargin,
    // one brute top-10 chain + one LSH top-10 chain (the sim_ann_lsh
    // CTEs at depth 10), joined once, three conditional prefix counts
    "sim_recall_vs_k" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |bp AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
        |        sum(a.v * b.v) AS dot
        |      FROM q a JOIN q b ON a.i = b.i
        |      WHERE a.vec_id < 10 AND b.vec_id >= 10
        |      GROUP BY 1, 2),
        |bsc AS (SELECT query_id, bp.vec_id AS vec_id,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
        |  FROM bp JOIN n na ON na.vec_id = query_id
        |          JOIN n nb ON nb.vec_id = bp.vec_id),
        |brk AS (SELECT query_id, vec_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rk
        |  FROM bsc),
        |dots AS (SELECT vec_id, k,
        |           sum(v * (((k * 131 + (i - 1) * 31 + 7) % 61) - 30)) AS dt
        |         FROM q CROSS JOIN
        |           (SELECT unnest(generate_series(0, 7)) AS k) pl
        |         GROUP BY 1, 2),
        |bkt AS (SELECT vec_id,
        |          CAST(sum(CASE WHEN dt > 0 THEN 1 << k ELSE 0 END) AS BIGINT)
        |            AS bucket
        |        FROM dots GROUP BY 1),
        |qs AS (SELECT vec_id AS query_id, xor(bucket, m) AS bucket
        |       FROM bkt CROSS JOIN
        |         (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS m) pr
        |       WHERE vec_id < 10),
        |pairs AS (SELECT query_id, c.vec_id
        |          FROM qs JOIN (SELECT vec_id, bucket FROM bkt
        |                        WHERE vec_id >= 10) c USING (bucket)),
        |ldot AS (SELECT p.query_id, p.vec_id, sum(a.v * b.v) AS dot
        |        FROM pairs p
        |        JOIN q a ON a.vec_id = p.query_id
        |        JOIN q b ON b.vec_id = p.vec_id AND b.i = a.i
        |        GROUP BY 1, 2),
        |lsc AS (SELECT query_id, ldot.vec_id AS vec_id,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
        |  FROM ldot JOIN n na ON na.vec_id = query_id
        |            JOIN n nb ON nb.vec_id = ldot.vec_id),
        |lrk AS (SELECT query_id, vec_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS lrk
        |  FROM lsc),
        |j AS (SELECT b.rk, l.lrk FROM brk b
        |  JOIN lrk l ON l.query_id = b.query_id AND l.vec_id = b.vec_id
        |  WHERE b.rk <= 10 AND l.lrk <= 10),
        |g AS (SELECT
        |    count(CASE WHEN rk <= 1 AND lrk <= 1 THEN 1 END) AS h1,
        |    count(CASE WHEN rk <= 5 AND lrk <= 5 THEN 1 END) AS h5,
        |    count(*) AS h10
        |  FROM j)
        |SELECT CAST(1 AS INT) AS k, h1 AS n_hits,
        |  CAST(h1 AS DOUBLE) / 10.0 AS mean_recall FROM g
        |UNION ALL SELECT 5, h5, CAST(h5 AS DOUBLE) / 50.0 FROM g
        |UNION ALL SELECT 10, h10, CAST(h10 AS DOUBLE) / 100.0 FROM g
        |ORDER BY k""".stripMargin,
    // the sim_topk_bruteforce CTE chain as the neighbor set, majority
    // vote with the (votes DESC, label ASC) tie rule
    "sim_knn_classify" ->
      """WITH q AS (SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |p AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
        |        sum(a.v * b.v) AS dot
        |      FROM q a JOIN q b ON a.i = b.i
        |      WHERE a.vec_id < 10 AND b.vec_id >= 10
        |      GROUP BY 1, 2),
        |scored AS (SELECT query_id, p.vec_id AS vec_id,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
        |  FROM p JOIN n na ON na.vec_id = query_id
        |         JOIN n nb ON nb.vec_id = p.vec_id),
        |top5 AS (SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rk
        |    FROM scored) r
        |  WHERE rk <= 5),
        |votes AS (SELECT t.query_id, e.label AS nlabel,
        |    count(*) AS votes
        |  FROM top5 t JOIN embeddings e ON e.vec_id = t.vec_id
        |  GROUP BY 1, 2),
        |pred AS (SELECT query_id, nlabel AS pred_label, votes AS n_votes
        |  FROM (SELECT query_id, nlabel, votes, row_number() OVER (
        |      PARTITION BY query_id ORDER BY votes DESC, nlabel ASC) AS rn
        |    FROM votes) r
        |  WHERE rn = 1)
        |SELECT p.query_id, e.label AS true_label, p.pred_label, p.n_votes,
        |  p.pred_label = e.label AS correct
        |FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
        |ORDER BY p.query_id""".stripMargin,
    // the sim_kmeans_step CTE chain (round 1) extended by a second
    // assignment round; displacement joins the two centroid grids per
    // (cluster, dimension)
    "sim_kmeans_convergence" ->
      """WITH q AS (SELECT vec_id, label, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |cent AS (SELECT label, i,
        |    CAST(floor(CAST(sum(v) * 1000 AS DOUBLE) / count(*)) AS BIGINT)
        |      AS cv
        |  FROM q GROUP BY 1, 2),
        |cn AS (SELECT label, sum(cv * cv) AS cnn FROM cent GROUP BY 1),
        |dots AS (SELECT a.vec_id, c.label, sum(a.v * c.cv) AS dot
        |         FROM q a JOIN cent c ON c.i = a.i GROUP BY 1, 2),
        |sim AS (SELECT vec_id, dots.label,
        |    CASE WHEN n.nn = 0 OR cn.cnn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(n.nn AS DOUBLE)) *
        |           sqrt(CAST(cn.cnn AS DOUBLE))) END AS sim
        |  FROM dots JOIN n USING (vec_id) JOIN cn ON cn.label = dots.label),
        |assign AS (SELECT vec_id, label AS cluster FROM (
        |    SELECT vec_id, label, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY sim DESC, label ASC) AS rn FROM sim) r
        |  WHERE rn = 1),
        |nc AS (SELECT cluster, i,
        |    CAST(floor(CAST(sum(v) * 1000 AS DOUBLE) / count(*)) AS BIGINT)
        |      AS cv,
        |    count(*) AS cnt
        |  FROM q JOIN assign USING (vec_id) GROUP BY 1, 2),
        |cn1 AS (SELECT cluster, sum(cv * cv) AS cnn FROM nc GROUP BY 1),
        |dots1 AS (SELECT a.vec_id, c.cluster, sum(a.v * c.cv) AS dot
        |          FROM q a JOIN nc c ON c.i = a.i GROUP BY 1, 2),
        |sim1 AS (SELECT vec_id, dots1.cluster,
        |    CASE WHEN n.nn = 0 OR cn1.cnn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(n.nn AS DOUBLE)) *
        |           sqrt(CAST(cn1.cnn AS DOUBLE))) END AS sim
        |  FROM dots1 JOIN n USING (vec_id)
        |  JOIN cn1 ON cn1.cluster = dots1.cluster),
        |assign1 AS (SELECT vec_id, cluster FROM (
        |    SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY sim DESC, cluster ASC) AS rn FROM sim1) r
        |  WHERE rn = 1),
        |nc2 AS (SELECT a.cluster, i,
        |    CAST(floor(CAST(sum(v) * 1000 AS DOUBLE) / count(*)) AS BIGINT)
        |      AS cv,
        |    count(*) AS cnt
        |  FROM q JOIN assign1 a USING (vec_id) GROUP BY 1, 2),
        |n1 AS (SELECT cluster, CAST(min(cnt) AS BIGINT) AS n_round1
        |  FROM nc GROUP BY 1),
        |n2 AS (SELECT cluster, CAST(min(cnt) AS BIGINT) AS n_round2
        |  FROM nc2 GROUP BY 1),
        |disp AS (SELECT a.cluster,
        |    CAST(sum((a.cv - b.cv) * (a.cv - b.cv)) AS BIGINT) AS disp2
        |  FROM nc a JOIN nc2 b ON b.cluster = a.cluster AND b.i = a.i
        |  GROUP BY 1)
        |SELECT CAST(d.cluster AS BIGINT) AS cluster, n1.n_round1,
        |  n2.n_round2, d.disp2, d.disp2 = 0 AS converged
        |FROM disp d JOIN n1 USING (cluster) JOIN n2 USING (cluster)
        |ORDER BY cluster""".stripMargin,
    // Full SemDeDup replication: quantization, per-label seed centroids,
    // cosine-argmax cluster assignment (ties sim DESC, label ASC), the
    // within-cluster pair join, the 0.4 threshold, and the
    // keep-smallest-id drop list.
    "dedup_semantic" ->
      """WITH q AS (SELECT vec_id, label, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
        |cent AS (SELECT label, i,
        |    CAST(floor(CAST(sum(v) * 1000 AS DOUBLE) / count(*)) AS BIGINT)
        |      AS cv
        |  FROM q GROUP BY 1, 2),
        |cn AS (SELECT label, sum(cv * cv) AS cnn FROM cent GROUP BY 1),
        |dots AS (SELECT a.vec_id, c.label, sum(a.v * c.cv) AS dot
        |         FROM q a JOIN cent c ON c.i = a.i GROUP BY 1, 2),
        |sim AS (SELECT vec_id, dots.label,
        |    CASE WHEN n.nn = 0 OR cn.cnn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(n.nn AS DOUBLE)) *
        |           sqrt(CAST(cn.cnn AS DOUBLE))) END AS sim
        |  FROM dots JOIN n USING (vec_id) JOIN cn ON cn.label = dots.label),
        |assign AS (SELECT vec_id, label AS cluster FROM (
        |    SELECT vec_id, label, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY sim DESC, label ASC) AS rn FROM sim) r
        |  WHERE rn = 1),
        |pd AS (SELECT x.vec_id AS keep_id, y.vec_id AS vec_id,
        |         x.cluster AS cluster, sum(a.v * b.v) AS dot
        |       FROM assign x JOIN assign y
        |         ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        |       JOIN q a ON a.vec_id = x.vec_id
        |       JOIN q b ON b.vec_id = y.vec_id AND b.i = a.i
        |       GROUP BY 1, 2, 3),
        |ps AS (SELECT pd.vec_id AS vec_id, pd.keep_id AS keep_id,
        |    pd.cluster AS cluster,
        |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
        |           sqrt(CAST(nb.nn AS DOUBLE))) END AS sim
        |  FROM pd JOIN n na ON na.vec_id = pd.keep_id
        |          JOIN n nb ON nb.vec_id = pd.vec_id)
        |SELECT vec_id, min(keep_id) AS kept_by, max(sim) AS max_sim,
        |  CAST(min(cluster) AS BIGINT) AS cluster
        |FROM ps WHERE sim >= CAST(0.4 AS DOUBLE)
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "sim_label_centroid" ->
      """WITH q AS (SELECT vec_id, label, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |cent AS (SELECT label, i, sum(v) AS sv, count(*) AS cnt
        |         FROM q GROUP BY label, i),
        |centq AS (SELECT label, i,
        |    CAST(floor(CAST(sv * 1000 AS DOUBLE) / cnt) AS BIGINT) AS cv
        |  FROM cent)
        |SELECT q.label, CAST(sum(q.v * c.cv) AS BIGINT) AS dot_sum,
        |  count(*) AS n_terms
        |FROM q JOIN centq c ON q.label = c.label AND q.i = c.i
        |GROUP BY q.label ORDER BY q.label""".stripMargin,
    // the same quantized centroids, exact integer squared distances, and
    // sqrt/divide tree as the Spark side
    "sim_silhouette" ->
      s"""WITH q AS (SELECT vec_id, label, i,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5)
         |      AS BIGINT) AS v
         |  FROM embeddings,
         |    LATERAL (SELECT unnest(generate_series(1, len(embedding)))
         |      AS i) g),
         |centq AS (SELECT label AS clabel, i,
         |    CAST(floor(CAST(sum(v) * 1000 AS DOUBLE) / count(*))
         |      AS BIGINT) AS cv
         |  FROM q GROUP BY 1, 2),
         |d AS (SELECT q.vec_id, q.label, c.clabel,
         |    CAST(sum((q.v * 1000 - c.cv) * (q.v * 1000 - c.cv))
         |      AS BIGINT) AS d2
         |  FROM q JOIN centq c ON q.i = c.i GROUP BY 1, 2, 3),
         |p AS (SELECT vec_id, label,
         |    min(CASE WHEN clabel = label THEN d2 END) AS a2,
         |    min(CASE WHEN clabel <> label THEN d2 END) AS b2
         |  FROM d GROUP BY 1, 2),
         |sil AS (SELECT label,
         |    (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE))) /
         |      greatest(sqrt(CAST(a2 AS DOUBLE)),
         |        sqrt(CAST(b2 AS DOUBLE))) AS s
         |  FROM p),
         |g2 AS (SELECT label, count(*) AS n,
         |    ${graft.ops.Oracle.sqlSum("s")} AS sum_silhouette
         |  FROM sil GROUP BY 1)
         |SELECT label, n, sum_silhouette,
         |  sum_silhouette / CAST(n AS DOUBLE) AS avg_silhouette
         |FROM g2 ORDER BY label""".stripMargin,
    // the same serpentine rank → shard arithmetic over the list table
    "sim_shard_plan" ->
      """WITH lists AS (SELECT label, count(*) AS n_vecs
        |  FROM embeddings WHERE vec_id >= 10 GROUP BY label),
        |r AS (SELECT label, n_vecs,
        |    row_number() OVER (ORDER BY n_vecs DESC, label ASC) - 1 AS r
        |  FROM lists),
        |a AS (SELECT n_vecs,
        |    CASE WHEN (r // 4) % 2 = 0 THEN r % 4 ELSE 3 - (r % 4) END
        |      AS shard
        |  FROM r),
        |g AS (SELECT shard, count(*) AS n_lists,
        |    CAST(sum(n_vecs) AS BIGINT) AS n_vectors
        |  FROM a GROUP BY shard),
        |t AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS total FROM g)
        |SELECT CAST(shard AS BIGINT) AS shard, n_lists, n_vectors,
        |  CAST(n_vectors AS DOUBLE) * 4 / CAST(total AS DOUBLE)
        |    AS load_ratio
        |FROM g, t ORDER BY shard""".stripMargin,
    "sim_cluster_balance" ->
      """WITH l AS (SELECT label, count(*) AS n_vecs
        |  FROM embeddings WHERE vec_id >= 10 GROUP BY 1),
        |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total,
        |    count(*) AS k FROM l)
        |SELECT label, n_vecs,
        |  CAST(n_vecs AS DOUBLE) / CAST(n_total AS DOUBLE) AS scan_share,
        |  CAST(n_vecs * k AS DOUBLE) / CAST(n_total AS DOUBLE)
        |    AS load_factor
        |FROM l, t ORDER BY label""".stripMargin,
    // the sim_label_centroid quantized-centroid CTE, then the pairwise
    // exact integer dot/norms and the identical guarded cosine tree
    "sim_centroid_affinity" ->
      """WITH q AS (SELECT label, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5)
        |      AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding)))
        |      AS i) g),
        |centq AS (SELECT label, i,
        |    CAST(floor(CAST(sum(v) * 1000 AS DOUBLE) / count(*))
        |      AS BIGINT) AS cv
        |  FROM q GROUP BY 1, 2),
        |nn AS (SELECT label, CAST(sum(cv * cv) AS BIGINT) AS n2
        |  FROM centq GROUP BY 1),
        |dt AS (SELECT a.label AS label_a, b.label AS label_b,
        |    CAST(sum(a.cv * b.cv) AS BIGINT) AS d
        |  FROM centq a JOIN centq b ON b.i = a.i AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT label_a, label_b,
        |  CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0.0
        |    ELSE CAST(d AS DOUBLE) /
        |      (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
        |    END AS csim
        |FROM dt JOIN nn na ON na.label = dt.label_a
        |  JOIN nn nb ON nb.label = dt.label_b
        |ORDER BY label_a, label_b""".stripMargin
    )
    // composed AFTER the base map so the walk side embeds the shipped
    // sim_ann_graph_greedy oracle VERBATIM as a CTE — the recall row
    // gates exactly the same walk, never a drifted copy
    base + ("sim_ann_recall_graph" ->
      s"""WITH walk AS (
         |${base("sim_ann_graph_greedy")}),
         |q AS (SELECT vec_id, i,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
         |  FROM embeddings,
         |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
         |n AS (SELECT vec_id, sum(v * v) AS nn FROM q GROUP BY vec_id),
         |bdot AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |           sum(a.v * b.v) AS dot
         |         FROM q a JOIN q b ON b.i = a.i AND b.vec_id >= 10
         |         WHERE a.vec_id < 10 GROUP BY 1, 2),
         |bscored AS (SELECT query_id, bdot.vec_id AS vec_id,
         |    CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
         |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) *
         |           sqrt(CAST(nb.nn AS DOUBLE))) END AS cos
         |  FROM bdot JOIN n na ON na.vec_id = query_id
         |            JOIN n nb ON nb.vec_id = bdot.vec_id),
         |bt AS (SELECT query_id, vec_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rk
         |  FROM bscored),
         |e3 AS (SELECT query_id, vec_id FROM walk WHERE step = 3)
         |SELECT e3.query_id, e3.vec_id,
         |  e3.vec_id = t1.vec_id AS hit_at_1,
         |  EXISTS (SELECT 1 FROM bt WHERE bt.query_id = e3.query_id
         |    AND bt.vec_id = e3.vec_id AND bt.rk <= 5) AS hit_at_5
         |FROM e3 JOIN bt t1 ON t1.query_id = e3.query_id AND t1.rk = 1
         |ORDER BY e3.query_id""".stripMargin)
  }
}
