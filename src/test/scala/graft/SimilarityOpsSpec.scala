package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.SimilarityOps

class SimilarityOpsSpec extends GraftSuite {

  /** Independent Scala replay of the declared Lloyd-step semantics:
    * quantize → seed centroids per label → cosine argmax (ties sim DESC,
    * label ASC) → per-cluster centroid recompute → integer checksums.
    */
  private def kmeansReplay(
      rows: Seq[(Long, Int, Seq[Float])]): Seq[(Long, Long, Long, Long)] = {
    def quant(x: Float): Long =
      math.floor(x.toDouble * 1000.0 + 0.5).toLong
    val qvs = rows.map { case (id, lab, e) => (id, lab.toLong, e.map(quant)) }
    def centroid(vs: Seq[Seq[Long]]): Seq[Long] = {
      val cnt = vs.size
      vs.transpose.map(c => math.floor((c.sum * 1000L).toDouble / cnt).toLong)
    }
    def nn(v: Seq[Long]): Long = v.map(x => x * x).sum
    def cos(a: Seq[Long], b: Seq[Long]): Double =
      if (nn(a) == 0L || nn(b) == 0L) 0.0
      else a.zip(b).map { case (x, y) => x * y }.sum.toDouble /
        (math.sqrt(nn(a).toDouble) * math.sqrt(nn(b).toDouble))
    val seeds = qvs.groupBy(_._2).map { case (lab, vs) =>
      lab -> centroid(vs.map(_._3))
    }
    val assigned = qvs.map { case (_, _, qv) =>
      val best = seeds.toSeq
        .map { case (lab, c) => (cos(qv, c), -lab) }.max
      (-best._2, qv)
    }
    assigned.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (cluster, vs) =>
        val cv = centroid(vs.map(_._2))
        (cluster, vs.size.toLong, cv.sum, cv.map(x => x * x).sum)
      }
  }

  private def run(rows: Seq[(Long, Int, Seq[Float])])
      : Seq[(Long, Long, Long, Long)] = {
    import spark.implicits._
    SimilarityOps.kmeansStepFrom(
      rows.toDF("vec_id", "label", "embedding")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
  }

  test("k-means step reassigns a mislabeled vector (full replay parity)") {
    // label 0 holds two x-axis vectors plus one PLANTED y-axis vector
    // (vec 3) sitting exactly on label 1's centroid direction; the Lloyd
    // step must move it — the uniform synthetic corpus almost never
    // reassigns, so only planted clusters exercise the argmax
    val rows = Seq(
      (1L, 0, Seq(1.0f, 0.0f)),
      (2L, 0, Seq(0.9f, 0.1f)),
      (3L, 0, Seq(0.0f, 1.0f)),
      (4L, 1, Seq(0.0f, 1.0f)),
      (5L, 1, Seq(0.1f, 0.9f)))
    val got = run(rows)
    val expected = kmeansReplay(rows)
    assert(got == expected, s"got=${got.toList} expected=${expected.toList}")
    // the planted mislabel actually moved: cluster 0 keeps 2 vectors,
    // cluster 1 gains vec 3 for a total of 3
    assert(got.map(t => t._1 -> t._2).toMap == Map(0L -> 2L, 1L -> 3L))
  }

  /** Independent Scala replay of the declared PQ semantics: quantize →
    * codebook = vec_id<16 subvectors → per-subspace argmin codes (ties to
    * smallest cid) → ADC = Σ_m ‖q_m − centroid[code_m]‖² → per-query top-5
    * ascending (ties vec_id ASC).
    */
  private def pqReplay(rows: Seq[(Long, Seq[Float])])
      : Seq[(Long, Long, Long, Int)] = {
    val M = 4; val sub = 16
    def quant(x: Float): Long = math.floor(x.toDouble * 1000.0 + 0.5).toLong
    val qvs = rows.map { case (id, e) => id -> e.map(quant) }.toMap
    val cb = qvs.filter(_._1 < 16).toSeq.sortBy(_._1)
    def d(a: Seq[Long], b: Seq[Long], m: Int): Long =
      (0 until sub).map { i =>
        val x = a(m * sub + i) - b(m * sub + i); x * x
      }.sum
    val codes = qvs.map { case (id, qv) =>
      id -> (0 until M).map(m => cb.minBy { case (cid, cqv) =>
        (d(qv, cqv, m), cid) }._1.toInt)
    }
    val out = for {
      (qid, qqv) <- qvs.toSeq.filter(_._1 < 10)
      (vid, _) <- qvs.toSeq.filter(_._1 >= 10)
    } yield (qid, vid,
      (0 until M).map(m => d(qqv, qvs(cb(codes(vid)(m))._1.toInt), m)).sum)
    out.groupBy(_._1).toSeq.flatMap { case (_, cands) =>
      cands.sortBy(c => (c._3, c._2)).take(5).zipWithIndex
        .map { case ((q, v, ad), i) => (q, v, ad, i + 1) }
    }.sortBy(t => (t._1, t._4))
  }

  test("PQ codes+ADC match the replay on randomized vectors") {
    import spark.implicits._
    // 30 vectors of dim 64 (vec_ids contiguous from 0: 0-15 = codebook,
    // 0-9 = queries, 10-29 = corpus); parity across fixed seeds
    for (seed <- Seq(201L, 202L, 203L)) {
      val gen = Gen.listOfN(30,
        Gen.listOfN(64, Gen.choose(-1000, 1000)))
      val rows = gen.apply(Gen.Parameters.default, Seed(seed)).get
        .zipWithIndex.map { case (v, i) =>
          (i.toLong, v.map(_ / 1000.0f).toSeq)
        }
      val got = SimilarityOps.pqTopkFrom(rows.toDF("vec_id", "embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSeq
      assert(got == pqReplay(rows), s"seed=$seed diverged")
    }
  }

  test("PQ ranks an exact codebook clone first with zero ADC distance") {
    import spark.implicits._
    // well-separated deterministic vectors: codebook vector j spikes at
    // position j%16 of every subspace with height 1+j. Query 5 IS codebook
    // centroid 5 (queries are codebook members by construction), and
    // corpus vec 20 is an exact clone of it: vec 20's codes resolve to
    // cid 5 in every subspace (self-distance 0), so query 5's ADC to vec
    // 20 is its distance to its own centroid — exactly 0 — and vec 20
    // must rank first. Corpus vec 21 (a different direction) ranks after.
    def unit(j: Int): Seq[Float] =
      Seq.tabulate(64)(i => if (i % 16 == j % 16) (1.0f + j) else 0.1f * j)
    val rows = (0 until 16).map(j => (j.toLong, unit(j))) ++
      Seq((20L, unit(5)), (21L, unit(3)))
    val got = SimilarityOps.pqTopkFrom(rows.toDF("vec_id", "embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // corpus = vec_id >= 10, which includes codebook vectors 10-15, the
    // clone (20) and the decoy (21) — a full top-5 comes back
    val q5 = got.filter(_._1 == 5L)
    assert(q5.length == 5, q5.toSeq.toString)
    assert(q5.head._2 == 20L && q5.head._3 == 0L, q5.toSeq.toString)
  }

  test("k-means step matches the replay on randomized vectors") {
    // random 4-d vectors over 4 labels, zero vectors included (nn=0 →
    // sim 0.0 against every centroid → the label-ascending tie-break
    // decides); spark-vs-replay parity across fixed seeds
    for (seed <- Seq(101L, 102L, 103L)) {
      val gen = Gen.listOfN(60, for {
        lab <- Gen.choose(0, 3)
        v <- Gen.frequency(
          9 -> Gen.listOfN(4, Gen.choose(-1000, 1000)),
          1 -> Gen.const(List(0, 0, 0, 0)))
      } yield (lab, v.map(_ / 1000.0f)))
      val rows = gen.apply(Gen.Parameters.default, Seed(seed)).get
        .zipWithIndex.map { case ((lab, e), i) => (i.toLong, lab, e.toSeq) }
      assert(run(rows) == kmeansReplay(rows), s"seed=$seed diverged")
    }
  }

  test("recall harness: planted clones give full recall (contrast with " +
      "the near-chance contract corpus)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    def vec(): Seq[Float] = Seq.fill(16)(rnd.nextFloat())
    val qs = (0L until 10L).map(i => (i, vec()))
    // clone of each query at vec_id+10 (IDENTICAL vector → same bucket,
    // cosine exactly 1.0 → guaranteed LSH candidate and brute top-1)
    val clones = qs.map { case (i, v) => (i + 10L, v) }
    val fill = (20L until 80L).map(i => (i, vec()))
    val e = (qs ++ clones ++ fill).toDF("vec_id", "embedding")
    val ls = graft.ops.SimilarityOps.lshTopkFrom(e)
    val cloneHits = ls.filter(col("vec_id") === col("query_id") + 10)
      .count()
    assert(cloneHits == 10, s"LSH missed planted clones: $cloneHits/10")
    val bf = graft.ops.SimilarityOps.bruteTopkFrom(e)
    val bfTop1 = bf.filter(col("rk") === 1)
      .filter(col("vec_id") === col("query_id") + 10).count()
    assert(bfTop1 == 10, s"brute force missed planted clones: $bfTop1/10")
  }

  test("semantic dedup: a planted clone is dropped (kept by the smaller " +
      "id), dissimilar cluster-mates survive") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    def vec(): Seq[Float] = Seq.fill(16)(rnd.nextFloat())
    val bg = (0L until 40L).map(i => (i, (i % 4).toInt, vec()))
    val v = vec()
    // identical pair -> same cluster by construction (assignment is a
    // function of the vector), cosine ~1.0 >> tau
    val planted = Seq((101L, 0, v), (102L, 0, v))
    val df = (bg ++ planted).toDF("vec_id", "label", "embedding")
    val out = graft.ops.SimilarityOps.semanticDupsFrom(df, 0.95)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
    spark.catalog.clearCache()
    val dropped = out.toMap
    assert(dropped.contains(102L), s"clone not dropped: ${out.mkString(",")}")
    assert(dropped(102L)._1 == 101L, "kept_by must be the smaller id")
    assert(dropped(102L)._2 > 0.999, s"sim=${dropped(102L)._2}")
    assert(!dropped.contains(101L), "the keeper must survive")
  }

  test("ivfpq: list pruning excludes a clone in an unprobed list, ADC " +
      "ranks the probed clones first at distance zero") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // orthogonal spike vectors: spike(j) is 1.0 at positions i%16==j
    def spike(j: Int): Seq[Float] =
      Seq.tabulate(64)(i => if (i % 16 == j % 16) 1.0f else 0.0f)
    // label 0 = {query 5, clone 20}: centroid IS spike(5), cos 1.
    // label 1 = {22=spike(1), 24=spike(5) clone, codebook 10-15}:
    //   centroid has a 1/8 spike(5) component, cos ~0.35 -> probed 2nd.
    // label 2 = {queries 0-4 and 6-9, clone 21, 30-44 all spike(3)}:
    //   the spike(5) component dilutes to 1/25, cos ~0.06 -> UNPROBED.
    val rows =
      Seq((5L, 0, spike(5)), (20L, 0, spike(5))) ++
        Seq((22L, 1, spike(1)), (24L, 1, spike(5))) ++
        (10 to 15).map(j => (j.toLong, 1, spike(j))) ++
        ((0 to 4) ++ (6 to 9)).map(j => (j.toLong, 2, spike(j))) ++
        Seq((21L, 2, spike(5))) ++
        (30 to 44).map(j => (j.toLong, 2, spike(3)))
    val df = rows.toDF("vec_id", "label", "embedding")
    val got = graft.ops.SimilarityOps.ivfpqTopkFrom(df, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    spark.catalog.clearCache()
    val q5 = got.filter(_._1 == 5L)
    assert(q5.length == 5, q5.toSeq.toString)
    // the label-2 clone must never surface FOR QUERY 5 — its list was
    // pruned there (queries living in label 2 probe their own list, so
    // vec 21 appearing for them is correct)
    assert(!q5.exists(_._2 == 21L), s"unprobed-list clone leaked: " +
      q5.filter(_._2 == 21L).mkString(","))
    // both probed clones of spike(5) code to centroid 5 -> ADC 0; tie
    // breaks to the smaller vec_id
    assert(q5(0) == ((5L, 20L, 0L, 1)), q5.toSeq.toString)
    assert(q5(1) == ((5L, 24L, 0L, 2)), q5.toSeq.toString)
  }

  /** Independent Scala replay of the full MIPS pipeline: quantize →
    * corpus max norm → floored-sqrt augmentation → 8 sign-plane bits over
    * D+1 coordinates → Hamming-1 multi-probe → exact integer dot → top-5
    * (dot DESC, vec_id ASC).
    */
  private def mipsReplay(
      rows: Seq[(Long, Seq[Float])]): Seq[(Long, Long, Long, Int)] = {
    def quant(x: Float): Long =
      math.floor(x.toDouble * 1000.0 + 0.5).toLong
    def w(k: Int, i: Int): Long = ((k * 131 + i * 31 + 7) % 61) - 30
    def bucket(v: Seq[Long]): Long =
      (0 until 8).map { k =>
        val dt = v.zipWithIndex.map { case (x, i) => x * w(k, i) }.sum
        if (dt > 0) 1L << k else 0L
      }.sum
    val qvs = rows.map { case (id, e) => (id, e.map(quant)) }
    val corpus0 = qvs.filter(_._1 >= 10)
    val m2 = corpus0.map(_._2.map(x => x * x).sum).max
    val corpus = corpus0.map { case (id, v) =>
      val aug = math.floor(
        math.sqrt((m2 - v.map(x => x * x).sum).toDouble)).toLong
      (id, v, bucket(v :+ aug))
    }
    qvs.filter(_._1 < 10).flatMap { case (qid, qv) =>
      val b0 = bucket(qv :+ 0L)
      val probes = (0L +: (0 until 8).map(k => 1L << k)).map(b0 ^ _).toSet
      corpus.filter(c => probes(c._3))
        .map { case (id, v, _) =>
          (id, qv.zip(v).map { case (x, y) => x * y }.sum)
        }
        .sortBy { case (id, dot) => (-dot, id) }
        .take(5).zipWithIndex
        .map { case ((id, dot), r) => (qid, id, dot, r + 1) }
    }.sortBy(r => (r._1, r._4))
  }

  test("MIPS: a longer same-direction vector outranks the cosine winner; " +
    "the whole pipeline matches the replay") {
    import spark.implicits._
    // query 0 = [1,1,1,1]. vec 20 = 8x the query direction (max norm →
    // augmentation 0, identical sign pattern → probe-0 bucket hit); vec
    // 21 = 0.01x the query (cosine 1.0 — the cosine winner among
    // non-clones — but a tiny dot). MIPS must put 20 first with the
    // exact integer dot 4 * 1000 * 8000.
    val rnd = new scala.util.Random(11L)
    val rows: Seq[(Long, Seq[Float])] =
      Seq(0L -> Seq(1f, 1f, 1f, 1f),
        20L -> Seq(8f, 8f, 8f, 8f),
        21L -> Seq(0.01f, 0.01f, 0.01f, 0.01f)) ++
        (30L until 60L).map(id =>
          id -> Seq.fill(4)(rnd.nextFloat() * 2f - 1f))
    val got = SimilarityOps.mipsTopkFrom(
      rows.toDF("vec_id", "embedding")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq
    assert(got == mipsReplay(rows), s"got=$got want=${mipsReplay(rows)}")
    assert(got.head == ((0L, 20L, 32000000L, 1)), got.toString)
    // the cosine-perfect tiny clone must NOT be ranked above the planted
    // max-dot vector wherever it surfaces
    assert(!got.exists(r => r._2 == 21L && r._4 == 1), got.toString)
  }

  test("MIPS matches the replay on random corpora (buckets, probes, " +
    "augmentation, and integer dots all pinned)") {
    import spark.implicits._
    for (seed <- Seq(61L, 62L)) {
      val rnd = new scala.util.Random(seed)
      val rows: Seq[(Long, Seq[Float])] = (0L until 80L).map(id =>
        id -> Seq.fill(6)(rnd.nextFloat() * 4f - 2f))
      val got = SimilarityOps.mipsTopkFrom(
        rows.toDF("vec_id", "embedding")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSeq
      val want = mipsReplay(rows)
      assert(got == want, s"seed=$seed: got=$got want=$want")
    }
  }

  test("norm profile: plain-Scala replay of quantized norms, zero-count, " +
      "and interpolated quartiles") {
    val got = SimilarityOps.queries("sim_norm_profile")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7))).toSeq
    val rows = graft.ops.Tables(spark, sfDir).embeddings
      .select("label", "embedding").collect()
      .map { r =>
        val nn = r.getSeq[Float](1).map { x =>
          val q = math.floor(x.toDouble * 1000.0 + 0.5).toLong
          q * q
        }.sum
        (r.getInt(0), nn)
      }
    def pct(sorted: IndexedSeq[Long], q: Double): Double = {
      val pos = (sorted.length - 1) * q
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < sorted.length)
        sorted(lo) + frac * (sorted(lo + 1) - sorted(lo)).toDouble
      else sorted(lo).toDouble
    }
    val want = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (l, xs) =>
      val nns = xs.map(_._2).sorted.toIndexedSeq
      (l, nns.length.toLong, nns.count(_ == 0L).toLong,
        nns.head, nns.last,
        pct(nns, 0.25), pct(nns, 0.5), pct(nns, 0.75))
    }
    assert(got == want)
  }

  test("silhouette: two tight well-separated planted clusters score " +
      "near 1, matching an integer replay of the centroid pipeline") {
    import spark.implicits._
    val emb = Seq(
      (1L, 0, Array(0.0f, 0.0f)), (2L, 0, Array(0.002f, 0.0f)),
      (3L, 1, Array(1.0f, 1.0f)), (4L, 1, Array(1.002f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val got = graft.ops.SimilarityOps.silhouetteFrom(emb)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(3))).toSeq
    // integer replay: qv = floor(1000x + 0.5); cv = floor(1000*sv/cnt);
    // d2 over (qv*1000 - cv)^2; s = (sqrt(b2)-sqrt(a2))/max(...)
    val pts = Seq((1L, 0, Seq(0L, 0L)), (2L, 0, Seq(2L, 0L)),
      (3L, 1, Seq(1000L, 1000L)), (4L, 1, Seq(1002L, 1000L)))
    val cents = pts.groupBy(_._2).map { case (l, xs) =>
      val cnt = xs.size
      l -> xs.map(_._3).transpose.map(dim =>
        math.floor(dim.sum.toDouble * 1000 / cnt).toLong)
    }
    def d2(q: Seq[Long], c: Seq[Long]): Long =
      q.zip(c).map { case (qi, ci) =>
        (qi * 1000 - ci) * (qi * 1000 - ci) }.sum
    val want = pts.groupBy(_._2).toSeq.sortBy(_._1).map { case (l, xs) =>
      val ss = xs.map { p =>
        val a2 = d2(p._3, cents(l))
        val b2 = cents.filter(_._1 != l).values.map(d2(p._3, _)).min
        (math.sqrt(b2.toDouble) - math.sqrt(a2.toDouble)) /
          math.max(math.sqrt(a2.toDouble), math.sqrt(b2.toDouble))
      }
      // dsum quantizes each s to 6 dp before summing
      val sum6 = ss.map(s => BigDecimal(s).setScale(6,
        BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      (l, xs.size.toLong, sum6 / xs.size.toDouble)
    }
    assert(got == want, s"got=$got want=$want")
    assert(got.forall(_._3 > 0.99), got.toList)
  }

  test("ivf recall counts the exact brute/ivf top-5 intersection") {
    import org.apache.spark.sql.functions._
    val e = graft.ops.Tables(spark, sfDir).embeddings
    val bf = graft.ops.SimilarityOps.bruteTopkFrom(e)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val iv = graft.ops.SimilarityOps.ivfTopkFrom(e, nprobe = 2)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = bf.groupBy(_._1).view
      .mapValues(s => s.count(iv.contains).toLong).toMap
    val got = graft.ops.SimilarityOps
      .queries("sim_ann_recall_ivf")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == (0L to 9L), got.toSeq.toString)
    got.foreach { case (q, nHit, rec) =>
      assert(nHit == want(q), s"query $q: $nHit vs ${want(q)}")
      assert(rec == nHit.toDouble / 5.0)
    }
    // nprobe=2 of 10 lists prunes aggressively; recall must still be
    // a real number per query, and the harness reports it, not hides it
    assert(got.forall(g => g._2 >= 0L && g._2 <= 5L))
  }

  test("matryoshka recall counts the exact full-dim/prefix-dim top-5 " +
      "intersection") {
    import org.apache.spark.sql.functions._
    val e = graft.ops.Tables(spark, sfDir).embeddings
    val bf = graft.ops.SimilarityOps.bruteTopkFrom(e)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val tr = graft.ops.SimilarityOps.bruteTopkFrom(
        e.select(col("vec_id"), slice(col("embedding"), 1, 16)
          .as("embedding")))
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = bf.groupBy(_._1).view
      .mapValues(s => s.count(tr.contains).toLong).toMap
    val got = graft.ops.SimilarityOps
      .queries("sim_recall_matryoshka")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == (0L to 9L), got.toSeq.toString)
    got.foreach { case (q, nHit, rec) =>
      assert(nHit == want(q), s"query $q: $nHit vs ${want(q)}")
      assert(rec == nHit.toDouble / 5.0)
    }
  }

  test("range search: threshold contract, and consistency with the LSH " +
      "top-k path (same buckets, same scores)") {
    import org.apache.spark.sql.functions._
    val got = graft.ops.SimilarityOps
      .queries("sim_range_search")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    spark.catalog.clearCache()
    assert(got.nonEmpty)
    assert(got.values.forall(_ >= 0.2), "threshold violated")
    // the LSH top-5 path probes the SAME buckets: every top-5 hit at or
    // above the radius must appear in the range result with the same cos
    val lsh = graft.ops.SimilarityOps
      .queries("sim_ann_lsh")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    spark.catalog.clearCache()
    lsh.filter(_._2 >= 0.2).foreach { case (k, cos) =>
      assert(got.get(k).contains(cos), s"$k missing or score drifted")
    }
    // and range returns MORE than top-5 somewhere (it is not a rank cap)
    val perQuery = got.keys.groupBy(_._1).view.mapValues(_.size)
    assert(perQuery.values.exists(_ > 5),
      s"no query exceeded k=5: $perQuery")
  }

  test("pq training step matches a driver-side per-subspace Lloyd replay") {
    import org.apache.spark.sql.functions._
    val emb = graft.ops.Tables(spark, sfDir).embeddings
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(v =>
          math.floor(v.toDouble * 1000.0 + 0.5).toLong).toArray)
    val cb = emb.filter(_._1 < 16).sortBy(_._1).map(_._2)
    def subdist(a: Array[Long], b: Array[Long], m: Int): Long =
      (m * 16 until (m + 1) * 16).map { i =>
        val d = a(i) - b(i); d * d
      }.sum
    // codes: argmin sub-centroid per (vec, m), ties to smallest cid
    val assigned = for { (_, qv) <- emb; m <- 0 until 4 } yield {
      val code = cb.indices.minBy(c => (subdist(qv, cb(c), m), c))
      ((m, code), qv.slice(m * 16, (m + 1) * 16))
    }
    val want = assigned.groupBy(_._1).map { case ((m, code), xs) =>
      val svs = xs.map(_._2)
      val n = svs.size.toLong
      val cvec = (0 until 16).map { i =>
        math.floor(svs.map(_(i)).sum.toDouble / n).toLong }
      (m, code) -> ((n, cvec.sum, cvec.map(x => x * x).sum))
    }
    val got = graft.ops.SimilarityOps
      .queries("sim_pq_train_step")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == want, s"got=$got want=$want")
    // every subspace refreshed at least one centroid, and membership
    // totals tile the corpus exactly 4 ways
    assert((0 until 4).forall(m => got.keys.exists(_._1 == m)))
    assert(got.values.map(_._1).sum == 4L * emb.length)
  }

  /** Sign-bit packing replay shared by the Hamming tests: two 32-bit
    * words, first element of each half at weight 2^31.
    */
  private def packWords(qv: Seq[Long]): (Long, Long) = {
    def word(lo: Int): Long =
      qv.slice(lo, lo + 32).foldLeft(0L)((a, x) =>
        a * 2 + (if (x > 0L) 1L else 0L))
    (word(0), word(32))
  }

  test("hamming ANN: a planted clone is Hamming-0 and reranks first; a " +
      "sign-flip is Hamming-64 and last") {
    import spark.implicits._
    val q = (0 until 64).map(i => (0.1f + 0.01f * i) * (if (i % 3 == 0) 1 else -1))
    val rows = Seq(
      (0L, q),                       // the query
      (10L, q),                      // exact clone: ham 0, cos 1.0
      (11L, q.map(x => -x)),         // sign flip: ham 64, cos -1.0
      (12L, q.take(32) ++ q.drop(32).map(x => -x))) // half flip: ham 32
    val got = SimilarityOps.hammingTopkFrom(
        rows.toDF("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getInt(4)))
    assert(got.length == 3)
    assert(got(0) == ((0L, 10L, 0, 1.0, 1)), got.mkString(","))
    assert(got(2)._2 == 11L && got(2)._3 == 64 && got(2)._4 == -1.0)
    assert(got(1)._2 == 12L && got(1)._3 == 32)
    spark.catalog.clearCache()
  }

  test("hamming ANN matches a full driver-side replay (codes, shortlist, " +
      "exact rerank) on the sf corpus") {
    val emb = graft.ops.Tables(spark, sfDir).embeddings
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(v =>
          math.floor(v.toDouble * 1000.0 + 0.5).toLong))
      .toMap
    val words = emb.view.mapValues(packWords).toMap
    def nn(v: Seq[Long]): Long = v.map(x => x * x).sum
    def cos(a: Seq[Long], b: Seq[Long]): Double =
      if (nn(a) == 0L || nn(b) == 0L) 0.0
      else a.zip(b).map { case (x, y) => x * y }.sum.toDouble /
        (math.sqrt(nn(a).toDouble) * math.sqrt(nn(b).toDouble))
    val want = emb.keys.filter(_ < 10).toSeq.sorted.flatMap { qid =>
      val (qw1, qw2) = words(qid)
      val shortlist = emb.keys.filter(_ >= 10).toSeq
        .map { vid =>
          val (w1, w2) = words(vid)
          (vid, java.lang.Long.bitCount(w1 ^ qw1) +
            java.lang.Long.bitCount(w2 ^ qw2))
        }
        .sortBy { case (vid, h) => (h, vid) }.take(20)
      shortlist.map { case (vid, h) => (vid, h, cos(emb(qid), emb(vid))) }
        .sortBy { case (vid, _, c) => (-c, vid) }.take(5)
        .zipWithIndex
        .map { case ((vid, h, c), i) => (qid, vid, h, c, i + 1) }
    }
    val got = SimilarityOps.queries("sim_ann_hamming")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getInt(4))).toSeq
    assert(got == want, s"got=${got.take(8)} want=${want.take(8)}")
    spark.catalog.clearCache()
  }

  test("hamming recall counts the exact brute/hamming top-5 intersection") {
    import org.apache.spark.sql.functions._
    val e = graft.ops.Tables(spark, sfDir).embeddings
    val bf = graft.ops.SimilarityOps.bruteTopkFrom(e)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hm = graft.ops.SimilarityOps.hammingTopkFrom(e)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = bf.groupBy(_._1).view
      .mapValues(s => s.count(hm.contains).toLong).toMap
    val got = graft.ops.SimilarityOps
      .queries("sim_ann_recall_hamming")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == (0L to 9L), got.toSeq.toString)
    got.foreach { case (q, nHit, rec) =>
      assert(nHit == want(q), s"query $q: $nHit vs ${want(q)}")
      assert(rec == nHit.toDouble / 5.0)
    }
    assert(got.forall(g => g._2 >= 0L && g._2 <= 5L))
    spark.catalog.clearCache()
  }

  test("mips recall counts the exact brute-dot/mips top-5 intersection") {
    import org.apache.spark.sql.functions._
    val emb = graft.ops.Tables(spark, sfDir).embeddings
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(v =>
          math.floor(v.toDouble * 1000.0 + 0.5).toLong))
      .toMap
    def dot(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val bf = emb.keys.filter(_ < 10).toSeq.flatMap { qid =>
      emb.keys.filter(_ >= 10).toSeq
        .map(vid => (vid, dot(emb(qid), emb(vid))))
        .sortBy { case (vid, d) => (-d, vid) }.take(5)
        .map { case (vid, _) => (qid, vid) }
    }.toSet
    val mp = graft.ops.SimilarityOps.mipsTopkFrom(
        graft.ops.Tables(spark, sfDir).embeddings)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = bf.groupBy(_._1).view
      .mapValues(s => s.count(mp.contains).toLong).toMap
    val got = graft.ops.SimilarityOps
      .queries("sim_ann_recall_mips")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == (0L to 9L), got.toSeq.toString)
    got.foreach { case (q, nHit, rec) =>
      assert(nHit == want(q), s"query $q: $nHit vs ${want(q)}")
      assert(rec == nHit.toDouble / 5.0)
    }
    spark.catalog.clearCache()
  }

  test("mmr: a planted near-duplicate is demoted below a diverse " +
      "same-relevance candidate") {
    import spark.implicits._
    def vec(a: Float, b: Float): Seq[Float] =
      Seq(a, b) ++ Seq.fill(62)(0.0f)
    val rows = Seq(
      (0L, vec(1.0f, 0.0f)),       // the query (x axis)
      (10L, vec(0.9f, 0.436f)),    // rel 0.9
      (11L, vec(0.9f, 0.436f)),    // exact clone of 10: sim(11,10)=1
      (12L, vec(0.9f, -0.436f)))   // rel 0.9 but diverse from 10
    val got = SimilarityOps.mmrDiversifyFrom(
        rows.toDF("vec_id", "embedding"))
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    // round 1 ties on rel -> smallest id; round 2 must prefer the
    // DIVERSE candidate 12 over the redundant clone 11
    assert(got.toSeq == Seq((1, 10L), (2, 12L), (3, 11L)), got.mkString(","))
    spark.catalog.clearCache()
  }

  test("mmr matches a full driver-side greedy replay on the sf corpus") {
    val emb = graft.ops.Tables(spark, sfDir).embeddings
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(v =>
          math.floor(v.toDouble * 1000.0 + 0.5).toLong))
      .toMap
    def nn(v: Seq[Long]): Long = v.map(x => x * x).sum
    def cos(a: Seq[Long], b: Seq[Long]): Double =
      if (nn(a) == 0L || nn(b) == 0L) 0.0
      else a.zip(b).map { case (x, y) => x * y }.sum.toDouble /
        (math.sqrt(nn(a).toDouble) * math.sqrt(nn(b).toDouble))
    val want = emb.keys.filter(_ < 10).toSeq.sorted.flatMap { qid =>
      val cands = emb.keys.filter(_ >= 10).toSeq
        .map(vid => (vid, cos(emb(qid), emb(vid))))
        .sortBy { case (vid, c) => (-c, vid) }.take(10)
      var sel = Seq.empty[(Long, Double)] // (vec_id, rel)
      (1 to 5).map { r =>
        val scored = cands.filterNot(c => sel.exists(_._1 == c._1))
          .map { case (vid, rel) =>
            val pen = if (sel.isEmpty) 0.0
              else sel.map(s => cos(emb(vid), emb(s._1))).max
            (vid, rel, 0.7 * rel - 0.3 * pen)
          }
        val best = scored.minBy { case (vid, _, m) => (-m, vid) }
        sel = sel :+ ((best._1, best._2))
        (qid, r, best._1, best._2, best._3)
      }
    }
    val got = SimilarityOps.queries("sim_mmr_diversify")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == want, s"got=${got.take(6)} want=${want.take(6)}")
    spark.catalog.clearCache()
  }

  test("int8 quantization audit: exact counts/max-error vs a driver-side " +
      "replay, mse within fp tolerance, error bounded by half a bucket") {
    val emb = graft.ops.Tables(spark, sfDir).embeddings
      .select("label", "embedding").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).map(_.toDouble))
    val dims = emb.head._2.length
    val mn = (0 until dims).map(i => emb.map(_._2(i)).min)
    val mx = (0 until dims).map(i => emb.map(_._2(i)).max)
    val errs = emb.map { case (lab, v) =>
      lab -> (0 until dims).map { i =>
        if (mx(i) == mn(i)) 0.0
        else {
          val c = math.min(math.max(
            math.floor((v(i) - mn(i)) * 255.0 / (mx(i) - mn(i))), 0.0),
            255.0)
          v(i) - (mn(i) + (c + 0.5) * (mx(i) - mn(i)) / 255.0)
        }
      }
    }
    val want = errs.groupBy(_._1).view.mapValues { vs =>
      val es = vs.flatMap(_._2)
      (es.size.toLong, es.map(e => e * e).sum / es.size,
        es.map(math.abs).max)
    }.toMap
    val got = SimilarityOps.queries("sim_quantize_int8")(spark, sfDir)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet == want.keySet)
    val halfBucket = (0 until dims).map(i => (mx(i) - mn(i)) / 510.0).max
    got.foreach { case (lab, (n, mse, mae)) =>
      val (wn, wmse, wmae) = want(lab)
      assert(n == wn && mae == wmae, s"label $lab")
      // the operator's mse goes through the DECIMAL exact-sum contract;
      // the plain double replay agrees to fp-reassociation tolerance
      assert(math.abs(mse - wmse) <= 1e-9 * math.max(mse, 1e-12),
        s"label $lab mse got=$mse want=$wmse")
      assert(mae <= halfBucket * (1 + 1e-12))
    }
  }

  test("filtered search: pre-filter always fills k, post-filter " +
      "under-fills, overlap is bounded by both") {
    val got = graft.ops.SimilarityOps
      .queries("sim_ann_filtered")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    spark.catalog.clearCache()
    assert(got.map(_._1).toSeq == (0L to 9L))
    got.foreach { case (q, pre, post, ov) =>
      assert(pre == 5L, s"query $q: corpus has >5 same-label vectors")
      assert(post <= 5L && ov <= math.min(pre, post), s"query $q")
      // post-filter results, when they exist, come from the blind
      // top-20, so they can only agree with pre where labels align
    }
    // the demonstration bites: at ~10 labels a blind top-20 holds ~2
    // same-label hits, so SOME query must under-fill
    assert(got.exists(_._3 < 5L), got.toSeq.toString)
  }

  test("farthest init: picks match an exact driver-side maximin replay") {
    import org.apache.spark.sql.functions._
    val vecs = graft.ops.Tables(spark, sfDir).embeddings
      .select(col("vec_id"), col("embedding"))
      .collect().map { r =>
        r.getLong(0) -> r.getSeq[Float](1)
          .map(x => math.floor(x.toDouble * 1000.0 + 0.5).toLong).toArray
      }.toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var chosen = Seq(0L)
    val want = scala.collection.mutable.ArrayBuffer((0, 0L, 0L))
    for (r <- 1 to 3) {
      val best = vecs.keys.filterNot(chosen.contains).map { id =>
        (chosen.map(c => d2(vecs(id), vecs(c))).min, id)
      }.minBy { case (mind, id) => (-mind, id) }
      want += ((r, best._2, best._1))
      chosen = chosen :+ best._2
    }
    val got = graft.ops.SimilarityOps
      .queries("sim_farthest_init")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    spark.catalog.clearCache()
    assert(got == want.toSeq, s"got=$got want=$want")
    // the picks are distinct and spread: each round's maximin decreases
    assert(got.map(_._2).distinct.size == 4)
    assert(got.drop(1).map(_._3) == got.drop(1).map(_._3).sorted.reverse)
  }

  test("ivf nprobe curve: recall is monotone in nprobe and the nprobe=2 " +
      "point equals the standalone recall row's total") {
    val got = graft.ops.SimilarityOps
      .queries("sim_ivf_nprobe_curve")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    spark.catalog.clearCache()
    assert(got.map(_._1).toSeq == Seq(1, 2, 4))
    // more probed lists can only add candidates → recall is monotone
    assert(got.map(_._2).toSeq == got.map(_._2).toSeq.sorted)
    got.foreach { case (_, h, r) => assert(r == h.toDouble / 50.0) }
    val ivf2 = graft.ops.SimilarityOps
      .queries("sim_ann_recall_ivf")(spark, sfDir)
      .collect().map(_.getLong(1)).sum
    spark.catalog.clearCache()
    assert(got(1)._2 == ivf2, s"${got(1)._2} vs $ivf2")
  }

  test("pq and ivfpq recall count the exact brute/approx top-5 " +
      "intersections — the measured-recall matrix is complete") {
    val e = graft.ops.Tables(spark, sfDir).embeddings
    val bf = graft.ops.SimilarityOps.bruteTopkFrom(e)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for ((name, approx) <- Seq(
        "sim_ann_recall_pq" -> graft.ops.SimilarityOps.pqTopkFrom(e),
        "sim_ann_recall_ivfpq" ->
          graft.ops.SimilarityOps.ivfpqTopkFrom(e, 2))) {
      val ap = approx.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = bf.groupBy(_._1).view
        .mapValues(s => s.count(ap.contains).toLong).toMap
      val got = graft.ops.SimilarityOps.queries(name)(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.map(_._1).toSeq == (0L to 9L), s"$name: ${got.toSeq}")
      got.foreach { case (q, nHit, rec) =>
        assert(nHit == want(q), s"$name query $q: $nHit vs ${want(q)}")
        assert(rec == nHit.toDouble / 5.0)
        assert(nHit >= 0L && nHit <= 5L)
      }
      spark.catalog.clearCache() // ivfpqTopkFrom persists its base
    }
  }

  test("shard plan: serpentine placement matches a replay, tiles the " +
      "corpus, and never balances worse than naive round-robin") {
    val labels = graft.ops.Tables(spark, sfDir).embeddings
      .filter(org.apache.spark.sql.functions.col("vec_id") >= 10)
      .select("label").collect().map(_.getInt(0))
    val counts = labels.groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.sortBy { case (l, n) => (-n, l) }
    val k = 4
    def serp(r: Int): Int = if ((r / k) % 2 == 0) r % k else k - 1 - r % k
    val byShard = counts.zipWithIndex
      .groupBy { case (_, r) => serp(r) }.view
      .mapValues(xs => (xs.size.toLong, xs.map(_._1._2).sum)).toMap
    val total = counts.map(_._2).sum
    val want = byShard.toSeq.sortBy(_._1).map { case (s, (nl, nv)) =>
      (s.toLong, nl, nv, nv.toDouble * k / total.toDouble)
    }
    val got = graft.ops.SimilarityOps.queries("sim_shard_plan")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == want, s"got=$got want=$want")
    assert(got.map(_._3).sum == total, "shards must tile the corpus")
    // serpentine beats (or ties) naive round-robin on max shard load
    val rr = counts.zipWithIndex.groupBy(_._2 % k).view
      .mapValues(_.map(_._1._2).sum).values.max
    assert(got.map(_._3).max <= rr,
      s"serpentine max ${got.map(_._3).max} vs round-robin max $rr")
    spark.catalog.clearCache()
  }

  test("range recall: ground truth matches an exact sweep; found is a " +
      "subset of truth (precision 1 by construction)") {
    import org.apache.spark.sql.functions._
    val vecs = graft.ops.Tables(spark, sfDir).embeddings
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(f => math.floor(f.toDouble * 1000.0 + 0.5)
          .toLong).toArray))
    val norms = vecs.map { case (id, v) =>
      id -> v.map(x => x * x).sum
    }.toMap
    def cos(a: Array[Long], b: Array[Long], na: Long, nb: Long): Double =
      if (na == 0L || nb == 0L) 0.0
      else a.zip(b).map { case (x, y) => x * y }.sum.toDouble /
        (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    val qs = vecs.filter(_._1 < 10)
    val corpus = vecs.filter(_._1 >= 10)
    val truth = qs.map { case (q, qv) =>
      q -> corpus.count { case (c, cv) =>
        cos(qv, cv, norms(q), norms(c)) >= 0.2
      }.toLong
    }.toMap
    val found = graft.ops.SimilarityOps
      .queries("sim_range_search")(spark, sfDir)
      .collect().map(r => r.getLong(0)).groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val got = graft.ops.SimilarityOps
      .queries("sim_range_recall")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.map(_._1).toSeq == (0L to 9L))
    got.foreach { case (q, nTrue, nFound, rec) =>
      assert(nTrue == truth(q), s"query $q: $nTrue vs ${truth(q)}")
      assert(nFound == found.getOrElse(q, 0L), s"query $q found")
      assert(nFound <= nTrue, s"query $q: precision must be 1")
      if (nTrue > 0) assert(rec == nFound.toDouble / nTrue.toDouble)
      else assert(rec == 1.0)
    }
    // the eval is non-degenerate: truth exists and the probes miss some
    assert(got.map(_._2).sum > 0L)
    spark.catalog.clearCache()
  }

  test("kmeans convergence: round-1 memberships equal sim_kmeans_step's, " +
      "clusters tile the corpus both rounds, displacement is honest") {
    val step = graft.ops.SimilarityOps
      .queries("sim_kmeans_step")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = graft.ops.SimilarityOps
      .queries("sim_kmeans_convergence")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    val total = graft.ops.Tables(spark, sfDir).embeddings.count()
    assert(got.map(_._1).toSet == step.keySet, "cluster sets differ")
    got.foreach { case (c, n1, n2, disp2, conv) =>
      assert(n1 == step(c), s"cluster $c: round-1 members $n1 vs ${step(c)}")
      assert(disp2 >= 0L && conv == (disp2 == 0L), s"cluster $c")
      assert(n1 > 0L && n2 > 0L)
    }
    assert(got.map(_._2).sum == total && got.map(_._3).sum == total,
      "assignments must tile the corpus in both rounds")
    spark.catalog.clearCache()
  }

  test("recall vs k: prefix counts are monotone, the k=5 point agrees " +
      "with sim_ann_recall's per-query hit total") {
    val got = graft.ops.SimilarityOps
      .queries("sim_recall_vs_k")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == Seq(1, 5, 10))
    val byK = got.map(r => r._1 -> r._2).toMap
    assert(byK(1) <= byK(5) && byK(5) <= byK(10),
      "prefix hit counts must be monotone in k")
    got.foreach { case (k, h, rec) =>
      assert(rec == h.toDouble / (k * 10).toDouble)
      assert(h >= 0L && h <= 10L * k)
    }
    spark.catalog.clearCache()
    val r5 = graft.ops.SimilarityOps.queries("sim_ann_recall")(spark, sfDir)
      .collect().map(_.getLong(1)).sum
    assert(byK(5) == r5,
      s"k=5 hits ${byK(5)} vs sim_ann_recall total $r5")
    spark.catalog.clearCache()
  }

  test("knn classify: the vote matches the brute top-5's labels with the " +
      "(votes, smallest-label) tie rule") {
    val labels = graft.ops.Tables(spark, sfDir).embeddings
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val top5 = graft.ops.SimilarityOps
      .queries("sim_topk_bruteforce")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = top5.groupBy(_._1).toSeq.map { case (q, ns) =>
      val votes = ns.map(n => labels(n._2)).groupBy(identity).view
        .mapValues(_.size.toLong).toSeq
        .sortBy { case (l, v) => (-v, l) }
      val (pl, nv) = votes.head
      (q, labels(q), pl, nv, pl == labels(q))
    }.sortBy(_._1)
    val got = graft.ops.SimilarityOps
      .queries("sim_knn_classify")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getBoolean(4))).toSeq
    assert(got == want, s"got=${got.take(3)} want=${want.take(3)}")
    assert(got.map(_._1) == (0L to 9L))
    assert(got.forall(g => g._4 >= 1L && g._4 <= 5L))
    spark.catalog.clearCache()
  }

  test("embedding drift: parity cohorts of the sf corpus score near-1 " +
      "for stable labels, and the cosine matches a driver replay") {
    import org.apache.spark.sql.functions._
    val rows = graft.ops.Tables(spark, sfDir).embeddings
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).toArray))
    def q(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1000.0 + 0.5).toLong)
    val byKey = rows.groupBy(r => (r._2, r._1 % 2))
    def cent(label: Int, half: Long): (Array[Long], Long, Long) = {
      val vs = byKey((label, half)).map(r => q(r._3))
      val d = vs.head.length
      val sum = Array.tabulate(d)(i => vs.map(_(i)).sum)
      val cv = sum.map(sv => Math.floorDiv(sv * 1000L, vs.length.toLong))
      (cv, cv.map(x => x * x).sum, vs.length.toLong)
    }
    val want = rows.map(_._2).distinct.sorted.map { l =>
      val (v0, nn0, n0) = cent(l, 0L)
      val (v1, nn1, n1) = cent(l, 1L)
      val dot = v0.zip(v1).map { case (a, b) => a * b }.sum
      val cos = if (nn0 == 0L || nn1 == 0L) 0.0
        else dot.toDouble / (math.sqrt(nn0.toDouble) *
          math.sqrt(nn1.toDouble))
      (l, n0, n1, cos)
    }.toSeq
    val got = graft.ops.SimilarityOps
      .queries("sim_embedding_drift")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == want, s"got=${got.take(3)} want=${want.take(3)}")
    // the sf corpus is i.i.d. mean-zero: cohort centroids are NOISE and
    // the cosine is honestly near-chance — bounded, not near 1
    assert(got.forall(r => r._4 >= -1.0 && r._4 <= 1.0), got)
    spark.catalog.clearCache()
    // planted structure is where the monitor reads: label 1's vectors
    // share a direction (stable across cohorts -> cos ~ 1); label 2's
    // odd cohort is SHIFTED to an orthogonal direction -> cos low
    import spark.implicits._
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val planted = (0 until 8).map { i =>
      (i.toLong, v(1.0 + 0.01 * i, 0.1 * (i % 2)), 1)
    } ++ (8 until 16).map { i =>
      if (i % 2 == 0) (i.toLong, v(1.0 + 0.01 * i, 0.0), 2)
      else (i.toLong, v(0.0, 1.0 + 0.01 * i), 2)
    }
    val pd = planted.toDF("vec_id", "embedding", "label")
    val gp = graft.ops.SimilarityOps.embeddingDriftFrom(pd)
      .collect().map(r => (r.getInt(0), r.getDouble(3))).toMap
    assert(gp(1) > 0.95, s"stable label drifted: ${gp(1)}")
    assert(gp(2) < 0.2, s"shifted label read stable: ${gp(2)}")
    spark.catalog.clearCache()
  }

  test("graph greedy: walks are monotone and fixed, and on a planted " +
      "chain the walk climbs to the true nearest neighbor") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // ONE cell: query 0 plus a chain 10..13 of increasing similarity to
    // the query; each corpus vector's nearest neighbors link the chain,
    // so the greedy walk must climb entry -> ... -> 13 (the true NN)
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val planted = Seq(
      (0L, v(1.0, 0.0), 1),         // query: direction (1, 0)
      (10L, v(-0.2, 1.0), 1),       // far
      (11L, v(0.4, 1.0), 1),
      (12L, v(1.0, 0.8), 1),
      (13L, v(1.0, 0.2), 1))        // true NN
      .toDF("vec_id", "embedding", "label")
    val gotP = graft.ops.SimilarityOps
      .graphGreedyFrom(planted, m = 1, steps = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(gotP.map(_._2) == Seq(0, 1, 2, 3))
    // m=1 chain: each hop moves exactly one link toward the NN, so the
    // terminal step must reach 13 regardless of the entry medoid
    assert(gotP.last._3 == 13L, s"walk=$gotP")
    val cosP = gotP.map(_._4)
    assert(cosP.zip(cosP.tail).forall { case (a, b) => b >= a },
      s"non-monotone walk: $cosP")
    spark.catalog.clearCache()
    // sf corpus: 10 queries x 4 steps, monotone per query, final step a
    // LOCAL optimum (no graph neighbor of the endpoint scores higher)
    val sf = graft.ops.SimilarityOps
      .queries("sim_ann_graph_greedy")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(sf.size == 40 && sf.map(_._1).distinct.size == 10)
    sf.groupBy(_._1).values.foreach { rows =>
      val walk = rows.sortBy(_._2).map(_._4)
      assert(walk.zip(walk.tail).forall { case (a, b) => b >= a },
        s"non-monotone: $walk")
    }
    spark.catalog.clearCache()
    // the recall row agrees with the walk endpoints and the brute truth,
    // and hit@1 implies hit@5
    val ends = sf.filter(_._2 == 3).map(r => r._1 -> r._3).toMap
    val brute = graft.ops.SimilarityOps
      .queries("sim_topk_bruteforce")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val rec = graft.ops.SimilarityOps
      .queries("sim_ann_recall_graph")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getBoolean(3))).toSeq
    assert(rec.map(_._1) == (0L to 9L))
    rec.foreach { case (qid, v, h1, h5) =>
      assert(v == ends(qid), s"endpoint mismatch for $qid")
      val t1 = brute.find(b => b._1 == qid && b._3 == 1).get._2
      val t5 = brute.filter(_._1 == qid).map(_._2).toSet
      assert(h1 == (v == t1) && h5 == t5(v), s"$qid: $h1/$h5")
      assert(!h1 || h5)
    }
    spark.catalog.clearCache()
  }
}
