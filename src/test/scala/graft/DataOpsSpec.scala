package graft

import org.apache.spark.sql.functions._

import graft.ops.{DataOps, Tables}

class DataOpsSpec extends GraftSuite {

  test("hash split is deterministic, total, and near the 80/10/10 target") {
    val rows = DataOps.queries("data_split_hash")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = rows.values.sum
    assert(total == Tables(spark, sfDir).documents.count())
    // hash assignment concentrates near the target rates (loose bounds on
    // the 500-doc sf0.001 corpus); determinism: a second run is identical
    assert(rows("train").toDouble / total > 0.7, rows.toString)
    assert(rows("train").toDouble / total < 0.9, rows.toString)
    val again = DataOps.queries("data_split_hash")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == rows)
  }

  test("stratified sample rates track the per-language targets") {
    val rows = DataOps.queries("data_sample_stratified")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, total, sampled) =>
      assert(sampled <= total)
      val target = if (lang == "en") 0.5 else 0.25
      // binomial bounds, loose for small strata
      if (total >= 50)
        assert(math.abs(sampled.toDouble / total - target) < 0.2,
          s"$lang: $sampled/$total vs $target")
    }
  }

  test("upsampling: planted mass imbalance yields the exact repeat factors") {
    import spark.implicits._
    // lang masses: big=100, mid=40, tiny=10 → factors ceil(100/m) capped
    // at 4: big=1, mid=ceil(100/40)=3, tiny=ceil(100/10)=10→capped 4
    val docs = Seq(
      (0L, "big", 60L), (1L, "big", 40L),
      (2L, "mid", 40L),
      (3L, "tiny", 10L)).toDF("doc_id", "lang", "n_chars")
    val got = DataOps.upsampleEpochsFrom(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    val want = Seq(
      (0L, "big", 1, 1), (1L, "big", 1, 1),
      (2L, "mid", 1, 3), (2L, "mid", 2, 3), (2L, "mid", 3, 3),
      (3L, "tiny", 1, 4), (3L, "tiny", 2, 4), (3L, "tiny", 3, 4),
      (3L, "tiny", 4, 4))
    assert(got.toSeq == want, got.toSeq.toString)
  }

  test("decontamination flags exactly the docs sharing an 8-gram with bench") {
    // ground truth computed INDEPENDENTLY of the word_shingles kernel:
    // pure-Scala sliding windows over the raw text — a shingler bug cannot
    // cancel out between query and expectation
    val texts = Tables(spark, sfDir).documents
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(t: String): Set[String] =
      t.split(" ", -1).toSeq.sliding(8).filter(_.length == 8)
        .map(_.mkString(" ")).toSet
    val bench = texts.filter(_._1 < 20).values.flatMap(grams).toSet
    val expected = texts.collect {
      case (id, t) if id >= 20 && (grams(t) & bench).nonEmpty =>
        id -> (grams(t) & bench).size.toLong
    }
    val got = DataOps.queries("data_decontaminate")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected,
      s"got ${got.size} contaminated docs, expected ${expected.size}")
    // the broadcast shape: no shuffle for candidate generation
    val df = DataOps.queries("data_decontaminate")(spark, sfDir)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("decontamination removal keeps exactly the gram-disjoint docs") {
    // same independent pure-Scala ground truth as the counting form
    val docs = Tables(spark, sfDir).documents
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(t: String): Set[String] =
      t.split(" ", -1).toSeq.sliding(8).filter(_.length == 8)
        .map(_.mkString(" ")).toSet
    val bench = docs.filter(_._1 < 20).values.flatMap(grams).toSet
    val expected = docs.collect {
      case (id, t) if id >= 20 && (grams(t) & bench).isEmpty => id
    }.toSeq.sorted
    val df = DataOps.queries("data_decontaminate_clean")(spark, sfDir)
    val got = df.collect().map(_.getLong(0)).toSeq
    assert(got == expected, s"kept ${got.size}, expected ${expected.size}")
    // some docs must actually be dropped, or the test proves nothing
    assert(got.size < docs.count(_._1 >= 20), "no doc was contaminated")
    // shape: the drop is a broadcast LeftAnti — the corpus is never
    // shuffled for the removal (a SortMergeJoin here is a regression)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("sequence packing fills contiguous 2048-token bins per shard") {
    val packs = DataOps.queries("data_pack_sequences")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(packs.nonEmpty)
    val byShard = packs.groupBy(_._1)
    byShard.foreach { case (shard, ps) =>
      // pack ids are contiguous from the first bin
      val ids = ps.map(_._2).sorted
      assert(ids.head == 0L, s"shard $shard starts at pack ${ids.head}")
      assert(ids.zip(ids.tail).forall { case (a, b) => b == a + 1 },
        s"shard $shard pack ids not contiguous: ${ids.mkString(",")}")
      // every bin except the last holds close to its 2048-token budget:
      // a bin closes only once the running sum crosses a boundary, so it
      // can only undershoot by less than the first token count of the doc
      // that closed it — assert the loose invariant pack_tokens >= 1
      // and total conservation instead of per-bin exactness
      val totalTokens = ps.map(_._4).sum
      val expected = Tables(spark, sfDir).documents
        .filter(pmod(col("doc_id"), lit(8)) === shard)
        .select(sum(size(split(col("text"), " "))))
        .collect()(0).getLong(0)
      assert(totalTokens == expected, s"shard $shard token conservation")
    }
  }

  test("vocab top-k matches a brute-force bigram count and prunes via " +
    "WindowGroupLimit") {
    // ground truth independent of the word_shingles kernel: pure-Scala
    // sliding bigrams over the raw text
    val docs = Tables(spark, sfDir).documents
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val counts = docs
      .flatMap { case (lang, t) =>
        val ts = t.split(" ", -1)
        ts.indices.dropRight(1).map(i => (lang, s"${ts(i)} ${ts(i + 1)}"))
      }
      .groupBy(x => x).view.mapValues(_.length.toLong).toMap
    val expected = counts.groupBy(_._1._1).flatMap { case (lang, m) =>
      m.toSeq.map { case ((_, bg), n) => (bg, n) }
        .sortBy { case (bg, n) => (-n, bg) }
        .take(5).zipWithIndex
        .map { case ((bg, n), i) => (lang, bg, n, i + 1) }
    }.toSet
    val df = DataOps.queries("data_vocab_topk")(spark, sfDir)
    val got = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected per-group top-k pruning before the window:\n${plan.take(3000)}")
  }

  test("mixture weights even the token budget across sources") {
    val rows = DataOps.queries("data_mixture_weights")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._2).sum == Tables(spark, sfDir).documents.count())
    val total = rows.map(_._3).sum.toDouble
    val target = total / rows.length
    rows.foreach { case (src, _, tok, w) =>
      // reweighted token mass per source equals the uniform target share
      assert(math.abs(w * tok - target) / target < 1e-12,
        s"$src: $w * $tok vs $target")
    }
  }

  test("pipeline_pretrain: planted corpus exercises every stage") {
    import spark.implicits._
    def words(n: Int, p: String): String =
      (1 to n).map(i => s"$p$i").mkString(" ")
    val benchGram = words(8, "bench") // the contaminating 8-gram
    val good = words(60, "w")
    val docs = Seq(
      // benchmark doc (id < 20): its grams contaminate matching corpus docs
      (1L, "en", s"$benchGram ${words(10, "pad")}"),
      (20L, "en", good),                        // survivor
      (21L, "en", good),                        // exact dup of 20 -> dropped
      (22L, "fr", words(60, "f")),              // wrong language -> dropped
      (23L, "en", words(10, "s")),              // too short -> dropped
      // stopword-heavy: 40 'the' + 20 distinct -> ratio 40/60 > 0.35
      (24L, "en", (Seq.fill(40)("the") ++ (1 to 20).map(i => s"t$i"))
        .mkString(" ")),
      // contaminated: contains the benchmark 8-gram verbatim
      (25L, "en", s"$benchGram ${words(52, "c")}"),
      // unique survivor with PII: scrub changes the hash, not the verdict
      (26L, "en", s"mail bob@example.org customer ${words(57, "u")}")
    ).toDF("doc_id", "lang", "text")
    val got = DataOps.pipelinePretrainFrom(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(got.map(_._1).toSeq == Seq(20L, 26L),
      s"wrong survivors: ${got.toSeq}")
    assert(got(0)._2 == 60 && got(1)._2 == 60)
    // clean_hash is the md5 of the SCRUBBED text
    val scrubbed26 = "mail <EMAIL> <REDACTED> " + words(57, "u")
    val want = java.security.MessageDigest.getInstance("MD5")
      .digest(scrubbed26.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1)._3 == want, s"hash ${got(1)._3} != $want")
  }

  test("systematic sample: ~20 mass-proportional picks per language, " +
    "exactly the stride-multiple intervals") {
    val got = DataOps.queries("data_sample_systematic")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // ground truth recomputed independently in plain Scala
    val docs = Tables(spark, sfDir).documents
      .select(col("lang"), col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = docs.groupBy(_._1).toSeq.flatMap { case (lang, rows) =>
      val sorted = rows.sortBy(_._2)
      val total = sorted.map(_._3).sum
      val stride = total / 20
      var cum = 0L
      sorted.flatMap { case (_, id, w) =>
        val prev = cum; cum += w
        if (stride > 0 && cum / stride > prev / stride) Some(lang -> id)
        else None
      }
    }.sortBy(identity)
    assert(got.toSeq.sorted == want, s"got ${got.length}, want ${want.length}")
    // per-language pick counts concentrate at the ~20 target (a doc whose
    // mass spans multiple strides absorbs its extra picks, so the count
    // can dip under 20 on tiny strata — never over 21)
    got.groupBy(_._1).foreach { case (lang, picks) =>
      assert(picks.length >= 12 && picks.length <= 21,
        s"$lang picked ${picks.length}")
    }
  }

  test("snapshot diff: join-free plan, result equals the full-outer form") {
    val df = DataOps.queries("data_snapshot_diff")(spark, sfDir)
    // r5 plan pin: the rewrite must stay a single pre-filtered scan —
    // any join (the old full-outer SMJ) is a regression at 100 TB
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), plan)
    // semantic pin: the join-free classifier is row-for-row the textbook
    // full-outer CDC diff it replaced (built inline as the ground truth)
    val docs = Tables(spark, sfDir).documents.select(col("doc_id"), col("text"))
    val isUpd = pmod(xxhash64(
      concat(lit("U"), col("doc_id").cast("string"))), lit(5)) === 0
    val oldSnap = docs.filter(col("doc_id") % 17 =!= 5)
      .select(col("doc_id"), md5(col("text")).as("old_md5"))
    val newSnap = docs.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"),
        md5(when(isUpd, upper(col("text"))).otherwise(col("text")))
          .as("new_md5"))
    val joined = oldSnap.join(newSnap, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_md5").isNull, "added")
          .when(col("new_md5").isNull, "removed")
          .when(col("old_md5") =!= col("new_md5"), "changed")
          .otherwise("same"))
      .filter(col("status") =!= "same")
      .select("doc_id", "status", "old_md5", "new_md5")
      .orderBy("doc_id")
    val got = df.collect().toSeq
    assert(got.nonEmpty)
    assert(got == joined.collect().toSeq)
  }

  test("winsorize: rank thresholds, clip counts, and the exact clipped " +
      "sum on a planted 1..100 group") {
    import spark.implicits._
    val df = (1 to 100).map(i => ("A", i.toDouble)).toDF("grp", "v")
    val r = DataOps.winsorizeFrom(df).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getString(0) == "A")
    assert(row.getLong(1) == 100L)
    // lo = value at rank floor(0.05*99)+1 = 5; hi at floor(0.95*99)+1 = 95
    assert(row.getDouble(2) == 5.0, s"lo=${row.getDouble(2)}")
    assert(row.getDouble(3) == 95.0, s"hi=${row.getDouble(3)}")
    assert(row.getLong(4) == 4L)  // 1..4 clipped up
    assert(row.getLong(5) == 5L)  // 96..100 clipped down
    // 4*5 + (5+...+95) + 5*95 = 20 + 4550 + 475
    assert(row.getDouble(6) == 5045.0)
  }

  test("compaction plan: prefix-sum binning closes groups at the target " +
      "and gives an oversized file its own group") {
    import spark.implicits._
    val inv = Seq(
      ("en", 1L, 10L), ("en", 2L, 10L), ("en", 3L, 10L),
      ("en", 4L, 10L), ("en", 5L, 10L),
      ("de", 1L, 100L), ("de", 2L, 10L))
      .toDF("lang", "file_id", "bytes")
    val out = DataOps.compactionPlanFromInventory(inv, 25L).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // en: bytes-before 0,10,20,30,40 -> bins 0,0,0,1,1
    assert(out(("en", 0L)) == ((3L, 30L, 1L, 3L)), out.toString)
    assert(out(("en", 1L)) == ((2L, 20L, 4L, 5L)))
    // de: the 100-byte file fills bins past the target alone; the next
    // file starts at offset 100 -> bin 4
    assert(out(("de", 0L)) == ((1L, 100L, 1L, 1L)))
    assert(out(("de", 4L)) == ((1L, 10L, 2L, 2L)))
    assert(out.size == 4)
  }

  test("incremental join: the four delta terms partition the full join") {
    import org.apache.spark.sql.functions._
    val t = graft.ops.Tables(spark, sfDir)
    val full = t.lineitem.join(t.orders,
      col("l_orderkey") === col("o_orderkey")).count()
    val isDelta = (c: org.apache.spark.sql.Column) =>
      pmod(xxhash64(concat(lit("D"), c.cast("string"))), lit(10)) === 0
    val li = t.lineitem.withColumn("l_new",
      isDelta(col("l_orderkey") * 10000 + col("l_linenumber")))
    val ord = t.orders.withColumn("o_new", isDelta(col("o_orderkey")))
    val terms = for (ln <- Seq(false, true); on <- Seq(false, true)) yield
      li.filter(col("l_new") === ln).join(ord.filter(col("o_new") === on),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(terms.sum == full, s"terms=$terms full=$full")
    // a genuine split: the snapshot-only term must not BE the full join
    assert(terms.head < full && terms.head > 0)
  }

  test("quality checks: clean fixture yields zero violations, sane counts") {
    val got = DataOps.queries("data_quality_checks")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got.size == 6)
    val t = graft.ops.Tables(spark, sfDir)
    assert(got("orders_orderkey_unique")._1 == t.orders.count())
    assert(got("lineitem_fk_orders")._1 == t.lineitem.count())
    got.foreach { case (name, (n, viol)) =>
      assert(viol >= 0 && viol <= n, s"$name: $viol of $n")
      // the driver fixture is referentially intact and in-domain — any
      // violation here means the CHECK is broken, not the data
      assert(viol == 0, s"$name flagged $viol rows on the clean fixture")
    }
  }

  test("zone-map pruning is sound and matches a per-file replay") {
    val docs = graft.ops.Tables(spark, sfDir).documents
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = docs.groupBy(_._1 / 50).map { case (f, ds) =>
      val cs = ds.map(_._2)
      val matching = cs.count(c => c >= 900 && c <= 1100).toLong
      (f, cs.min, cs.max, ds.length.toLong, matching,
        !(cs.max >= 900 && cs.min <= 1100))
    }.toSeq.sortBy(_._1)
    val got = DataOps.queries("data_zonemap_prune")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toSeq
    assert(got == want)
    // soundness: a pruned file can never contain a matching row
    got.foreach { case (f, _, _, _, matching, pruned) =>
      assert(!pruned || matching == 0L, s"file $f pruned but has matches")
    }
  }

  test("encoding advisor: planted run/cardinality structure gets the " +
      "expected advice per column") {
    import spark.implicits._
    // 400 rows: event_type constant-ish (2 values, long runs) -> dict
    // (ndv*20 <= n wins first); user_id strictly increasing -> plain;
    // value alternates every row between many values -> plain
    val rows = (0L until 400L).map { i =>
      (i, if (i < 390) "a" else "b", i, (i % 97).toDouble / 10.0)
    }
    val df = rows.toDF("event_id", "event_type", "user_id", "value")
    val got = graft.ops.DataOps.encodingAdvisorFrom(df, blockSize = 128L)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(5))).toMap
    // 4 block starts + the a->b switch inside block 3 = 5 runs
    assert(got("event_type") == ((400L, 2L, 5L, "dictionary")),
      got("event_type"))
    // user_id: 400 distinct over 400 rows, every row a run start
    assert(got("user_id") == ((400L, 400L, 400L, "plain")), got("user_id"))
    // value: 97 distinct, runs everywhere -> ndv*20 > n -> not dict;
    // n_runs*2 > n -> plain
    assert(got("value")._4 == "plain", got("value"))
    // run counting restarts at block boundaries: a constant column over
    // 400 rows with blockSize 128 has ceil(400/128)=4 runs, counted above
  }

  test("k-anonymity: classes partition the table, at_risk iff n < 5, " +
      "plain-Scala replay agrees") {
    val got = DataOps.queries("data_k_anonymity")(spark, sfDir)
      .collect()
      .map(r => ((r.getInt(0), r.getString(1), r.getLong(2)),
        (r.getLong(3), r.getBoolean(4)))).toSeq
    val cust = graft.ops.Tables(spark, sfDir).customer
      .select("c_nationkey", "c_mktsegment", "c_acctbal").collect()
      .map(r => (r.getInt(0), r.getString(1),
        math.floor(r.getDouble(2) / 2000.0).toLong))
    val want = cust.groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.map { case (k, n) => (k, (n, n < 5)) }.sortBy(_._1)
    assert(got == want)
    // every record lands in exactly one class
    assert(got.map(_._2._1).sum == cust.length.toLong)
  }

  test("delete propagation: FK cascade counts match a plain-Scala replay " +
      "and partition every table") {
    val t = graft.ops.Tables(spark, sfDir)
    val got = DataOps.queries("data_delete_propagation")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val custKeys = t.customer.select("c_custkey").collect()
      .map(_.getLong(0))
    val orderOwner = t.orders.select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val liOrders = t.lineitem.select("l_orderkey").collect()
      .map(_.getLong(0))
    def split(purged: Long, total: Long) = (purged, total - purged)
    assert(got("customer") ==
      split(custKeys.count(_ % 97 == 0), custKeys.length))
    assert(got("orders") ==
      split(orderOwner.values.count(_ % 97 == 0), orderOwner.size))
    assert(got("lineitem") ==
      split(liOrders.count(ok => orderOwner(ok) % 97 == 0),
        liOrders.length))
    // the cascade actually fires on this corpus
    assert(got.values.forall { case (p, r) => p > 0 && r > 0 })
  }

  test("skew report: buckets partition the fact table, replay from the " +
      "engine's own hash stream") {
    import org.apache.spark.sql.functions._
    val t = graft.ops.Tables(spark, sfDir)
    val got = DataOps.queries("data_skew_report")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val perKey = t.lineitem.select("l_partkey").collect()
      .map(_.getLong(0)).groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val bucketOf = t.lineitem.select(col("l_partkey")).distinct()
      .withColumn("b", pmod(xxhash64(col("l_partkey").cast("string")),
        lit(32)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = perKey.groupBy { case (k, _) => bucketOf(k) }
      .map { case (b, ks) =>
        b -> (ks.values.sum, ks.size.toLong, ks.values.max)
      }.toSeq.sortBy(_._1)
    assert(got == want)
    assert(got.map(_._2._1).sum == t.lineitem.count())
  }

  test("column profile: plain-Scala replay over the rendered domain " +
      "(counts, lexicographic bounds, min-tie-break mode)") {
    val got = DataOps.queries("data_column_profile")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5), r.getString(6), r.getLong(7)))
      .toSeq
    val rows = graft.ops.Tables(spark, sfDir).orders
      .select("o_custkey", "o_orderkey", "o_orderpriority",
        "o_orderstatus").collect()
    val cols = Seq(
      "o_custkey" -> rows.map(_.getLong(0).toString),
      "o_orderkey" -> rows.map(_.getLong(1).toString),
      "o_orderpriority" -> rows.map(_.getString(2)),
      "o_orderstatus" -> rows.map(_.getString(3)))
    val want = cols.map { case (name, vs) =>
      val counts = vs.groupBy(identity).view.mapValues(_.length.toLong)
      val (topV, topN) = counts.toSeq.minBy { case (v, c) => (-c, v) }
      (name, vs.length.toLong, 0L, counts.size.toLong,
        vs.min, vs.max, topV, topN)
    }
    assert(got == want)
  }

  test("range partition plan: uniform histogram gives ceil(iN/k) " +
      "boundaries; skew collapses low buckets onto the hot value") {
    import spark.implicits._
    val uniform = (1L to 100L).toDF("vq")
    val got = graft.ops.DataOps.rangePartitionPlanFrom(uniform, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // boundary i = smallest v with v·8 >= i·100
    assert(got == Seq((1L, 13L), (2L, 25L), (3L, 38L), (4L, 50L),
      (5L, 63L), (6L, 75L), (7L, 88L), (8L, 100L)), got.toList)
    // 99 copies of value 1 + one 100: buckets 1..7 all close at the hot
    // value (cum(1)·8 = 792 >= 700), bucket 8 at the tail
    val skewed = (Seq.fill(99)(1L) :+ 100L).toDF("vq")
    val got2 = graft.ops.DataOps.rangePartitionPlanFrom(skewed, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 == ((1L to 7L).map(_ -> 1L) :+ (8L -> 100L)), got2.toList)
  }

  test("inclusion check: FK edges verify, the reversed edge fails with " +
      "exactly the idle customers unmatched") {
    val got = graft.ops.DataOps.queries("data_inclusion_check")(
        spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toList
    val t = graft.ops.Tables(spark, sfDir)
    val custs = t.customer.select("c_custkey").collect()
      .map(_.getLong(0)).toSet
    val activeUsers = t.events.select("user_id").collect()
      .map(_.getLong(0)).toSet
    val inactive = (custs -- activeUsers).size
    assert(got.map(_._1) == List("customer.c_custkey",
      "lineitem.l_orderkey", "orders.o_custkey"))
    // the two real FK edges hold; the customer → event-log edge misses
    // exactly the customers that never emitted an event
    assert(got(1)._3 == 0L && got(1)._4)
    assert(got(2)._3 == 0L && got(2)._4)
    assert(got(0)._2 == custs.size.toLong &&
      got(0)._3 == inactive.toLong && !got(0)._4, got(0))
  }

  test("pseudonymize: aggregate over pseudonyms equals the raw-id " +
      "aggregate re-keyed through the same hash") {
    import org.apache.spark.sql.functions._
    val got = graft.ops.DataOps.queries("data_pseudonymize")(spark, sfDir)
    // independent plan: aggregate on the RAW id first, then hash the key
    val want = graft.ops.Tables(spark, sfDir).events
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
        graft.ops.Oracle.dsum(col("value")).as("sum_value"))
      .select(
        xxhash64(concat(lit("P"), col("user_id").cast("string")))
          .as("pseudonym"),
        col("n_events"), col("n_purchases"), col("sum_value"))
      .orderBy("pseudonym")
    val g = got.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getDouble(3))).toSeq
    val w = want.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getDouble(3))).toSeq
    assert(g == w)
    // pseudonyms are unique per user (no hash collision at this scale)
    assert(g.map(_._1).distinct.size == w.size)
  }

  test("fd check: key FD holds, denormalization candidates report " +
      "independently-recomputed violation counts") {
    import org.apache.spark.sql.functions._
    val t = graft.ops.Tables(spark, sfDir)
    val got = graft.ops.DataOps.queries("data_fd_check")(spark, sfDir)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(got.size == 4)
    // the key FD holds with fan-out exactly 1
    assert(got("o_orderkey->o_custkey") ==
      ((t.orders.count(), 0L, 1L, true)))
    // independent recompute of one failing candidate via a different path
    val nd = t.customer.select("c_nationkey", "c_mktsegment").distinct()
      .groupBy("c_nationkey").count().collect()
      .map(r => r.getLong(1))
    val want = (nd.length.toLong, nd.count(_ > 1).toLong, nd.max, false)
    assert(got("c_nationkey->c_mktsegment") == want)
  }

  test("split balance: cells tile the split counts and the chi2 tree " +
      "matches a driver-side replay") {
    import org.apache.spark.sql.functions._
    // cells from the SAME hash stream the operator uses (Spark xxhash64)
    val cells = graft.ops.Tables(spark, sfDir).documents
      .select(col("lang"),
        pmod(xxhash64(col("doc_id").cast("string")), lit(100)).as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .map { case (l, b) =>
        (l, if (b < 80) "train" else if (b < 90) "validation" else "test") }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def c(l: String, s: String) = cells.getOrElse((l, s), 0L)
    val langs = cells.keys.map(_._1).toSeq.distinct.sorted
    val (tt, tv, ts) = (langs.map(c(_, "train")).sum,
      langs.map(c(_, "validation")).sum, langs.map(c(_, "test")).sum)
    val bigN = (tt + tv + ts).toDouble
    val want = langs.map { l =>
      val (nt, nv, nx) = (c(l, "train"), c(l, "validation"), c(l, "test"))
      val nl = (nt + nv + nx).toDouble
      def contrib(n: Long, t: Long): Double = {
        val e = nl * t.toDouble / bigN
        (n.toDouble - e) * (n.toDouble - e) / e
      }
      l -> ((nt, nv, nx,
        contrib(nt, tt) + contrib(nv, tv) + contrib(nx, ts)))
    }.toMap
    val got = graft.ops.DataOps.queries("data_split_balance")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == want, s"got=$got want=$want")
    // and the cells reconcile with the split totals query
    val splits = graft.ops.DataOps.queries("data_split_hash")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits("train") == tt && splits("validation") == tv &&
      splits("test") == ts)
  }

  test("source overlap matrix matches a driver-side gram-set fold") {
    import org.apache.spark.sql.functions._
    val docs = graft.ops.Tables(spark, sfDir).documents
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val sets = docs.groupBy(_._1).view.mapValues { ds =>
      ds.flatMap { case (_, text) =>
        val ws = text.split(" ", -1)
        (0 to ws.length - 3).map(i => ws.slice(i, i + 3).mkString(" "))
      }.toSet
    }.toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      shared = (sets(a) & sets(b)).size.toLong if shared > 0
    } yield (a, b) -> ((shared, sets(a).size.toLong, sets(b).size.toLong,
      shared.toDouble / (sets(a).size + sets(b).size - shared)))).toMap
    val got = graft.ops.DataOps.queries("data_source_overlap")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    spark.catalog.clearCache()
    assert(got == want, s"got=${got.size} want=${want.size} pairs")
  }

  test("l-diversity: distinct-sensitive counts match a driver-side fold") {
    import org.apache.spark.sql.functions._
    val rows = graft.ops.Tables(spark, sfDir).customer
      .select(col("c_nationkey").cast("long"),
        col("c_acctbal").cast("double"), col("c_mktsegment"))
      .collect()
      .map(r => ((r.getLong(0), math.floor(r.getDouble(1) / 2000.0).toLong),
        r.getString(2)))
    val want = rows.groupBy(_._1).view.mapValues { xs =>
      val l = xs.map(_._2).distinct.size.toLong
      (xs.size.toLong, l, l < 3)
    }.toMap
    val got = graft.ops.DataOps.queries("data_l_diversity")(spark, sfDir)
      .select(col("c_nationkey").cast("long"), col("bal_band"), col("n"),
        col("l_div"), col("at_risk"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got == want, s"got=$got want=$want")
    // the audit is non-degenerate on this corpus: both verdicts occur
    assert(got.values.exists(_._3) && got.values.exists(!_._3))
  }

  test("contamination score: consistent with the decontaminate drop list, " +
      "zero-overlap docs included") {
    val score = graft.ops.DataOps
      .queries("data_contamination_score")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    val shared = graft.ops.DataOps
      .queries("data_decontaminate")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // the drop list's counts reappear verbatim as the n_shared column
    shared.foreach { case (id, n) =>
      assert(score(id)._2 == n, s"doc $id: ${score(id)._2} != $n") }
    score.foreach { case (id, (g, s0, f)) =>
      assert(g > 0 && s0 >= 0 && s0 <= g, s"doc $id: $s0/$g")
      assert(f == s0.toDouble / g, s"doc $id frac")
      // docs absent from the drop list are the zero-overlap ones
      if (!shared.contains(id)) assert(s0 == 0L, s"doc $id")
    }
    // every corpus doc with >= 8 tokens is scored (nothing dropped)
    import org.apache.spark.sql.functions._
    val nCorpus = graft.ops.Tables(spark, sfDir).documents
      .filter(col("doc_id") >= 20 && size(split(col("text"), " ")) >= 8)
      .count()
    assert(score.size.toLong == nCorpus, s"${score.size} != $nCorpus")
  }

  test("table checksum: signatures match a driver-side fold and react " +
      "to any single-row change") {
    import org.apache.spark.sql.functions._
    val t = graft.ops.Tables(spark, sfDir)
    val hs = t.documents
      .select(xxhash64(concat_ws("|", col("doc_id"), col("lang"),
        col("n_chars"))).as("h"))
      .collect().map(_.getLong(0))
    val wantXor = hs.foldLeft(0L)(_ ^ _)
    val wantSum = hs.map(h => ((h % 1000000000000L) + 1000000000000L)
      % 1000000000000L).sum
    val got = graft.ops.DataOps.queries("data_table_checksum")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        // sum_sig accumulates in DECIMAL(38,0) internally but renders
        // as STRING for driver-gate portability (round-7 contract)
        ((r.getLong(1), r.getLong(2), BigInt(r.getString(3)).toLong)))
      .toMap
    assert(got("documents") == ((hs.length.toLong, wantXor, wantSum)))
    // sensitivity: dropping one row must change the xor signature
    val oneLess = hs.drop(1).foldLeft(0L)(_ ^ _)
    assert(oneLess != wantXor)
  }

  test("orc roundtrip digest equals the direct parquet digest") {
    import org.apache.spark.sql.functions._
    val got = graft.ops.DataOps.queries("data_orc_roundtrip")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(3)))
    val want = graft.ops.Tables(spark, sfDir).documents
      .select(col("doc_id"), md5(col("text")).as("digest"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("mixture temperature: sqrt-share weights match a decimal replay " +
      "and follow the tau=0.5 ratio law") {
    import org.apache.spark.sql.functions._
    val toks = graft.ops.Tables(spark, sfDir).documents
      .select(col("source"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => (r.getString(0), r.getInt(1).toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    def dec6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val sq = toks.view.mapValues(t => dec6(math.sqrt(t.toDouble))).toMap
    val tot = sq.values.sum
    val got = graft.ops.DataOps
      .queries("data_mixture_temperature")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet == toks.keySet)
    got.foreach { case (src, (t, w, e)) =>
      assert(t == toks(src))
      val wantW = sq(src).toDouble / tot.toDouble
      assert(w == wantW, s"$src weight $w vs $wantW")
      assert(e == 1000000.0 * wantW / t.toDouble)
    }
    // weights normalize, and w_a/w_b tracks sqrt(tokens_a/tokens_b)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-12)
    val ss = got.toSeq.sortBy(_._2._1)
    val (lo, hi) = (ss.head, ss.last)
    val ratio = lo._2._2 / hi._2._2
    val want = math.sqrt(lo._2._1.toDouble / hi._2._1.toDouble)
    // the 6-dp decimal quantization of sqrt perturbs the ratio at ~1e-8
    assert(math.abs(ratio - want) < 1e-6)
  }

  test("t-closeness: EMD matches a BigInt driver-side replay and stays " +
      "in [0, 1]") {
    import org.apache.spark.sql.functions._
    val rows = graft.ops.Tables(spark, sfDir).customer
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 2000.0).cast("long").as("band"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val bands = rows.map(_._3).distinct.sorted
    val bTot = rows.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val nTot = rows.length.toLong
    val want = rows.groupBy(r => (r._1, r._2)).view.map { case (g, rs) =>
      val nG = rs.size.toLong
      val gb = rs.groupBy(_._3).view.mapValues(_.size.toLong).toMap
      var cum = BigInt(0)
      var sabs = BigInt(0)
      bands.foreach { b =>
        cum += BigInt(gb.getOrElse(b, 0L)) * nTot - BigInt(bTot(b)) * nG
        sabs += cum.abs
      }
      g -> ((nG, sabs.toDouble /
        (nG.toDouble * nTot.toDouble * (bands.size - 1).toDouble)))
    }.toMap
    val got = graft.ops.DataOps.queries("data_t_closeness")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got == want, s"sizes got=${got.size} want=${want.size}")
    got.values.foreach { case (_, emd) => assert(emd >= 0.0 && emd <= 1.0) }
    // the cross-multiplied cumulative telescopes to zero exactly, so at
    // least one sharply-skewed small group should stand out
    assert(got.values.exists(_._2 > 0.2))
  }

  test("anonymize ladder: published groups meet k, totals tile the " +
      "corpus, and a planted thin residual is suppressed") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val k = 10
    val got = graft.ops.DataOps
      .queries("data_anonymize_ladder")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
    val total = graft.ops.Tables(spark, sfDir).documents.count()
    assert(got.map(_._4).sum == total) // every doc lands in exactly one row
    got.filter(_._3 < 2).foreach { case (l, s, lvl, n) =>
      assert(n >= k, s"($l,$s) level $lvl published below k: $n")
    }
    // level-0 rows keep both QI columns; level-1 rows star the source
    assert(got.filter(_._3 == 0).forall(r => r._1 != "*" && r._2 != "*"))
    assert(got.filter(_._3 == 1).forall(r => r._1 != "*" && r._2 == "*"))
    // planted: lang a publishes at level 0, lang b's thin sources pool to
    // a level-1 group, lang c's residual stays under k -> suppressed
    val docs = (
      (1 to 12).map(i => (s"d0$i", "a", "s1")) ++
        (1 to 12).map(i => (s"d1$i", "b", s"s${i % 3}")) ++
        (1 to 4).map(i => (s"d2$i", "c", s"s${i % 2}")))
      .toDF("doc_id", "lang", "source")
    val planted = graft.ops.DataOps.anonymizeLadderFrom(docs, k)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(planted == Set(("a", "s1", 0, 12L), ("b", "*", 1, 12L),
      ("*", "*", 2, 4L)), planted.toString)
  }

  test("group kfold: folds partition the sources and the docs; shares " +
      "sum to one") {
    import org.apache.spark.sql.functions._
    val docs = graft.ops.Tables(spark, sfDir).documents
    val nSources = docs.select("source").distinct().count()
    val nDocs = docs.count()
    val got = graft.ops.DataOps.queries("data_group_kfold")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // a partition: fold source/doc counts tile the corpus exactly —
    // group-aware assignment leaks nothing across folds by construction,
    // and this asserts the construction (each source counted once)
    assert(got.map(_._2).sum == nSources, got.toSeq.toString)
    assert(got.map(_._3).sum == nDocs)
    assert(math.abs(got.map(_._5).sum - 1.0) < 1e-12)
    assert(got.map(_._1).forall(f => f >= 0L && f < 5L))
    // fold of each source is the pinned salted hash — replay one source
    val one = docs.select(col("source"),
        pmod(xxhash64(concat(lit("KF"), col("source"))), lit(5L))
          .as("fold"))
      .distinct().collect().map(r => r.getString(0) -> r.getLong(1))
    assert(one.groupBy(_._1).forall(_._2.map(_._2).distinct.size == 1))
  }

  test("split leak audit: straddle counts match the truth pairs joined " +
      "to both split assignments") {
    import org.apache.spark.sql.functions._
    val docs = graft.ops.Tables(spark, sfDir).documents
    val truth = graft.ops.DedupOps
      .jaccardDupPairs(graft.ops.DedupOps.shingleSets(docs), 4, 5)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val b = pmod(xxhash64(col("doc_id").cast("string")), lit(100))
    val sd = docs.select(col("doc_id"),
        when(b < 80, "train").when(b < 90, "validation")
          .otherwise("test").as("split"),
        pmod(xxhash64(concat(lit("KF"), col("source"))), lit(5L))
          .as("fold"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    spark.catalog.clearCache()
    val wantHash = truth.count(p => sd(p._1)._1 != sd(p._2)._1).toLong
    val wantFold = truth.count(p => sd(p._1)._2 != sd(p._2)._2).toLong
    val got = graft.ops.DataOps
      .queries("data_split_leak_audit")(spark, sfDir).collect()(0)
    spark.catalog.clearCache()
    assert(got.getLong(0) == truth.length.toLong)
    assert(got.getLong(1) == wantHash && got.getLong(2) == wantFold)
    assert(got.getDouble(3) == wantHash.toDouble / truth.length)
    assert(got.getDouble(4) == wantFold.toDouble / truth.length)
    // the audit is non-degenerate: dup pairs exist and some straddle
    assert(truth.nonEmpty && (wantHash > 0L || wantFold > 0L))
  }

  test("rag index pipeline: bucket occupancy tiles the distinct chunk " +
      "set and dedup removes exactly the duplicate instances") {
    import org.apache.spark.sql.functions._
    val got = graft.ops.DataOps.queries("pipeline_rag_index")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.forall(g => g._1 >= 0L && g._1 < 16L))
    // distinct chunks + removed duplicates == total chunk instances
    val chunks = graft.ops.DataOps
      .queries("data_chunk_overlap")(spark, sfDir).collect()
    val distinctHashes = chunks.map(_.getString(3)).distinct.length
    assert(got.map(_._2).sum == distinctHashes.toLong)
    assert(got.map(_._2).sum + got.map(_._3).sum == chunks.length.toLong)
  }

  test("chunk overlap: windows stride by 3, consecutive chunks share " +
      "their boundary words, every word is covered") {
    import org.apache.spark.sql.functions._
    val got = graft.ops.DataOps.queries("data_chunk_overlap")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val lens = graft.ops.Tables(spark, sfDir).documents
      .select(col("doc_id"), size(split(col("text"), " ")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byDoc = got.groupBy(_._1)
    for ((doc, n) <- lens) {
      val chunks = byDoc(doc).sortBy(_._2)
      // chunk k starts at word 3k+1 and spans min(6, n-3k) words
      val wantN = (0 until (n + 2) / 3).map(k => math.min(6, n - 3 * k))
      assert(chunks.map(_._3).toSeq == wantN, s"doc $doc")
      // coverage: last chunk ends at word n
      assert(3 * (chunks.size - 1) + chunks.last._3 == n, s"doc $doc end")
    }
  }

  test("token budget: planted waterfilling hits the exact cap; corpus " +
      "allocation lands within remaining-1 of the 60% target") {
    import spark.implicits._
    // sources 10/20/100 tokens, target = 60% of 130 = 78: rows 1-2 fit
    // whole (30), the crossing row caps at (78-30)/1 = 48
    def words(n: Int): String = (1 to n).map(_ => "w").mkString(" ")
    val docs = Seq(("sA", words(10)), ("sB", words(20)),
      ("sC", words(100))).toDF("source", "text")
    val planted = graft.ops.DataOps.tokenBudgetFrom(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    assert(planted == Seq(("sA", 10L, 10L, false), ("sB", 20L, 20L, false),
      ("sC", 100L, 48L, true)), planted.toString)
    // corpus run: allocation is feasible and near-tight, caps are flat
    val got = graft.ops.DataOps.queries("data_token_budget")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    val total = got.map(_._2).sum
    val target = total * 6 / 10
    val alloc = got.map(_._3).sum
    val nCapped = got.count(_._4)
    assert(alloc <= target && alloc > target - math.max(nCapped, 1),
      s"alloc=$alloc target=$target")
    assert(got.forall(g => g._3 <= g._2))
    // every capped source gets the same flat cap, above every uncapped
    val caps = got.filter(_._4).map(_._3).distinct
    assert(caps.size <= 1)
    caps.headOption.foreach { c =>
      assert(got.filterNot(_._4).forall(_._2 <= c))
    }
  }

  test("cdc apply: last-writer-wins replay matches; deletes drop, " +
      "delete-then-reinsert survives with the reinserted value") {
    val orders = Tables(spark, sfDir).orders
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val ops = orders.flatMap { case (k, p) =>
      val b =
        if (k % 4 != 0) Seq((k, 0L, "I", p)) else Seq((k, k * 10 + 1, "I", p))
      val extra = Seq(
        (k % 10 == 1) -> ((k, k * 10 + 2, "U", p + 100.0)),
        (k % 10 == 1) -> ((k, k * 10 + 5, "U", p + 200.0)),
        (k % 10 == 2) -> ((k, k * 10 + 3, "U", p + 50.0)),
        (k % 10 == 3) -> ((k, k * 10 + 7, "D", 0.0)),
        (k % 10 == 4) -> ((k, k * 10 + 2, "D", 0.0)),
        (k % 10 == 4) -> ((k, k * 10 + 6, "I", p + 1000.0))
      ).collect { case (true, t) => t }
      b ++ extra
    }
    val want = ops.groupBy(_._1).flatMap { case (k, rows) =>
      val last = rows.maxBy(_._2)
      if (last._3 == "D") None
      else Some((k, last._4, last._2, rows.size.toLong))
    }.toSeq.sortBy(_._1)
    val got = DataOps.queries("data_cdc_apply")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want, s"got=${got.take(3)} want=${want.take(3)}")
    // semantics pins: plain deletes vanish, reinserts carry the new value
    val byK = got.map(r => r._1 -> r).toMap
    val prices = orders.toMap
    assert(got.forall(_._1 % 10 != 3), "a deleted key survived")
    orders.filter(_._1 % 10 == 4).foreach { case (k, p) =>
      assert(byK(k)._2 == p + 1000.0 && byK(k)._3 == k * 10 + 6, s"key $k")
    }
    // double-update keys hold the LAST update
    orders.filter(_._1 % 10 == 1).foreach { case (k, p) =>
      assert(byK(k)._2 == p + 200.0, s"key $k")
    }
    assert(prices.nonEmpty && got.nonEmpty)
    spark.catalog.clearCache()
  }

  test("dataset card: every headline number matches a driver-side replay") {
    val docs = Tables(spark, sfDir).documents
      .select("text", "lang", "source", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    val toks = docs.map(_._1.split(" ").length.toLong).sorted
    def p50(xs: Seq[Long]): Double = {
      val n = xs.size
      if (n % 2 == 1) xs(n / 2).toDouble
      else (xs(n / 2 - 1) + xs(n / 2)).toDouble / 2.0
    }
    val nDocs = docs.length.toLong
    val nDistinct = docs.map(_._1).distinct.length.toLong
    val got = DataOps.queries("data_dataset_card")(spark, sfDir)
      .collect()(0)
    assert(got.getLong(0) == nDocs)
    assert(got.getLong(1) == toks.sum)
    assert(got.getLong(2) == docs.map(_._4).sum)
    assert(got.getLong(3) == docs.map(_._2).distinct.length.toLong)
    assert(got.getLong(4) == docs.map(_._3).distinct.length.toLong)
    assert(got.getLong(5) == nDistinct)
    assert(got.getDouble(6) == p50(toks))
    assert(got.getDouble(7) == toks.sum.toDouble / nDocs.toDouble)
    assert(got.getDouble(8) ==
      (nDocs - nDistinct).toDouble / nDocs.toDouble)
    spark.catalog.clearCache()
  }

  test("block shuffle: blocks stay contiguous with internal order kept, " +
      "the permutation is total, and block order is genuinely shuffled") {
    val got = DataOps.queries("data_shuffle_blocks")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nDocs = Tables(spark, sfDir).documents.count()
    assert(got.length.toLong == nDocs, "permutation must be total")
    assert(got.map(_._1).distinct.length == got.length)
    // rows of one block are contiguous and ascending by doc_id
    val runs = got.foldLeft(List.empty[(Long, Vector[Long])]) {
      case (acc, (id, b, _)) => acc match {
        case (pb, ids) :: tail if pb == b => (b, ids :+ id) :: tail
        case _ => (b, Vector(id)) :: acc
      }
    }
    assert(runs.map(_._1).distinct.size == runs.size,
      "a block appeared in two separate runs — blocks must be contiguous")
    runs.foreach { case (b, ids) =>
      assert(ids == ids.sorted, s"block $b not in original order")
      assert(ids.forall(_ / 64 == b), s"block $b holds a foreign doc")
    }
    // genuinely shuffled: the block sequence is not the identity
    val blockSeq = runs.reverse.map(_._1)
    assert(blockSeq != blockSeq.sorted, "block order was not permuted")
    spark.catalog.clearCache()
  }

  test("skew salt plan: factors split every hot key under the cap and " +
      "match an integer replay") {
    val counts = Tables(spark, sfDir).lineitem
      .groupBy("l_partkey").count().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cap = 40L
    val want = counts.filter(_._2 > cap).map { case (k, n) =>
      val f = (n + cap - 1) / cap
      (k, n, f, (n + f - 1) / f)
    }.sortBy(t => (-t._2, t._1)).toSeq
    val got = DataOps.queries("data_skew_salt_plan")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == want, s"got=${got.take(3)} want=${want.take(3)}")
    assert(got.nonEmpty, "corpus has no hot keys at cap=40 — dead plan")
    // the plan's guarantee: every split lands under the cap
    got.foreach { case (k, n, f, m) =>
      assert(m <= cap && f >= 2L, s"key $k")
      assert(f * m >= n, s"key $k: splits must cover the key")
    }
    spark.catalog.clearCache()
  }

  test("release pipeline: the manifest is exactly the member operators' " +
      "composition (quality+dedup survivors, decontaminated, hash-split)") {
    import graft.ops.DedupOps
    // stage replay via the shipped member operators
    val cleanIds = DedupOps.queries("pipeline_clean_corpus")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val decontamIds = DataOps
      .queries("data_decontaminate_clean")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val survivors = cleanIds.keySet.filter(id => id >= 20 &&
      decontamIds.contains(id))
    val splits = DataOps.queries("data_split_hash")(spark, sfDir)
    // fetch each survivor's split via the same hash rule
    import org.apache.spark.sql.functions._
    val splitOf = Tables(spark, sfDir).documents
      .select(col("doc_id"),
        pmod(xxhash64(col("doc_id").cast("string")), lit(100)).as("b"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1) match {
        case b if b < 80 => "train"
        case b if b < 90 => "validation"
        case _ => "test"
      })).toMap
    val want = survivors.groupBy(splitOf).view.mapValues { ids =>
      (ids.size.toLong, ids.toSeq.map(cleanIds).sum)
    }.toMap
    val got = DataOps.queries("pipeline_release")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), BigInt(r.getString(3))))).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (s, (nd, nt)) =>
      assert(got(s)._1 == nd && got(s)._2 == nt, s"split $s")
      assert(got(s)._3.signum >= 0, s"split $s signature")
    }
    assert(splits.count() == 3 && got.nonEmpty)
    spark.catalog.clearCache()
  }

  test("temporal split: the 24-day boundary partitions events and the " +
      "leakage count is exactly the both-sides user set") {
    val ev = Tables(spark, sfDir).events
      .select(expr("user_id"), expr("unix_millis(ts) div 86400000"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val boundary = ev.map(_._2).min + 24
    val bySplit = ev.groupBy(e => if (e._2 < boundary) "train" else "eval")
    val shared = bySplit.values.map(_.map(_._1).toSet)
      .reduceOption(_ intersect _).map(_.size.toLong).getOrElse(0L)
    val want = bySplit.toSeq.map { case (s, es) =>
      (s, es.size.toLong, es.map(_._1).distinct.size.toLong, shared)
    }.sortBy(_._1)
    val got = DataOps.queries("data_split_temporal")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == want, s"got=$got want=$want")
    // leakage is real on this corpus (users span the boundary)
    assert(shared > 0L && got.forall(_._4 == shared))
    spark.catalog.clearCache()
  }

  test("retention ttl: ages derive from the max-day watermark and the " +
      "drop rule is exactly the 14-day horizon") {
    val days = Tables(spark, sfDir).events
      .select(expr("unix_millis(ts) div 86400000").as("day"))
      .collect().map(_.getLong(0))
    val byDay = days.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val wm = byDay.keys.max
    val want = byDay.keys.toSeq.sorted.map { d =>
      (d, byDay(d), wm - d, if (wm - d > 14) "drop" else "retain")
    }
    val got = DataOps.queries("data_retention_ttl")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(got == want, s"got=${got.take(3)} want=${want.take(3)}")
    // both actions occur on this 30-day corpus, and rows tile the table
    assert(got.exists(_._4 == "drop") && got.exists(_._4 == "retain"))
    assert(got.map(_._2).sum == days.length.toLong)
    spark.catalog.clearCache()
  }

  test("length buckets: both strategies match a driver-side batching " +
      "replay, and bucketing never pads more than sequential") {
    import org.apache.spark.sql.functions._
    val docs = graft.ops.Tables(spark, sfDir).documents
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def replay(key: ((Long, Long)) => Seq[Long]): (Long, Long, Long) = {
      val batches = docs.groupBy(key).values.flatMap { grp =>
        grp.sortBy(_._1).map(_._2).grouped(16).toSeq
      }.toSeq
      (batches.size.toLong, batches.map(_.sum).sum,
        batches.map(b => b.size.toLong * b.max).sum)
    }
    val wantB = replay { case (id, n) => Seq(id % 8, n / 64) }
    val wantS = replay { case (id, _) => Seq(id % 8) }
    val got = graft.ops.DataOps.queries("data_length_buckets")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got.map(_._1) == Seq("bucketed", "sequential"))
    val b = got(0); val q = got(1)
    assert((b._2, b._3, b._4) == wantB, s"bucketed $b vs $wantB")
    assert((q._2, q._3, q._4) == wantS, s"sequential $q vs $wantS")
    // the whole point: same real tokens, less padding when bucketed
    assert(b._3 == q._3 && b._4 < q._4,
      s"bucketed padding ${b._4} vs sequential ${q._4}")
    assert(b._5 == (b._4 - b._3).toDouble / b._4.toDouble)
    spark.catalog.clearCache()
  }

  test("dup rate by length: bands match a driver replay, docs tile the " +
      "corpus, and duplicate instances tile the global exact-dup count") {
    import org.apache.spark.sql.functions._
    val docs = graft.ops.Tables(spark, sfDir).documents
      .select(col("doc_id"), md5(col("text")),
        size(split(col("text"), " ")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val mult = docs.groupBy(_._2).view.mapValues(_.size.toLong)
    val want = docs
      .groupBy(d => math.min(d._3 / 16, 7L)).toSeq.sortBy(_._1)
      .map { case (band, ds) =>
        val dup = ds.count(d => mult(d._2) > 1).toLong
        (band, ds.size.toLong, dup, dup.toDouble / ds.size.toDouble)
      }
    val got = graft.ops.DataOps
      .queries("data_dup_rate_by_length")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == want, s"got=${got.take(3)} want=${want.take(3)}")
    assert(got.map(_._2).sum == docs.length.toLong)
    assert(got.map(_._3).sum ==
      docs.count(d => mult(d._2) > 1).toLong)
    spark.catalog.clearCache()
  }

  test("zorder skipping: block zone maps match a driver replay, the " +
      "z-order layout skips blocks and the linear layout cannot") {
    import org.apache.spark.sql.functions._
    // sf0.01: the suppkey domain at sf0.001 is 0..9 — entirely below the
    // operator's [40, 49] predicate, so both layouts trivially skip
    // every block and the inequality is vacuous
    val sfDir = "/root/testdata/sf0.01"
    val pairs = graft.ops.Tables(spark, sfDir).lineitem
      .select("l_partkey", "l_suppkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def interleave(a: Long, b: Long): Long =
      (0 until 32).map(i =>
        (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1)))
        .reduce(_ | _)
    def replay(key: ((Long, Long)) => (Long, Long, Long)): (Long, Long) = {
      val blocks = pairs.sortBy(key).grouped(64).toSeq
      (blocks.size.toLong,
        blocks.count { b =>
          val ss = b.map(_._2); ss.max < 40 || ss.min > 49
        }.toLong)
    }
    val wantLin = replay { case (p, sk) => (p, sk, 0L) }
    val wantZ = replay { case (p, sk) => (interleave(p, sk), p, sk) }
    val got = graft.ops.DataOps.queries("data_zorder_skipping")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got.map(_._1) == Seq("linear_partkey", "zorder"))
    assert((got(0)._2, got(0)._3) == wantLin, s"${got(0)} vs $wantLin")
    assert((got(1)._2, got(1)._3) == wantZ, s"${got(1)} vs $wantZ")
    // the layout decision: zorder prunes real blocks under the suppkey
    // predicate, partkey-major prunes (essentially) none
    assert(got(1)._4 > got(0)._4 + 0.3,
      s"zorder ${got(1)._4} vs linear ${got(0)._4}")
    spark.catalog.clearCache()
  }

  test("dp histogram: the release is max(0, true + noise), noise is the " +
      "pinned table's inverse-CDF draw, and the table is a valid CDF") {
    import org.apache.spark.sql.functions._
    val got = graft.ops.DataOps.queries("data_dp_histogram")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got.nonEmpty)
    got.foreach { case (src, nTrue, noise, nDp) =>
      assert(noise >= -8L && noise <= 8L, s"$src noise=$noise")
      assert(nDp == math.max(0L, nTrue + noise), s"$src")
    }
    // replay the draw: h = xxh64('DP'||source) mod 2^20 over the pinned
    // cumulative thresholds (recomputed here from e^-|k| — the spec
    // guards the table itself against drift)
    val ths = {
      val ks = -8 to 8
      val w = ks.map(k => math.exp(-math.abs(k).toDouble))
      val z = w.sum
      val cum = w.scanLeft(0.0)(_ + _).tail
      ks.zip(cum.map(c => math.min(1L << 20,
        math.floor(c / z * (1L << 20)).toLong)))
        .toSeq.init :+ (8 -> (1L << 20))
    }
    val hs = got.map(_._1).map { src =>
      spark.sql(s"SELECT pmod(xxhash64('DP$src'), 1048576)")
        .collect()(0).getLong(0)
    }
    got.zip(hs).foreach { case ((src, _, noise, _), h) =>
      val want = ths.find(h < _._2).get._1.toLong
      assert(noise == want, s"$src h=$h noise=$noise want=$want")
    }
    spark.catalog.clearCache()
  }
}
