package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.ops.{EventOps, Tables}
import graft.streaming.StreamingOps

/** Structured Streaming specs: the streaming pipelines must agree with their
  * batch counterparts over the same (finite) events source.
  */
class StreamingSpec extends GraftSuite {

  test("streaming hourly window agg equals the batch events_hourly result") {
    val stream = StreamingOps.readEvents(spark, sfDir)
    val got = StreamingOps
      .runToMemory(StreamingOps.hourlyCounts(stream), "hourly", OutputMode.Update())
      .select((unix_millis(col("win_start")) / 3600000L).cast("long")
        .as("hour_bucket"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour_bucket", "event_type")
      .collect()
    val want = EventOps.queries("events_hourly")(spark, sfDir).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getString(1) == w.getString(1)
        && g.getLong(2) == w.getLong(2), s"mismatch: $g vs $w")
      // EXACT equality: batch and streaming share the same floor-division
      // epoch conversion and the same DECIMAL(28,6) sum — the streaming
      // path inherits the batch oracle's ground truth bit for bit
      assert(g.getDouble(3) == w.getDouble(3), s"sum mismatch: $g vs $w")
    }
  }

  test("session_window aggregation matches the batch sessionization") {
    val stream = StreamingOps.readEvents(spark, sfDir)
    val got = StreamingOps
      .runToMemory(StreamingOps.sessionWindows(stream), "sw",
        OutputMode.Complete())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the oracle-checked batch query: (user, session) -> count, start
    val want = EventOps.queries("events_sessionize")(spark, sfDir)
      .select(col("user_id"), col("start_ms"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty)
    assert(got == want, s"missing=${(want -- got).take(5)} " +
      s"extra=${(got -- want).take(5)}")
  }

  test("stream-stream interval join equals the batch interval join") {
    // the streaming naive state join and the batch BUCKETIZED equi-join
    // implement the same semantics by entirely different plans — this pin
    // ties the two implementations to one pair set
    val ev = StreamingOps.readEvents(spark, sfDir).withColumn("ts_ms",
      unix_millis(col("ts")))
    val got = StreamingOps
      .runToMemory(StreamingOps.intervalJoinStream(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"), w = 1800000L),
        "c2p", OutputMode.Append())
      .select("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = graft.ops.EventOps.withMs(graft.ops.Tables(spark, sfDir).events)
    val want = graft.ops.EventOps.intervalJoinFrom(
        e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts_ms").as("click_ms")),
        e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("ts_ms").as("purchase_ms")),
        1800000L)
      .select("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "test corpus must contain click->purchase pairs")
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("stream-stream join: cross-microbatch state match, half-open " +
      "window boundary") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // (event_id, user_id, ts_ms)
    val clicks = MemoryStream[(Long, Long, Long)]
    val purchases = MemoryStream[(Long, Long, Long)]
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.select(col("_1").as("event_id"), col("_2").as("user_id"),
        col("_3").as("ts_ms"))
    val joined = StreamingOps.intervalJoinStream(
      shape(clicks.toDF()), shape(purchases.toDF()), w = 1000L)
      .select("click_id", "purchase_id")
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("c2p_planted").start()
    try {
      // batch 1: clicks only — the join must hold click state across
      // the microbatch boundary
      clicks.addData((10L, 1L, 5000L), (11L, 2L, 5000L))
      q.processAllAvailable()
      // batch 2: purchase at ts=5999 matches click@5000 (w=1000, half
      // open: 5999 < 6000); purchase at exactly ts=6000 must NOT match;
      // purchase at the click's own ts matches (>= is inclusive)
      purchases.addData((20L, 1L, 5999L), (21L, 1L, 6000L), (22L, 2L, 5000L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("c2p_planted")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 20L), (11L, 22L)), got)
  }

  test("late data beyond the watermark is dropped in append mode") {
    import org.apache.spark.sql.{Row, SaveMode}
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-late").toString
    val schema = StructType(Seq(
      StructField("event_ts", TimestampType),
      StructField("k", StringType)))
    def write(name: String, rows: Seq[(String, String)]): Unit =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (ts, k) =>
          Row(java.sql.Timestamp.valueOf(ts), k) }, 1), schema)
        .write.mode(SaveMode.Append).parquet(dir)
    // batch 1: on-time events up to 12:00 → watermark advances to 10:00
    write("b1", Seq(
      ("2024-01-01 09:10:00", "a"), ("2024-01-01 09:20:00", "a"),
      ("2024-01-01 12:00:00", "b")))
    val stream = spark.readStream.schema(schema).parquet(dir)
      .withWatermark("event_ts", "2 hours")
      .groupBy(window(col("event_ts"), "1 hour"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("k"), col("n"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("late_demo")
      .option("maxFilesPerTrigger", "1").start()
    try {
      q.processAllAvailable()
      // batch 2: an event at 08:30 — 3.5h older than the max seen (12:00),
      // beyond the 2h watermark → must be dropped
      write("b2", Seq(("2024-01-01 08:30:00", "a"),
        ("2024-01-01 13:30:00", "c")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("late_demo")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2)))
    // the 09:00 window for 'a' was finalized with 2 events; the late 08:30
    // event created no 08:00 window and did not reopen 09:00
    assert(!out.exists(_._1.startsWith("2024-01-01 08:")),
      s"late event leaked into results: ${out.toSeq}")
    assert(out.count { case (ts, k, n) =>
      ts.startsWith("2024-01-01 09:") && k == "a" && n == 2 } <= 1)
    assert(out.forall { case (ts, k, n) =>
      !(ts.startsWith("2024-01-01 09:") && k == "a") || n == 2 },
      s"late event changed a finalized window: ${out.toSeq}")
  }

  test("streaming dedup within watermark drops re-delivered events") {
    import org.apache.spark.sql.{Row, SaveMode}
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup").toString
    val schema = StructType(Seq(
      StructField("event_ts", TimestampType),
      StructField("event_id", LongType)))
    def write(rows: Seq[(String, Long)]): Unit =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (ts, id) =>
          Row(java.sql.Timestamp.valueOf(ts), id) }, 1), schema)
        .write.mode(SaveMode.Append).parquet(dir)
    write(Seq(("2024-01-01 10:00:00", 1L), ("2024-01-01 10:01:00", 2L)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val deduped = StreamingOps.dedupWithinWatermark(
      stream, "event_ts", "1 hour", Seq("event_id"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_demo")
      .option("maxFilesPerTrigger", "1").start()
    try {
      q.processAllAvailable()
      // batch 2 re-delivers event 2 (within the watermark) + a new event 3
      write(Seq(("2024-01-01 10:01:00", 2L), ("2024-01-01 10:05:00", 3L)))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_demo").collect().map(_.getLong(1)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
  }

  test("events_dedup_stream emits each planted key exactly once (= batch)") {
    val got = StreamingOps.queries("events_dedup_stream")(spark, sfDir)
      .collect().map(_.getLong(0))
    // exactly-once: no key twice, and the key set equals batch distinct
    assert(got.distinct.length == got.length, "a key was emitted twice")
    val want = graft.ops.Tables(spark, sfDir).events
      .select((org.apache.spark.sql.functions.col("event_id") % 1000)
        .as("k")).distinct().collect().map(_.getLong(0)).sorted
    assert(got.toSeq == want.toSeq)
  }

  test("streaming keyed session state matches batch per-user event counts") {
    val stream = StreamingOps.readEvents(spark, sfDir)
    val got = StreamingOps
      .runToMemory(StreamingOps.runningSessions(spark, stream), "sessions",
        OutputMode.Update())
    // one state row per user; total users match the batch user count
    val users = Tables(spark, sfDir).events
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(got.select("user_id").distinct().count() == users)
    // each user's final session bounds are consistent
    val bad = got.filter(col("last_ms") < col("start_ms")).count()
    assert(bad == 0)
    // the last session per user matches the batch sessionization's last row
    val batchLast = EventOps.queries("events_sessionize")(spark, sfDir)
      .groupBy("user_id")
      .agg(max(col("session_idx")).as("mx"))
      .count()
    assert(batchLast == users)
  }

  test("streaming funnel stages aggregate to the batch events_funnel row") {
    val stream = StreamingOps.readEvents(spark, sfDir)
    val stages = StreamingOps.runToMemory(
      StreamingOps.funnelStages(spark, stream), "funnel_stages",
      OutputMode.Update())
    // finite source, one microbatch: exactly one stage row per user (a
    // multi-batch run would append superseded rows to the memory sink)
    assert(stages.count() == stages.select("user_id").distinct().count())
    val got = stages.agg(
      count(lit(1)).as("n_users"),
      count(when(col("has_view"), 1)).as("n_view"),
      count(when(col("view_click"), 1)).as("n_view_click"),
      count(when(col("complete"), 1)).as("n_funnel_complete"))
      .collect()(0)
    val batch =
      EventOps.queries("events_funnel")(spark, sfDir).collect()(0)
    (0 to 3).foreach { i =>
      assert(got.getLong(i) == batch.getLong(i), s"funnel column $i")
    }
  }

  test("streaming transition counts equal the batch transition matrix") {
    val got = StreamingOps.queries("events_transition_stream")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val want = EventOps.queries("events_transition_matrix")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got == want,
      s"streaming=${got.size} rows, batch=${want.size} rows")
  }

  test("append-mode finalization emits exactly the closed-window set " +
      "(end <= watermark)") {
    val got = StreamingOps.queries("events_hourly_closed_stream")(
      spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    import org.apache.spark.sql.functions._
    val ev = Tables(spark, sfDir).events
      .withColumn("ms", unix_millis(col("ts")))
    val wm = ev.agg(max(col("ms"))).collect()(0).getLong(0) - 7200000L
    val want = ev
      .groupBy(expr(EventOps.floorDivSql("ms", 3600000L)).as("hb"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter((col("hb") + 1) * 3600000L <= wm)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got == want, s"emitted=${got.size} closed=${want.size}")
    // and the tail is genuinely held back: the full set is strictly larger
    val all = ev.select(expr(EventOps.floorDivSql("ms", 3600000L)).as("hb"),
      col("event_type")).distinct().count()
    assert(all > got.size.toLong, "no unfinalized tail existed; the " +
      "append semantics were not exercised")
  }

  test("a window whose end equals the watermark exactly IS emitted " +
      "(pins the <= boundary the oracle encodes)") {
    import org.apache.spark.sql.{Row, SaveMode}
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-bnd").toString
    val schema = StructType(Seq(StructField("event_ts", TimestampType),
      StructField("k", StringType)))
    // window [00:00, 01:00); max event at 03:00 sharp -> watermark lands
    // exactly ON the window end
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(java.sql.Timestamp.valueOf("2024-01-01 00:30:00"), "a"),
        Row(java.sql.Timestamp.valueOf("2024-01-01 03:00:00"), "b")), 1),
      schema).write.mode(SaveMode.Append).parquet(dir)
    val stream = spark.readStream.schema(schema).parquet(dir)
      .withWatermark("event_ts", "2 hours")
      .groupBy(window(col("event_ts"), "1 hour"), col("k"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("k"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("bnd").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("bnd").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1)))
    assert(out.toSeq == Seq(("2024-01-01 00:00:00.0", "a")),
      s"boundary emission diverged: ${out.toSeq}")
  }

  test("stream-static enrichment equals the batch join, and the static " +
      "side allocates no stream-stream join state") {
    val got = graft.streaming.StreamingOps
      .queries("events_enrich_stream")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val t = graft.ops.Tables(spark, sfDir)
    val want = graft.ops.EventOps.withMs(t.events)
      .join(t.customer.select(col("c_custkey").as("user_id"),
        col("c_nationkey")), "user_id")
      .groupBy(expr(graft.ops.EventOps.floorDivSql("ts_ms", 3600000L))
        .as("hour_bucket"), col("c_nationkey"))
      .agg(count(lit(1)).as("n"),
        graft.ops.Oracle.dsum(col("value")).as("sum_value"))
      .orderBy("hour_bucket", "c_nationkey")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == want)
    assert(got.map(_._2).distinct.size > 1, "several nations present")
  }

  test("sliding 2h/1h windows equal the batch fan-out: every event lands " +
      "in exactly two windows") {
    val got = graft.streaming.StreamingOps
      .queries("events_sliding_stream")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val ev = graft.ops.EventOps.withMs(
      graft.ops.Tables(spark, sfDir).events)
    val hourly = ev
      .groupBy(expr(graft.ops.EventOps.floorDivSql("ts_ms", 3600000L))
        .as("hb"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.ops.Oracle.dsum(col("value")).as("v"))
      .collect().map(r => ((r.getLong(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    // replay the fan-out: window w = hours {w, w+1}; counts add exactly,
    // values add as doubles of the exact per-hour decimal sums (the
    // operator sums the union through the same DECIMAL contract, so
    // allow the one-reassociation tolerance on sum_value only)
    val wins = hourly.keys.map(_._1).flatMap(h => Seq(h - 1, h)).toSeq
      .distinct.sorted
    val types = hourly.keys.map(_._2).toSeq.distinct.sorted
    val want = (for (w <- wins; t <- types) yield {
      val parts = Seq(hourly.get((w, t)), hourly.get((w + 1, t))).flatten
      ((w, t), (parts.map(_._1).sum, parts.map(_._2).sum))
    }).filter(_._2._1 > 0L)
    assert(got.size == want.size)
    got.zip(want.sortBy(p => (p._1._1, p._1._2))).foreach {
      case ((gw, gt, gn, gv), ((ww, wt), (wn, wv))) =>
        assert(gw == ww && gt == wt && gn == wn, s"cell ($gw,$gt)")
        assert(math.abs(gv - wv) <= 1e-9 * math.max(math.abs(wv), 1.0),
          s"cell ($gw,$gt): $gv vs $wv")
    }
    // the two-window fan-out is total: window counts sum to 2x events
    assert(got.map(_._3).sum == 2L * ev.count())
  }

  test("topk stream: ranked sink matches a batch daily-count replay") {
    import org.apache.spark.sql.functions._
    val daily = graft.ops.Tables(spark, sfDir).events
      .select((unix_millis(col("ts")) / 86400000L).cast("long").as("day"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val want = daily.keys.map(_._1).toSeq.distinct.sorted.flatMap { d =>
      daily.filter(_._1._1 == d).toSeq
        .map { case ((_, t), n) => (t, n) }
        .sortBy { case (t, n) => (-n, t) }
        .take(3).zipWithIndex
        .map { case ((t, n), i) => (d, i + 1, t, n) }
    }
    val got = graft.streaming.StreamingOps
      .queries("events_topk_stream")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got == want, s"got=${got.take(6)} want=${want.take(6)}")
    // every day ranks a full podium and counts are non-increasing in rank
    got.groupBy(_._1).values.foreach { rows =>
      val byRank = rows.sortBy(_._2).map(_._4)
      assert(byRank == byRank.sorted.reverse)
    }
    spark.catalog.clearCache()
  }

  test("event-time timeout sessions: the sink holds exactly the batch " +
      "sessions minus the watermark-held tail, via BOTH emission paths") {
    import org.apache.spark.sql.functions._
    val GapMs = 1800000L
    val DelayMs = 7200000L
    val ev = graft.ops.Tables(spark, sfDir).events
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val wm = ev.map(_._3).max - DelayMs
    // driver-side gap sessionization
    val sessions = ev.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e._3, e._2)).map(_._3)
      val splits = sorted.zip(sorted.head +: sorted)
        .map { case (cur, prev) => cur - prev > GapMs }
      val ids = splits.scanLeft(0) { case (s, brk) =>
        if (brk) s + 1 else s
      }.tail
      sorted.zip(ids).groupBy(_._2).toSeq.map { case (sid, ms) =>
        (u, sid, ms.size.toLong, ms.map(_._1).min, ms.map(_._1).max)
      }
    }
    val lastSid = sessions.groupBy(_._1).view.mapValues(_.map(_._2).max)
    // emitted: closed in-batch (a later session exists) OR the timeout
    // fired (strict <, Spark's predicate)
    val want = sessions
      .filter(s => s._2 < lastSid(s._1) || s._5 + GapMs < wm)
      .map(s => (s._1, s._3, s._4, s._5))
      .sortBy(s => (s._1, s._3))
    val got = graft.streaming.StreamingOps
      .queries("events_session_timeout_stream")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == want, s"got=${got.take(3)} want=${want.take(3)}")
    // both paths fire and the held-back tail is real: some users' last
    // sessions emitted via timeout, some sessions stayed in state
    val timedOut = sessions
      .filter(s => s._2 == lastSid(s._1) && s._5 + GapMs < wm)
    val heldBack = sessions
      .filter(s => s._2 == lastSid(s._1) && s._5 + GapMs >= wm)
    assert(timedOut.nonEmpty, "no session emitted via the timeout path")
    assert(heldBack.nonEmpty, "watermark held nothing back — the " +
      "timeout boundary is untested")
    assert(got.size == sessions.size - heldBack.size)
    spark.catalog.clearCache()
  }

  test("outer stream-stream join eviction boundary: a click whose window " +
      "end EQUALS the final watermark emits null-extended (<=), while a " +
      "purchase AT the watermark is held (strict <) — asymmetric by the " +
      "half-open range condition") {
    import org.apache.spark.sql.{Row, SaveMode}
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-evict").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // one file = one microbatch (the queries' single-batch contract).
    // w = 30 min, watermark delay = 2 h; max event time on EACH side is
    // 20:00, so the final joint watermark = 18:00.
    val rows = Seq(
      Row(1L, 10L, ts("2024-01-01 16:00:00"), "click"),    // matched
      Row(2L, 10L, ts("2024-01-01 16:10:00"), "purchase"), // its partner
      Row(3L, 20L, ts("2024-01-01 17:00:00"), "click"),    // end 17:30<18
      Row(4L, 30L, ts("2024-01-01 17:30:00"), "click"),    // end == 18:00
      Row(5L, 40L, ts("2024-01-01 17:31:00"), "click"),    // end > wm: held
      Row(6L, 50L, ts("2024-01-01 20:00:00"), "click"),    // wm driver
      Row(7L, 60L, ts("2024-01-01 16:30:00"), "purchase"), // < wm: evicts
      Row(8L, 70L, ts("2024-01-01 18:00:00"), "purchase"), // == wm: HELD
      Row(9L, 80L, ts("2024-01-01 18:01:00"), "purchase"), // > wm: held
      Row(10L, 90L, ts("2024-01-01 20:00:00"), "purchase"))// wm driver
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode(SaveMode.Append).parquet(dir)
    def side(tpe: String) = spark.readStream.schema(schema).parquet(dir)
      .filter(col("event_type") === tpe)
      .withColumn("ts_ms", unix_millis(col("ts")))
    val left = graft.streaming.StreamingOps.runToMemory(
      graft.streaming.StreamingOps.leftJoinStream(
        side("click"), side("purchase"), w = 1800000L),
      "evict_left_sink", org.apache.spark.sql.streaming.OutputMode.Append())
      .collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_ => r.getLong(3))))
      .toSet
    // matched: click 1 x purchase 2; null-extended: 3 (well below) AND
    // 4 (window end EXACTLY at the watermark — the boundary this test
    // pins); held: 5 and the 20:00 driver 6
    assert(left == Set((1L, Some(2L)), (3L, None), (4L, None)),
      s"left-join emission set changed: $left — if click 4 vanished, " +
        "Spark's eviction became STRICT (<) and the " +
        "events_leftjoin_stream oracle boundary must flip with it")
    val full = graft.streaming.StreamingOps.runToMemory(
      graft.streaming.StreamingOps.fullJoinStream(
        side("click"), side("purchase"), w = 1800000L),
      "evict_full_sink", org.apache.spark.sql.streaming.OutputMode.Append())
      .collect()
      .map(r => (Option(r.get(0)).map(_ => r.getLong(0)),
        Option(r.get(3)).map(_ => r.getLong(3))))
      .toSet
    // adds the right side: purchase 7 (strictly below the watermark)
    // evicts null-extended; purchase 8 sits EXACTLY at the watermark
    // and is HELD — a click with ts == watermark is still admissible
    // and click_ts = purchase_ts matches, so the right boundary is
    // STRICT (<), asymmetric to the left side's <= (whose window END
    // is exclusive). 9 and the 20:00 driver 10 are held too.
    assert(full == Set((Some(1L), Some(2L)), (Some(3L), None),
      (Some(4L), None), (None, Some(7L))),
      s"full-join emission set changed: $full — if purchase 8 appeared, " +
        "the right-side eviction became <=; flip the " +
        "events_fulljoin_stream oracle boundary with it")
  }

  test("dedup-at-ingest is batch-INVARIANT: a two-batch odd/even split " +
      "delivery emits exactly the batch SimHash pair set (cross-batch " +
      "pairs resolve against registry state, in-batch against " +
      "predecessors)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = graft.ops.Tables(spark, sfDir).documents
    val docs = corpus.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // odd/even split: every near-dup pair of adjacent ids straddles the
    // batch boundary, exercising the registry path, not just in-batch
    val (b1, b2) = docs.partition(_._1 % 2 == 0)
    val in = MemoryStream[(Long, String)]
    val shaped = in.toDF()
      .select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = StreamingOps.simhashIngestPairs(spark, shaped)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("simhash_2batch").start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("simhash_2batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = graft.ops.DedupOps.simhashPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(want.nonEmpty, "corpus must contain Hamming<=3 pairs")
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("embedding ingest registry is batch-invariant: a two-batch " +
      "odd/even split emits the batch dedup_embedding pair set with " +
      "bit-identical cosines") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val vecs = graft.ops.Tables(spark, sfDir).embeddings
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (b1, b2) = vecs.partition(_._1 % 2 == 0)
    val in = MemoryStream[(Long, Seq[Float])]
    val shaped = in.toDF()
      .select(col("_1").as("vec_id"), col("_2").as("embedding"))
    val q = StreamingOps.embeddingIngestPairs(spark, shaped)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("emb_2batch").start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("emb_2batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.ops.DedupOps.queries("dedup_embedding")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(want.nonEmpty, "corpus must contain cos>=0.45 pairs")
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("registry state survives a RESTART: stop after batch 1, restart " +
      "the same query from its checkpoint, feed batch 2 — the final " +
      "pair set is exactly the batch set (no lost registry, no " +
      "re-emission)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = graft.ops.Tables(spark, sfDir).documents
    val docs = corpus.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = docs.partition(_._1 % 2 == 0)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-registry-ckpt").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-registry-out").toString
    val in = MemoryStream[(Long, String)]
    val shaped = in.toDF()
      .select(col("_1").as("doc_id"), col("_2").as("text"))
    val pairs = StreamingOps.simhashIngestPairs(spark, shaped)
    // FILE sink: fault-tolerant (memory sink refuses checkpoint
    // recovery), exactly-once via the sink's commit log — the output
    // dir accumulates both runs, so a replayed batch would surface as
    // duplicated rows and a lost registry as missing cross-batch pairs
    def start() = pairs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .option("path", outDir)
      .format("parquet").start()
    val q1 = start()
    try { in.addData(b1.toIndexedSeq); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start()
    try { in.addData(b2.toIndexedSeq); q2.processAllAvailable() }
    finally q2.stop()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val want = graft.ops.DedupOps.simhashPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got.distinct.length == got.length,
      s"duplicated emissions after restart: ${got.diff(got.distinct)}")
    assert(got.toSet == want.toSet,
      s"missing=${want.toSet -- got.toSet} extra=${got.toSet -- want.toSet}")
  }

  test("online ANN serving: queries answered per-batch, RE-DELIVERED " +
      "queries answered exactly once, result == batch brute-force topk") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = graft.ops.Tables(spark, sfDir).embeddings
    val queries = emb.filter(col("vec_id") < 10)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (q1, q2) = queries.partition(_._1 < 5)
    val in = MemoryStream[(Long, Seq[Float])]
    val shaped = in.toDF()
      .select(col("_1").as("vec_id"), col("_2").as("embedding"))
    val served = StreamingOps.annServeTopk(spark, shaped,
      emb.filter(col("vec_id") >= 10))
    val q = served.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ann_serve_2batch").start()
    try {
      in.addData(q1.toIndexedSeq); q.processAllAvailable()
      // batch 2 RE-DELIVERS batch 1's queries (at-least-once source):
      // the answered-flag state must suppress duplicate answers
      in.addData((q2 ++ q1).toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ann_serve_2batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    assert(got.distinct.length == got.length, "duplicate answers")
    val want = graft.ops.SimilarityOps.bruteTopkFrom(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    assert(want.nonEmpty)
    assert(got.toSet == want.toSet,
      s"missing=${want.toSet -- got.toSet} extra=${got.toSet -- want.toSet}")
  }

  test("ingest routing via foreachBatch dual sink: keepers land in the " +
      "corpus dir, duplicates in quarantine with their keeper id — " +
      "partitions of the oracle verdict set") {
    import org.apache.spark.sql.DataFrame
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-ingest-corpus").toString
    val quarDir = java.nio.file.Files
      .createTempDirectory("graft-ingest-quarantine").toString
    val verdicts = StreamingOps.exactIngestVerdicts(spark,
      StreamingOps.readDocuments(spark, sfDir))
    // the production writer shape: one stateful pass produces the
    // decision, foreachBatch routes each microbatch to BOTH sinks
    // atomically per batch (batchDf is reused, so cache per batch)
    val q = verdicts.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        batch.filter(col("is_dup") === 0L).select("doc_id")
          .write.mode("append").parquet(corpusDir)
        batch.filter(col("is_dup") === 1L).select("doc_id", "keep_id")
          .write.mode("append").parquet(quarDir)
        batch.unpersist()
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val kept = spark.read.parquet(corpusDir).collect()
      .map(_.getLong(0)).toSet
    val quarantined = spark.read.parquet(quarDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // oracle: keeper = min doc_id per md5(text) group (single-batch
    // delivery — the same contract as the dedup_ingest_stream oracle)
    val docs = graft.ops.Tables(spark, sfDir).documents
      .select(col("doc_id"), md5(col("text")).as("dg")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val keeperOf = docs.groupBy(_._2).map { case (dg, g) =>
      dg -> g.map(_._1).min
    }
    val wantKept = keeperOf.values.toSet
    val wantQuar = docs.collect {
      case (id, dg) if keeperOf(dg) != id => (id, keeperOf(dg))
    }.toSet
    assert(kept == wantKept,
      s"corpus dir: missing=${wantKept -- kept} extra=${kept -- wantKept}")
    assert(quarantined == wantQuar,
      s"quarantine dir: missing=${wantQuar -- quarantined} " +
        s"extra=${quarantined -- wantQuar}")
    assert(kept.size + quarantined.size == docs.length,
      "routing must partition the corpus")
  }

  test("exact ingest registry across batches: exactly one keeper per " +
      "digest group, every verdict points at it, keeper is " +
      "first-arrival") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.ops.Tables(spark, sfDir).documents
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = docs.partition(_._1 % 2 == 0)
    val in = MemoryStream[(Long, String)]
    val shaped = in.toDF()
      .select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = StreamingOps.exactIngestVerdicts(spark, shaped)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ingest_2batch").start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val verdicts = spark.table("ingest_2batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exactly one verdict per document
    assert(verdicts.map(_._1).distinct.length == docs.length, "dup verdicts")
    val byKeeper = verdicts.groupBy(_._2)
    byKeeper.foreach { case (keeper, vs) =>
      // the keeper belongs to its own group with is_dup = 0, everyone
      // else in the group is a dup of it
      assert(vs.count(v => v._1 == keeper && v._3 == 0L) == 1, vs.toSeq)
      assert(vs.filter(_._1 != keeper).forall(_._3 == 1L), vs.toSeq)
      // first-arrival: the keeper is batch-1 (even id) whenever the
      // group has any batch-1 member
      if (vs.exists(_._1 % 2 == 0)) assert(keeper % 2 == 0, vs.toSeq)
    }
  }

  test("state partitions derive from input bytes, and runToMemory " +
    "restores shuffle.partitions after the stream") {
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // derived: min(cap, ceil(bytes/chunk)) — sf0.001 events is tiny, so
    // the derived count collapses far below the core-count default the
    // r10 harness paid per-microbatch state-store overhead for
    val derived = StreamingOps.statePartitionsFor(spark, sfDir, "events")
    val (bytes, _) = graft.ops.Tables.dataSize(
      spark, s"$sfDir/events.parquet")
    val chunk = StreamingOps.DefaultStateChunkBytes
    val want = math.max(1L, math.min(cap.toLong, (bytes + chunk - 1) / chunk))
    assert(derived.toLong == want, s"derived=$derived want=$want")
    // the conf is pinned only for the stream's duration
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    StreamingOps.runToMemory(
      StreamingOps.hourlyCounts(StreamingOps.readEvents(spark, sfDir)),
      "state_parts_probe", org.apache.spark.sql.streaming.OutputMode
        .Complete(), statePartitions = 2)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }
}
