package graft

import org.apache.spark.sql.functions.col

import graft.ops.{EventOps, Tables}

class EventOpsSpec extends GraftSuite {

  test("funnel stage counts match a per-user first-occurrence replay") {
    // ground truth independent of the query: replay events in Scala,
    // take each user's first ts per stage, apply the strict-order rule
    val events = Tables(spark, sfDir).events
      .selectExpr("user_id", "event_type",
        // same µs->ms floor conversion the query uses
        "unix_millis(ts) AS ts_ms")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = events.groupBy(_._1)
    def firstTs(es: Array[(Long, String, Long)], t: String): Option[Long] = {
      val ts = es.collect { case (_, `t`, ms) => ms }
      if (ts.isEmpty) None else Some(ts.min)
    }
    val nUsers = byUser.size.toLong
    var nView, nViewClick, nComplete = 0L
    byUser.values.foreach { es =>
      val (v, c, p) =
        (firstTs(es, "view"), firstTs(es, "click"), firstTs(es, "purchase"))
      if (v.isDefined) nView += 1
      val vc = v.isDefined && c.isDefined && c.get > v.get
      if (vc) nViewClick += 1
      if (vc && p.isDefined && p.get > c.get) nComplete += 1
    }
    val row = EventOps.queries("events_funnel")(spark, sfDir).collect()(0)
    assert(row.getLong(0) == nUsers, "n_users")
    assert(row.getLong(1) == nView, "n_view")
    assert(row.getLong(2) == nViewClick, "n_view_click")
    assert(row.getLong(3) == nComplete, "n_funnel_complete")
    // the funnel is monotone by construction
    assert(nView >= nViewClick && nViewClick >= nComplete)
  }

  test("retention cohorts match a per-user week replay") {
    val events = Tables(spark, sfDir).events
      .selectExpr("user_id",
        EventOps.floorDivSql("unix_millis(ts)", 604800000L) + " AS wk")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val weeks = events.groupBy(_._1).map { case (u, es) =>
      u -> es.map(_._2).toSet
    }
    val expected = weeks.values.groupBy(_.min).map { case (cw, cs) =>
      cw -> (cs.size.toLong,
        cs.count(_.contains(cw + 1)).toLong,
        cs.count(_.contains(cw + 2)).toLong)
    }
    val got = EventOps.queries("events_retention")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("retention distinguishes week offsets on planted churn data") {
    // the synthetic corpus has every user active every week, so it cannot
    // catch a +1/+2 offset mix-up — plant users that churn differently:
    // u1 active wk0 only; u2 wk0+wk1; u3 wk0+wk2; u4 wk0,1,2; u5 cohort wk1
    import spark.implicits._
    val wk = 604800000L
    val planted = Seq(
      (1L, 0L), (2L, 0L), (2L, wk), (3L, 0L), (3L, 2 * wk),
      (4L, 0L), (4L, wk + 5L), (4L, 2 * wk + 9L), (5L, wk))
      .toDF("user_id", "ts_ms")
    val got = EventOps.retentionFrom(planted).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map(0L -> ((4L, 2L, 2L)), 1L -> ((1L, 0L, 0L))), got)
    // single-scan shape: the window-min formulation must not re-read the
    // source per side the way an activity/cohort self-join would
    val plan = EventOps.retentionFrom(planted).queryExecution
      .executedPlan.toString
    val scans = "LocalTableScan".r.findAllIn(plan).length
    assert(scans == 1, s"expected one source scan, got $scans:\n$plan")
  }

  test("interval join matches a naive replay (boundaries, straddle, sign)") {
    import spark.implicits._
    val w = 100L
    // planted cases: inclusive lower bound (delta 0), last-included delta
    // w-1, first-excluded delta w, purchase before click, a pair only
    // reachable through the click's SECOND bucket (straddle), cross-user
    // non-matches, a click exactly on a bucket boundary (the dedup'd
    // single-bucket case), and negative epochs (floor-div bucketing)
    val clicks = Seq(
      (1L, 10L, 1000L), (1L, 11L, 995L), (2L, 12L, 1000L),
      (1L, 13L, 200L), (1L, 14L, -150L))
      .toDF("user_id", "click_id", "click_ms")
    val purchases = Seq(
      (1L, 20L, 1000L), (1L, 21L, 1099L), (1L, 22L, 1100L),
      (1L, 23L, 999L), (1L, 24L, 1040L), (2L, 25L, 1001L),
      (1L, 26L, 250L), (1L, 27L, -100L))
      .toDF("user_id", "purchase_id", "purchase_ms")
    val got = EventOps.intervalJoinFrom(clicks, purchases, w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val cs = clicks.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ps = purchases.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = (for {
      (cu, cid, cms) <- cs
      (pu, pid, pms) <- ps
      if cu == pu && pms >= cms && pms < cms + w
    } yield (cid, pid, pms - cms)).sortBy(t => (t._1, t._2)).toSeq
    assert(got == expected, s"got=${got.toList} expected=${expected.toList}")
    // the straddle pair must be present (click 11 bucket 9, purchase 24
    // bucket 10) — proves the second-bucket explode is load-bearing
    assert(got.contains((11L, 24L, 45L)))
    // exactly-once emission: bucketing must not duplicate any pair
    assert(got.distinct.length == got.length)
    // and the plan is an equi-join, never a nested-loop theta join
    val plan = EventOps.intervalJoinFrom(clicks, purchases, w)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("interval join equals the naive replay on randomized boundary data") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // three window widths, times biased onto bucket boundaries (the only
    // place the explode/dedup arithmetic can go wrong), both signs
    for ((w, seed) <- Seq((7L, 11L), (100L, 12L), (1000L, 13L))) {
      val genTime: Gen[Long] = for {
        b <- Gen.choose(-5L, 5L)
        off <- Gen.frequency(
          1 -> Gen.oneOf(0L, 1L, w - 1),
          2 -> Gen.choose(0L, w - 1))
      } yield b * w + off
      def gen(n: Int, s: Long): Seq[(Long, Long)] =
        Gen.listOfN(n, for {
          u <- Gen.choose(1L, 6L); t <- genTime
        } yield (u, t)).apply(Gen.Parameters.default, Seed(s)).get
      val cs = gen(150, seed).zipWithIndex
        .map { case ((u, t), i) => (u, i.toLong, t) }
      val ps = gen(200, seed + 1000).zipWithIndex
        .map { case ((u, t), i) => (u, 10000L + i, t) }
      val got = EventOps.intervalJoinFrom(
        cs.toDF("user_id", "click_id", "click_ms"),
        ps.toDF("user_id", "purchase_id", "purchase_ms"), w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val expected = (for {
        (cu, cid, cms) <- cs
        (pu, pid, pms) <- ps
        if cu == pu && pms >= cms && pms < cms + w
      } yield (cid, pid, pms - cms)).sortBy(t => (t._1, t._2))
      assert(got == expected,
        s"w=$w: ${got.size} pairs vs replay ${expected.size}")
    }
  }

  test("funnel counts users missing stages on planted data") {
    import spark.implicits._
    // u1 full ordered funnel; u2 click before view (stalls at view); u3 no
    // view at all (drops from n_view); u4 view+click ordered, no purchase;
    // u5 purchase before click (stalls at view>click)
    val planted = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      (2L, "click", 5L), (2L, "view", 10L),
      (3L, "click", 1L), (3L, "purchase", 2L),
      (4L, "view", 1L), (4L, "click", 7L),
      (5L, "view", 1L), (5L, "click", 8L), (5L, "purchase", 4L))
      .toDF("user_id", "event_type", "ts_ms")
    val r = EventOps.funnelFrom(planted).collect()(0)
    assert(r.getLong(0) == 5, "n_users")       // all users counted
    assert(r.getLong(1) == 4, "n_view")        // u3 has no view
    assert(r.getLong(2) == 3, "n_view_click")  // u1, u4, u5
    assert(r.getLong(3) == 1, "n_funnel_complete") // u1 only
  }

  test("gapfill: planted sparse hours densify with zero counts") {
    import spark.implicits._
    val h = 3600000L
    // events in hours 10 and 13 only (two in 13) → spine 10..13
    val events = Seq(10 * h, 13 * h, 13 * h + 1).toDF("ts_ms")
    val got = graft.ops.EventOps.gapfillFrom(events).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((10L, 1L), (11L, 0L), (12L, 0L), (13L, 2L)),
      got.toSeq.toString)
  }

  test("transition matrix: planted sequences count per-user adjacent " +
      "steps and row-normalize exactly") {
    import spark.implicits._
    // user 1: a->b->a->c, user 2: b->a->b (ordered by ts_ms, event_id)
    val e = Seq(
      (1L, 1L, 1000L, "a"), (2L, 1L, 2000L, "b"),
      (3L, 1L, 3000L, "a"), (4L, 1L, 4000L, "c"),
      (5L, 2L, 1000L, "b"), (6L, 2L, 2000L, "a"), (7L, 2L, 3000L, "b"))
      .toDF("event_id", "user_id", "ts_ms", "event_type")
    val out = EventOps.transitionMatrixFrom(e).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // transitions: u1 a->b, b->a, a->c; u2 b->a, a->b — no cross-user step
    assert(out.size == 3, out.toString)
    assert(out(("a", "b")) == ((2L, 2.0 / 3.0)))
    assert(out(("a", "c")) == ((1L, 1.0 / 3.0)))
    assert(out(("b", "a")) == ((2L, 1.0)))
  }

  test("rfm: planted users land in the hand-computed quintiles on all " +
      "three dimensions") {
    import spark.implicits._
    // u1: 1 recent big-value event; u2..u5: i events, later ts, value i-1
    val rows =
      Seq((1L, 9999L, 100.0)) ++
        (2 to 5).flatMap(i => (1 to i).map(j =>
          (i.toLong, (i * 100 + j).toLong, (i - 1).toDouble)))
    val df = rows.toDF("user_id", "ts_ms", "value")
    val out = EventOps.rfmFrom(df).collect()
      .map(r => r.getLong(0) -> ((r.getInt(4), r.getInt(5), r.getInt(6),
        r.getInt(7)))).toMap
    // r desc: u1,u5,u4,u3,u2 ; f desc: u5,u4,u3,u2,u1 ; m desc (m =
    // i*(i-1) for u2..u5, 100 for u1): u1,u5,u4,u3,u2
    assert(out(1L) == ((1, 5, 1, 151)), out.toString)
    assert(out(2L) == ((5, 4, 5, 545)))
    assert(out(3L) == ((4, 3, 4, 434)))
    assert(out(4L) == ((3, 2, 3, 323)))
    assert(out(5L) == ((2, 1, 2, 212)))
  }

  test("attribution: planted touches credit first/last correctly and an " +
      "out-of-window touch is excluded") {
    import spark.implicits._
    val W = 604800000L
    val e = Seq(
      // u1: view,click,view then purchase; one view outside the window
      (1L, 1L, 100L, "view"), (2L, 1L, 200L, "click"),
      (3L, 1L, 250L, "view"), (4L, 1L, 300L, "purchase"),
      (5L, 1L, 300L - W - 1, "view"),
      // u2: one click feeding TWO purchases (both in window)
      (6L, 2L, 50L, "click"), (7L, 2L, 100L, "purchase"),
      (8L, 2L, 200L, "purchase"),
      // u3: purchase with no touches at all
      (9L, 3L, 500L, "purchase"))
      .toDF("event_id", "user_id", "ts_ms", "event_type")
    val out = EventOps.attributionFrom(e).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    // click: u1 click200 + u2 click50 x 2 convs = 3 touches; click is
    // last and first for both u2 convs. view: u1 view100+view250; view250
    // is conv300's last, view100 its first.
    assert(out == Map("click" -> ((3L, 2L, 2L)), "view" -> ((2L, 1L, 1L))),
      out.toString)
    spark.catalog.clearCache()
  }

  test("attribution matches a plain-Scala replay on randomized event data") {
    import spark.implicits._
    val W = 604800000L
    for (seed <- Seq(31L, 32L)) {
      val rnd = new scala.util.Random(seed)
      val types = Array("view", "click", "scroll", "purchase")
      // deliberately coarse timestamps so ties across users exist
      val events = (1 to 400).map { i =>
        (i.toLong, (rnd.nextInt(12) + 1).toLong,
          rnd.nextInt(20).toLong * (W / 10), types(rnd.nextInt(4)))
      }
      val replay = {
        val byUser = events.groupBy(_._2)
        val touches = scala.collection.mutable.ArrayBuffer.empty[String]
        val last = scala.collection.mutable.ArrayBuffer.empty[String]
        val first = scala.collection.mutable.ArrayBuffer.empty[String]
        byUser.values.foreach { es =>
          val convs = es.filter(_._4 == "purchase")
          val ts = es.filter(_._4 != "purchase")
          convs.foreach { c =>
            val in = ts.filter(t => t._3 <= c._3 && c._3 - t._3 <= W)
            if (in.nonEmpty) {
              touches ++= in.map(_._4)
              last += in.maxBy(t => (t._3, t._1))._4
              first += in.minBy(t => (t._3, t._1))._4
            }
          }
        }
        def cnt(b: Seq[String]) =
          b.groupBy(identity).view.mapValues(_.size.toLong).toMap
        (cnt(touches.toSeq), cnt(last.toSeq), cnt(first.toSeq))
      }
      val got = EventOps.attributionFrom(
        events.toDF("event_id", "user_id", "ts_ms", "event_type")).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap
      spark.catalog.clearCache()
      val want = (replay._1.keySet ++ replay._2.keySet ++ replay._3.keySet)
        .map(t => t -> ((replay._1.getOrElse(t, 0L),
          replay._2.getOrElse(t, 0L), replay._3.getOrElse(t, 0L)))).toMap
      assert(got == want, s"seed=$seed: got=$got want=$want")
    }
  }

  test("path top-10 matches an independent sliding-window replay") {
    val got = EventOps.queries("events_path_topk")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val ev = graft.ops.Tables(spark, sfDir).events
      .selectExpr("user_id", "event_id", "event_type",
        "unix_millis(ts) AS ts_ms")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val want = ev.groupBy(_._1).values.toSeq
      .flatMap { es =>
        es.sortBy(e => (e._4, e._2)).map(_._3).sliding(3)
          .filter(_.size == 3).map(_.mkString(">"))
      }
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (p, n) => (-n, p) }
      .take(10)
    assert(got == want, s"got=$got want=$want")
  }

  test("sliding distinct: a user seen in overlapping windows counts once " +
      "per window, fan-out covers exactly the 3 containing windows") {
    import spark.implicits._
    val H = 3600000L
    // u1 at hours 0 and 2 (must not double-count in window 2), u2 at hour 2
    val e = Seq((0L * H, 1L), (2L * H, 1L), (2L * H + 5, 2L))
      .toDF("ts_ms", "user_id")
    val got = EventOps.slidingDistinctFrom(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 1L), (1L, 1L), (2L, 2L), (3L, 2L), (4L, 2L)),
      got)
  }

  test("sliding HLL merge law: the window-max-of-hourly-partials estimate " +
      "EQUALS the direct sketch over each window's raw events") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val H = 3600000L
    val rnd = new scala.util.Random(37)
    // irregular activity: random users over 60 hours with gaps
    val rows = for {
      _ <- 1 to 3000
      hr = rnd.nextInt(60)
      if hr % 7 != 3 // planted silent hours exercise the grid densify
    } yield (hr * H + rnd.nextInt(1000).toLong, rnd.nextInt(400).toLong)
    val e = rows.toDF("ts_ms", "user_id")
    val sliding = EventOps.hllSlidingFrom(e, windowHours = 24).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toList
    assert(sliding.nonEmpty)
    for ((hr, est, zeros) <- sliding) {
      val direct = e.filter(col("ts_ms") >= (hr - 23) * H &&
          col("ts_ms") < (hr + 1) * H)
        .agg(graft.functions.aggregates.hll_ndv256(
          xxhash64(col("user_id").cast("string"))).as("sk"))
        .select(col("sk.raw_est"), col("sk.zero_regs")).collect()(0)
      assert(java.lang.Double.doubleToLongBits(est) ==
        java.lang.Double.doubleToLongBits(direct.getDouble(0)) &&
        zeros == direct.getInt(1), s"hour $hr: $est/$zeros vs $direct")
    }
  }

  test("concurrency: planted overlaps, cross-hour carry, omitted hours") {
    import spark.implicits._
    val H = 3600000L
    // hour 0: A [0,1000], B [500,2000], C [1500,3000] overlap to peak 2;
    // D [3000000, 10000000] spans hours 0→2 (carry through hour 1);
    // hour 1: E [3700000, 3800000] rides on D's carry → peak 2;
    // hour 2: only D's close — D is still open at hour start, so the
    // standing level IS the peak: carry 1 + max(0, -1) = 1.
    val sess = Seq(
      (0L, 1000L), (500L, 2000L), (1500L, 3000L),
      (3000000L, 10000000L), (3700000L, 3800000L)
    ).toDF("start_ms", "end_ms")
    val got = EventOps.concurrencyFromSessions(sess).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 2L, 4L), (1L, 2L, 1L), (2L, 1L, 0L)),
      got.toSeq.toString)
    // boundary-free hours are omitted: nothing opens or closes in hour 1
    val sparse = Seq((0L, 1000L), (2 * H + 500L, 2 * H + 600L))
      .toDF("start_ms", "end_ms")
    val got2 = EventOps.concurrencyFromSessions(sparse).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got2.toSeq == Seq((0L, 1L, 1L), (2L, 1L, 1L)), got2.toSeq.toString)
    // a session ending the instant another starts still overlaps it
    // (closed intervals: +1 orders before -1 at equal t)
    val touch = Seq((0L, 5000L), (5000L, 9000L)).toDF("start_ms", "end_ms")
    val got3 = EventOps.concurrencyFromSessions(touch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got3.toSeq == Seq((0L, 2L, 2L)), got3.toSeq.toString)
  }

  test("concurrency matches a plain-Scala global sweep on random sessions") {
    import spark.implicits._
    val H = 3600000L
    for (seed <- Seq(41L, 42L)) {
      val rnd = new scala.util.Random(seed)
      // durations up to 3h force multi-hour carries; coarse grid forces
      // boundary ties (start==start, end+1==start) across sessions
      val sess = (1 to 300).map { _ =>
        val st = rnd.nextInt(6 * H.toInt).toLong
        (st - st % 500, st - st % 500 + rnd.nextInt(3 * H.toInt).toLong)
      }
      // the replay is the formulation the operator deliberately avoids:
      // ONE global sweep over every boundary, +1 before -1 at equal t,
      // folding in the standing level at each hour open
      val bounds = sess.flatMap { case (s0, e0) =>
        Seq((s0, 1L), (e0 + 1, -1L))
      }.sortBy { case (t, d) => (t, -d) }
      var cur = 0L
      val peaks = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
      val starts = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      bounds.foreach { case (t, d) =>
        val hr = t / H
        if (!peaks.contains(hr)) peaks(hr) = cur // hour-open standing level
        cur += d
        peaks(hr) = math.max(peaks(hr), cur)
        if (d > 0) starts(hr) += 1
      }
      val want = peaks.toSeq.sortBy(_._1)
        .map { case (hr, p) => (hr, p, starts(hr)) }
      val got = EventOps.concurrencyFromSessions(
        sess.toDF("start_ms", "end_ms")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == want, s"seed=$seed: got=$got want=$want")
    }
  }

  test("MAD anomalies match an exact driver-side median/MAD replay") {
    // exact interpolated median — Spark's Percentile (and DuckDB's
    // quantile_cont) use the TWO-SIDED weighted form
    // lo·(hi−pos) + hi·(pos−lo), which rounds differently from
    // lo + (hi−lo)·f in the last ulp
    def medianOf(xs: Array[Double]): Double = {
      val a = xs.sorted
      val pos = 0.5 * (a.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      if (lo == hi) a(lo) else a(lo) * (hi - pos) + a(hi) * (pos - lo)
    }
    val ev = Tables(spark, sfDir).events
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val med = ev.groupBy(_._2).map { case (t, es) =>
      t -> medianOf(es.map(_._3))
    }
    val mad = ev.groupBy(_._2).map { case (t, es) =>
      t -> medianOf(es.map(e => math.abs(e._3 - med(t))))
    }
    val want = ev.filter { case (_, t, v) =>
      math.abs(v - med(t)) > 3.0 * 1.4826 * mad(t)
    }.map(_._1).sorted.toSeq
    val got = EventOps.queries("events_mad_anomaly")(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    assert(got == want)
    assert(got.nonEmpty, "threshold should flag some events at sf0.001")
  }

  test("daily EWMA matches the textbook recursion within 1e-9") {
    // e_t = α·v_t + (1−α)·e_{t−1}, reset at each day boundary — the
    // recursive definition the closed-form window query implements
    val hourly = EventOps.queries("events_ewma_daily")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(hourly.nonEmpty)
    hourly.groupBy(t => (t._1, t._2 / 24)).values.foreach { day =>
      var e = 0.0
      var prevI = -1L
      day.sortBy(_._2).foreach { case (_, hb, v, got) =>
        // missing hours decay the carry by 0.5 per SKIPPED index too:
        // the closed form weights by the in-day index, not the row rank
        val i = math.floorMod(hb, 24L)
        e = 0.5 * v + math.pow(0.5, (i - prevI).toDouble) * e
        prevI = i
        assert(math.abs(got - e) <= 1e-9 * math.max(1.0, math.abs(e)),
          s"hb=$hb got $got want $e")
      }
    }
  }

  test("burst hours match an exact trailing-window replay") {
    val hourly = Tables(spark, sfDir).events
      .selectExpr("event_type", "unix_millis(ts) div 3600000 AS hb")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).map { case ((t, h), xs) => (t, h, xs.size.toLong) }
      .toSeq
    val want = hourly.groupBy(_._1).values.flatMap { ts =>
      val s = ts.sortBy(_._2)
      s.indices.flatMap { i =>
        val frame = s.slice(math.max(0, i - 24), i)
        val trail = frame.map(_._3).sum
        if (frame.size == 24 && s(i)._3 * 24 > trail * 3)
          Some((s(i)._1, s(i)._2, s(i)._3, trail))
        else None
      }
    }.toSeq.sortBy(t => (t._1, t._2))
    val got = EventOps.queries("events_burst_hours")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want)
  }

  test("rolling median matches a per-user sliding-frame replay") {
    def medianOf(xs: Seq[Double]): Double = {
      val a = xs.sorted
      val pos = 0.5 * (a.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      if (lo == hi) a(lo) else a(lo) * (hi - pos) + a(hi) * (pos - lo)
    }
    val ev = Tables(spark, sfDir).events
      .selectExpr("event_id", "user_id", "value", "unix_millis(ts) AS ms")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val want = ev.groupBy(_._2).values.flatMap { es =>
      val s = es.sortBy(e => (e._4, e._1))
      s.indices.map { i =>
        s(i)._1 -> medianOf(s.slice(math.max(0, i - 10), i + 1).map(_._3))
      }
    }.toSeq.sortBy(_._1)
    val got = EventOps.queries("events_rolling_median")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(got == want)
  }

  test("cohort matrix matches a per-user day replay") {
    val p = Tables(spark, sfDir).events
      .filter(col("event_type") === "purchase")
      .selectExpr("user_id", "unix_millis(ts) AS ms").collect()
      .map(r => (r.getLong(0), Math.floorDiv(r.getLong(1), 86400000L)))
    val cohort = p.groupBy(_._1).map { case (u, es) =>
      u -> es.map(_._2).min
    }
    val want = p.map { case (u, d) => (cohort(u), d - cohort(u), u) }
      .distinct.groupBy(c => (c._1, c._2))
      .map { case ((c, a), us) => (c, a, us.length.toLong) }
      .toSeq.sorted
    val got = EventOps.queries("events_cohort_matrix")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    // retention must be a real matrix: several cohorts, several ages
    assert(got.map(_._1).distinct.size > 1 && got.map(_._2).distinct.size > 1)
  }

  test("autocorr: perfectly periodic series has lag-7 r = 1, and a " +
      "plain-Scala replay matches on random series") {
    import spark.implicits._
    // weekly-periodic 21-day series: lag-7 pairs are identical -> r = 1.0
    val periodic = (0L until 21L).map(d => (d, 100L + (d % 7) * 10L))
      .toDF("day", "n")
    val gotP = graft.ops.EventOps.autocorrFrom(periodic).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(gotP.map(_._1) == Seq(1L, 7L))
    assert(gotP(1)._2 == 14L && gotP(1)._3 == 1.0, gotP(1))
    assert(math.abs(gotP(0)._3) < 1.0)
    for (seed <- Seq(41L, 42L)) {
      val rnd = new scala.util.Random(seed)
      val series = (0L until 30L).map(d => (d, 500L + rnd.nextInt(200)))
      def r(lag: Long): (Long, Double) = {
        val pairs = series.flatMap { case (d, x) =>
          series.find(_._1 == d + lag).map { case (_, y) => (x, y) } }
        val n = pairs.size.toLong
        val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
        val sxy = pairs.map(p => p._1 * p._2).sum
        val sxx = pairs.map(p => p._1 * p._1).sum
        val syy = pairs.map(p => p._2 * p._2).sum
        (n, (n * sxy - sx * sy).toDouble /
          (math.sqrt((n * sxx - sx * sx).toDouble) *
            math.sqrt((n * syy - sy * sy).toDouble)))
      }
      val want = Seq(1L, 7L).map(l => { val (n, v) = r(l); (l, n, v) })
      val got = graft.ops.EventOps.autocorrFrom(series.toDF("day", "n"))
        .collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
      assert(got == want, s"seed=$seed")
    }
  }

  test("asof tolerance: fresh carry kept, stale carry nulled, boundary " +
      "is inclusive, no prior view gives NULLs") {
    import spark.implicits._
    val tol = 1000L
    // user 1: view at 100 (value 7), purchases at 600 (fresh),
    //   1100 (exactly tol late - inclusive), 1101 (stale)
    // user 2: purchase with no prior view
    val e = Seq(
      (1L, 10L, 100L, 7.0, 0),
      (1L, 11L, 600L, 1.0, 1),
      (1L, 12L, 1100L, 2.0, 1),
      (1L, 13L, 1101L, 3.0, 1),
      (2L, 20L, 500L, 4.0, 1)
    ).toDF("user_id", "event_id", "ts_ms", "value", "kind")
    val got = graft.ops.EventOps.asofToleranceFrom(e, tol).collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toSeq
    assert(got == Seq(             // event 10 is kind 0 -> not emitted
      (11L, Some(100L), Some(7.0)),
      (12L, Some(100L), Some(7.0)),
      (13L, None, None),
      (20L, None, None)), got)
  }

  test("power iteration matches a plain-Scala integer replay on the " +
      "real embeddings") {
    val emb = graft.ops.Tables(spark, sfDir).embeddings.collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(f => math.floor(f.toDouble * 1000.0 + 0.5)
          .toLong).toArray))
    val v0 = Array.tabulate(64)(j => ((j % 7) - 3).toLong)
    val w = new Array[Long](64)
    emb.foreach { case (_, q) =>
      var dot = 0L
      var j = 0
      while (j < 64) { dot += q(j) * v0(j); j += 1 }
      j = 0
      while (j < 64) { w(j) += q(j) * dot; j += 1 }
    }
    val got = graft.ops.SimilarityOps.queries("sim_power_iteration")(
      spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == w.zipWithIndex.map { case (x, j) => (j, x) }.toSeq)
    assert(got.exists(_._2 != 0L), "matvec should be non-trivial")
  }

  test("ab lift: plain-Scala replay from the engine's own hash stream") {
    import org.apache.spark.sql.functions._
    val r = graft.ops.EventOps.queries("events_ab_lift")(spark, sfDir)
      .collect()(0)
    // per-user (arm, converted) ground truth: arm from Spark's own
    // xxhash64 (the assignment under test is the AGGREGATION, not the
    // hash), conversion from a plain distinct-scan of the raw events
    val perUser = graft.ops.Tables(spark, sfDir).events
      .select(col("user_id"), col("event_type")).collect()
      .map(row => (row.getLong(0), row.getString(1)))
      .groupBy(_._1).map { case (u, es) =>
        u -> es.exists(_._2 == "purchase")
      }
    val arms = graft.ops.Tables(spark, sfDir).events
      .select(col("user_id")).distinct()
      .withColumn("arm", pmod(xxhash64(concat(lit("AB"),
        col("user_id").cast("string"))), lit(2)))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val a = perUser.keys.filter(arms(_) == 0L)
    val b = perUser.keys.filter(arms(_) == 1L)
    val (ua, ca) = (a.size.toLong, a.count(perUser(_)).toLong)
    val (ub, cb) = (b.size.toLong, b.count(perUser(_)).toLong)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((ua, ca, ub, cb)))
    val (ra, rb) = (ca.toDouble / ua.toDouble, cb.toDouble / ub.toDouble)
    assert((r.getDouble(4), r.getDouble(5), r.getDouble(6)) ==
      ((ra, rb, rb / ra)))
    // both arms populated — the split is genuinely binary on this corpus
    assert(ua > 0 && ub > 0)
  }

  test("seasonal-naive backtest: day-arithmetic replay (not positional " +
      "lag) with exact integer error sums") {
    import org.apache.spark.sql.functions._
    val got = graft.ops.EventOps.queries("events_forecast_naive")(
      spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    val daily = graft.ops.Tables(spark, sfDir).events
      .select(col("event_type"), unix_millis(col("ts")).as("ms"))
      .collect().map(r => (r.getString(0),
        Math.floorDiv(r.getLong(1), 86400000L)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val want = daily.keys.map(_._1).toSeq.distinct.sorted.map { et =>
      // NB: .toSeq BEFORE collect — collecting (n, pred) pairs straight
      // off the Map would rebuild a Map keyed on n and collapse
      // duplicate counts
      val evals = daily.toSeq.collect {
        case ((t, day), n) if t == et && daily.contains((t, day - 7)) =>
          (n, daily((t, day - 7)))
      }
      val sae = evals.map { case (n, p) => math.abs(n - p) }.sum
      val sact = evals.map(_._1).sum
      (et, evals.size.toLong, sae,
        sae.toDouble / evals.size.toDouble, sae.toDouble / sact.toDouble)
    }
    assert(got == want)
    // the evaluation span is non-trivial on this corpus
    assert(got.forall(_._2 > 0))
  }

  test("transition latency: per-pair exact median gap replay in the " +
      "deterministic (ts, event_id) order") {
    import org.apache.spark.sql.functions._
    val got = graft.ops.EventOps.queries("events_transition_latency")(
      spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val evs = graft.ops.Tables(spark, sfDir).events
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val gaps = evs.groupBy(_._1).values.flatMap { es =>
      val s = es.sortBy(e => (e._3, e._2))
      s.zip(s.tail).map { case (a, b) => ((a._4, b._4), b._3 - a._3) }
    }.toSeq
    def med(xs: Seq[Long]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2).toDouble
      else s(n / 2 - 1) + 0.5 * (s(n / 2) - s(n / 2 - 1)).toDouble
    }
    val want = gaps.groupBy(_._1).toSeq.sortBy(_._1).map {
      case ((f, t), xs) => (f, t, xs.size.toLong, med(xs.map(_._2)))
    }
    assert(got == want)
  }

  test("pattern match: hand-counted v[ce]*p conversions on planted " +
      "streams") {
    import spark.implicits._
    // user 1: v c e p v s v p -> "vcepvsvp": matches "vcep" and the final
    // "vp" (the middle v is cut off by the signup). user 2: "pv" -> none.
    val events = Seq(
      (1L, 1000L, 1L, "view"), (1L, 2000L, 2L, "click"),
      (1L, 3000L, 3L, "error"), (1L, 4000L, 4L, "purchase"),
      (1L, 5000L, 5L, "view"), (1L, 6000L, 6L, "signup"),
      (1L, 7000L, 7L, "view"), (1L, 8000L, 8L, "purchase"),
      (2L, 1000L, 9L, "purchase"), (2L, 2000L, 10L, "view"))
      .toDF("user_id", "ts_ms", "event_id", "event_type")
    val got = graft.ops.EventOps.patternMatchFrom(events).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(got == Seq((1L, 8, 2), (2L, 2, 0)), got.toList)
  }

  test("trend OLS: exact line recovered exactly; random series match a " +
      "plain-Scala replay of the same IEEE tree") {
    import spark.implicits._
    // n = 5*day + 3 for days 0..9 -> slope exactly 5.0, intercept 3.0
    // (the closed form divides exact integers that happen to divide
    // evenly, so the doubles are exact)
    val line = (0L until 10L).map(d => ("up", d, 5 * d + 3))
      .toDF("event_type", "day", "n")
    val gotL = graft.ops.EventOps.trendOlsFrom(line).collect()(0)
    assert(gotL.getLong(1) == 10L && gotL.getLong(2) == 255L)
    assert(gotL.getDouble(3) == 5.0 && gotL.getDouble(4) == 3.0, gotL)
    // random two-type series vs a replay using the identical op tree
    val rnd = new scala.util.Random(7L)
    val series = for (t <- Seq("a", "b"); d <- 0L until 25L)
      yield (t, d, 100L + rnd.nextInt(50))
    val got = graft.ops.EventOps
      .trendOlsFrom(series.toDF("event_type", "day", "n")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    val want = series.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (t, xs) =>
        val k = xs.size.toLong
        val sx = xs.map(_._2).sum; val sy = xs.map(_._3).sum
        val sxy = xs.map(x => x._2 * x._3).sum
        val sxx = xs.map(x => x._2 * x._2).sum
        val slope = (k.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
          (k.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble)
        (t, k, sy, slope, (sy.toDouble - slope * sx.toDouble) / k.toDouble)
    }
    assert(got == want)
  }

  test("cusum: planted mean shift is found at the last pre-shift day " +
      "with the exact integer statistic") {
    import spark.implicits._
    // 10 days at 100 then 10 days at 200: days=20, total=3000,
    // dev = 20*n - 3000 = -1000 then +1000; S_t bottoms at t=9 with
    // S = -10000 (unique |S| max), D = 10000/(20*3000) = 1/6
    val daily = ((0L until 10L).map(d => (d, 100L)) ++
      (10L until 20L).map(d => (d, 200L))).toDF("day", "n")
    val got = graft.ops.EventOps.cusumFrom(daily).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(0) == 9L && r.getLong(1) == 100L, r)
    assert(r.getLong(2) == -10000L && r.getLong(3) == 10000L, r)
    assert(r.getDouble(4) == 10000.0 / 60000.0, r)
  }

  test("markov stationary: two-state chain converges to the known " +
      "pi = (1/3, 2/3); integers match a plain-Scala replay") {
    import spark.implicits._
    // A always goes to B; B splits evenly: pi_A = 1/3, pi_B = 2/3
    val tr = Seq(("A", "B", 10L), ("B", "A", 5L), ("B", "B", 5L))
      .toDF("from_type", "to_type", "n")
    val types = Seq("A", "B").toDF("type")
    val got = graft.ops.EventOps.stationaryFrom(tr, types).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // replay the exact integer recurrence: q(A,B)=10^6, q(B,A)=q(B,B)=5*10^5
    val q = Map(("A", "B") -> 1000000L, ("B", "A") -> 500000L,
      ("B", "B") -> 500000L)
    var p = Map("A" -> 500000000L, "B" -> 500000000L)
    for (_ <- 1 to 6) {
      p = Seq("A", "B").map { j =>
        j -> Seq("A", "B").flatMap { i =>
          q.get((i, j)).map(qi => (p(i) * qi) / 1000000L)
        }.sum
      }.toMap
    }
    assert(got.map(x => (x._1, x._2)) == Seq(("A", p("A")), ("B", p("B"))),
      got.toList)
    // geometric convergence at the second eigenvalue: error after six
    // steps is (1/2)^6 / 6 ~ 0.0026 (plus quantization), not tighter
    assert(math.abs(got(0)._3 - 1.0 / 3.0) < 4e-3, got(0))
    assert(math.abs(got(1)._3 - 2.0 / 3.0) < 4e-3, got(1))
  }

  test("srm check: arm counts agree with the lift query's, chi2 replays " +
      "from them, and the hash split is not suspect on this corpus") {
    val srm = EventOps.queries("events_srm_check")(spark, sfDir)
      .collect()(0)
    val lift = EventOps.queries("events_ab_lift")(spark, sfDir)
      .collect()(0)
    // same 'AB' hash stream, different plan (distinct vs per-user agg)
    assert(srm.getLong(0) == lift.getLong(0), "users_a")
    assert(srm.getLong(1) == lift.getLong(2), "users_b")
    val e = (srm.getLong(0) + srm.getLong(1)).toDouble / 2.0
    val ua = srm.getLong(0).toDouble; val ub = srm.getLong(1).toDouble
    val chi2 = (ua - e) * (ua - e) / e + (ub - e) * (ub - e) / e
    assert(srm.getDouble(2) == chi2 && srm.getBoolean(3) == (chi2 > 3.84))
  }

  test("cuped: adjusted lift matches a driver-side fold over per-user " +
      "sufficient statistics, arms agree with the lift query") {
    import org.apache.spark.sql.functions._
    val r = EventOps.queries("events_cuped")(spark, sfDir).collect()(0)
    // same 'AB' stream as events_ab_lift
    val lift = EventOps.queries("events_ab_lift")(spark, sfDir).collect()(0)
    assert(r.getLong(0) == lift.getLong(0), "users_a")
    assert(r.getLong(1) == lift.getLong(2), "users_b")
    // independent recompute: per-user (x, y, arm) collected, statistics
    // folded in the driver with the same fixed IEEE tree
    val pu = graft.ops.Tables(spark, sfDir).events
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type").isin("view", "click"), 1L)
          .otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("y"))
      .withColumn("arm", pmod(xxhash64(concat(lit("AB"),
        col("user_id").cast("string"))), lit(2)))
      .collect().map(q => (q.getLong(1), q.getLong(2), q.getLong(3)))
    val n = pu.length.toDouble
    val sx = pu.map(_._1).sum.toDouble
    val sy = pu.map(_._2).sum.toDouble
    val sxx = pu.map(p => p._1 * p._1).sum.toDouble
    val sxy = pu.map(p => p._1 * p._2).sum.toDouble
    val a = pu.filter(_._3 == 0L); val b = pu.filter(_._3 != 0L)
    val theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val diffRaw = b.map(_._2).sum.toDouble / b.length -
      a.map(_._2).sum.toDouble / a.length
    val diffAdj = diffRaw - theta * (b.map(_._1).sum.toDouble / b.length -
      a.map(_._1).sum.toDouble / a.length)
    assert(r.getDouble(2) == theta, s"theta ${r.getDouble(2)} vs $theta")
    assert(r.getDouble(3) == diffRaw)
    assert(r.getDouble(4) == diffAdj)
    // variance reduction is a squared correlation: in [0, 1]
    assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
  }

  test("streaks: top-20 longest runs match a driver-side islands fold") {
    import org.apache.spark.sql.functions._
    val days = graft.ops.Tables(spark, sfDir).events
      .select(col("user_id"),
        (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = days.groupBy(_._1).view.mapValues { ds =>
      val sorted = ds.map(_._2).sorted
      // fold consecutive days into runs, keep (len desc, start asc) best
      val runs = sorted.foldLeft(List.empty[(Long, Long)]) {
        case ((start, last) :: tl, d) if d == last + 1 =>
          (start, d) :: tl
        case (acc, d) => (d, d) :: acc
      }
      runs.map { case (st, en) => (en - st + 1, st) }
        .minBy { case (len, st) => (-len, st) }
    }.toSeq.map { case (u, (len, st)) => (u, len, st) }
      .sortBy { case (u, len, _) => (-len, u) }.take(20)
    val got = EventOps.queries("events_streaks")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"got=$got want=$want")
  }

  test("windowed funnel counts match a driver-side sequential fold") {
    import org.apache.spark.sql.functions._
    val W = 86400000L
    val ev = graft.ops.Tables(spark, sfDir).events
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1)
    val views = byUser.flatMap { case (u, es) =>
      val v = es.filter(_._2 == "view").map(_._3)
      if (v.isEmpty) None else Some(u -> v.min)
    }
    val clicks = views.flatMap { case (u, tv) =>
      val c = byUser(u).filter(e =>
        e._2 == "click" && e._3 > tv && e._3 <= tv + W).map(_._3)
      if (c.isEmpty) None else Some(u -> c.min)
    }
    val buys = clicks.flatMap { case (u, tc) =>
      val p = byUser(u).filter(e =>
        e._2 == "purchase" && e._3 > tc && e._3 <= tc + W).map(_._3)
      if (p.isEmpty) None else Some(u -> p.min)
    }
    val got = EventOps.queries("events_funnel_windowed")(spark, sfDir)
      .collect()(0)
    spark.catalog.clearCache()
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ==
      (views.size.toLong, clicks.size.toLong, buys.size.toLong))
    // the window BITES on this corpus: strictly fewer conversions than
    // the unwindowed strict-order funnel would admit is not guaranteed,
    // but the monotone staging is
    assert(got.getLong(0) >= got.getLong(1) && got.getLong(1) >= got.getLong(2))
  }

  test("cohort ltv: cells and cumulative curve match a decimal replay; " +
      "the curve never decreases") {
    import org.apache.spark.sql.functions._
    val ev = graft.ops.Tables(spark, sfDir).events
      .select(col("user_id"), (unix_millis(col("ts")) / 86400000L)
        .cast("long").as("day"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3)))
    val cohort = ev.groupBy(_._1).view
      .mapValues(_.map(_._2).min / 7).toMap
    val sizes = cohort.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    def dec6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val cells = ev.filter(_._3 == "purchase")
      .groupBy(e => (cohort(e._1), e._2 / 7 - cohort(e._1)))
      .view.mapValues { es =>
        (es.map(_._1).distinct.size.toLong, es.map(e => dec6(e._4)).sum)
      }.toMap
    val want = cells.keys.toSeq.sorted.map { case (cw, aw) =>
      val cum = cells.filter { case ((c, a), _) => c == cw && a <= aw }
        .values.map(_._2).sum
      (cw, aw, sizes(cw), cells((cw, aw))._1,
        cells((cw, aw))._2.toDouble, cum.toDouble / sizes(cw).toDouble)
    }
    val got = EventOps.queries("events_cohort_ltv")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == want, s"got=${got.take(4)} want=${want.take(4)}")
    // monotone curve per cohort; cohort sizes tile the user base
    got.groupBy(_._1).values.foreach { rows =>
      val curve = rows.sortBy(_._2).map(_._6)
      assert(curve == curve.sorted)
    }
    assert(sizes.values.sum == ev.map(_._1).distinct.length.toLong)
    spark.catalog.clearCache()
  }

  test("hazard: at-risk/churn/censor tiling matches a driver-side span " +
      "replay; censoring absorbs the boundary day") {
    import org.apache.spark.sql.functions._
    val spans = graft.ops.Tables(spark, sfDir).events
      .select(col("user_id"), (unix_millis(col("ts")) / 86400000L)
        .cast("long").as("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(ds => (ds.map(_._2).min, ds.map(_._2).max))
      .toMap
    val lo = spans.values.map(_._1).min
    val hi = spans.values.map(_._2).max
    val want = (lo to hi).map { day =>
      val atRisk = spans.values.count { case (f, l) => f <= day && l >= day }
      val last = spans.values.count(_._2 == day)
      val churned = if (day < hi) last else 0
      val censored = if (day == hi) last else 0
      (day, atRisk.toLong, churned.toLong, censored.toLong,
        if (atRisk > 0) Some(churned.toDouble / atRisk.toDouble) else None)
    }
    val got = EventOps.queries("events_hazard_daily")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .toSeq
    assert(got == want, s"got=${got.take(4)} want=${want.take(4)}")
    // every user resolves exactly once: churned xor censored
    assert(got.map(r => r._3 + r._4).sum == spans.size.toLong)
    assert(got.last._4 > 0L) // boundary-day users are censored, not churned
  }

  test("ab quantiles: per-arm distribution matches a driver-side " +
      "decimal-metric replay") {
    import org.apache.spark.sql.functions._
    // arm assignment fetched via Spark's own xxhash64 (bit-identical
    // permutation); the metric and quantiles replayed in pure Scala
    val pu = graft.ops.Tables(spark, sfDir).events
      .groupBy("user_id")
      .agg(coalesce(
        sum(when(col("event_type") === "purchase", col("value"))
          .cast("decimal(28,6)")).cast("double"), lit(0.0)).as("m"))
      .withColumn("arm",
        when(pmod(xxhash64(concat(lit("AB"),
          col("user_id").cast("string"))), lit(2)) === 0, "A")
          .otherwise("B"))
      .collect().map(r => (r.getString(2), r.getDouble(1)))
    def q(vs: Seq[Double], p: Double): Double = {
      val s = vs.sorted
      val h = p * (s.size - 1)
      val (l, u) = (math.floor(h).toInt, math.ceil(h).toInt)
      s(l) + (h - l) * (s(u) - s(l))
    }
    val want = pu.groupBy(_._1).view.mapValues { rs =>
      val vs = rs.map(_._2).toSeq
      (vs.size.toLong, Seq(0.25, 0.5, 0.75, 0.9).map(q(vs, _)))
    }.toMap
    val got = EventOps.queries("events_ab_quantiles")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Seq(r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5))))).toMap
    assert(got.keySet == Set("A", "B"))
    got.foreach { case (arm, (n, qs)) =>
      val (wn, wqs) = want(arm)
      assert(n == wn, s"arm $arm users")
      qs.zip(wqs).foreach { case (g, w) =>
        assert(math.abs(g - w) <= 1e-9 * math.max(math.abs(w), 1.0),
          s"arm $arm got=$qs want=$wqs")
      }
      // the distribution is a valid monotone quantile profile
      assert(qs == qs.sorted && qs.head >= 0.0)
    }
  }

  test("new-vs-returning: daily split matches a driver-side first-day fold") {
    import org.apache.spark.sql.functions._
    val days = graft.ops.Tables(spark, sfDir).events
      .select(col("user_id"), (unix_millis(col("ts")) / 86400000L)
        .cast("long").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val first = days.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val want = days.groupBy(_._2).view.mapValues { ds =>
      val nNew = ds.count { case (u, day) => first(u) == day }.toLong
      (nNew, ds.size.toLong - nNew)
    }.toMap
    val got = EventOps.queries("events_new_returning")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == want, s"got=$got want=$want")
    // day 0 is all-new; later days have returning users
    assert(got(got.keys.min)._2 == 0L && got.values.exists(_._2 > 0L))
  }

  test("activity pareto: threshold cuts and shares match a driver-side " +
      "concentration fold") {
    import org.apache.spark.sql.functions._
    val acts = graft.ops.Tables(spark, sfDir).events
      .groupBy("user_id").agg(count(lit(1)).as("a")).collect()
      .map(_.getLong(1))
    val hist = acts.groupBy(identity).view
      .mapValues(_.size.toLong).toSeq.sortBy(-_._1)
    val users = acts.length.toLong
    val events = acts.sum
    val cum = hist.scanLeft((0L, 0L)) { case ((cu, ce), (a, nu)) =>
      (cu + nu, ce + a * nu) }.tail
    def cutAt(mult: Long): Long = hist.zip(cum)
      .filter { case (_, (cu, _)) => cu * mult >= users }.map(_._1._1).max
    def shareAt(cut: Long): Double =
      hist.zip(cum).find(_._1._1 == cut).get._2._2.toDouble /
        events.toDouble
    val r = EventOps.queries("events_activity_pareto")(spark, sfDir)
      .collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((users, events)))
    assert((r.getLong(2), r.getLong(3)) == ((cutAt(10), cutAt(100))))
    assert(r.getDouble(4) == shareAt(cutAt(10)) &&
      r.getDouble(5) == shareAt(cutAt(100)), r.toString)
    // concentration is real but bounded: top-1% share within (1%, 100%)
    assert(r.getDouble(5) > 0.01 && r.getDouble(5) < 1.0)
  }

  test("seasonal anomaly: hour-of-day-conditioned flags match a " +
      "driver-side median/MAD replay") {
    import org.apache.spark.sql.functions._
    val ev = graft.ops.Tables(spark, sfDir).events
      .select(col("event_type"), unix_millis(col("ts"))).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val hourly = ev.groupBy { case (t, ms) =>
      (t, ms / 86400000L, (ms / 3600000L) % 24L) }
      .view.mapValues(_.size.toLong).toMap
    def med(xs: Seq[Long]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2).toDouble
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val byHod = hourly.groupBy { case ((t, _, h), _) => (t, h) }
    val want = byHod.toSeq.flatMap { case ((t, h), cells) =>
      val ns = cells.values.toSeq
      val m = med(ns)
      // deviations |n - med| may be x.5 — the MAD median runs in doubles
      val madD = {
        val devs = cells.values.map(n => math.abs(n - m)).toSeq.sorted
        if (devs.size % 2 == 1) devs(devs.size / 2)
        else (devs(devs.size / 2 - 1) + devs(devs.size / 2)) / 2.0
      }
      cells.collect { case ((tt, day, hh), n)
          if math.abs(n - m) > 3.0 * 1.4826 * madD =>
        (tt, day, hh, n, m, madD)
      }
    }.sortBy { case (t, day, h, _, _, _) => (t, day, h) }
    val got = EventOps.queries("events_seasonal_anomaly")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == want, s"got=${got.size} want=${want.size}")
  }

  test("bounce rate matches a driver-side session fold") {
    import org.apache.spark.sql.functions._
    val ev = graft.ops.Tables(spark, sfDir).events
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sessions = ev.groupBy(_._1).values.flatMap { es =>
      val sorted = es.map(e => (e._3, e._2)).sorted // (ts, event_id)
      // imperative fold into (n_events, start_ms) runs: split on
      // gap > 30 min, exactly the operator's lag-based rule
      val out = scala.collection.mutable.ListBuffer[(Long, Long)]()
      var n = 0L; var start = 0L; var prev = Long.MinValue
      sorted.foreach { case (ts, _) =>
        if (prev == Long.MinValue || ts - prev > 1800000L) {
          if (n > 0) out += ((n, start))
          n = 0L; start = ts
        }
        n += 1; prev = ts
      }
      if (n > 0) out += ((n, start))
      out
    }
    val want = sessions.groupBy(_._2 / 86400000L).view.mapValues { ss =>
      val b = ss.count(_._1 == 1L).toLong
      (ss.size.toLong, b, b.toDouble / ss.size)
    }.toMap
    val got = EventOps.queries("events_bounce_rate")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == want, s"got=$got want=$want")
    // both bounces and multi-event sessions exist on this corpus
    assert(got.values.exists(_._2 > 0L) &&
      got.values.exists(v => v._2 < v._1))
  }

  test("watermark lag matches a driver-side bucket-watermark replay") {
    import org.apache.spark.sql.functions._
    // The operator replays a deterministic jittered arrival permutation
    // (arrival = event_id + xxh64(event_id) % 20000) because the corpus
    // emits event_id in event-time order. The replay must bucket by the
    // SAME arrival sequence; we fetch the hash term via Spark's own
    // xxhash64 so the permutation is bit-identical, and replay the
    // bucket/watermark/lateness machinery in pure Scala.
    val ev = graft.ops.Tables(spark, sfDir).events
      .select(
        (col("event_id") +
          pmod(xxhash64(col("event_id").cast("string")), lit(20000L)))
          .as("arr"),
        col("event_type"), unix_millis(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bmax = ev.groupBy(_._1 / 10000).view.mapValues(_.map(_._3).max)
    val wm = bmax.keys.toSeq.sorted.map { mb =>
      val prior = bmax.filter(_._1 < mb).values
      mb -> (if (prior.isEmpty) None else Some(prior.max))
    }.toMap
    val want = ev.groupBy(_._2).view.mapValues { es =>
      val lates = es.map { case (id, _, ts) =>
        math.max(wm(id / 10000).map(_ - ts).getOrElse(0L), 0L)
      }
      (lates.size.toLong, lates.count(_ > 0L).toLong,
        lates.count(_ > 3600000L).toLong, lates.max)
    }.toMap
    val got = EventOps.queries("events_watermark_lag")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == want, s"got=$got want=$want")
    // the audit is non-degenerate: real corpora arrive out of order
    assert(got.values.exists(_._2 > 0L), "no disorder measured at all")
  }

  test("did: the four cell means and the estimate match a decimal replay " +
      "with ITT denominators") {
    import org.apache.spark.sql.functions._
    val rows = graft.ops.Tables(spark, sfDir).events
      .select(col("user_id"), col("event_type"), col("value"),
        (unix_millis(col("ts")) / 86400000L).cast("long").as("day"),
        when(pmod(xxhash64(concat(lit("AB"),
          col("user_id").cast("string"))), lit(2)) === 0, "A")
          .otherwise("B").as("arm"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3), r.getString(4)))
    val split = (rows.map(_._4).min + rows.map(_._4).max + 1) / 2
    def dec6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def cell(a: String, pre: Boolean): Double =
      rows.filter(r => r._5 == a && r._2 == "purchase" &&
        (if (pre) r._4 < split else r._4 >= split))
        .map(r => dec6(r._3)).sum.toDouble
    val uA = rows.filter(_._5 == "A").map(_._1).distinct.size
    val uB = rows.filter(_._5 == "B").map(_._1).distinct.size
    val (maPre, maPost) = (cell("A", true) / uA, cell("A", false) / uA)
    val (mbPre, mbPost) = (cell("B", true) / uB, cell("B", false) / uB)
    val got = EventOps.queries("events_did")(spark, sfDir).collect()(0)
    assert(got.getLong(0) == split && got.getLong(1) == uA.toLong &&
      got.getLong(2) == uB.toLong)
    assert((got.getDouble(3), got.getDouble(4), got.getDouble(5),
      got.getDouble(6)) == ((maPre, maPost, mbPre, mbPost)),
      s"got=$got")
    assert(got.getDouble(7) == (mbPost - mbPre) - (maPost - maPre))
    // both periods carry purchases in both arms — the estimator is live
    assert(Seq(maPre, maPost, mbPre, mbPost).forall(_ > 0.0))
  }

  test("ab ks: the statistic matches an exact driver-side replay over " +
      "the per-user metric distributions") {
    import org.apache.spark.sql.functions._
    val pu = graft.ops.Tables(spark, sfDir).events
      .groupBy("user_id")
      .agg(coalesce(sum(when(col("event_type") === "purchase",
        col("value")).cast(org.apache.spark.sql.types.DecimalType(28, 6)))
        .cast("double"), lit(0.0)).as("m"))
      .withColumn("arm", when(pmod(xxhash64(concat(lit("AB"),
        col("user_id").cast("string"))), lit(2)) === 0, "A")
        .otherwise("B"))
      .collect().map(r => (r.getDouble(1), r.getString(2)))
    val na = pu.count(_._2 == "A").toLong
    val nb = pu.count(_._2 == "B").toLong
    val values = pu.map(_._1).distinct.sorted
    var (cumA, cumB, dNum) = (0L, 0L, 0L)
    for (v <- values) {
      cumA += pu.count(p => p._1 == v && p._2 == "A")
      cumB += pu.count(p => p._1 == v && p._2 == "B")
      dNum = math.max(dNum, math.abs(cumA * nb - cumB * na))
    }
    val got = EventOps.queries("events_ab_ks")(spark, sfDir).collect()(0)
    assert(got.getLong(0) == na && got.getLong(1) == nb)
    assert(got.getDouble(2) == dNum.toDouble / (na * nb).toDouble)
    val crit = 1.36 * math.sqrt((na + nb).toDouble / (na * nb).toDouble)
    assert(got.getDouble(3) == crit)
    assert(got.getBoolean(4) == (got.getDouble(2) > crit))
    // the hash split should NOT reject on a null A/B (same distribution)
    assert(!got.getBoolean(4), s"KS rejected a null split: $got")
  }

  test("conversion latency: counts match a driver replay; quantiles are " +
      "ordered and interpolated") {
    import org.apache.spark.sql.functions._
    val ev = graft.ops.Tables(spark, sfDir).events
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1)
    val lats = byUser.toSeq.flatMap { case (_, es) =>
      val v = es.filter(_._2 == "view").map(_._3)
      if (v.isEmpty) None
      else {
        val tv = v.min
        val buys = es.filter(e => e._2 == "purchase" && e._3 > tv)
        Some(if (buys.isEmpty) None else Some(buys.map(_._3).min - tv))
      }
    }
    val nViewed = lats.size
    val conv = lats.flatten.map(_.toDouble).sorted
    def q(p: Double): Double = {
      val rank = p * (conv.size - 1)
      val lo = rank.toInt
      if (lo + 1 >= conv.size) conv.last
      else conv(lo) + (rank - lo) * (conv(lo + 1) - conv(lo))
    }
    val got = EventOps.queries("events_conversion_latency")(spark, sfDir)
      .collect()(0)
    assert(got.getLong(0) == nViewed.toLong &&
      got.getLong(1) == conv.size.toLong)
    assert(got.getDouble(2) == conv.size.toDouble / nViewed)
    assert(math.abs(got.getDouble(3) - q(0.5)) < 1e-6, s"median ${got.getDouble(3)} vs ${q(0.5)}")
    assert(math.abs(got.getDouble(4) - q(0.9)) < 1e-6, s"p90 ${got.getDouble(4)} vs ${q(0.9)}")
    assert(got.getDouble(4) >= got.getDouble(3))
    // conversions exist (at sf0.001 every viewer converts — the
    // non-converter branch is exercised by the oracle gate at sf0.01)
    assert(conv.nonEmpty && conv.size <= nViewed)
  }

  test("freshness: lag is measured against the corpus watermark") {
    import org.apache.spark.sql.functions._
    val rows = EventOps.queries("events_freshness")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    val wm = rows.map(_._2).max
    rows.foreach { case (_, last, lag, stale) =>
      assert(lag == wm - last)
      assert(stale == (lag > 86400000L))
    }
    // at least one type IS the watermark (lag 0, never stale)
    assert(rows.exists(r => r._3 == 0L && !r._4))
  }

  test("power/mde: exact sufficient statistics and the pinned IEEE tree " +
      "match a BigInt replay; the MDE is positive and scale-consistent") {
    import org.apache.spark.sql.functions._
    def dec6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    // per-user ITT metric in exact micro-units; arm via Spark's own
    // xxhash64 (the one primitive the replay can't restate in Scala)
    val ev = graft.ops.Tables(spark, sfDir).events
      .select(col("user_id"), col("event_type"), col("value"),
        when(pmod(xxhash64(concat(lit("AB"),
          col("user_id").cast("string"))), lit(2)) === 0, "A")
          .otherwise("B").as("arm"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3)))
    val mu = ev.groupBy(e => (e._1, e._4)).toSeq.map { case ((_, arm), es) =>
      val m = es.filter(_._2 == "purchase").map(e => dec6(e._3)).sum
      arm -> (m * 1000000).toBigInt
    }
    def stats(a: String): (Long, BigInt, BigInt) = {
      val xs = mu.filter(_._1 == a).map(_._2)
      (xs.size.toLong, xs.sum, xs.map(x => x * x).sum)
    }
    val (na, s1a, s2a) = stats("A")
    val (nb, s1b, s2b) = stats("B")
    def v(n: Long, s1: BigInt, s2: BigInt): Double =
      (BigInt(n) * s2 - s1 * s1).toDouble / (n * (n - 1)).toDouble
    val (va, vb) = (v(na, s1a, s2a), v(nb, s1b, s2b))
    val meanA = s1a.toDouble / na.toDouble / 1e6
    val mde = (1.959964 + 0.841621) * math.sqrt(va / na + vb / nb) / 1e6
    val got = EventOps.queries("events_power_mde")(spark, sfDir)
      .collect()(0)
    assert((got.getLong(0), got.getLong(1)) == (na, nb))
    assert(got.getDouble(2) == meanA, s"mean ${got.getDouble(2)} vs $meanA")
    assert(got.getDouble(3) == va / 1e12 && got.getDouble(4) == vb / 1e12)
    assert(got.getDouble(5) == mde && got.getDouble(6) == mde / meanA)
    // non-degenerate: the metric varies, so a finite positive MDE exists
    assert(mde > 0.0 && java.lang.Double.isFinite(mde))
    assert(na + nb == mu.size)
  }

  test("multiwindow burn: gap-correct 6h range sums match a replay; " +
      "alerts require BOTH windows to breach") {
    import org.apache.spark.sql.functions._
    val hours = graft.ops.Tables(spark, sfDir).events
      .select((unix_millis(col("ts")) / 3600000L).cast("long").as("hb"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues { es =>
        (es.size.toLong, es.count(_._2 == "error").toLong)
      }.toMap
    val want = hours.keys.toSeq.sorted.map { hb =>
      val (n1, e1) = hours(hb)
      val win = (hb - 5 to hb).flatMap(hours.get)
      val (n6, e6) = (win.map(_._1).sum, win.map(_._2).sum)
      (hb, n1, e1, n6, e6, 5.0 * e1.toDouble / n1.toDouble,
        5.0 * e6.toDouble / n6.toDouble, e1 * 5 > n1 && e6 * 5 > n6)
    }
    val got = EventOps.queries("events_multiwindow_burn")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6),
        r.getBoolean(7))).toSeq
    assert(got == want, s"got=${got.take(2)} want=${want.take(2)}")
    // the multiwindow rule is strictly tighter than either single test
    val oneHourBreaches = got.count(r => r._3 * 5 > r._2)
    assert(got.count(_._8) <= oneHourBreaches)
    assert(got.exists(r => r._3 * 5 > r._2 && !r._8),
      "some 1h spike must be suppressed by the 6h window")
  }

  test("bot flags: statistics and the three-rule verdict match an " +
      "integer replay; the corpus flags a non-degenerate bot set") {
    import org.apache.spark.sql.functions._
    val ev = graft.ops.Tables(spark, sfDir).events
      .select(col("user_id"), (unix_millis(col("ts")) / 3600000L)
        .cast("long").as("hb"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val want = ev.groupBy(_._1).toSeq.map { case (u, es) =>
      val byHour = es.groupBy(_._2)
      val n = es.size.toLong
      val days = es.map(_._2 / 24).distinct.size.toLong
      val burst = byHour.values.map(_.size).max.toLong
      val errs = es.count(_._3 == "error").toLong
      val (fr, fb, fe) =
        (n * 2 > days * 5, burst >= 3, errs * 5 > n)
      (u, n, days, burst, errs, fr, fb, fe,
        Seq(fr, fb, fe).count(identity) >= 2)
    }.sortBy(_._1)
    val got = EventOps.queries("events_bot_flags")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6),
        r.getBoolean(7), r.getBoolean(8))).toSeq
    assert(got == want, s"got=${got.take(2)} want=${want.take(2)}")
    // the panel bites on this corpus, and not on everyone
    assert(got.exists(_._9) && got.exists(!_._9))
  }

  test("funnel by arm: the two arm rows tile the global funnel and each " +
      "arm's stages are monotone") {
    val global = EventOps.queries("events_funnel")(spark, sfDir)
      .collect()(0)
    val got = EventOps.queries("events_funnel_by_arm")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.map(_._1).toSeq == Seq("A", "B"))
    // arm partition is total: each stage sums to the global funnel
    assert(got.map(_._2).sum == global.getLong(0))
    assert(got.map(_._3).sum == global.getLong(1))
    assert(got.map(_._4).sum == global.getLong(2))
    assert(got.map(_._5).sum == global.getLong(3))
    got.foreach { case (arm, nu, nv, nvc, nfc, rate) =>
      assert(nu >= nv && nv >= nvc && nvc >= nfc, s"arm $arm not monotone")
      assert(rate == nfc.toDouble / nu.toDouble, s"arm $arm rate")
    }
  }

  test("slo burn: daily and cumulative budget numbers match an integer " +
      "replay; cumulative is smoother than the daily series") {
    import org.apache.spark.sql.functions._
    val days = graft.ops.Tables(spark, sfDir).events
      .select((unix_millis(col("ts")) / 86400000L).cast("long").as("day"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDay = days.groupBy(_._1).view.mapValues { es =>
      (es.size.toLong, es.count(_._2 == "error").toLong)
    }.toMap
    var (cumN, cumE) = (0L, 0L)
    val want = byDay.keys.toSeq.sorted.map { d =>
      val (n, e) = byDay(d)
      cumN += n; cumE += e
      (d, n, e, e.toDouble / n.toDouble, 100.0 * e.toDouble / n.toDouble,
        100.0 * cumE.toDouble / cumN.toDouble)
    }
    val got = EventOps.queries("events_slo_burn")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == want, s"got=${got.take(2)} want=${want.take(2)}")
    // errors exist on this corpus, and the cumulative series varies less
    // than the daily one (it is an average of the dailies)
    assert(got.exists(_._3 > 0L))
    val daily = got.map(_._5)
    val cum = got.map(_._6)
    assert(cum.max - cum.min <= daily.max - daily.min)
  }

  test("holt forecast: the level/trend recursion matches a driver-side " +
      "fold bit-for-bit, and the fit tracks the series") {
    import org.apache.spark.sql.functions._
    val days = graft.ops.Tables(spark, sfDir).events
      .select((unix_millis(col("ts")) / 86400000L).cast("long").as("day"),
        col("value"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .groupBy(_._1).view
      .mapValues(vs => vs.map(v => BigDecimal(v._2)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)
      .toSeq.sortBy(_._1)
    var (l, t) = (0.0, 0.0)
    val want = days.zipWithIndex.map { case ((day, y), i) =>
      if (i == 0) { l = y; t = 0.0 }
      else {
        val nl = 0.5 * y + 0.5 * (l + t)
        val nt = 0.3 * ((0.5 * y + 0.5 * (l + t)) - l) + 0.7 * t
        l = nl; t = nt
      }
      (day, y, l, t, l + t)
    }
    val got = EventOps.queries("events_holt_forecast")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == want, s"got=${got.take(2)} want=${want.take(2)}")
    // the smoother is live: level stays within the series' envelope and
    // some trend is nonzero on this non-constant corpus
    val ys = got.map(_._2)
    assert(got.forall(r => r._3 >= ys.min - 1e-9 && r._3 <= ys.max + 1e-9))
    assert(got.exists(_._4 != 0.0))
    spark.catalog.clearCache()
  }
}
