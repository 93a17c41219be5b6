package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import Oracle._

/** Event-stream analytics over the `events` table, batch-first (the reference
  * has no streaming surface — SURVEY.md §2.3); the same logic runs under
  * Structured Streaming in [[graft.streaming.StreamingOps]].
  *
  * The parquet `ts` column is nanosecond-precision; to stay engine-portable
  * (Spark timestamps are microsecond) every query works on epoch
  * milliseconds as BIGINT. Sessionization is the classic gap-split: one
  * shuffle on user_id for the window, then an aggregation per session —
  * at 100 TB the window partition key (user_id) bounds per-task state.
  */
object EventOps {
  type Q = (SparkSession, String) => DataFrame

  /** SQL snippet for FLOOR division of a BIGINT column: `/` would lose
    * precision (epoch-ns ≈ 1.7e18 > 2^53 goes through double) and `div`
    * truncates toward zero, which diverges from DuckDB's `//` (floor) for
    * pre-1970 timestamps. Shared with [[graft.streaming.StreamingOps]] so
    * streaming/batch epoch conversion cannot silently diverge.
    */
  def floorDivSql(colName: String, d: Long): String =
    s"$colName div $d - (CASE WHEN $colName % $d < 0 THEN 1 ELSE 0 END)"

  /** events with a portable epoch-millisecond `ts_ms` column.
    *
    * `ts` reads as a native microsecond TimestampType since the round-5
    * testdata regeneration ([[Tables.eventsSchema]]); `unix_millis` is
    * floor division µs→ms (`Math.floorDiv` in `DateTimeUtils`), matching
    * DuckDB's `epoch_ms(ts)` for pre-1970 instants too. The LongType arm
    * keeps the round-≤4 raw-nanosecond files readable.
    */
  private[graft] def withMs(events: DataFrame): DataFrame = {
    val tsField = events.schema("ts").dataType
    val ms = tsField match {
      case LongType => expr(floorDivSql("ts", 1000000L))
      case _        => unix_millis(col("ts"))
    }
    events.withColumn("ts_ms", ms)
  }

  private val HourMs = 3600000L
  private val GapMs = 1800000L // 30 min session gap
  private val WeekMs = 604800000L
  private val DayMs = 86400000L

  def queries: Map[String, Q] = Map(
    // Tumbling 1h window aggregation (batch form of a streaming windowed agg).
    "events_hourly" -> { (s, d) =>
      withMs(Tables(s, d).events)
        .groupBy(
          // floor division, matching DuckDB's `//` for negative epochs
          expr(floorDivSql("ts_ms", HourMs)).as("hour_bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("hour_bucket", "event_type")
    },
    // Exact SLIDING-window distinct users (3h window, 1h slide) via the
    // fan-out pattern: each event replicates to the <=3 windows that
    // contain it, then one distinct + count per window. The honest
    // exact form — sliding distinct sets are NOT mergeable across
    // panes (unlike sums), so the choice at scale is this bounded 3x
    // fan-out or the approximate HLL family (agg_hll_oracle), whose
    // registers do merge. Fan-out factor = window/slide, explicit and
    // bounded; the distinct and the count share one (win_end, user)
    // shuffle (partial count collapses on the distinct's partitioning).
    "events_sliding_distinct" -> { (s, d) =>
      slidingDistinctFrom(withMs(Tables(s, d).events))
    },
    // The APPROXIMATE counterpart events_sliding_distinct points at:
    // trailing-24h distinct users per hour from MERGEABLE HLL register
    // partials, built relationally — per-(hour, register) maxima (one
    // shuffle over at most hours x 256 rows), a per-register sliding
    // window max (register merge IS max, so a window max over hourly
    // partials equals the sketch of the union — the property the exact
    // form provably lacks), then the exact integer harmonic sum. At
    // 100 TB the register frame is metadata-sized regardless of event
    // volume, and adding an hour never reprocesses the previous 23 —
    // the production shape for "distinct users per trailing window".
    "events_hll_sliding" -> { (s, d) =>
      hllSlidingFrom(withMs(Tables(s, d).events), windowHours = 24)
    },
    // Gap-based sessionization: split a user's event sequence at >30min gaps.
    "events_sessionize" -> { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_ms").asc, col("event_id").asc)
      withMs(Tables(s, d).events)
        .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ms").isNull ||
            col("ts_ms") - col("prev_ms") > GapMs, 1).otherwise(0))
        .withColumn("session_idx",
          sum(col("new_session")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_ms")).as("start_ms"),
          max(col("ts_ms")).as("end_ms"),
          dsum(col("value")).as("sum_value"))
        .orderBy("user_id", "session_idx")
    },
    // Daily bounce rate — the engagement-health headline over the
    // sessionized stream: per day (of session start), how many sessions
    // happened and what fraction consisted of a single event. Reuses the
    // exact gap-based session assignment of events_sessionize (one
    // user-keyed window pass); sessions then collapse to a day-keyed
    // partial+final aggregate (day-sized output), and the rate divides
    // two exact counts once per day row.
    "events_bounce_rate" -> { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_ms").asc, col("event_id").asc)
      withMs(Tables(s, d).events)
        .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ms").isNull ||
            col("ts_ms") - col("prev_ms") > GapMs, 1).otherwise(0))
        .withColumn("session_idx",
          sum(col("new_session")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"), min(col("ts_ms")).as("start_ms"))
        .groupBy(expr(floorDivSql("start_ms", DayMs)).as("day"))
        .agg(count(lit(1)).as("n_sessions"),
          count(when(col("n_events") === 1, 1)).as("n_bounce"))
        .withColumn("bounce_rate",
          col("n_bounce").cast("double") / col("n_sessions"))
        .orderBy("day")
    },
    // AS-OF join composed from built-ins (SURVEY.md §7.3 preference (a)):
    // for each purchase, the latest view at-or-before it by the same user.
    // One shuffle on user_id; the tagged-union + last_value(ignore nulls)
    // formulation is the scalable alternative to a per-row range probe.
    "events_asof_join" -> { (s, d) =>
      val e = withMs(Tables(s, d).events)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_id"), col("ts_ms"), col("value"),
          when(col("event_type") === "view", 0).otherwise(1).as("kind"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_ms").asc, col("kind").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("asof_view_ms",
          last(when(col("kind") === 0, col("ts_ms")), ignoreNulls = true).over(w))
        .withColumn("asof_view_value",
          last(when(col("kind") === 0, col("value")), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select("event_id", "user_id", "ts_ms", "asof_view_ms", "asof_view_value")
        .orderBy("event_id")
    },
    // As-of join WITH TOLERANCE — the feature-engineering staleness
    // bound ("most recent view, but only if within 30 minutes"): same
    // single-pass windowed last-non-null as events_asof_join, then the
    // carried value is nulled when older than the bound. The tolerance
    // is a per-row compare on the already-carried timestamp — zero extra
    // shuffles over the plain as-of, which is why this formulation
    // scales where a time-range join (candidate fan-out + re-dedup)
    // would not. Rows with no fresh view keep the purchase (left-join
    // semantics with NULL features), matching every asof(tolerance=...)
    // API.
    "events_asof_tolerance" -> { (s, d) =>
      asofToleranceFrom(withMs(Tables(s, d).events)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_id"), col("ts_ms"), col("value"),
          when(col("event_type") === "view", 0).otherwise(1).as("kind")),
        GapMs)
    },
    // Interval (range) join as a bucketed EQUI-join — the scale form of
    // "purchases within 30 min after a click by the same user". The naive
    // plan is a non-equi theta join (nested-loop, quadratic per user); here
    // each click interval [ts, ts+W) explodes to the <=2 width-W buckets it
    // overlaps, each purchase lives in EXACTLY one bucket, and the join is
    // an equi-join on (user_id, bucket) + a residual range filter. Because
    // a point belongs to one bucket, every qualifying pair is emitted
    // exactly once — no candidate distinct. The fan-out is bounded by
    // ceil(interval/W)+1 = 2; shuffle volume stays linear in the input.
    // EventOpsSpec pins the no-nested-loop plan shape.
    "events_interval_join" -> { (s, d) =>
      val e = withMs(Tables(s, d).events)
      intervalJoinFrom(
        e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts_ms").as("click_ms")),
        e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("ts_ms").as("purchase_ms")),
        GapMs)
    },
    // Semi-structured extraction: pull props.k out of the JSON payload.
    "events_json" -> { (s, d) =>
      Tables(s, d).events
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy("event_type")
    },
    // Typed JSON parse (from_json with a declared schema) — the
    // schema-on-read path: one codegen'd parse per row into a struct,
    // fields projected out; absent/mistyped fields become NULL instead of
    // failing the scan (count(k) exposes the miss count).
    "events_json_schema" -> { (s, d) =>
      Tables(s, d).events
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k", LongType))))
            .getField("k").as("k"))
        .groupBy((col("k") % 10).as("k_mod")).agg(count(col("k")).as("n"))
        // NULLS FIRST explicitly: a missing/mistyped k yields a NULL group,
        // and Spark's asc default (nulls first) differs from DuckDB's
        // (nulls last) — pinned on both sides so the miss path stays
        // oracle-comparable, not just the clean corpus
        .orderBy(col("k_mod").asc_nulls_first)
    },
    "events_user_stats" -> { (s, d) =>
      withMs(Tables(s, d).events)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_type")).as("n_types"),
          dsum(col("value")).as("sum_value"),
          max(col("ts_ms")).as("last_ms"))
        .orderBy("user_id")
    },
    // Ordered conversion funnel view -> click -> purchase.
    "events_funnel" -> { (s, d) =>
      funnelFrom(withMs(Tables(s, d).events))
    },
    // The composed experiment readout — the strict-order funnel PER ARM
    // of the deterministic xxh64 A/B split: whether the treatment moves
    // users THROUGH the funnel, not just the terminal conversion rate
    // events_ab_lift reports (a treatment can raise clicks while killing
    // purchases; only the staged view shows where). Same one-user-keyed-
    // aggregate shape as events_funnel with the arm carried through the
    // group key; the rollup is two rows. Stage rates are single IEEE
    // divisions of exact counts.
    "events_funnel_by_arm" -> { (s, d) =>
      def firstTs(t: String): Column =
        min(when(col("event_type") === t, col("ts_ms")))
      withMs(Tables(s, d).events)
        .withColumn("arm",
          when(pmod(xxhash64(concat(lit("AB"),
            col("user_id").cast("string"))), lit(2)) === 0, "A")
            .otherwise("B"))
        .groupBy("user_id", "arm")
        .agg(firstTs("view").as("t_view"),
          firstTs("click").as("t_click"),
          firstTs("purchase").as("t_purchase"))
        .groupBy("arm")
        .agg(count(lit(1)).as("n_users"),
          count(col("t_view")).as("n_view"),
          count(when(col("t_click") > col("t_view"), 1)).as("n_view_click"),
          count(when(col("t_click") > col("t_view") &&
            col("t_purchase") > col("t_click"), 1))
            .as("n_funnel_complete"))
        .select(col("arm"), col("n_users"), col("n_view"),
          col("n_view_click"), col("n_funnel_complete"),
          (col("n_funnel_complete").cast("double") /
            col("n_users").cast("double")).as("complete_rate"))
        .orderBy("arm")
    },
    // Sequence-pattern matching over each user's ordered event stream —
    // the MATCH_RECOGNIZE/Sequel-style primitive Spark has no native
    // operator for (composed per SURVEY §7.3 preference (a)): encode the
    // (ts, event_id)-ordered stream as an initials string and count
    // non-overlapping `v[ce]*p` matches — a view converting to purchase
    // through any run of clicks/errors. The regex is unambiguous ([ce]*
    // cannot consume the closing p), so Java and RE2 agree match for
    // match — same cross-engine argument as the PII scrub subset. One
    // shuffle on user_id; the sort happens INSIDE array_sort after a
    // map-side collect_list (no window sort of the raw stream), and the
    // regex scan is a codegen'd map over user-sized strings. At 100 TB
    // per-user streams need a length cap before the collect — the same
    // bounded-sequence caveat as events_path_topk.
    "events_pattern_match" -> { (s, d) =>
      patternMatchFrom(withMs(Tables(s, d).events))
    },
    // Weekly cohort retention: cohort = a user's first active week; n_wkN =
    // cohort members also active in week cohort+N.
    "events_retention" -> { (s, d) =>
      retentionFrom(withMs(Tables(s, d).events))
    },
    // Incremental aggregate maintenance: the 100 TB pattern where hourly
    // stats are kept as mergeable PARTIAL state (n, decimal sum) and each
    // new batch folds in without recomputing history. Here the corpus is
    // split into two arbitrary "arrivals" (event_id parity — every bucket
    // genuinely merges two partials, unlike a time split) and the merged
    // result must equal the full recompute — which is exactly what the
    // oracle (the events_hourly query) checks. Merging partials is the same
    // partial+final shape Spark itself uses inside one aggregate; this op
    // demonstrates it ACROSS materialization boundaries, so the state could
    // live in a parquet table between runs.
    "events_hourly_incremental" -> { (s, d) =>
      val e = withMs(Tables(s, d).events)
        .withColumn("hour_bucket", expr(floorDivSql("ts_ms", HourMs)))
      def partial(df: DataFrame): DataFrame =
        df.groupBy("hour_bucket", "event_type")
          .agg(count(lit(1)).as("n"),
            exactDecimalSumWide(col("value")).as("sv"))
      val state = partial(e.filter(col("event_id") % 2 === 0))
      val delta = partial(e.filter(col("event_id") % 2 === 1))
      state.unionByName(delta)
        .groupBy("hour_bucket", "event_type")
        .agg(sum(col("n")).as("n"),
          sum(col("sv")).cast(DoubleType).as("sum_value"))
        .orderBy("hour_bucket", "event_type")
    },
    // Day-of-week x hour-of-day seasonality profile. The dow comes from
    // pure epoch-day arithmetic ((days + 4) % 7, 0 = Sunday) because the
    // engines' dayofweek() builtins disagree on numbering (Spark 1=Sunday,
    // DuckDB 0=Sunday) — integer arithmetic is the portable spelling.
    "events_seasonality" -> { (s, d) =>
      val e = withMs(Tables(s, d).events)
      e.groupBy(
          ((expr(floorDivSql("ts_ms", 86400000L)) + 4) % 7).as("dow"),
          (expr(floorDivSql("ts_ms", HourMs)) % 24).as("hod"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("dow", "hod")
    },
    // Autocorrelation of the daily event-count series at lags 1 and 7 —
    // the day-over-day persistence and weekly-seasonality readout that
    // sits next to `events_seasonality`. The series is the DAILY
    // aggregate (one shuffle over the events, then day-count-sized
    // frames), the lag alignment is a self equi-join on day+lag (no
    // global window, no single-partition sort), and Pearson r comes from
    // EXACT integer sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy² are
    // all BIGINT sums of daily counts) — the final r is a fixed tree of
    // IEEE ops over exact integers, so it is bit-identical in any
    // engine and under any partitioning. Long headroom: Σxy <= days ×
    // (rows/day)² — at 10¹² rows over 3 years, ~8e17 < 2^63.
    "events_autocorr" -> { (s, d) =>
      autocorrFrom(withMs(Tables(s, d).events)
        .groupBy(expr(floorDivSql("ts_ms", 86400000L)).as("day"))
        .agg(count(lit(1)).as("n")))
    },
    // Time-series gap filling: a generated hourly spine (min..max bucket)
    // left-joined with the observed counts, absent hours as 0 — the
    // dashboard/feature-engineering densify step. The spine generator is
    // O(hours), never O(events); at 100 TB the hourly aggregate is the
    // only full-data pass.
    "events_gapfill" -> { (s, d) =>
      gapfillFrom(withMs(Tables(s, d).events))
    },
    // Trailing z-score anomaly detection: each purchase scored against the
    // SAME user's full prior history (mean/variance from exact decimal
    // sum/sum-of-squares over an unbounded-preceding-to-1-preceding frame).
    // One shuffle on user_id; state per task is O(1) per row (running
    // sums), never a buffered history. value has <=2 decimal digits, so
    // value^2 (<=4 digits) is exact under DECIMAL(28,6) — the mean/var/z
    // arithmetic is then a fixed tree of IEEE ops, identical in both
    // engines.
    "events_anomaly_zscore" -> { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_ms").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      withMs(Tables(s, d).events)
        .withColumn("n_prev", count(col("value")).over(w))
        .withColumn("s1", dsumOver(col("value"), w))
        .withColumn("s2", dsumOver(col("value") * col("value"), w))
        .filter(col("event_type") === "purchase" && col("n_prev") >= 5)
        .withColumn("mean", col("s1") / col("n_prev"))
        .withColumn("variance",
          (col("s2") - col("s1") * col("s1") / col("n_prev")) / col("n_prev"))
        .withColumn("z",
          when(col("variance") > 0.0,
            (col("value") - col("mean")) / sqrt(col("variance"))))
        .select("event_id", "user_id", "value", "n_prev", "mean", "z")
        .orderBy("event_id")
    },
    // First-order Markov transition matrix over each user's event
    // sequence: count of (event_type -> next event_type) steps and the
    // row-normalized transition probability — the sequence-mining readout
    // behind next-event prediction and funnel design. One shuffle on
    // user_id orders every user's stream for the lead(); the transition
    // counts then collapse to a |types|^2 matrix (tiny at any corpus
    // scale), so the normalizing window runs over a handful of rows.
    // p divides two exact counts, so the double is engine-portable.
    "events_transition_matrix" -> { (s, d) =>
      transitionMatrixFrom(withMs(Tables(s, d).events))
    },
    // RFM segmentation — the classic customer-value readout: per user
    // Recency (latest event), Frequency (event count), Monetary (value
    // sum through the portable decimal path), each quintiled, segment =
    // concatenated digits. One shuffle on user_id builds the per-user
    // row; the three ntile windows then run over ONE ROW PER USER. Each
    // is a single-partition sort — fine here (users << events and the
    // frame is three narrow columns); at 100 TB you'd swap each for
    // rank-threshold broadcast compares (the data_winsorize trick), same
    // semantics. Tie-break on user_id makes every quintile deterministic.
    "events_rfm" -> { (s, d) =>
      rfmFrom(withMs(Tables(s, d).events))
    },
    // Marketing attribution over the event stream: every non-purchase
    // event within the 7 days before a user's purchase is a "touch"; per
    // touch type the operator reports total touches plus first-touch and
    // last-touch conversion credits — ALL integer counts (fractional
    // multi-touch credit would sum doubles; counts keep the gate exact).
    // One equi-join on user_id with the time band as a residual
    // predicate (the interval-join shape events_interval_join pins),
    // then per-conversion argmax/argmin via ONE max(struct)/min(struct)
    // aggregate — map-side collapsible, never a window over the touch
    // fan-out. The three tiny per-type aggregates recombine by UNION +
    // re-aggregate, deliberately not an outer join: no join of
    // aggregates means no SMJ risk and no null-handling. At 100 TB the
    // user_id join key bounds shuffle width and AQE splits hot users.
    "events_attribution" -> { (s, d) =>
      attributionFrom(withMs(Tables(s, d).events))
    },
    // Top-10 most common 3-step event-type paths — the path-mining
    // readout one level up from the transition matrix (bigrams →
    // trigrams of behavior). One shuffle on user_id orders each user's
    // stream for the two lead()s; paths collapse to at most |types|^3
    // rows in a partial+final count, and the global top-10 is a
    // TakeOrderedAndProject over that tiny table — never a full sort.
    "events_path_topk" -> { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_ms").asc, col("event_id").asc)
      withMs(Tables(s, d).events)
        .withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
          .as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path").asc)
        .limit(10)
    },
    // Peak session concurrency per hour — the capacity-planning sweep
    // line: how many gap-based sessions (events_sessionize's sessions,
    // closed intervals [start_ms, end_ms]) are simultaneously open, at
    // its per-hour maximum. The naive formulation is ONE global running
    // sum over every +1/-1 boundary — a single-partition window that
    // dies at scale. Here it is the two-level distributed prefix sum:
    // level 1 runs the within-hour running sum partitioned BY HOUR
    // (embarrassingly parallel), level 2 computes each hour's carry-in
    // as a cumulative sum over per-hour NET deltas — one row per hour,
    // metadata-scale, so its single-partition window is free. Peak(hour)
    // = carry_in + max(0, within-hour runs) — the 0 is the hour-open
    // standing level, see concurrencyFromSessions. Boundary conventions: +1 at
    // start_ms, -1 at end_ms+1 (closed interval), and at equal t the +1s
    // order first — a session starting the instant another ends overlaps
    // it for that millisecond. Hours with no boundary events are omitted
    // (concurrency there is constant at the carry level).
    "events_concurrency" -> { (s, d) =>
      concurrencyFromSessions(sessionIntervals(withMs(Tables(s, d).events)))
    },
    // Robust anomaly flags via median absolute deviation — the
    // outlier-resistant sibling of events_anomaly_zscore (mean/stddev are
    // themselves dragged by the outliers they are meant to find; the
    // median/MAD pair has a 50% breakdown point). Two exact median
    // aggregations (per-type median, then median absolute deviation
    // around it), each collapsing to |types| rows that broadcast back —
    // the full table is scanned per aggregate but never shuffled on a
    // wide key, and the flag itself is a codegen'd map. Median parity
    // between engines is pinned by agg_median; every comparison operand
    // here is the same fixed IEEE tree on both sides, so the > cut
    // agrees bit-for-bit. 1.4826 ≈ 1/Φ⁻¹(3/4) rescales MAD to a stddev
    // under normality, making "3 MAD-sigmas" comparable to the z-score 3.
    "events_mad_anomaly" -> { (s, d) =>
      val ev = withMs(Tables(s, d).events)
      val med = ev.groupBy("event_type")
        .agg(median(col("value")).as("med"))
      val mad = ev.join(broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(median(abs(col("value") - col("med"))).as("mad"))
      ev.join(broadcast(med), "event_type")
        .join(broadcast(mad), "event_type")
        .filter(abs(col("value") - col("med")) >
          lit(3.0) * lit(1.4826) * col("mad"))
        .select("event_id", "event_type", "value", "med", "mad")
        .orderBy("event_id")
    },
    // Daily new-vs-returning split — the growth headline over the event
    // stream: per day, how many active users saw their FIRST-ever
    // activity that day. One distinct (user, day) reduction (map-side
    // combined), a per-user window min for the first day (user-keyed —
    // the single-scan shape the retention query pins), one day rollup.
    "events_new_returning" -> { (s, d) =>
      val days = withMs(Tables(s, d).events)
        .select(col("user_id"), expr(floorDivSql("ts_ms", DayMs)).as("day"))
        .distinct()
      val w = Window.partitionBy("user_id")
      days.withColumn("first_day", min(col("day")).over(w))
        .groupBy("day")
        .agg(count(when(col("day") === col("first_day"), 1)).as("n_new"),
          count(when(col("day") =!= col("first_day"), 1))
            .as("n_returning"))
        .orderBy("day")
    },
    // Activity concentration (Pareto/whale readout) — "what share of
    // events do the top 10% / top 1% most active users contribute":
    // the curation signal behind bot caps and the ops signal behind
    // hot-key planning. Scale shape: the corpus collapses to per-user
    // counts, those to the (activity, n_users) HISTOGRAM — bounded by
    // the distinct activity values, tiny — and every window/cut runs
    // over that histogram (same two-pass threshold doctrine as
    // text_quality_buckets; ties at a cut all count, deterministic).
    // Exact integers until the two final share divisions.
    "events_activity_pareto" -> { (s, d) =>
      val byA = Tables(s, d).events
        .groupBy("user_id").agg(count(lit(1)).as("a"))
        .groupBy("a").agg(count(lit(1)).as("nu"))
        .withColumn("ne", col("a") * col("nu"))
      val w = Window.orderBy(col("a").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = byA
        .withColumn("cu", sum(col("nu")).over(w))
        .withColumn("ce", sum(col("ne")).over(w))
      val tot = cum.agg(max(col("cu")).as("users"), max(col("ce")).as("ev"))
      val cuts = cum.crossJoin(broadcast(tot))
        .agg(max(when(col("cu") * 10 >= col("users"), col("a")))
          .as("cut10"),
          max(when(col("cu") * 100 >= col("users"), col("a"))).as("cut1"))
      cum.crossJoin(broadcast(cuts))
        .agg(max(col("cu")).as("n_users"), max(col("ce")).as("n_events"),
          max(col("cut10")).as("p90_activity"),
          max(col("cut1")).as("p99_activity"),
          max(when(col("a") === col("cut10"), col("ce"))).as("ev10"),
          max(when(col("a") === col("cut1"), col("ce"))).as("ev1"))
        .select(col("n_users"), col("n_events"), col("p90_activity"),
          col("p99_activity"),
          (col("ev10").cast("double") / col("n_events").cast("double"))
            .as("share_top10pct"),
          (col("ev1").cast("double") / col("n_events").cast("double"))
            .as("share_top1pct"))
    },
    // Daily discrete-time churn hazard — the Kaplan-Meier INPUT table
    // over user lifetimes: per calendar day, how many users are AT RISK
    // (first activity on or before the day, last activity on or after),
    // how many CHURN (last-ever activity that day), and how many are
    // CENSORED (still active at the corpus boundary — the final-day
    // last-seen users are unresolved, counting them as churn is the
    // classic right-censoring bug). hazard = churned/at_risk is the one
    // IEEE division; survival-curve products are left to the consumer
    // because a cross-engine float product chain is not bit-stable.
    // Scale shape: the corpus collapses to per-user (first, last) in one
    // map-side-combined aggregate; first/last day counts, the densified
    // day spine, and both cumulative windows all run on the day-sized
    // metadata frame.
    "events_hazard_daily" -> { (s, d) =>
      val spans = withMs(Tables(s, d).events)
        .select(col("user_id"), expr(floorDivSql("ts_ms", DayMs)).as("day"))
        .groupBy("user_id")
        .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
        .persist() // feeds the bounds row and the two day-count aggregates
      val bounds = spans.agg(min(col("first_day")).as("lo"),
        max(col("last_day")).as("hi"))
      val firsts = spans.groupBy(col("first_day").as("day"))
        .agg(count(lit(1)).as("nf"))
      val lasts = spans.groupBy(col("last_day").as("day"))
        .agg(count(lit(1)).as("nl"))
      val spine = bounds
        .select(col("hi"), explode(sequence(col("lo"), col("hi"))).as("day"))
      val wc = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wp = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
      spine.join(firsts, Seq("day"), "left").join(lasts, Seq("day"), "left")
        .na.fill(0L, Seq("nf", "nl"))
        .withColumn("cum_f", sum(col("nf")).over(wc))
        .withColumn("clp", coalesce(sum(col("nl")).over(wp), lit(0L)))
        .withColumn("n_at_risk", col("cum_f") - col("clp"))
        .withColumn("n_churned",
          when(col("day") < col("hi"), col("nl")).otherwise(lit(0L)))
        .withColumn("n_censored",
          when(col("day") === col("hi"), col("nl")).otherwise(lit(0L)))
        .select(col("day"), col("n_at_risk"), col("n_churned"),
          col("n_censored"),
          when(col("n_at_risk") > 0L,
            col("n_churned").cast("double") / col("n_at_risk").cast("double"))
            .as("hazard"))
        .orderBy("day")
    },
    // Seasonal (hour-of-day-conditioned) anomaly detection — the
    // deseasonalized sibling of events_mad_anomaly: traffic has a daily
    // rhythm, so a raw threshold flags every quiet 3 AM as anomalous and
    // misses a quiet 3 PM; here each (type, day, hour-of-day) count is
    // measured against the median and MAD of ITS OWN hour-of-day slot
    // across days. Scale shape: the corpus collapses to the hourly count
    // table first (one map-side-combined aggregate — day·hod-sized),
    // every median runs over that tiny table, and the two baseline
    // tables broadcast back under it. Flag rule |n − med| > 3·1.4826·MAD
    // (the Gaussian-consistent MAD z-score, as events_mad_anomaly).
    "events_seasonal_anomaly" -> { (s, d) =>
      val hourly = withMs(Tables(s, d).events)
        .groupBy(col("event_type"),
          expr(floorDivSql("ts_ms", DayMs)).as("day"),
          (expr(floorDivSql("ts_ms", HourMs)) % 24).as("hod"))
        .agg(count(lit(1)).as("n"))
      val med = hourly.groupBy("event_type", "hod")
        .agg(median(col("n")).as("med"))
      val mad = hourly.join(broadcast(med), Seq("event_type", "hod"))
        .groupBy("event_type", "hod")
        .agg(median(abs(col("n") - col("med"))).as("mad"))
      hourly.join(broadcast(med), Seq("event_type", "hod"))
        .join(broadcast(mad), Seq("event_type", "hod"))
        .filter(abs(col("n") - col("med")) >
          lit(3.0) * lit(1.4826) * col("mad"))
        .select(col("event_type"), col("day"), col("hod"), col("n"),
          col("med"), col("mad"))
        .orderBy("event_type", "day", "hod")
    },
    // Per-user behavioral diversity (Gini–Simpson index 1 − Σ p²) of the
    // event-type mix — the curation signal separating one-note bots from
    // organic users. Simpson's index over Shannon entropy is a
    // DELIBERATE portability choice: −Σ p·ln p needs a transcendental,
    // and Java's Math.log differs from DuckDB's libm ln in the last ulp
    // on real inputs (measured on this corpus) — no fixed expression
    // tree can fix that. 1 − Σ p² is pure rational arithmetic. The
    // per-(user, type) SUM of doubles would still be summation-ORDER-
    // dependent, so the closed 5-type domain pivots to columns and the
    // index is a FIXED left-associated tree over one row, term for term
    // in the oracle. One shuffle on user_id, conditional counts collapse
    // map-side.
    "events_user_diversity" -> { (s, d) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      val counts = Tables(s, d).events.groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          types.map(t =>
            count(when(col("event_type") === t, 1)).as(s"n_$t")): _*)
      val terms = types.map { t =>
        val p = col(s"n_$t").cast("double") / col("n").cast("double")
        p * p
      }
      counts
        .select(col("user_id"), col("n"),
          (lit(1.0) - terms.reduce(_ + _)).as("diversity"))
        .orderBy("user_id")
    },
    // Week-over-week growth per event type — the trend line every
    // metrics review opens with. Weekly counts collapse the stream to a
    // |types|×|weeks| frame (metadata scale) before the lag window runs,
    // so the "window over everything" shape is safe by construction;
    // growth divides two exact counts, one double division per row.
    "events_wow_growth" -> { (s, d) =>
      val w = Window.partitionBy("event_type").orderBy("week")
      withMs(Tables(s, d).events)
        .groupBy(expr(floorDivSql("ts_ms", WeekMs)).as("week"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("prev", lag(col("n"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("event_type"), col("week"), col("n"), col("prev"),
          ((col("n").cast("double") - col("prev").cast("double")) /
            col("prev").cast("double")).as("wow_growth"))
        .orderBy("event_type", "week")
    },
    // DAU/WAU stickiness — the engagement ratio every growth dashboard
    // tracks: distinct daily actives over distinct trailing-7-day
    // actives, per day. Sliding DISTINCT sets are not mergeable, so WAU
    // uses the honest fan-out (events_sliding_distinct's pattern): each
    // (day, user) pair replicates to the ≤7 windows that contain it,
    // then one distinct count per window — the fan-out is bounded by the
    // window length, and the pair frame is already day-deduplicated so
    // the explode multiplies days, not raw events. All counts exact
    // integers; the ratio is one double division.
    "events_stickiness" -> { (s, d) =>
      val du = withMs(Tables(s, d).events)
        .select(expr(floorDivSql("ts_ms", DayMs)).as("day"), col("user_id"))
        .distinct()
      val dau = du.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = du
        .select(explode(sequence(col("day"), col("day") + 6)).as("day"),
          col("user_id"))
        .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          (col("dau").cast("double") / col("wau").cast("double"))
            .as("stickiness"))
        .orderBy("day")
    },
    // Gaps-and-islands: each user's LONGEST consecutive-day activity
    // streak — the classic SQL islands construction (day − dense row
    // number is constant exactly within an island of consecutive
    // distinct days), then the top-20 streaks. Engagement depth the
    // DAU/WAU stickiness ratio can't see. Shape: one distinct on
    // (user, day), a user-keyed window (each user's days sort locally),
    // an island rollup, and a TakeOrdered top-k — the heavy shuffle is
    // the first distinct, everything after is user-cardinality.
    "events_streaks" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("day")
      val islands = withMs(Tables(s, d).events)
        .select(col("user_id"),
          expr(floorDivSql("ts_ms", DayMs)).as("day"))
        .distinct()
        .withColumn("isl", col("day") - row_number().over(w))
        .groupBy("user_id", "isl")
        .agg(count(lit(1)).as("streak_days"), min(col("day")).as("start_day"))
      val wu = Window.partitionBy("user_id")
        .orderBy(col("streak_days").desc, col("start_day").asc)
      islands.withColumn("rn", row_number().over(wu))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("streak_days"), col("start_day"))
        .orderBy(col("streak_days").desc, col("user_id").asc)
        .limit(20)
    },
    // Freshness SLO readout — the pipeline-health gate every ingestion
    // job publishes: per event type, the last-seen timestamp, its lag
    // behind the corpus watermark (the global max), and a staleness
    // verdict at a 24 h threshold. One partial+final max per type plus
    // a 1-row watermark broadcast (scalar crossjoin, whitelisted
    // pattern); exact integer milliseconds end-to-end.
    "events_freshness" -> { (s, d) =>
      val perType = withMs(Tables(s, d).events)
        .groupBy("event_type").agg(max(col("ts_ms")).as("last_ms"))
      val wm = perType.agg(max(col("last_ms")).as("watermark_ms"))
      perType.crossJoin(wm)
        .select(col("event_type"), col("last_ms"),
          (col("watermark_ms") - col("last_ms")).as("lag_ms"),
          ((col("watermark_ms") - col("last_ms")) > lit(DayMs))
            .as("stale"))
        .orderBy("event_type")
    },
    // Conversion-window funnel: view → first click within 24 h of the
    // user's FIRST view → first purchase within 24 h of that click. The
    // plain `events_funnel` is strict-order with no deadline; real product
    // funnels attach a conversion window to each stage, and the stages
    // are SEQUENTIALLY dependent (each window anchors on the previous
    // stage's realized time). Stated as ONE per-user aggregation (no
    // joins at all): the view anchor is a conditional min, and the
    // click/purchase streams are collected as sorted per-user arrays so
    // each stage's window is a higher-order filter + array_min over the
    // previous stage's realized time. One user_id shuffle; per-user
    // arrays are bounded by that user's click/purchase counts (small),
    // and collect_list drops the nulls the `when` emits for other types.
    "events_funnel_windowed" -> { (s, d) =>
      val e = withMs(Tables(s, d).events)
      val perUser = e.groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("ts_ms"))).as("t_view"),
        sort_array(collect_list(
          when(col("event_type") === "click", col("ts_ms")))).as("clicks"),
        sort_array(collect_list(
          when(col("event_type") === "purchase", col("ts_ms")))).as("buys"))
      val staged = perUser
        .withColumn("t_click", array_min(filter(col("clicks"),
          c => c > col("t_view") && c <= col("t_view") + lit(DayMs))))
        .withColumn("t_buy", array_min(filter(col("buys"),
          b => b > col("t_click") && b <= col("t_click") + lit(DayMs))))
      staged.agg(count(col("t_view")).as("n_view"),
        count(col("t_click")).as("n_click_24h"),
        count(col("t_buy")).as("n_buy_24h"))
    },
    // Watermark-lag audit: how late does data arrive, measured exactly the
    // way Structured Streaming would see it — arrival is bucketed into
    // 10k-event "microbatches", the watermark entering each bucket is the
    // max event time over all PRIOR buckets, and an event's lateness is
    // how far behind that watermark it lands. This is the readout that
    // justifies a `withWatermark` delay bound (the streaming rows here use
    // 2 h / 48 h): n_late_1h says what a 1 h bound would drop.
    //
    // ARRIVAL ORDER: the corpus has no ingest-sequence column — event_id
    // is emitted in event-time order (zero disorder, checked against the
    // generator), so the audit replays a DETERMINISTIC bounded-jitter
    // arrival permutation: arrival = event_id + xxh64(event_id) % 20000
    // (up to two buckets of forward displacement). On a real log the
    // jitter term is replaced by the ingest offset; everything downstream
    // (bucket maxima, running watermark, lateness rollup) is the real
    // machinery, and the oracle replicates the hash via the XXH64 SQL
    // replica, so the permutation itself is gate-checked.
    //
    // Scale: per-bucket maxima are a partial+final aggregate; the running
    // max runs over the BUCKET table (corpus/10k rows); the bucket
    // watermarks broadcast back under the events — the raw stream is
    // never globally sorted.
    "events_watermark_lag" -> { (s, d) =>
      val arr = col("event_id") +
        pmod(xxhash64(col("event_id").cast("string")), lit(20000L))
      val e = withMs(Tables(s, d).events)
        .select(col("event_type"), col("ts_ms"), arr.as("arr"))
        .select(col("event_type"), col("ts_ms"),
          expr(floorDivSql("arr", 10000L)).as("mb"))
      val bmax = e.groupBy("mb").agg(max(col("ts_ms")).as("mb_max"))
      val w = Window.orderBy("mb")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wm = bmax.select(col("mb"),
        max(col("mb_max")).over(w).as("wm_ms"))
      e.join(broadcast(wm), Seq("mb"))
        .select(col("event_type"),
          greatest(coalesce(col("wm_ms") - col("ts_ms"), lit(0L)), lit(0L))
            .as("late_ms"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          count(when(col("late_ms") > 0, 1)).as("n_late"),
          count(when(col("late_ms") > HourMs, 1)).as("n_late_1h"),
          max(col("late_ms")).as("max_late_ms"))
        .orderBy("event_type")
    },
    // Multiwindow burn-rate alert — the SRE alerting rule the plain
    // events_slo_burn readout feeds (the published multiwindow design:
    // page only when BOTH a short and a long window breach, so a single
    // bad minute can't page but a sustained burn can't hide): per hour,
    // the 1 h and trailing-6 h error rates against a 20% budget, alert
    // when both breach. The breach tests are all-integer cross-
    // multiplications (5e > n); the trailing window is a RANGE frame on
    // the integer hour key (gap-correct where a ROWS frame would slide
    // over missing hours), and it runs on the hour-bucket table — the
    // corpus collapses in one aggregate first.
    "events_multiwindow_burn" -> { (s, d) =>
      val w6 = Window.orderBy("hb").rangeBetween(-5, 0)
      withMs(Tables(s, d).events)
        .groupBy(expr(floorDivSql("ts_ms", HourMs)).as("hb"))
        .agg(count(lit(1)).as("n_1h"),
          count(when(col("event_type") === "error", 1)).as("e_1h"))
        .withColumn("n_6h", sum(col("n_1h")).over(w6))
        .withColumn("e_6h", sum(col("e_1h")).over(w6))
        .select(col("hb"), col("n_1h"), col("e_1h"), col("n_6h"),
          col("e_6h"),
          (lit(5.0) * col("e_1h").cast("double") /
            col("n_1h").cast("double")).as("burn_1h"),
          (lit(5.0) * col("e_6h").cast("double") /
            col("n_6h").cast("double")).as("burn_6h"),
          (col("e_1h") * 5 > col("n_1h") &&
            col("e_6h") * 5 > col("n_6h")).as("alert"))
        .orderBy("hb")
    },
    // Bot/automation flags — the traffic-quality gate a training-data
    // pipeline runs before trusting behavioral events (bot sessions
    // poison engagement labels): per user, exact activity statistics
    // (event count, active days, peak events in any one hour, error
    // share) and three integer cross-multiplied rules — sustained rate
    // (> 2.5 events/day: 2n > 5·days), hourly burst (≥ 3 in one hour),
    // error-heavy (> 20% errors: 5e > n) — with verdict = ANY TWO.
    // Thresholds are corpus-calibrated constants (a production run fits
    // them to its own traffic); the rule PANEL and the exact statistics
    // are the operator. Shape: one (user, hour) pre-aggregate feeds the
    // per-user rollup — two key-partitioned shuffles, no windows over
    // the raw stream, flags are pure map arithmetic on the user table.
    "events_bot_flags" -> { (s, d) =>
      val hourly = withMs(Tables(s, d).events)
        .groupBy(col("user_id"),
          expr(floorDivSql("ts_ms", HourMs)).as("hb"))
        .agg(count(lit(1)).as("nh"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("eh"))
      hourly.groupBy("user_id")
        .agg(sum(col("nh")).as("n_events"),
          countDistinct(expr(floorDivSql("hb", 24L))).as("active_days"),
          max(col("nh")).as("max_hour_burst"),
          sum(col("eh")).as("n_errors"))
        .withColumn("f_rate",
          col("n_events") * 2 > col("active_days") * 5)
        .withColumn("f_burst", col("max_hour_burst") >= 3)
        .withColumn("f_error", col("n_errors") * 5 > col("n_events"))
        .withColumn("is_bot",
          (when(col("f_rate"), 1).otherwise(0) +
            when(col("f_burst"), 1).otherwise(0) +
            when(col("f_error"), 1).otherwise(0)) >= 2)
        .orderBy("user_id")
    },
    // SLO error-budget burn — the SRE readout next to the anomaly
    // detectors: per day, the error rate against a 1% budget, the
    // instantaneous burn rate (1.0 = exactly on budget, >1 = burning
    // faster than the SLO allows), and the cumulative budget consumption
    // since the window opened. Exact integer counts collapse the corpus
    // to a day-sized frame in ONE aggregate; the cumulative sums run
    // over that tiny frame, and every rate is a fixed IEEE tree over
    // exact longs. This is the alerting-page readout (multiwindow burn
    // alerts read exactly these columns at two horizons).
    "events_slo_burn" -> { (s, d) =>
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      withMs(Tables(s, d).events)
        .groupBy(expr(floorDivSql("ts_ms", DayMs)).as("day"))
        .agg(count(lit(1)).as("n_events"),
          count(when(col("event_type") === "error", 1)).as("n_errors"))
        .withColumn("cum_n", sum(col("n_events")).over(w))
        .withColumn("cum_e", sum(col("n_errors")).over(w))
        .select(col("day"), col("n_events"), col("n_errors"),
          (col("n_errors").cast("double") / col("n_events").cast("double"))
            .as("error_rate"),
          (lit(100.0) * col("n_errors").cast("double") /
            col("n_events").cast("double")).as("burn_rate"),
          (lit(100.0) * col("cum_e").cast("double") /
            col("cum_n").cast("double")).as("cum_budget_used"))
        .orderBy("day")
    },
    // Daily-reset EWMA (α = ½) over the hourly value series per event
    // type — the smoothing readout behind alerting dashboards. An
    // UNBOUNDED exponential window cannot be stated as a SQL window
    // aggregate (the weight (1−α)^(t−i) mixes the current row's t into
    // every summand; the usual 2^i/2^t factoring overflows past 1023
    // steps), but the day-reset variant is exact: within a 24-hour
    // segment, ewma_t = α·0.5^i·Σ_{j≤i} 2^j·v_j with i ≤ 23, so 2^j
    // stays tiny and every factor is an exact power of two. One shuffle
    // on (type, day); the running sum is a bounded 24-row frame in both
    // engines, accumulated in the same ORDER BY order — bit-identical.
    // Holt LINEAR-TREND exponential smoothing over the daily revenue
    // series — the forecasting step up from events_ewma_daily (level
    // only) and events_forecast_naive: level and trend recursions
    // l_i = α·y_i + (1−α)·(l_{i−1}+t_{i−1}),
    // t_i = β·(l_i − l_{i−1}) + (1−β)·t_{i−1}, α=0.5, β=0.3, zero-trend
    // init. A linear recurrence is order-SENSITIVE IEEE, which is exactly
    // why the EWMA row avoided it — here both engines run the SAME
    // sequential fold (Spark: the `aggregate` higher-order function over
    // the day-sorted array; DuckDB: a recursive CTE stepping rn → rn+1)
    // with the identical expression tree, so the doubles match bitwise.
    // Scale: the fold runs over the DAY-sized series (calendar length,
    // ~10³ rows at any corpus size) after one partial+final day rollup —
    // the single-row collect_list is day-frame-sized, never corpus-sized.
    "events_holt_forecast" -> { (s, d) =>
      val days = withMs(Tables(s, d).events)
        .groupBy(expr(floorDivSql("ts_ms", DayMs)).as("day"))
        .agg(dsum(col("value")).as("rev"))
        .select(col("day"), col("rev").cast("double").as("y"))
      days
        .agg(sort_array(collect_list(struct(col("day"), col("y"))))
          .as("s"))
        .select(explode(expr(
          """aggregate(
            |  s,
            |  named_struct(
            |    'rows', cast(array() as
            |      array<struct<day:bigint,y:double,level:double,
            |                   trend:double>>),
            |    'l', 0.0D, 't', 0.0D, 'i', 0),
            |  (acc, x) -> if(acc.i = 0,
            |    named_struct(
            |      'rows', array_append(acc.rows, named_struct(
            |        'day', x.day, 'y', x.y, 'level', x.y, 'trend', 0.0D)),
            |      'l', x.y, 't', 0.0D, 'i', 1),
            |    named_struct(
            |      'rows', array_append(acc.rows, named_struct(
            |        'day', x.day, 'y', x.y,
            |        'level', 0.5D * x.y + 0.5D * (acc.l + acc.t),
            |        'trend', 0.3D * ((0.5D * x.y + 0.5D * (acc.l + acc.t))
            |          - acc.l) + 0.7D * acc.t)),
            |      'l', 0.5D * x.y + 0.5D * (acc.l + acc.t),
            |      't', 0.3D * ((0.5D * x.y + 0.5D * (acc.l + acc.t))
            |        - acc.l) + 0.7D * acc.t,
            |      'i', acc.i + 1)),
            |  acc -> acc.rows)""".stripMargin)).as("r"))
        .select(col("r.day").as("day"), col("r.y").as("y"),
          col("r.level").as("level"), col("r.trend").as("trend"),
          (col("r.level") + col("r.trend")).as("forecast_next"))
        .orderBy("day")
    },
    "events_ewma_daily" -> { (s, d) =>
      val hourly = withMs(Tables(s, d).events)
        .groupBy(expr(floorDivSql("ts_ms", HourMs)).as("hb"),
          col("event_type"))
        .agg(dsum(col("value")).as("v"))
        .withColumn("day", expr(floorDivSql("hb", 24L)))
        .withColumn("i", pmod(col("hb"), lit(24L)))
      val w = Window.partitionBy("event_type", "day").orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // the running sum is kept in EXACT integer micro-units (v·10⁶·2^i,
      // ≤ ~2^58 for any plausible hourly mass — ANSI overflows loudly
      // beyond): a double running sum would differ from the oracle in the
      // last ulp because DuckDB's windowed SUM accumulates via a segment
      // tree (different association) while Spark adds sequentially.
      // Integers are association-free; the one double conversion after
      // the sum is the same IEEE tree on both engines.
      hourly
        .withColumn("vu", round(col("v") * lit(1e6)).cast("long"))
        .withColumn("run",
          sum(col("vu") * pow(lit(2.0), col("i")).cast("long")).over(w))
        .select(col("event_type"), col("hb").as("hour_bucket"), col("v"),
          (lit(0.5) * col("run").cast("double") * pow(lit(0.5), col("i")) /
            lit(1e6)).as("ewma"))
        .orderBy("event_type", "hour_bucket")
    },
    // Burst detection on the hourly event stream: an hour is a burst
    // when its count exceeds 3× the trailing-24-bucket average — stated
    // ALL-INTEGER as 24·n > 3·Σ(prev 24), with a full-history guard so
    // the first day never alarms on a short denominator. One shuffle on
    // event_type; the trailing frame is 24 rows of per-hour counts
    // (metadata scale — the raw events collapsed in the hourly
    // aggregate).
    "events_burst_hours" -> { (s, d) =>
      val w = Window.partitionBy("event_type").orderBy("hb")
        .rowsBetween(-24, -1)
      withMs(Tables(s, d).events)
        .groupBy(expr(floorDivSql("ts_ms", HourMs)).as("hb"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("trail", sum(col("n")).over(w))
        .withColumn("n_prev", count(col("n")).over(w))
        .filter(col("n_prev") === 24 &&
          col("n") * 24 > col("trail") * 3)
        .select(col("event_type"), col("hb").as("hour_bucket"), col("n"),
          col("trail"))
        .orderBy("event_type", "hour_bucket")
    },
    // Rolling exact median of the trailing 11 events per user — the
    // robust-smoothing companion to events_mad_anomaly (a rolling MEAN
    // chases every spike; the rolling median doesn't). One shuffle on
    // user_id, then a bounded ROWS frame: per-row state is the 11-value
    // frame, never the user's history, so task memory is O(frame) at any
    // scale. Exact interpolated percentile over the frame — the same
    // quantile_cont parity agg_median pins, per window frame.
    "events_rolling_median" -> { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_ms").asc, col("event_id").asc)
        .rowsBetween(-10, Window.currentRow)
      withMs(Tables(s, d).events)
        .withColumn("roll_med", percentile(col("value"), lit(0.5)).over(w))
        .select("event_id", "user_id", "value", "roll_med")
        .orderBy("event_id")
    },
    // Cohort retention matrix — the growth-analytics readout behind every
    // retention curve: users cohorted by first-purchase day, each later
    // purchase day counted as (cohort, age) distinct-user cells. Weekly
    // cohorts are degenerate on this corpus (every user converts in week
    // one), daily cohorts spread arrivals across ~11 days. Two shuffles
    // on user_id (first-purchase min, then the join back — same key, and
    // AQE broadcasts the per-user side when it fits) plus one on the
    // (cohort, age) cell key for the distinct count; the matrix itself
    // is O(days²) rows — metadata-scale at any corpus size.
    "events_cohort_matrix" -> { (s, d) =>
      val p = withMs(Tables(s, d).events)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), expr(floorDivSql("ts_ms", DayMs)).as("day"))
      val firstd = p.groupBy("user_id").agg(min(col("day")).as("cohort_d"))
      p.join(firstd, "user_id")
        .groupBy(col("cohort_d"), (col("day") - col("cohort_d")).as("age"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_d", "age")
    },
    // Cohort LTV curve — the revenue companion of the retention matrix:
    // per weekly signup cohort (first-ever activity week, ANY event
    // type — a purchase-only cohort would condition on the outcome) and
    // week-of-life, the purchase revenue, the buyer count, and the
    // CUMULATIVE revenue per cohort member (the curve whose plateau is
    // the cohort's lifetime value). Revenue stays DECIMAL-exact through
    // the cell aggregate AND the cumulative window — the double cast
    // happens once per output row, after all summation; cells with zero
    // purchases are absent (the cumulative value at the next present age
    // is still correct). Shape: one user-keyed collapse for cohorts, one
    // (cohort, age)-keyed cell aggregate, windows over the
    // weeks×weeks-sized cell table.
    "events_cohort_ltv" -> { (s, d) =>
      val ev = withMs(Tables(s, d).events)
        .select(col("user_id"), expr(floorDivSql("ts_ms", DayMs)).as("day"),
          col("event_type"), col("value"))
      val cohorts = ev.groupBy("user_id")
        .agg(min(col("day")).as("first_day"))
        .select(col("user_id"),
          expr(floorDivSql("first_day", 7L)).as("cohort_w"))
        .persist() // read by the size rollup and the revenue join
      val sizes = cohorts.groupBy("cohort_w")
        .agg(count(lit(1)).as("cohort_size"))
      val cells = ev.filter(col("event_type") === "purchase")
        .join(cohorts, "user_id")
        .groupBy(col("cohort_w"),
          (expr(floorDivSql("day", 7L)) - col("cohort_w")).as("age_w"))
        .agg(countDistinct(col("user_id")).as("n_buyers"),
          exactDecimalSumWide(col("value")).as("rev"))
      val wc = Window.partitionBy("cohort_w").orderBy("age_w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.join(broadcast(sizes), "cohort_w")
        .withColumn("cum", sum(col("rev")).over(wc))
        .select(col("cohort_w"), col("age_w"), col("cohort_size"),
          col("n_buyers"), col("rev").cast(DoubleType).as("revenue"),
          (col("cum").cast(DoubleType) /
            col("cohort_size").cast(DoubleType)).as("cum_ltv"))
        .orderBy("cohort_w", "age_w")
    },
    // A/B experiment readout — deterministic hash assignment (the same
    // salted-stream discipline as data_split_hash: the "AB" prefix keeps
    // arm assignment independent of every other hash use of user_id) and
    // the conversion-lift summary every experimentation platform emits.
    // One per-user aggregate (user-keyed shuffle; bool_or collapses
    // map-side), then a conditional single-row rollup — at 100 TB the
    // output is one row and the only shuffle is the per-user collapse.
    // Rates and lift are single IEEE divisions of exact integer counts.
    "events_ab_lift" -> { (s, d) =>
      val perUser = Tables(s, d).events
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("converted"))
        .withColumn("arm",
          when(pmod(xxhash64(concat(lit("AB"),
            col("user_id").cast("string"))), lit(2)) === 0, "A")
            .otherwise("B"))
      val cnt = (a: String) =>
        count(when(col("arm") === a, 1)).as(s"users_${a.toLowerCase}")
      val conv = (a: String) =>
        sum(when(col("arm") === a, col("converted")).otherwise(0L))
          .as(s"conv_${a.toLowerCase}")
      perUser.agg(cnt("A"), conv("A"), cnt("B"), conv("B"))
        .select(col("users_a"), col("conv_a"), col("users_b"),
          col("conv_b"),
          (col("conv_a").cast("double") / col("users_a").cast("double"))
            .as("rate_a"),
          (col("conv_b").cast("double") / col("users_b").cast("double"))
            .as("rate_b"))
        .withColumn("lift", col("rate_b") / col("rate_a"))
    },
    // Quantile treatment-effect readout — the robust sibling of
    // events_ab_lift: mean lift is whale-dominated (one heavy spender
    // flips the sign), so report the per-arm DISTRIBUTION of the
    // per-user metric instead — p25/p50/p75/p90 of per-user purchase
    // value under the same deterministic xxh64 arm split,
    // intent-to-treat (non-purchasing users enter as 0.0 — dropping
    // them biases both arms toward their converters). The per-user sum
    // goes through the DECIMAL exact-sum contract; the interpolated
    // quantiles ride the percentile ≡ quantile_cont parity agg_median
    // pins. Shape: one user-keyed aggregate (map-side combined), then a
    // 2-group percentile whose per-group sort is the corpus-independent
    // user count.
    "events_ab_quantiles" -> { (s, d) =>
      val perUser = Tables(s, d).events
        .groupBy("user_id")
        .agg(coalesce(
          dsum(when(col("event_type") === "purchase", col("value"))),
          lit(0.0)).as("m"))
        .withColumn("arm",
          when(pmod(xxhash64(concat(lit("AB"),
            col("user_id").cast("string"))), lit(2)) === 0, "A")
            .otherwise("B"))
      perUser.groupBy("arm")
        .agg(count(lit(1)).as("n_users"),
          percentile(col("m"),
            array(lit(0.25), lit(0.5), lit(0.75), lit(0.9))).as("qs"))
        .select(col("arm"), col("n_users"),
          element_at(col("qs"), 1).as("p25"),
          element_at(col("qs"), 2).as("p50"),
          element_at(col("qs"), 3).as("p75"),
          element_at(col("qs"), 4).as("p90"))
        .orderBy("arm")
    },
    // Power analysis / minimum-detectable-effect readout — the question
    // every experiment review asks BEFORE reading the lift: "what effect
    // size could this test even see?" Per-user purchase value (ITT, the
    // events_ab_quantiles metric) under the same xxh64 arm split; the
    // per-arm variance comes from EXACT integer sufficient statistics
    // (Σx, Σx² in micro-units through the DECIMAL exact-sum contract —
    // a double Σx² would be summation-order-dependent), and
    // MDE = (z_{0.975} + z_{0.80})·sqrt(var_a/n_a + var_b/n_b) is a
    // pinned IEEE tree over those exact inputs (the z constants are
    // literals — erf⁻¹ is not bit-portable across engines; IEEE sqrt
    // is correctly rounded everywhere). Shape: one user-keyed aggregate
    // (map-side combined), one single-row conditional rollup — the same
    // two-shuffle plan at any corpus size.
    "events_power_mde" -> { (s, d) =>
      val perUser = Tables(s, d).events
        .groupBy("user_id")
        .agg(coalesce(
          exactDecimalSumWide(
            when(col("event_type") === "purchase", col("value"))),
          lit(0).cast(DecimalType(28, 6))).as("m"))
        .withColumn("arm",
          when(pmod(xxhash64(concat(lit("AB"),
            col("user_id").cast("string"))), lit(2)) === 0, "A")
            .otherwise("B"))
        .withColumn("mu", (col("m") * 1000000).cast(DecimalType(19, 0)))
      val g = perUser.agg(
        count(when(col("arm") === "A", 1)).as("n_a"),
        count(when(col("arm") === "B", 1)).as("n_b"),
        sum(when(col("arm") === "A", col("mu")))
          .cast(DecimalType(38, 0)).as("s1a"),
        sum(when(col("arm") === "B", col("mu")))
          .cast(DecimalType(38, 0)).as("s1b"),
        sum(when(col("arm") === "A", col("mu") * col("mu")))
          .cast(DecimalType(38, 0)).as("s2a"),
        sum(when(col("arm") === "B", col("mu") * col("mu")))
          .cast(DecimalType(38, 0)).as("s2b"))
      // sample variance in micro² units: (n·Σx² − (Σx)²) / (n·(n−1)),
      // numerator exact in DECIMAL(38,0), ONE double division
      def varMicro2(n: Column, s1: Column, s2: Column): Column =
        (n * s2 - s1 * s1).cast(DoubleType) /
          (n * (n - 1)).cast(DoubleType)
      val vA = varMicro2(col("n_a"), col("s1a"), col("s2a"))
      val vB = varMicro2(col("n_b"), col("s1b"), col("s2b"))
      val meanA = col("s1a").cast(DoubleType) /
        col("n_a").cast(DoubleType) / lit(1e6)
      val mde = (lit(1.959964) + lit(0.841621)) *
        sqrt(vA / col("n_a").cast(DoubleType) +
          vB / col("n_b").cast(DoubleType)) / lit(1e6)
      g.select(col("n_a"), col("n_b"),
        meanA.as("mean_a"),
        (vA / lit(1e12)).as("var_a"),
        (vB / lit(1e12)).as("var_b"),
        mde.as("mde_abs"),
        (mde / meanA).as("mde_rel"))
    },
    // Seasonal-naive forecast backtest — the baseline every forecasting
    // system must beat (and the honest first model for capacity
    // planning): predict each day's per-type event count with the count
    // from the SAME WEEKDAY one week earlier (a day-arithmetic self-join
    // on the daily aggregate, NOT a positional lag — gaps in the day
    // series must not shift the prediction), then score per type. Errors
    // stay exact integers end-to-end: MAE = Σ|err|/n and WAPE =
    // Σ|err|/Σactual are each ONE IEEE division of exact sums — never an
    // avg of per-row doubles, whose association would differ across
    // engines. Shape: one (type, day) count shuffle, a self-join on the
    // day-sized aggregate, a type-sized rollup.
    "events_forecast_naive" -> { (s, d) =>
      val daily = withMs(Tables(s, d).events)
        .groupBy(col("event_type"),
          expr(floorDivSql("ts_ms", DayMs)).as("day"))
        .agg(count(lit(1)).as("n"))
      val pred = daily.select(col("event_type"),
        (col("day") + 7).as("day"), col("n").as("pred"))
      daily.join(pred, Seq("event_type", "day"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_eval"),
          sum(abs(col("n") - col("pred"))).as("sum_abs_err"),
          sum(col("n")).as("sum_actual"))
        .select(col("event_type"), col("n_eval"), col("sum_abs_err"),
          (col("sum_abs_err").cast("double") /
            col("n_eval").cast("double")).as("mae"),
          (col("sum_abs_err").cast("double") /
            col("sum_actual").cast("double")).as("wape"))
        .orderBy("event_type")
    },
    // Transition latency — the time dimension the transition MATRIX
    // (counts) drops: for every consecutive (from → to) event pair
    // within a user stream, the exact median gap in ms. One window pass
    // in the same (ts, event_id)-deterministic order as the matrix and
    // sessionizer, then a pair-keyed exact median (both engines
    // interpolate the even-count middle identically — the agg_median
    // parity). At 100 TB the shuffle is user-keyed (window) then
    // 25-cell-keyed (the rollup); the median's sort is per tiny group.
    "events_transition_latency" -> { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_ms").asc, col("event_id").asc)
      withMs(Tables(s, d).events)
        .select(col("user_id"), col("event_id"), col("ts_ms"),
          col("event_type"))
        .withColumn("from_type", lag(col("event_type"), 1).over(w))
        .withColumn("gap_ms", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"),
          median(col("gap_ms")).as("median_gap_ms"))
        .orderBy("from_type", "to_type")
    },
    // Sample-ratio-mismatch check for the A/B assignment events_ab_lift
    // reads out — the experiment-HEALTH gate that must pass before any
    // lift number is trusted: under the 50/50 hash split, the arm sizes
    // should differ only by chance, and χ² = Σ(observed − n/2)²/(n/2)
    // over the two arms quantifies the mismatch (1 df; > 3.84 ≈ p < .05
    // flags a broken randomizer or differential logging loss). The arm
    // counts are exact integers out of one distinct-user aggregate on
    // the SAME 'AB' hash stream as the lift query; χ² is one fixed IEEE
    // tree. Map-side hash, one user-keyed distinct, a scalar readout.
    "events_srm_check" -> { (s, d) =>
      val users = Tables(s, d).events.select(col("user_id")).distinct()
        .withColumn("arm",
          pmod(xxhash64(concat(lit("AB"), col("user_id").cast("string"))),
            lit(2)))
      val g = users.agg(
        count(when(col("arm") === 0, 1)).as("users_a"),
        count(when(col("arm") =!= 0, 1)).as("users_b"))
      val e = (col("users_a") + col("users_b")).cast("double") / lit(2.0)
      val ua = col("users_a").cast("double")
      val ub = col("users_b").cast("double")
      val chi2 = (ua - e) * (ua - e) / e + (ub - e) * (ub - e) / e
      g.select(col("users_a"), col("users_b"), chi2.as("chi2"),
        (chi2 > lit(3.84)).as("srm_suspect"))
    },
    // CUPED variance-reduced lift (Deng et al. 2013, WSDM — "Improving
    // the Sensitivity of Online Controlled Experiments"): adjust the
    // per-user purchase metric Y with the engagement covariate X
    // (view+click count) via θ = Cov(X,Y)/Var(X), pooled across arms,
    // then read out the adjusted between-arm difference
    //   Δ_adj = Δ_raw − θ·(mean_B(X) − mean_A(X))
    // and the theoretical variance reduction ρ² = Corr(X,Y)². Every
    // sufficient statistic (n, ΣX, ΣY, ΣX², ΣXY, ΣY², per-arm counts
    // and sums) is an EXACT integer out of ONE per-user aggregate on
    // the same 'AB' hash stream as events_ab_lift/events_srm_check;
    // θ/ρ²/Δ are a fixed IEEE tree over those integers (each Long→
    // double conversion exact below 2^53). Shape: one user-keyed
    // shuffle with map-side partials, then a single-row rollup — the
    // 100 TB plan is identical.
    "events_cuped" -> { (s, d) =>
      val perUser = Tables(s, d).events
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type").isin("view", "click"), 1L)
            .otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("y"))
        .withColumn("arm",
          pmod(xxhash64(concat(lit("AB"), col("user_id").cast("string"))),
            lit(2)))
      val g = perUser.agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"),
        count(when(col("arm") === 0, 1)).as("users_a"),
        sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("sxa"),
        sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("sya"),
        count(when(col("arm") =!= 0, 1)).as("users_b"),
        sum(when(col("arm") =!= 0, col("x")).otherwise(0L)).as("sxb"),
        sum(when(col("arm") =!= 0, col("y")).otherwise(0L)).as("syb"))
      val D = (c: String) => col(c).cast("double")
      val covN = D("n") * D("sxy") - D("sx") * D("sy")
      val varXN = D("n") * D("sxx") - D("sx") * D("sx")
      val varYN = D("n") * D("syy") - D("sy") * D("sy")
      val theta = covN / varXN
      val diffRaw = D("syb") / D("users_b") - D("sya") / D("users_a")
      val diffAdj = diffRaw -
        theta * (D("sxb") / D("users_b") - D("sxa") / D("users_a"))
      g.select(col("users_a"), col("users_b"), theta.as("theta"),
        diffRaw.as("diff_raw"), diffAdj.as("diff_adj"),
        (covN * covN / (varXN * varYN)).as("var_reduction"))
    },
    // Per-type linear trend — closed-form OLS of the daily count series
    // (y = count, x = epoch-day): slope = (k·Σxy − Σx·Σy)/(k·Σxx − Σx²),
    // the "is this event type growing?" readout next to the naive
    // forecast's error rates. All five sufficient statistics are EXACT
    // BIGINT sums out of one (type, day) shuffle (day ≈ 2·10⁴, so
    // Σxx ≤ days·day² ≈ 4·10¹¹ per type; Σxy at 10⁹ rows/day is ~2·10¹⁶
    // — Long-safe); the slope/intercept combination is then performed in
    // DOUBLE (not BIGINT — k·Σxy overflows int64 first at extreme scale)
    // over those exact integers, a fixed IEEE tree identical in both
    // engines. Shape: one day-grain shuffle, then a |types|-sized rollup.
    "events_trend_ols" -> { (s, d) =>
      trendOlsFrom(withMs(Tables(s, d).events)
        .groupBy(col("event_type"),
          expr(floorDivSql("ts_ms", DayMs)).as("day"))
        .agg(count(lit(1)).as("n")))
    },
    // CUSUM changepoint detection on the daily total-count series: the
    // single day t maximizing |S_t| where S_t = Σ_{i≤t}(days·nᵢ − total)
    // — the classic mean-shift estimator, kept EXACT by multiplying
    // through by `days` instead of subtracting the (fractional) mean.
    // All arithmetic is BIGINT (days·n ≤ 10³·10⁹ = 10¹², S ≤ 10¹⁵ at
    // 100 TB); only the final normalized D = |S|/(days·total) is one
    // IEEE division of exact integers. The running sum's global window
    // runs over the DAY-sized series (≈10³ rows after the one full-data
    // shuffle), not the events — the single-partition sort is bounded by
    // calendar length, never corpus size.
    "events_cusum_changepoint" -> { (s, d) =>
      cusumFrom(withMs(Tables(s, d).events)
        .groupBy(expr(floorDivSql("ts_ms", DayMs)).as("day"))
        .agg(count(lit(1)).as("n")))
    },
    // Stationary distribution of the per-user event-type Markov chain —
    // the long-run "where does a user's session settle" readout that the
    // transition MATRIX (one-step counts) doesn't answer. EXACT INTEGER
    // power iteration, same doctrine as graph_pagerank: transition
    // probabilities are pre-quantized once as q(i,j) = (c(i,j)·10⁶) div
    // out(i) (c·10⁶ ≤ 10¹⁸ even at 10¹² transitions), then six fixed
    // iterations of p'(j) = Σᵢ (p(i)·q(i,j)) div 10⁶ with p scaled to
    // 10⁹ — every step is int64 (p·q ≤ 10¹⁵ regardless of corpus size,
    // because q is bounded by the quantization constant, not by counts).
    // Bit-identical under any partitioning; the oracle unrolls the same
    // six steps as CTEs. Shape: ONE full-data pass (the user-keyed lag
    // window into transition counts); everything after is a |types|²
    // matrix — the six joins iterate over a broadcast-sized frame.
    "events_markov_stationary" -> { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_ms").asc, col("event_id").asc)
      val tr = withMs(Tables(s, d).events)
        .select(col("user_id"), col("event_id"), col("ts_ms"),
          col("event_type"))
        .withColumn("from_type", lag(col("event_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val types = Tables(s, d).events
        .select(col("event_type").as("type")).distinct()
      stationaryFrom(tr, types)
    },
    // Difference-in-differences — the quasi-experimental estimator used
    // when a feature launches at a known time without a holdout: compare
    // each arm's per-user purchase-value change across the launch
    // boundary; parallel-trends cancels the shared time shock. The
    // boundary is the corpus midpoint day ((lo+hi+1) div 2 — derived, not
    // hardcoded, so the query survives any testdata regeneration); arms
    // reuse events_ab_lift's salted xxh64 assignment. Intent-to-treat
    // denominators: each arm's FULL user roster divides both period sums
    // (per-cell active-user denominators bias the panel). Every sum rides
    // the DECIMAL exact-sum contract; the four means are one IEEE
    // division each and the DiD is a fixed tree over them. Shape: ONE
    // corpus scan into a single-row conditional aggregate (the 1-row
    // boundary broadcasts under it) — no user-keyed shuffle at all.
    "events_did" -> { (s, d) =>
      val e = withMs(Tables(s, d).events)
        .select(col("user_id"), col("event_type"), col("value"),
          expr(floorDivSql("ts_ms", DayMs)).as("day"))
      val split = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(expr("(lo + hi + 1) div 2").as("split_day"))
      val arm = when(pmod(xxhash64(concat(lit("AB"),
        col("user_id").cast("string"))), lit(2)) === 0, "A").otherwise("B")
      def cell(a: String, pre: Boolean) = {
        val per = if (pre) col("day") < col("split_day")
          else col("day") >= col("split_day")
        coalesce(dsum(when(col("arm") === a && per &&
          col("event_type") === "purchase", col("value"))), lit(0.0))
      }
      val g = e.crossJoin(broadcast(split)).withColumn("arm", arm)
        .agg(
          max(col("split_day")).as("split_day"),
          countDistinct(when(col("arm") === "A", col("user_id")))
            .as("users_a"),
          countDistinct(when(col("arm") === "B", col("user_id")))
            .as("users_b"),
          cell("A", pre = true).as("sa_pre"),
          cell("A", pre = false).as("sa_post"),
          cell("B", pre = true).as("sb_pre"),
          cell("B", pre = false).as("sb_post"))
      g.select(col("split_day"), col("users_a"), col("users_b"),
          (col("sa_pre") / col("users_a").cast("double")).as("m_a_pre"),
          (col("sa_post") / col("users_a").cast("double")).as("m_a_post"),
          (col("sb_pre") / col("users_b").cast("double")).as("m_b_pre"),
          (col("sb_post") / col("users_b").cast("double")).as("m_b_post"))
        .withColumn("did",
          (col("m_b_post") - col("m_b_pre")) -
            (col("m_a_post") - col("m_a_pre")))
    },
    // Two-sample Kolmogorov–Smirnov test between the arms' per-user
    // purchase-value distributions — the DISTRIBUTION-level A/B gate
    // next to the mean (events_ab_lift), quantile (events_ab_quantiles)
    // and count (events_srm_check) readouts: KS detects any
    // distributional shift, not just a location move. EXACT integer
    // core: D = max|F_A − F_B| is computed as max|cumA·nB − cumB·nA|
    // over the per-metric-value cumulative counts (cum·n ≤ users² —
    // fits int64 through ~3·10⁹ users; ANSI throws loudly beyond) and
    // divided by nA·nB ONCE at the end; the 5%-level critical value
    // 1.36·√((nA+nB)/(nA·nB)) is a fixed IEEE tree (sqrt is
    // correctly-rounded on both engines). Shape: one user-keyed
    // aggregate, then every window runs over the DISTINCT-metric-value
    // frame (≤ users, typically far smaller) — never the event stream.
    "events_ab_ks" -> { (s, d) =>
      val perUser = Tables(s, d).events
        .groupBy("user_id")
        .agg(coalesce(
          dsum(when(col("event_type") === "purchase", col("value"))),
          lit(0.0)).as("m"))
        .withColumn("arm",
          when(pmod(xxhash64(concat(lit("AB"),
            col("user_id").cast("string"))), lit(2)) === 0, "A")
            .otherwise("B"))
      val pv = perUser.groupBy("m")
        .agg(count(when(col("arm") === "A", 1)).as("ca"),
          count(when(col("arm") === "B", 1)).as("cb"))
      val w = Window.orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val gw = Window.partitionBy()
      pv
        .withColumn("cum_a", sum(col("ca")).over(w))
        .withColumn("cum_b", sum(col("cb")).over(w))
        .withColumn("na", sum(col("ca")).over(gw))
        .withColumn("nb", sum(col("cb")).over(gw))
        .agg(max(col("na")).as("users_a"), max(col("nb")).as("users_b"),
          max(abs(col("cum_a") * col("nb") - col("cum_b") * col("na")))
            .as("d_num"))
        .select(col("users_a"), col("users_b"),
          (col("d_num").cast("double") /
            (col("users_a") * col("users_b")).cast("double")).as("ks_d"),
          (lit(1.36) * sqrt((col("users_a") + col("users_b"))
            .cast("double") /
            (col("users_a") * col("users_b")).cast("double")))
            .as("ks_crit"))
        .withColumn("reject", col("ks_d") > col("ks_crit"))
    },
    // View→purchase conversion latency — the time-to-convert readout the
    // funnel COUNTS (events_funnel*) drop: per user, the gap from the
    // first view to the first purchase strictly after it, rolled up as
    // conversion rate plus the exact median and p90 of the latency
    // distribution. Same per-user shape as events_funnel_windowed (one
    // user-keyed aggregate; the purchase stream rides a sorted per-user
    // array, bounded by that user's purchases), then one single-row
    // percentile rollup — the quantile sort is user-count-sized, never
    // corpus-sized, and both engines interpolate identically (the
    // agg_median parity).
    "events_conversion_latency" -> { (s, d) =>
      val perUser = withMs(Tables(s, d).events)
        .groupBy("user_id").agg(
          min(when(col("event_type") === "view", col("ts_ms")))
            .as("t_view"),
          sort_array(collect_list(
            when(col("event_type") === "purchase", col("ts_ms"))))
            .as("buys"))
        .filter(col("t_view").isNotNull)
      perUser
        .withColumn("lat_ms",
          array_min(filter(col("buys"), b => b > col("t_view"))) -
            col("t_view"))
        .agg(count(lit(1)).as("n_viewed"),
          count(col("lat_ms")).as("n_converted"),
          median(col("lat_ms")).as("median_ms"),
          percentile(col("lat_ms"), lit(0.9)).as("p90_ms"))
        .select(col("n_viewed"), col("n_converted"),
          (col("n_converted").cast("double") /
            col("n_viewed").cast("double")).as("conversion_rate"),
          col("median_ms"), col("p90_ms"))
    },
    // Heterogeneous treatment effect — the A/B readout segmented by a
    // BEHAVIORAL cohort (each user's first event type): overall lift
    // hides sign-flipping subgroups, so every experimentation platform
    // publishes the per-segment panel next to events_ab_lift. Segment =
    // argmin over (ts_ms, event_id) via one min(struct) aggregate (no
    // second window pass); arm = the same deterministic user hash as
    // events_ab_lift; all sufficient statistics exact integers, the
    // three rates/lift are fixed IEEE divisions per segment row.
    "events_uplift_segments" -> { (s, d) =>
      val e = withMs(Tables(s, d).events)
      val perUser = e.groupBy("user_id")
        .agg(min(struct(col("ts_ms"), col("event_id"),
          col("event_type"))).as("fst"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("converted"))
        .select(col("fst.event_type").as("segment"), col("converted"),
          when(pmod(xxhash64(concat(lit("AB"),
            col("user_id").cast("string"))), lit(2)) === 0, "A")
            .otherwise("B").as("arm"))
      perUser.groupBy("segment")
        .agg(count(when(col("arm") === "A", 1)).as("users_a"),
          sum(when(col("arm") === "A", col("converted")).otherwise(0L))
            .as("conv_a"),
          count(when(col("arm") === "B", 1)).as("users_b"),
          sum(when(col("arm") === "B", col("converted")).otherwise(0L))
            .as("conv_b"))
        .select(col("segment"), col("users_a"), col("conv_a"),
          col("users_b"), col("conv_b"),
          // NULL when a small segment lands entirely in one arm (no
          // counterfactual — at sf0.001 this happens; ANSI division
          // would throw and DuckDB's 0-divisor behavior differs)
          when(col("users_a") === 0L || col("users_b") === 0L,
            lit(null).cast("double"))
            .otherwise(
              col("conv_b").cast("double") / col("users_b").cast("double") -
                col("conv_a").cast("double") / col("users_a").cast("double"))
            .as("lift"))
        .orderBy("segment")
    },
    // Session-depth histogram — the engagement-shape panel the
    // sessionizer feeds: how many sessions have 1, 2, ... events. The
    // session assignment is events_sessionize's exact window chain; the
    // histogram is session-count-sized and the share is ONE division
    // against the broadcast total. At 100 TB the output is bounded by
    // the max session depth, not the session count.
    "events_session_depth_dist" -> { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_ms").asc, col("event_id").asc)
      val sess = withMs(Tables(s, d).events)
        .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ms").isNull ||
            col("ts_ms") - col("prev_ms") > GapMs, 1).otherwise(0))
        .withColumn("session_idx",
          sum(col("new_session")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"))
      val hist = sess.groupBy("n_events")
        .agg(count(lit(1)).as("n_sessions"))
      val tot = hist.agg(sum(col("n_sessions")).as("n_total"))
      hist.crossJoin(broadcast(tot))
        .select(col("n_events"), col("n_sessions"),
          (col("n_sessions").cast("double") / col("n_total").cast("double"))
            .as("share"))
        .orderBy("n_events")
    },
    // Per-user contribution capping — the bot/power-user mitigation every
    // event pipeline applies before modeling: cap each user at K events
    // per type and report what the cap removes. One (type, user) count,
    // one type-keyed rollup of exact integers (Σn, Σmin(n,K), heavy-user
    // count), ONE division for the kept share. At 100 TB both aggregates
    // are partial+final with map-side combine; no row-level pass re-reads
    // the corpus after the first count.
    "events_heavy_user_cap" -> { (s, d) =>
      val K = 50L
      Tables(s, d).events
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(sum(col("n")).as("n_events"),
          sum(least(col("n"), lit(K))).as("n_capped"),
          count(when(col("n") > K, 1)).as("n_heavy_users"))
        .select(col("event_type"), col("n_events"), col("n_capped"),
          col("n_heavy_users"),
          (col("n_capped").cast("double") / col("n_events").cast("double"))
            .as("kept_share"))
        .orderBy("event_type")
    },
    // Inactivity (churn-risk) cohorts — users bucketed by WEEKS since
    // their last event, measured against the corpus max timestamp: the
    // retention team's "how stale is our user base" histogram, with a
    // running cumulative count (the "at least this stale" curve). Floor
    // division on exact epoch-ms integers; the corpus max is a 1-row
    // broadcast; the cumsum window runs over the bucket-count-sized
    // histogram, never the user table.
    "events_inactivity_churn" -> { (s, d) =>
      val e = withMs(Tables(s, d).events)
      val lastPer = e.groupBy("user_id").agg(max(col("ts_ms")).as("last_ms"))
      val corpusMax = e.agg(max(col("ts_ms")).as("max_ms"))
      val hist = lastPer.crossJoin(broadcast(corpusMax))
        .select(expr(s"(max_ms - last_ms) div ${7 * 86400000L}")
          .as("weeks_inactive"))
        .groupBy("weeks_inactive").agg(count(lit(1)).as("n_users"))
      hist.withColumn("cum_users",
        sum(col("n_users")).over(Window.orderBy(col("weeks_inactive").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("weeks_inactive")
    },
    // Inter-arrival-time profile — the traffic-model statistic under
    // rate limits and capacity planning: per-user gaps between
    // consecutive events (one user-keyed window pass, exact integer ms),
    // summarized by median/p90 (quantile interpolation is engine-
    // identical — the agg_median parity) and the exact sub-minute share.
    "events_interarrival" -> { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_ms").asc, col("event_id").asc)
      withMs(Tables(s, d).events)
        .withColumn("gap_ms", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
        .filter(col("gap_ms").isNotNull)
        .agg(count(lit(1)).as("n_gaps"),
          median(col("gap_ms")).as("median_gap_ms"),
          percentile(col("gap_ms"), lit(0.9)).as("p90_gap_ms"),
          count(when(col("gap_ms") < 60000L, 1)).as("n_under_1m"))
        .select(col("n_gaps"), col("median_gap_ms"), col("p90_gap_ms"),
          col("n_under_1m"),
          (col("n_under_1m").cast("double") / col("n_gaps").cast("double"))
            .as("under_1m_share"))
    }
  )

  /** Closed-form OLS trend over a (event_type, day, n) daily-count frame
    * — separated so specs can plant exact lines (see the
    * `events_trend_ols` query comment for the exactness argument).
    */
  def trendOlsFrom(daily: DataFrame): DataFrame =
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("day")).as("sx"), sum(col("n")).as("sy"),
        sum(col("day") * col("n")).as("sxy"),
        sum(col("day") * col("day")).as("sxx"))
      .withColumn("slope_per_day",
        (col("n_days").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
        (col("n_days").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")))
      .withColumn("intercept",
        (col("sy").cast("double") -
          col("slope_per_day") * col("sx").cast("double")) /
        col("n_days").cast("double"))
      .select(col("event_type"), col("n_days"), col("sy").as("total"),
        col("slope_per_day"), col("intercept"))
      .orderBy("event_type")

  /** Exact-integer CUSUM argmax over a (day, n) daily-count frame —
    * separated so specs can plant mean shifts with known changepoints.
    */
  def cusumFrom(daily: DataFrame): DataFrame = {
    val tot = daily.agg(count(lit(1)).as("days"),
      sum(col("n")).as("total"))
    val w = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(tot))
      .withColumn("s",
        sum(col("days") * col("n") - col("total")).over(w))
      .select(col("day"), col("n"), col("s"), abs(col("s")).as("s_abs"),
        (abs(col("s")).cast("double") /
          (col("days") * col("total")).cast("double")).as("d_stat"))
      .orderBy(col("s_abs").desc, col("day").asc)
      .limit(1)
  }

  /** Six fixed integer power iterations to the stationary distribution of
    * a transition-count frame (from_type, to_type, n) over the node set
    * `types` (column `type`) — separated so specs can plant chains with
    * closed-form stationary vectors. See the `events_markov_stationary`
    * query comment for the quantization bounds.
    */
  def stationaryFrom(tr: DataFrame, types: DataFrame): DataFrame = {
    val outc = tr.groupBy("from_type").agg(sum(col("n")).as("tot"))
    val q = tr.join(outc, "from_type")
      .select(col("from_type"), col("to_type"),
        expr("n * 1000000 div tot").as("q"))
      .persist()
    val kDf = types.agg(count(lit(1)).as("k"))
    var p = types.crossJoin(broadcast(kDf))
      .select(col("type"), expr("1000000000 div k").as("p"))
    for (_ <- 1 to 6) {
      p = p.join(q, col("type") === col("from_type"))
        .groupBy(col("to_type"))
        .agg(sum(expr("(p * q) div 1000000")).as("p"))
        .withColumnRenamed("to_type", "type")
    }
    p.select(col("type"), col("p").as("stationary_scaled"),
        (col("p").cast("double") / 1e9).as("stationary"))
      .orderBy("type")
  }

  /** Gap-based session intervals (user_id, start_ms, end_ms) — the
    * sessionize pipeline up to its interval readout, shared by
    * events_concurrency.
    */
  private[graft] def sessionIntervals(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ms").asc, col("event_id").asc)
    events
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ms").isNull ||
          col("ts_ms") - col("prev_ms") > GapMs, 1).otherwise(0))
      .withColumn("session_idx",
        sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(min(col("ts_ms")).as("start_ms"), max(col("ts_ms")).as("end_ms"))
  }

  /** Concurrency core over any frame with (start_ms, end_ms) closed
    * intervals — separated so specs can plant overlap patterns with
    * known peaks and cross-hour carry.
    */
  def concurrencyFromSessions(sess: DataFrame): DataFrame = {
    // both boundaries explode out of ONE pass over the session frame — a
    // unionAll of start/end selects would recompute the entire upstream
    // (two sessionize window passes at 100 TB; plan-pinned in ScaleSpec)
    val deltas = sess.select(explode(array(
        struct(col("start_ms").as("t"), lit(1L).as("delta")),
        struct((col("end_ms") + lit(1L)).as("t"), lit(-1L).as("delta"))))
        .as("b"))
      .select(col("b.t").as("t"), col("b.delta").as("delta"))
      .withColumn("hour", floor(col("t") / lit(3600000.0)).cast("long"))
    // level 1: within-hour running sum at each boundary. Ties on (t,
    // delta) need no further ordering: permuting a run of equal-sign
    // deltas permutes the intermediate sums within the same value set,
    // so the hour MAX is order-invariant.
    val wIn = Window.partitionBy("hour")
      .orderBy(col("t").asc, col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // peak_in floors at 0: concurrency is piecewise constant, so the
    // hour's true maximum is max over {standing level at hour open} ∪
    // {level after each boundary} — the hour-open level is carry_in
    // exactly, i.e. a virtual run of 0 (an hour whose first boundary is
    // a close would otherwise report carry-1 and miss the standing peak).
    val perHour = deltas
      .withColumn("run", sum(col("delta")).over(wIn))
      .groupBy("hour")
      .agg(greatest(max(col("run")), lit(0L)).as("peak_in"),
        sum(col("delta")).as("hour_delta"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_starts"))
    // level 2: carry-in over the tiny per-hour table (single-partition
    // window over O(corpus hours) rows — deliberate, metadata-scale).
    val wH = Window.orderBy(col("hour").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    perHour
      .withColumn("carry_in",
        coalesce(sum(col("hour_delta")).over(wH), lit(0L)))
      .select(col("hour"),
        (col("carry_in") + col("peak_in")).as("peak_concurrency"),
        col("n_starts"))
      .orderBy("hour")
  }

  /** Attribution core over any frame with (user_id, event_id, ts_ms,
    * event_type) — separated so specs can plant touch sequences.
    *
    * CACHE LIFETIME CONTRACT: the conversion-touch join is persisted (read
    * by the per-type count and the per-conversion argmax); the CALLER owns
    * release via `spark.catalog.clearCache()`.
    */
  def attributionFrom(events: DataFrame): DataFrame = {
    val conv = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        col("ts_ms").as("conv_ms"))
    val touch = events.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("ts_ms").as("touch_ms"), col("event_type"))
    val j = conv.join(touch, Seq("user_id"))
      .filter(col("touch_ms") <= col("conv_ms") &&
        col("conv_ms") - col("touch_ms") <= WeekMs)
      .select("conv_id", "touch_id", "touch_ms", "event_type")
      .persist() // read twice: per-type counts + per-conversion argmax
    val tc = j.groupBy("event_type").agg(count(lit(1)).as("n_touches"))
      .select(col("event_type"), col("n_touches"),
        lit(0L).as("n_last"), lit(0L).as("n_first"))
    // (ts, id, type) struct order: latest ts wins, ties to the larger
    // event_id — ids are unique, so the type field never decides
    val per = j.groupBy("conv_id").agg(
      max(struct(col("touch_ms"), col("touch_id"), col("event_type")))
        .as("l"),
      min(struct(col("touch_ms"), col("touch_id"), col("event_type")))
        .as("f"))
    val lt = per.groupBy(col("l.event_type").as("event_type"))
      .agg(count(lit(1)).as("n_last"))
      .select(col("event_type"), lit(0L).as("n_touches"), col("n_last"),
        lit(0L).as("n_first"))
    val ft = per.groupBy(col("f.event_type").as("event_type"))
      .agg(count(lit(1)).as("n_first"))
      .select(col("event_type"), lit(0L).as("n_touches"),
        lit(0L).as("n_last"), col("n_first"))
    tc.unionByName(lt).unionByName(ft)
      .groupBy("event_type")
      .agg(sum(col("n_touches")).as("n_touches"),
        sum(col("n_last")).as("n_last_touch"),
        sum(col("n_first")).as("n_first_touch"))
      .orderBy("event_type")
  }

  /** RFM core over any frame with (user_id, ts_ms, value) — separated so
    * specs can plant users with known quintile boundaries.
    */
  def rfmFrom(events: DataFrame): DataFrame = {
    def q(order: Seq[Column]): Column =
      ntile(5).over(Window.orderBy(order :+ col("user_id").asc: _*))
    events.groupBy("user_id")
      .agg(max(col("ts_ms")).as("r_ms"), count(lit(1)).as("f"),
        dsum(col("value")).as("m"))
      .withColumn("r_q", q(Seq(col("r_ms").desc)))
      .withColumn("f_q", q(Seq(col("f").desc)))
      .withColumn("m_q", q(Seq(col("m").desc)))
      .withColumn("segment",
        (col("r_q") * 100 + col("f_q") * 10 + col("m_q")).cast("int"))
      .orderBy("user_id")
  }

  /** Sliding-distinct core over any frame with (ts_ms, user_id) —
    * separated so specs can plant hour boundaries and overlapping
    * memberships.
    */
  private[graft] def slidingDistinctFrom(events: DataFrame): DataFrame = {
    val e = events.select(
      expr(floorDivSql("ts_ms", HourMs)).as("h"), col("user_id"))
    e.select(explode(sequence(col("h"), col("h") + 2)).as("win_end"),
        col("user_id"))
      .distinct()
      .groupBy("win_end")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("win_end")
  }

  /** Relational sliding-window HLL over any frame with (user_id, ts_ms):
    * per trailing `windowHours`-hour window ending at each active hour,
    * the HLL-256 raw estimate + zero-register count, arithmetic shared
    * bit-for-bit with [[graft.functions.HllNdv256]] (same xxh64 input
    * hashing, same rho via the [[graft.functions.Kernels.rho57]] kernel,
    * same exact integer harmonic sum, same DuckDB-mimicking double
    * conversion). Separated so the spec can assert the merge law: the
    * sliding estimate at hour h must EQUAL the direct hll_ndv256
    * aggregate over the window's raw events.
    */
  private[graft] def hllSlidingFrom(events: DataFrame,
      windowHours: Int): DataFrame = {
    import graft.functions.functions.{decimal_to_double_duckdb, rho57}
    val e = events.select(
      expr(floorDivSql("ts_ms", HourMs)).as("hr"),
      xxhash64(col("user_id").cast("string")).as("h"))
    val reg = e
      .select(col("hr"), shiftrightunsigned(col("h"), 56).cast("int")
        .as("bucket"), rho57(col("h")).as("r"))
      .groupBy("hr", "bucket").agg(max(col("r")).as("m"))
    // densify to the full hours x 256 grid: an absent register still
    // contributes 2^57 to the harmonic sum (M = 0)
    val grid = reg.select("hr").distinct()
      .select(col("hr"), explode(sequence(lit(0), lit(255))).as("bucket"))
    val filled = grid.join(reg, Seq("hr", "bucket"), "left")
      .select(col("hr"), col("bucket"), coalesce(col("m"), lit(0)).as("m"))
    val w = Window.partitionBy("bucket").orderBy(col("hr"))
      .rangeBetween(-(windowHours - 1).toLong, 0)
    filled
      .withColumn("mm", max(col("m")).over(w))
      .groupBy("hr")
      .agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), 57 - mm)")
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("hsum"),
        count(when(col("mm") === 0, 1)).cast("int").as("zero_regs"))
      .select(col("hr").as("hour_bucket"),
        (lit(graft.functions.HllNdv256.EstNumerator) /
          decimal_to_double_duckdb(col("hsum"))).as("hll_raw"),
        col("zero_regs"))
      .orderBy("hour_bucket")
  }

  /** Transition-matrix core over any frame with (user_id, event_id, ts_ms,
    * event_type) — separated so specs can plant a known sequence.
    */
  def transitionMatrixFrom(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ms").asc, col("event_id").asc)
    events
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast(DoubleType) /
        sum(col("n")).over(Window.partitionBy("event_type"))
          .cast(DoubleType))
      .orderBy("event_type", "next_type")
  }

  /** Gap-fill core over any frame with a ts_ms column — separated so specs
    * can plant a sparse series and assert the zero-filled hours.
    */
  /** The `events_asof_tolerance` core over a (user_id, event_id, ts_ms,
    * value, kind) frame (kind 0 = reference stream, 1 = probe stream) —
    * separated so specs can plant staleness structure around the bound.
    */
  def asofToleranceFrom(e: DataFrame, tolMs: Long): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ms").asc, col("kind").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fresh = col("raw_ms").isNotNull &&
      col("raw_ms") >= col("ts_ms") - lit(tolMs)
    e.withColumn("raw_ms",
        last(when(col("kind") === 0, col("ts_ms")), ignoreNulls = true)
          .over(w))
      .withColumn("raw_value",
        last(when(col("kind") === 0, col("value")), ignoreNulls = true)
          .over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        when(fresh, col("raw_ms")).as("asof_view_ms"),
        when(fresh, col("raw_value")).as("asof_view_value"))
      .orderBy("event_id")
  }

  /** Pearson autocorrelation of a (day, n) count series at lags 1 and 7
    * from exact integer sufficient statistics (see the `events_autocorr`
    * query comment). Separated so specs can plant series with
    * hand-computable correlations.
    */
  def autocorrFrom(daily: DataFrame): DataFrame = {
    val lagged = daily.select(col("day"), col("n"),
      explode(array(lit(1L), lit(7L))).as("lag"))
    val pairs = lagged.as("a").join(daily.as("b"),
        col("a.day") + col("a.lag") === col("b.day"))
      .select(col("a.lag").as("lag"), col("a.n").as("x"),
        col("b.n").as("y"))
    pairs.groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag"), col("n_pairs"),
        ((col("n_pairs") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
          (sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx"))
              .cast("double")) *
            sqrt((col("n_pairs") * col("syy") - col("sy") * col("sy"))
              .cast("double")))).as("autocorr"))
      .orderBy("lag")
  }

  private[graft] def gapfillFrom(events: DataFrame): DataFrame = {
    // persisted because the aggregate feeds TWO consumers (the min/max
    // spine bounds and the join) — without it Spark recomputes the full
    // events pass per consumer and "one full-data pass" would be false.
    // The cached frame is O(hours), trivially small; the contract sweeps
    // clear query-local persists after each query.
    val hourly = events
      .groupBy(expr(floorDivSql("ts_ms", HourMs)).as("hb"))
      .agg(count(lit(1)).as("cnt"))
      .persist()
    val spine = hourly.agg(min(col("hb")).as("lo"), max(col("hb")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("hb"))
    spine.join(hourly, Seq("hb"), "left")
      .select(col("hb"), coalesce(col("cnt"), lit(0L)).as("n"))
      .orderBy("hb")
  }

  /** Funnel core over any frame with (user_id, event_type, ts_ms): a stage
    * counts only when its FIRST occurrence is strictly after the previous
    * stage's first occurrence. Two aggregates: conditional min-ts per user
    * (the one shuffle, partial+final on user_id), then a single-row reduce
    * of the stage flags — no window, no self-join, the funnel shape that
    * holds at any event volume. Users with no view at all drop out of
    * n_view via count(t_view)'s NULL skip (spec pins this on planted
    * data — the synthetic corpus has a view for every user).
    */
  def funnelFrom(events: DataFrame): DataFrame = {
    def firstTs(t: String): Column =
      min(when(col("event_type") === t, col("ts_ms")))
    events
      .groupBy("user_id")
      .agg(firstTs("view").as("t_view"),
        firstTs("click").as("t_click"),
        firstTs("purchase").as("t_purchase"))
      .agg(count(lit(1)).as("n_users"),
        count(col("t_view")).as("n_view"),
        count(when(col("t_click") > col("t_view"), 1)).as("n_view_click"),
        count(when(col("t_click") > col("t_view") &&
          col("t_purchase") > col("t_click"), 1)).as("n_funnel_complete"))
  }

  /** Sequence-pattern core of `events_pattern_match` (see the query
    * comment) over a withMs frame — separated so specs can plant ordered
    * streams with hand-countable matches.
    */
  def patternMatchFrom(events: DataFrame): DataFrame = {
    val init = when(col("event_type") === "view", "v")
      .when(col("event_type") === "click", "c")
      .when(col("event_type") === "error", "e")
      .when(col("event_type") === "purchase", "p")
      .otherwise("s")
    events
      .select(col("user_id"), col("ts_ms"), col("event_id"), init.as("i"))
      .groupBy("user_id")
      .agg(concat_ws("", transform(
        array_sort(collect_list(
          struct(col("ts_ms"), col("event_id"), col("i")))),
        x => x.getField("i"))).as("seq"))
      .select(col("user_id"), length(col("seq")).as("n_events"),
        size(regexp_extract_all(col("seq"), lit("v[ce]*p"), lit(0)))
          .as("n_conversions"))
      .orderBy("user_id")
  }

  /** Interval-join core over frames (user_id, click_id, click_ms) and
    * (user_id, purchase_id, purchase_ms): every pair with purchase_ms in
    * [click_ms, click_ms + w), as a bucketed equi-join. The click interval
    * spans at most 2 width-w buckets (array_distinct collapses the
    * boundary-aligned case); a purchase lies in exactly one, so each
    * qualifying pair survives the residual filter exactly once. floorDiv
    * (not truncation) keeps negative-epoch buckets correct.
    */
  def intervalJoinFrom(
      clicks: DataFrame, purchases: DataFrame, w: Long): DataFrame = {
    val cb = clicks.withColumn("bucket", explode(array_distinct(array(
      expr(floorDivSql("click_ms", w)),
      expr(floorDivSql(s"(click_ms + ${w - 1})", w))))))
    val pb = purchases
      .withColumn("bucket", expr(floorDivSql("purchase_ms", w)))
    cb.join(pb, Seq("user_id", "bucket"))
      .filter(col("purchase_ms") >= col("click_ms") &&
        col("purchase_ms") < col("click_ms") + w)
      .select(col("click_id"), col("purchase_id"),
        (col("purchase_ms") - col("click_ms")).as("delta_ms"))
      .orderBy("click_id", "purchase_id")
  }

  /** Retention core over any frame with (user_id, ts_ms). One scan: the
    * per-(user, week) distinct collapses event volume to user-weeks FIRST,
    * then a per-user window min attaches the cohort week — NOT a self-join
    * back to a groupBy (a derived-frame self-join would recompute the
    * subtree and scan the corpus twice). Two shuffles over user-week
    * cardinality ((user, wk) for the distinct, user for the window), then
    * the final tiny agg. Plain counts, not countDistinct: activity rows
    * are distinct per (user, week) by construction, each user contributes
    * at most one row per offset.
    */
  def retentionFrom(events: DataFrame): DataFrame = {
    val activity = events
      .select(col("user_id"), expr(floorDivSql("ts_ms", WeekMs)).as("wk"))
      .distinct()
    activity
      .withColumn("cohort_wk", min("wk").over(Window.partitionBy("user_id")))
      .groupBy("cohort_wk")
      .agg(count(when(col("wk") === col("cohort_wk"), 1)).as("n_users"),
        count(when(col("wk") === col("cohort_wk") + 1, 1)).as("n_wk1"),
        count(when(col("wk") === col("cohort_wk") + 2, 1)).as("n_wk2"))
      .orderBy("cohort_wk")
  }

  def oracles: Map[String, String] = Map(
    "events_hourly" ->
      s"""SELECT epoch_ms(ts) // 3600000 AS hour_bucket, event_type,
         |  count(*) AS n, ${sqlSum("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type"""
        .stripMargin,
    // the incremental merge must equal the full recompute — the oracle IS
    // the events_hourly query
    "events_hourly_incremental" ->
      s"""SELECT epoch_ms(ts) // 3600000 AS hour_bucket, event_type,
         |  count(*) AS n, ${sqlSum("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type"""
        .stripMargin,
    // the full HLL-256 replication (as agg_hll_oracle), lifted to the
    // sliding form: per-(hour, bucket) register maxima, densified to the
    // 256-register grid, per-register 24h window max, exact HUGEINT
    // harmonic sum — the window-max-of-partials = sketch-of-union merge
    // law is what the compare proves
    "events_hll_sliding" -> {
      val u64 = "18446744073709551616"
      val two56 = "72057594037927936"
      val rhoCase = (1 to 56)
        .map(r => s"WHEN w >= ${BigInt(1) << (56 - r)} THEN $r")
        .mkString("CASE ", " ", " ELSE 57 END")
      s"""WITH keys AS (SELECT DISTINCT epoch_ms(ts) // 3600000 AS hr,
         |    user_id AS k FROM events),
         |hashed AS (SELECT hr,
         |    ${XxhSql.expr("CAST(k AS VARCHAR)", "42")} AS h FROM keys),
         |u AS (SELECT hr,
         |    CASE WHEN h < 0 THEN h::HUGEINT + $u64
         |         ELSE h::HUGEINT END AS uh
         |  FROM hashed),
         |bw AS (SELECT hr, uh // $two56 AS bucket, uh % $two56 AS w
         |  FROM u),
         |reg AS (SELECT hr, bucket, max($rhoCase) AS m
         |  FROM bw GROUP BY 1, 2),
         |grid AS (SELECT hr, b AS bucket
         |  FROM (SELECT DISTINCT hr FROM reg)
         |  CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS b)),
         |g AS (SELECT grid.hr AS hr, grid.bucket AS bucket,
         |    COALESCE(reg.m, 0) AS m
         |  FROM grid LEFT JOIN reg
         |    ON reg.hr = grid.hr AND reg.bucket = grid.bucket),
         |sl AS (SELECT hr, max(m) OVER (PARTITION BY bucket ORDER BY hr
         |    RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS mm FROM g),
         |s AS (SELECT hr,
         |    sum((${XxhSql.pow2List})[57 - mm + 1]) AS hsum,
         |    CAST(count(*) FILTER (WHERE mm = 0) AS INT) AS zero_regs
         |  FROM sl GROUP BY 1)
         |SELECT hr AS hour_bucket,
         |  CAST(${graft.functions.HllNdv256.EstNumerator} AS DOUBLE) /
         |    CAST(hsum AS DOUBLE) AS hll_raw,
         |  zero_regs
         |FROM s ORDER BY hour_bucket""".stripMargin
    },
    // the same fan-out: every event joins its <=3 covering windows,
    // distinct pairs, count per window
    "events_sliding_distinct" ->
      """WITH e AS (SELECT epoch_ms(ts) // 3600000 AS h, user_id
        |  FROM events),
        |w AS (SELECT DISTINCT h + i AS win_end, user_id
        |  FROM e, LATERAL (SELECT unnest(generate_series(0, 2)) AS i) s)
        |SELECT win_end, CAST(count(*) AS BIGINT) AS n_users
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_seasonality" ->
      s"""SELECT (epoch_ms(ts) // 86400000 + 4) % 7 AS dow,
         |  (epoch_ms(ts) // 3600000) % 24 AS hod,
         |  count(*) AS n, ${sqlSum("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY dow, hod""".stripMargin,
    // same exact-integer sufficient statistics; CASTs keep the final
    // double tree identical node for node (DuckDB sums BIGINT into
    // HUGEINT — exact either way, the doubles only appear at the end)
    "events_autocorr" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    count(*) AS n FROM events GROUP BY 1),
        |p AS (SELECT lag, a.n AS x, b.n AS y
        |  FROM daily a, (SELECT unnest([1, 7]) AS lag) l, daily b
        |  WHERE a.day + l.lag = b.day),
        |g AS (SELECT lag, count(*) AS n_pairs,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM p GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        |  CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))) AS autocorr
        |FROM g ORDER BY lag""".stripMargin,
    "events_gapfill" ->
      """WITH h AS (SELECT epoch_ms(ts) // 3600000 AS hb, count(*) AS cnt
        |  FROM events GROUP BY 1),
        |mm AS (SELECT min(hb) AS lo, max(hb) AS hi FROM h),
        |spine AS (SELECT unnest(generate_series(lo, hi)) AS hb FROM mm)
        |SELECT spine.hb, COALESCE(cnt, 0) AS n
        |FROM spine LEFT JOIN h ON spine.hb = h.hb
        |ORDER BY spine.hb""".stripMargin,
    // TRY_CAST (not CAST): Spark's from_json yields NULL for a mistyped k
    // where a plain DuckDB CAST would hard-error — TRY_CAST mirrors the
    // null-on-miss semantics; NULLS FIRST mirrors Spark's asc default.
    // The inner TRY_CAST(props AS JSON) (ADVICE r4) extends the parity to
    // MALFORMED documents: from_json returns null row-wise where a bare
    // props->>'k' would hard-error the whole oracle query, so the null
    // path now agrees even off the well-formed corpus.
    "events_json_schema" ->
      """SELECT TRY_CAST(TRY_CAST(props AS JSON)->>'k' AS BIGINT) % 10
        |    AS k_mod,
        |  count(TRY_CAST(TRY_CAST(props AS JSON)->>'k' AS BIGINT)) AS n
        |FROM events GROUP BY 1 ORDER BY k_mod NULLS FIRST""".stripMargin,
    "events_anomaly_zscore" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |             epoch_ms(ts) AS ts_ms FROM events),
        |f AS (SELECT event_id, user_id, event_type, value,
        |    count(value) OVER w AS n_prev,
        |    CAST(sum(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS s1,
        |    CAST(sum(CAST(value * value AS DECIMAL(28,6))) OVER w AS DOUBLE)
        |      AS s2
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts_ms ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, value, n_prev,
        |  s1 / n_prev AS mean,
        |  CASE WHEN (s2 - s1 * s1 / n_prev) / n_prev > 0.0
        |       THEN (value - s1 / n_prev) /
        |            sqrt((s2 - s1 * s1 / n_prev) / n_prev) END AS z
        |FROM f WHERE event_type = 'purchase' AND n_prev >= 5
        |ORDER BY event_id""".stripMargin,
    "events_sessionize" ->
      s"""WITH e AS (SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms
         |           FROM events),
         |f AS (SELECT *,
         |    CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id
         |        ORDER BY ts_ms ASC, event_id ASC) IS NULL
         |      OR ts_ms - lag(ts_ms) OVER (PARTITION BY user_id
         |        ORDER BY ts_ms ASC, event_id ASC) > 1800000
         |    THEN 1 ELSE 0 END AS new_session
         |  FROM e),
         |g AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id
         |    ORDER BY ts_ms ASC, event_id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         |  FROM f)
         |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
         |  count(*) AS n_events, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
         |  ${sqlSum("value")} AS sum_value
         |FROM g GROUP BY user_id, session_idx
         |ORDER BY user_id, session_idx""".stripMargin,
    "events_bounce_rate" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms
         |           FROM events),
         |f AS (SELECT *,
         |    CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id
         |        ORDER BY ts_ms ASC, event_id ASC) IS NULL
         |      OR ts_ms - lag(ts_ms) OVER (PARTITION BY user_id
         |        ORDER BY ts_ms ASC, event_id ASC) > 1800000
         |    THEN 1 ELSE 0 END AS new_session
         |  FROM e),
         |g AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id
         |    ORDER BY ts_ms ASC, event_id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         |  FROM f),
         |sess AS (SELECT user_id, session_idx, count(*) AS n_events,
         |    min(ts_ms) AS start_ms
         |  FROM g GROUP BY 1, 2),
         |byday AS (SELECT start_ms // 86400000 AS day,
         |    count(*) AS n_sessions,
         |    count(CASE WHEN n_events = 1 THEN 1 END) AS n_bounce
         |  FROM sess GROUP BY 1)
         |SELECT day, n_sessions, n_bounce,
         |  CAST(n_bounce AS DOUBLE) / n_sessions AS bounce_rate
         |FROM byday ORDER BY day""".stripMargin,
    "events_asof_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
        |    CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |f AS (
        |  SELECT *,
        |    last_value(CASE WHEN kind = 0 THEN ts_ms END IGNORE NULLS) OVER (
        |      PARTITION BY user_id
        |      ORDER BY ts_ms ASC, kind ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_view_ms,
        |    last_value(CASE WHEN kind = 0 THEN value END IGNORE NULLS) OVER (
        |      PARTITION BY user_id
        |      ORDER BY ts_ms ASC, kind ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_view_value
        |  FROM e)
        |SELECT event_id, user_id, ts_ms, asof_view_ms, asof_view_value
        |FROM f WHERE kind = 1 ORDER BY event_id""".stripMargin,
    // same carry, then the staleness bound nulls stale carries
    "events_asof_tolerance" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
        |    CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |f AS (
        |  SELECT *,
        |    last_value(CASE WHEN kind = 0 THEN ts_ms END IGNORE NULLS) OVER (
        |      PARTITION BY user_id
        |      ORDER BY ts_ms ASC, kind ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS raw_ms,
        |    last_value(CASE WHEN kind = 0 THEN value END IGNORE NULLS) OVER (
        |      PARTITION BY user_id
        |      ORDER BY ts_ms ASC, kind ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS raw_value
        |  FROM e)
        |SELECT event_id, user_id, ts_ms,
        |  CASE WHEN raw_ms IS NOT NULL AND raw_ms >= ts_ms - 1800000
        |    THEN raw_ms END AS asof_view_ms,
        |  CASE WHEN raw_ms IS NOT NULL AND raw_ms >= ts_ms - 1800000
        |    THEN raw_value END AS asof_view_value
        |FROM f WHERE kind = 1 ORDER BY event_id""".stripMargin,
    // The oracle states the SEMANTICS in the naive non-equi form; the
    // engine's bucketed equi-join must produce the identical pair set.
    "events_interval_join" ->
      """WITH c AS (SELECT user_id, event_id AS click_id,
        |    epoch_ms(ts) AS click_ms
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id,
        |    epoch_ms(ts) AS purchase_ms
        |  FROM events WHERE event_type = 'purchase')
        |SELECT click_id, purchase_id, purchase_ms - click_ms AS delta_ms
        |FROM c JOIN p USING (user_id)
        |WHERE purchase_ms >= click_ms AND purchase_ms < click_ms + 1800000
        |ORDER BY click_id, purchase_id""".stripMargin,
    "events_json" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "events_user_stats" ->
      s"""SELECT user_id, count(*) AS n,
         |  count(DISTINCT event_type) AS n_types,
         |  ${sqlSum("value")} AS sum_value, max(epoch_ms(ts)) AS last_ms
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Funnel: NULL stage times (user never reached the stage) fall out of
    // the strict > comparisons in both engines identically.
    "events_funnel" ->
      """WITH m AS (SELECT user_id,
        |    min(epoch_ms(ts)) FILTER (WHERE event_type = 'view') AS t_view,
        |    min(epoch_ms(ts)) FILTER (WHERE event_type = 'click') AS t_click,
        |    min(epoch_ms(ts)) FILTER (WHERE event_type = 'purchase')
        |      AS t_purchase
        |  FROM events GROUP BY user_id)
        |SELECT count(*) AS n_users, count(t_view) AS n_view,
        |  count(*) FILTER (WHERE t_click > t_view) AS n_view_click,
        |  count(*) FILTER (WHERE t_click > t_view AND t_purchase > t_click)
        |    AS n_funnel_complete
        |FROM m""".stripMargin,
    // the same (ts, event_id)-ordered initials string via an ordered
    // string_agg, and the same unambiguous regex (Java ≡ RE2 here — see
    // the query comment)
    "events_pattern_match" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
        |    CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
        |      WHEN 'error' THEN 'e' WHEN 'purchase' THEN 'p'
        |      ELSE 's' END AS i
        |  FROM events),
        |sq AS (SELECT user_id,
        |    string_agg(i, '' ORDER BY ts_ms ASC, event_id ASC) AS seq
        |  FROM e GROUP BY user_id)
        |SELECT user_id, CAST(length(seq) AS INT) AS n_events,
        |  CAST(len(regexp_extract_all(seq, 'v[ce]*p')) AS INT)
        |    AS n_conversions
        |FROM sq ORDER BY user_id""".stripMargin,
    "events_retention" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |    epoch_ms(ts) // 604800000 AS wk
        |  FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_wk FROM a GROUP BY user_id)
        |SELECT cohort_wk,
        |  count(*) FILTER (WHERE wk = cohort_wk) AS n_users,
        |  count(*) FILTER (WHERE wk = cohort_wk + 1) AS n_wk1,
        |  count(*) FILTER (WHERE wk = cohort_wk + 2) AS n_wk2
        |FROM a JOIN c USING (user_id)
        |GROUP BY cohort_wk ORDER BY cohort_wk""".stripMargin,
    "events_transition_matrix" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ts_ms FROM events),
        |t AS (SELECT event_type, lead(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts_ms ASC, event_id ASC)
        |    AS next_type FROM e),
        |c AS (SELECT event_type, next_type, count(*) AS n FROM t
        |  WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, next_type, n, CAST(n AS DOUBLE) /
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE) AS p
        |FROM c ORDER BY event_type, next_type""".stripMargin,
    // ntile over a fully tie-broken order (metric, then user_id) is
    // deterministic and identical in both engines; DuckDB's ntile yields
    // BIGINT where Spark yields INT, hence the casts.
    "events_rfm" ->
      s"""WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, value
         |           FROM events),
         |p AS (SELECT user_id, max(ts_ms) AS r_ms, count(*) AS f,
         |    ${Oracle.sqlSum("value")} AS m FROM e GROUP BY user_id),
         |q AS (SELECT user_id, r_ms, f, m,
         |    CAST(ntile(5) OVER (ORDER BY r_ms DESC, user_id ASC) AS INT)
         |      AS r_q,
         |    CAST(ntile(5) OVER (ORDER BY f DESC, user_id ASC) AS INT)
         |      AS f_q,
         |    CAST(ntile(5) OVER (ORDER BY m DESC, user_id ASC) AS INT)
         |      AS m_q
         |  FROM p)
         |SELECT user_id, r_ms, f, m, r_q, f_q, m_q,
         |  CAST(r_q * 100 + f_q * 10 + m_q AS INT) AS segment
         |FROM q ORDER BY user_id""".stripMargin,
    // Same join band, the same DESC/DESC (resp. ASC/ASC) argmax tie rule
    // as the engine's struct max/min, and the same union-then-sum
    // recombination.
    "events_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ts_ms FROM events),
        |c AS (SELECT user_id, event_id AS conv_id, ts_ms AS conv_ms
        |      FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id AS touch_id, ts_ms AS touch_ms,
        |      event_type FROM e WHERE event_type <> 'purchase'),
        |j AS (SELECT conv_id, touch_id, touch_ms, event_type
        |      FROM c JOIN t USING (user_id)
        |      WHERE touch_ms <= conv_ms
        |        AND conv_ms - touch_ms <= 604800000),
        |tc AS (SELECT event_type, count(*) AS n_touches, 0 AS n_last,
        |       0 AS n_first FROM j GROUP BY 1),
        |lt AS (SELECT event_type, 0 AS n_touches, count(*) AS n_last,
        |       0 AS n_first FROM (
        |    SELECT conv_id, event_type, row_number() OVER (
        |      PARTITION BY conv_id
        |      ORDER BY touch_ms DESC, touch_id DESC) AS rn FROM j) r
        |  WHERE rn = 1 GROUP BY 1),
        |ft AS (SELECT event_type, 0 AS n_touches, 0 AS n_last,
        |       count(*) AS n_first FROM (
        |    SELECT conv_id, event_type, row_number() OVER (
        |      PARTITION BY conv_id
        |      ORDER BY touch_ms ASC, touch_id ASC) AS rn FROM j) r
        |  WHERE rn = 1 GROUP BY 1),
        |u AS (SELECT * FROM tc UNION ALL SELECT * FROM lt
        |      UNION ALL SELECT * FROM ft)
        |SELECT event_type, CAST(sum(n_touches) AS BIGINT) AS n_touches,
        |  CAST(sum(n_last) AS BIGINT) AS n_last_touch,
        |  CAST(sum(n_first) AS BIGINT) AS n_first_touch
        |FROM u GROUP BY 1 ORDER BY event_type""".stripMargin,
    // (n DESC, path ASC) totally orders the path table, so the limit-10
    // cut is deterministic in both engines.
    "events_path_topk" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ts_ms FROM events),
        |t AS (SELECT event_type,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts_ms ASC, event_id ASC)),
        |p AS (SELECT event_type || '>' || t2 || '>' || t3 AS path,
        |    count(*) AS n
        |  FROM t WHERE t2 IS NOT NULL AND t3 IS NOT NULL GROUP BY 1)
        |SELECT path, n FROM p ORDER BY n DESC, path ASC LIMIT 10"""
        .stripMargin,
    // Same two-level prefix sum as the Spark side (identical math to the
    // global sweep, grouped by hour); DuckDB integer sums come back
    // HUGEINT, so every output is pinned to BIGINT.
    "events_concurrency" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms
        |           FROM events),
        |f AS (SELECT *,
        |    CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id
        |        ORDER BY ts_ms ASC, event_id ASC) IS NULL
        |      OR ts_ms - lag(ts_ms) OVER (PARTITION BY user_id
        |        ORDER BY ts_ms ASC, event_id ASC) > 1800000
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |g AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts_ms ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM f),
        |sess AS (SELECT user_id, session_idx,
        |    min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
        |  FROM g GROUP BY user_id, session_idx),
        |deltas AS (
        |  SELECT start_ms AS t, 1 AS delta FROM sess
        |  UNION ALL
        |  SELECT end_ms + 1 AS t, -1 AS delta FROM sess),
        |h AS (SELECT t, delta, t // 3600000 AS hour FROM deltas),
        |r AS (SELECT *, sum(delta) OVER (PARTITION BY hour
        |    ORDER BY t ASC, delta DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM h),
        |ph AS (SELECT hour, greatest(max(run), 0) AS peak_in,
        |    sum(delta) AS hour_delta,
        |    count(*) FILTER (WHERE delta = 1) AS n_starts
        |  FROM r GROUP BY hour),
        |fin AS (SELECT hour, peak_in, n_starts,
        |    coalesce(sum(hour_delta) OVER (ORDER BY hour ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS carry_in
        |  FROM ph)
        |SELECT CAST(hour AS BIGINT) AS hour,
        |  CAST(carry_in + peak_in AS BIGINT) AS peak_concurrency,
        |  CAST(n_starts AS BIGINT) AS n_starts
        |FROM fin ORDER BY hour""".stripMargin,
    // median ≡ quantile_cont(0.5): the same exact-interpolation parity
    // agg_median pins; the 3×1.4826 constant folds to the same double on
    // both engines, so the > comparison sees bit-identical operands
    "events_new_returning" ->
      """WITH days AS (SELECT DISTINCT user_id,
        |    epoch_ms(ts) // 86400000 AS day
        |  FROM events),
        |f AS (SELECT user_id, day,
        |    min(day) OVER (PARTITION BY user_id) AS first_day
        |  FROM days)
        |SELECT day,
        |  count(CASE WHEN day = first_day THEN 1 END) AS n_new,
        |  count(CASE WHEN day <> first_day THEN 1 END) AS n_returning
        |FROM f GROUP BY day ORDER BY day""".stripMargin,
    "events_activity_pareto" ->
      """WITH ua AS (SELECT user_id, count(*) AS a FROM events GROUP BY 1),
        |byA AS (SELECT a, count(*) AS nu, a * count(*) AS ne
        |  FROM ua GROUP BY a),
        |cum AS (SELECT a, nu, ne,
        |    sum(nu) OVER (ORDER BY a DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cu,
        |    sum(ne) OVER (ORDER BY a DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce
        |  FROM byA),
        |tot AS (SELECT max(cu) AS users, max(ce) AS ev FROM cum),
        |cuts AS (SELECT
        |    max(CASE WHEN cu * 10 >= users THEN a END) AS cut10,
        |    max(CASE WHEN cu * 100 >= users THEN a END) AS cut1
        |  FROM cum CROSS JOIN tot)
        |SELECT CAST(max(cu) AS BIGINT) AS n_users,
        |  CAST(max(ce) AS BIGINT) AS n_events,
        |  CAST(max(cut10) AS BIGINT) AS p90_activity,
        |  CAST(max(cut1) AS BIGINT) AS p99_activity,
        |  CAST(max(CASE WHEN a = cut10 THEN ce END) AS DOUBLE) /
        |    CAST(max(ce) AS DOUBLE) AS share_top10pct,
        |  CAST(max(CASE WHEN a = cut1 THEN ce END) AS DOUBLE) /
        |    CAST(max(ce) AS DOUBLE) AS share_top1pct
        |FROM cum CROSS JOIN cuts""".stripMargin,
    "events_hazard_daily" ->
      """WITH spans AS (SELECT user_id,
        |    min(epoch_ms(ts) // 86400000) AS fd,
        |    max(epoch_ms(ts) // 86400000) AS ld
        |  FROM events GROUP BY 1),
        |b AS (SELECT min(fd) AS lo, max(ld) AS hi FROM spans),
        |f AS (SELECT fd AS day, count(*) AS nf FROM spans GROUP BY 1),
        |l AS (SELECT ld AS day, count(*) AS nl FROM spans GROUP BY 1),
        |spine AS (SELECT unnest(generate_series(lo, hi)) AS day, hi FROM b),
        |dd AS (SELECT day, hi, COALESCE(nf, 0) AS nf, COALESCE(nl, 0) AS nl
        |  FROM spine LEFT JOIN f USING (day) LEFT JOIN l USING (day)),
        |c AS (SELECT day, hi, nl,
        |    sum(nf) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cf,
        |    COALESCE(sum(nl) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS clp
        |  FROM dd)
        |SELECT day, CAST(cf - clp AS BIGINT) AS n_at_risk,
        |  CAST(CASE WHEN day < hi THEN nl ELSE 0 END AS BIGINT)
        |    AS n_churned,
        |  CAST(CASE WHEN day = hi THEN nl ELSE 0 END AS BIGINT)
        |    AS n_censored,
        |  CASE WHEN cf - clp > 0 THEN
        |    CAST(CASE WHEN day < hi THEN nl ELSE 0 END AS DOUBLE) /
        |      CAST(cf - clp AS DOUBLE) END AS hazard
        |FROM c ORDER BY day""".stripMargin,
    "events_ab_quantiles" ->
      s"""WITH pu AS (SELECT user_id,
         |    COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase'
         |      THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE), 0.0) AS m
         |  FROM events GROUP BY 1),
         |arms AS (SELECT m, CASE WHEN
         |    ((${XxhSql.expr("'AB' || CAST(user_id AS VARCHAR)", "42")}
         |      % 2) + 2) % 2 = 0 THEN 'A' ELSE 'B' END AS arm FROM pu)
         |SELECT arm, count(*) AS n_users,
         |  quantile_cont(m, 0.25) AS p25, quantile_cont(m, 0.5) AS p50,
         |  quantile_cont(m, 0.75) AS p75, quantile_cont(m, 0.9) AS p90
         |FROM arms GROUP BY arm ORDER BY arm""".stripMargin,
    "events_seasonal_anomaly" ->
      """WITH hourly AS (SELECT event_type,
        |    epoch_ms(ts) // 86400000 AS day,
        |    (epoch_ms(ts) // 3600000) % 24 AS hod,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |med AS (SELECT event_type, hod, median(n) AS med
        |  FROM hourly GROUP BY 1, 2),
        |mad AS (SELECT h.event_type, h.hod, median(abs(h.n - m.med)) AS mad
        |  FROM hourly h JOIN med m USING (event_type, hod) GROUP BY 1, 2)
        |SELECT h.event_type, h.day, h.hod, h.n, m.med, d.mad
        |FROM hourly h JOIN med m USING (event_type, hod)
        |              JOIN mad d USING (event_type, hod)
        |WHERE abs(h.n - m.med) > 3.0 * 1.4826 * d.mad
        |ORDER BY h.event_type, h.day, h.hod""".stripMargin,
    "events_mad_anomaly" ->
      """WITH med AS (
        |  SELECT event_type, median(value) AS med FROM events GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type, median(abs(e.value - m.med)) AS mad
        |  FROM events e JOIN med m USING (event_type) GROUP BY e.event_type)
        |SELECT e.event_id, e.event_type, e.value, m.med, d.mad
        |FROM events e
        |JOIN med m USING (event_type)
        |JOIN mad d USING (event_type)
        |WHERE abs(e.value - m.med) >
        |  CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * d.mad
        |ORDER BY e.event_id""".stripMargin,
    // term-for-term mirror of the fixed expression tree; no
    // transcendentals anywhere (see the Simpson-over-Shannon note)
    "events_user_diversity" ->
      """WITH c AS (SELECT user_id, count(*) AS n,
        |    count(CASE WHEN event_type = 'click' THEN 1 END) AS nc,
        |    count(CASE WHEN event_type = 'error' THEN 1 END) AS ne,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS np,
        |    count(CASE WHEN event_type = 'signup' THEN 1 END) AS ns,
        |    count(CASE WHEN event_type = 'view' THEN 1 END) AS nv
        |  FROM events GROUP BY 1)
        |SELECT user_id, n,
        |  1.0 - (
        |    (CAST(nc AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (CAST(nc AS DOUBLE) / CAST(n AS DOUBLE))
        |  + (CAST(ne AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (CAST(ne AS DOUBLE) / CAST(n AS DOUBLE))
        |  + (CAST(np AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
        |  + (CAST(ns AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (CAST(ns AS DOUBLE) / CAST(n AS DOUBLE))
        |  + (CAST(nv AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (CAST(nv AS DOUBLE) / CAST(n AS DOUBLE))) AS diversity
        |FROM c ORDER BY user_id""".stripMargin,
    "events_wow_growth" ->
      """WITH wk AS (SELECT epoch_ms(ts) // 604800000 AS week, event_type,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, week, n,
        |    lag(n, 1) OVER (PARTITION BY event_type ORDER BY week) AS prev
        |  FROM wk)
        |SELECT event_type, week, n, prev,
        |  (CAST(n AS DOUBLE) - CAST(prev AS DOUBLE)) / CAST(prev AS DOUBLE)
        |    AS wow_growth
        |FROM g WHERE prev IS NOT NULL
        |ORDER BY event_type, week""".stripMargin,
    "events_stickiness" ->
      """WITH du AS (SELECT DISTINCT epoch_ms(ts) // 86400000 AS day,
        |    user_id FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
        |wau AS (SELECT w.day, count(DISTINCT du.user_id) AS wau
        |  FROM du, LATERAL (SELECT unnest(generate_series(du.day,
        |    du.day + 6)) AS day) w
        |  GROUP BY 1)
        |SELECT dau.day AS day, dau.dau, wau.wau,
        |  CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
        |FROM dau JOIN wau ON dau.day = wau.day
        |ORDER BY dau.day""".stripMargin,
    "events_streaks" ->
      """WITH du AS (SELECT DISTINCT user_id,
        |    epoch_ms(ts) // 86400000 AS day FROM events),
        |isl AS (SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS g
        |  FROM du),
        |runs AS (SELECT user_id, count(*) AS streak_days,
        |    min(day) AS start_day
        |  FROM isl GROUP BY user_id, g),
        |best AS (SELECT user_id, streak_days, start_day FROM (
        |    SELECT user_id, streak_days, start_day,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY streak_days DESC, start_day ASC) AS rn
        |    FROM runs) r WHERE rn = 1)
        |SELECT user_id, streak_days, start_day FROM best
        |ORDER BY streak_days DESC, user_id ASC LIMIT 20""".stripMargin,
    "events_freshness" ->
      """WITH pt AS (SELECT event_type, max(epoch_ms(ts)) AS last_ms
        |  FROM events GROUP BY 1),
        |wm AS (SELECT max(last_ms) AS w FROM pt)
        |SELECT event_type, last_ms, w - last_ms AS lag_ms,
        |  (w - last_ms) > 86400000 AS stale
        |FROM pt, wm ORDER BY event_type""".stripMargin,
    "events_funnel_windowed" ->
      """WITH v AS (SELECT user_id, min(epoch_ms(ts)) AS t_view
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(epoch_ms(ts)) AS t_click
        |  FROM events e JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'click'
        |    AND epoch_ms(ts) > v.t_view
        |    AND epoch_ms(ts) <= v.t_view + 86400000
        |  GROUP BY 1),
        |p AS (SELECT e.user_id, min(epoch_ms(ts)) AS t_buy
        |  FROM events e JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_ms(ts) > c.t_click
        |    AND epoch_ms(ts) <= c.t_click + 86400000
        |  GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_view,
        |  CAST(count(c.t_click) AS BIGINT) AS n_click_24h,
        |  CAST(count(p.t_buy) AS BIGINT) AS n_buy_24h
        |FROM v LEFT JOIN c ON c.user_id = v.user_id
        |       LEFT JOIN p ON p.user_id = v.user_id""".stripMargin,
    "events_watermark_lag" ->
      s"""WITH e AS (SELECT event_type, epoch_ms(ts) AS ts_ms,
        |    (event_id +
        |      ((${XxhSql.expr("CAST(event_id AS VARCHAR)", "42")} % 20000)
        |        + 20000) % 20000) // 10000 AS mb FROM events),
        |bm AS (SELECT mb, max(ts_ms) AS mb_max FROM e GROUP BY 1),
        |wm AS (SELECT mb, max(mb_max) OVER (ORDER BY mb
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_ms
        |  FROM bm),
        |l AS (SELECT event_type,
        |    greatest(COALESCE(wm_ms - ts_ms, 0), 0) AS late_ms
        |  FROM e JOIN wm USING (mb))
        |SELECT event_type, count(*) AS n_events,
        |  count(CASE WHEN late_ms > 0 THEN 1 END) AS n_late,
        |  count(CASE WHEN late_ms > 3600000 THEN 1 END) AS n_late_1h,
        |  max(late_ms) AS max_late_ms
        |FROM l GROUP BY 1 ORDER BY event_type""".stripMargin,
    // the identical sequential fold as a recursive CTE (rn → rn+1), the
    // identical IEEE trees; constants exponent-form so DuckDB parses
    // DOUBLE
    "events_holt_forecast" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT epoch_ms(ts) // 86400000 AS day,
         |    ${sqlSum("value")} AS rev
         |  FROM events GROUP BY 1),
         |i AS (SELECT day, CAST(rev AS DOUBLE) AS y,
         |    row_number() OVER (ORDER BY day) AS rn FROM d),
         |h AS (
         |  SELECT day, y, rn, y AS level, CAST(0 AS DOUBLE) AS trend
         |  FROM i WHERE rn = 1
         |  UNION ALL
         |  SELECT i.day, i.y, i.rn,
         |    0.5e0 * i.y + 0.5e0 * (h.level + h.trend),
         |    0.3e0 * ((0.5e0 * i.y + 0.5e0 * (h.level + h.trend))
         |      - h.level) + 0.7e0 * h.trend
         |  FROM h JOIN i ON i.rn = h.rn + 1)
         |SELECT day, y, level, trend, level + trend AS forecast_next
         |FROM h ORDER BY day""".stripMargin,
    "events_ewma_daily" ->
      s"""WITH h AS (SELECT epoch_ms(ts) // 3600000 AS hb, event_type,
         |    ${sqlSum("value")} AS v
         |  FROM events GROUP BY 1, 2),
         |e AS (SELECT event_type, hb, v, hb // 24 AS day,
         |    ((hb % 24) + 24) % 24 AS i,
         |    CAST(round(v * 1000000) AS BIGINT) AS vu FROM h)
         |SELECT event_type, hb AS hour_bucket, v,
         |  0.5 * CAST(sum(vu * CAST(power(2.0, i) AS BIGINT))
         |    OVER (PARTITION BY event_type, day ORDER BY i ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS DOUBLE) * power(0.5, i) / CAST(1000000 AS DOUBLE) AS ewma
         |FROM e ORDER BY event_type, hour_bucket""".stripMargin,
    "events_burst_hours" ->
      """WITH h AS (SELECT epoch_ms(ts) // 3600000 AS hb, event_type,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, hb, n,
        |    sum(n) OVER (PARTITION BY event_type ORDER BY hb ASC
        |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS trail,
        |    count(n) OVER (PARTITION BY event_type ORDER BY hb ASC
        |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS n_prev
        |  FROM h)
        |SELECT event_type, hb AS hour_bucket, n, CAST(trail AS BIGINT)
        |  AS trail
        |FROM w WHERE n_prev = 24 AND n * 24 > trail * 3
        |ORDER BY event_type, hour_bucket""".stripMargin,
    "events_rolling_median" ->
      """SELECT event_id, user_id, value,
        |  quantile_cont(value, 0.5) OVER (PARTITION BY user_id
        |    ORDER BY epoch_ms(ts) ASC, event_id ASC
        |    ROWS BETWEEN 10 PRECEDING AND CURRENT ROW) AS roll_med
        |FROM events ORDER BY event_id""".stripMargin,
    "events_cohort_ltv" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |    event_type, value
        |  FROM events),
        |co AS (SELECT user_id, min(day) // 7 AS cohort_w
        |  FROM e GROUP BY 1),
        |sz AS (SELECT cohort_w, count(*) AS cohort_size FROM co GROUP BY 1),
        |cells AS (SELECT co.cohort_w, e.day // 7 - co.cohort_w AS age_w,
        |    count(DISTINCT e.user_id) AS n_buyers,
        |    SUM(CAST(value AS DECIMAL(28,6))) AS rev
        |  FROM e JOIN co ON co.user_id = e.user_id
        |  WHERE event_type = 'purchase' GROUP BY 1, 2),
        |cum AS (SELECT cohort_w, age_w, n_buyers, rev,
        |    sum(rev) OVER (PARTITION BY cohort_w ORDER BY age_w
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM cells)
        |SELECT c.cohort_w, age_w, cohort_size,
        |  CAST(n_buyers AS BIGINT) AS n_buyers,
        |  CAST(rev AS DOUBLE) AS revenue,
        |  CAST(cum AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS cum_ltv
        |FROM cum c JOIN sz ON sz.cohort_w = c.cohort_w
        |ORDER BY c.cohort_w, age_w""".stripMargin,
    "events_cohort_matrix" ->
      """WITH p AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS day
        |  FROM events WHERE event_type = 'purchase'),
        |firstd AS (SELECT user_id, min(day) AS cohort_d FROM p GROUP BY 1)
        |SELECT f.cohort_d, p.day - f.cohort_d AS age,
        |  count(DISTINCT p.user_id) AS n_users
        |FROM p JOIN firstd f ON p.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY cohort_d, age""".stripMargin,
    "events_ab_lift" ->
      s"""WITH pu AS (SELECT user_id,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS converted
         |  FROM events GROUP BY 1),
         |arms AS (SELECT converted, CASE WHEN
         |    ((${XxhSql.expr("'AB' || CAST(user_id AS VARCHAR)", "42")}
         |      % 2) + 2) % 2 = 0 THEN 'A' ELSE 'B' END AS arm FROM pu),
         |g AS (SELECT
         |    count(CASE WHEN arm = 'A' THEN 1 END) AS users_a,
         |    CAST(sum(CASE WHEN arm = 'A' THEN converted ELSE 0 END)
         |      AS BIGINT) AS conv_a,
         |    count(CASE WHEN arm = 'B' THEN 1 END) AS users_b,
         |    CAST(sum(CASE WHEN arm = 'B' THEN converted ELSE 0 END)
         |      AS BIGINT) AS conv_b
         |  FROM arms)
         |SELECT users_a, conv_a, users_b, conv_b,
         |  CAST(conv_a AS DOUBLE) / CAST(users_a AS DOUBLE) AS rate_a,
         |  CAST(conv_b AS DOUBLE) / CAST(users_b AS DOUBLE) AS rate_b,
         |  (CAST(conv_b AS DOUBLE) / CAST(users_b AS DOUBLE)) /
         |    (CAST(conv_a AS DOUBLE) / CAST(users_a AS DOUBLE)) AS lift
         |FROM g""".stripMargin,
    // the events_funnel oracle with the xxh64 arm in the group key
    "events_funnel_by_arm" ->
      s"""WITH m AS (SELECT user_id,
         |    CASE WHEN
         |      ((${XxhSql.expr("'AB' || CAST(user_id AS VARCHAR)", "42")}
         |        % 2) + 2) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
         |    min(epoch_ms(ts)) FILTER (WHERE event_type = 'view') AS t_view,
         |    min(epoch_ms(ts)) FILTER (WHERE event_type = 'click')
         |      AS t_click,
         |    min(epoch_ms(ts)) FILTER (WHERE event_type = 'purchase')
         |      AS t_purchase
         |  FROM events GROUP BY 1, 2),
         |g AS (SELECT arm, count(*) AS n_users, count(t_view) AS n_view,
         |    count(*) FILTER (WHERE t_click > t_view) AS n_view_click,
         |    count(*) FILTER (WHERE t_click > t_view
         |      AND t_purchase > t_click) AS n_funnel_complete
         |  FROM m GROUP BY arm)
         |SELECT arm, n_users, n_view, n_view_click, n_funnel_complete,
         |  CAST(n_funnel_complete AS DOUBLE) / CAST(n_users AS DOUBLE)
         |    AS complete_rate
         |FROM g ORDER BY arm""".stripMargin,
    "events_multiwindow_burn" ->
      """WITH h AS (SELECT epoch_ms(ts) // 3600000 AS hb, count(*) AS n_1h,
        |    count(CASE WHEN event_type = 'error' THEN 1 END) AS e_1h
        |  FROM events GROUP BY 1),
        |w AS (SELECT hb, n_1h, e_1h,
        |    CAST(sum(n_1h) OVER (ORDER BY hb
        |      RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_6h,
        |    CAST(sum(e_1h) OVER (ORDER BY hb
        |      RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS e_6h
        |  FROM h)
        |SELECT hb, n_1h, e_1h, n_6h, e_6h,
        |  5.0 * CAST(e_1h AS DOUBLE) / CAST(n_1h AS DOUBLE) AS burn_1h,
        |  5.0 * CAST(e_6h AS DOUBLE) / CAST(n_6h AS DOUBLE) AS burn_6h,
        |  e_1h * 5 > n_1h AND e_6h * 5 > n_6h AS alert
        |FROM w ORDER BY hb""".stripMargin,
    "events_bot_flags" ->
      """WITH h AS (SELECT user_id, epoch_ms(ts) // 3600000 AS hb,
        |    count(*) AS nh,
        |    count(CASE WHEN event_type = 'error' THEN 1 END) AS eh
        |  FROM events GROUP BY 1, 2),
        |u AS (SELECT user_id, CAST(sum(nh) AS BIGINT) AS n_events,
        |    count(DISTINCT hb // 24) AS active_days,
        |    max(nh) AS max_hour_burst,
        |    CAST(sum(eh) AS BIGINT) AS n_errors
        |  FROM h GROUP BY 1)
        |SELECT user_id, n_events, active_days, max_hour_burst, n_errors,
        |  n_events * 2 > active_days * 5 AS f_rate,
        |  max_hour_burst >= 3 AS f_burst,
        |  n_errors * 5 > n_events AS f_error,
        |  (CASE WHEN n_events * 2 > active_days * 5 THEN 1 ELSE 0 END +
        |   CASE WHEN max_hour_burst >= 3 THEN 1 ELSE 0 END +
        |   CASE WHEN n_errors * 5 > n_events THEN 1 ELSE 0 END) >= 2
        |    AS is_bot
        |FROM u ORDER BY user_id""".stripMargin,
    "events_slo_burn" ->
      """WITH d AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    count(*) AS n_events,
        |    count(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors
        |  FROM events GROUP BY 1),
        |c AS (SELECT day, n_events, n_errors,
        |    sum(n_events) OVER (ORDER BY day) AS cum_n,
        |    sum(n_errors) OVER (ORDER BY day) AS cum_e
        |  FROM d)
        |SELECT day, n_events, n_errors,
        |  CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE) AS error_rate,
        |  100.0 * CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE)
        |    AS burn_rate,
        |  100.0 * CAST(cum_e AS DOUBLE) / CAST(cum_n AS DOUBLE)
        |    AS cum_budget_used
        |FROM c ORDER BY day""".stripMargin,
    // exact HUGEINT sufficient statistics mirror the DECIMAL(38,0) ones;
    // the variance/MDE expression trees are term-for-term identical
    "events_power_mde" ->
      s"""WITH pu AS (SELECT user_id,
         |    COALESCE(sum(CASE WHEN event_type = 'purchase'
         |      THEN CAST(value AS DECIMAL(28, 6)) END),
         |      CAST(0 AS DECIMAL(28, 6))) AS m
         |  FROM events GROUP BY 1),
         |arms AS (SELECT CAST(m * 1000000 AS HUGEINT) AS mu,
         |    CASE WHEN
         |      ((${XxhSql.expr("'AB' || CAST(user_id AS VARCHAR)", "42")}
         |        % 2) + 2) % 2 = 0 THEN 'A' ELSE 'B' END AS arm FROM pu),
         |g AS (SELECT
         |    count(CASE WHEN arm = 'A' THEN 1 END) AS n_a,
         |    count(CASE WHEN arm = 'B' THEN 1 END) AS n_b,
         |    sum(CASE WHEN arm = 'A' THEN mu END) AS s1a,
         |    sum(CASE WHEN arm = 'B' THEN mu END) AS s1b,
         |    sum(CASE WHEN arm = 'A' THEN mu * mu END) AS s2a,
         |    sum(CASE WHEN arm = 'B' THEN mu * mu END) AS s2b
         |  FROM arms),
         |v AS (SELECT n_a, n_b, s1a,
         |    CAST(n_a * s2a - s1a * s1a AS DOUBLE) /
         |      CAST(n_a * (n_a - 1) AS DOUBLE) AS va,
         |    CAST(n_b * s2b - s1b * s1b AS DOUBLE) /
         |      CAST(n_b * (n_b - 1) AS DOUBLE) AS vb
         |  FROM g)
         |SELECT n_a, n_b,
         |  CAST(s1a AS DOUBLE) / CAST(n_a AS DOUBLE) / 1e6 AS mean_a,
         |  va / 1e12 AS var_a, vb / 1e12 AS var_b,
         |  (1.959964 + 0.841621) * sqrt(va / CAST(n_a AS DOUBLE) +
         |    vb / CAST(n_b AS DOUBLE)) / 1e6 AS mde_abs,
         |  ((1.959964 + 0.841621) * sqrt(va / CAST(n_a AS DOUBLE) +
         |    vb / CAST(n_b AS DOUBLE)) / 1e6) /
         |    (CAST(s1a AS DOUBLE) / CAST(n_a AS DOUBLE) / 1e6) AS mde_rel
         |FROM v""".stripMargin,
    "events_forecast_naive" ->
      """WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |j AS (SELECT a.event_type, a.n, p.n AS pred
        |  FROM daily a JOIN daily p ON a.event_type = p.event_type
        |    AND a.day = p.day + 7),
        |g AS (SELECT event_type, count(*) AS n_eval,
        |    CAST(sum(abs(n - pred)) AS BIGINT) AS sum_abs_err,
        |    CAST(sum(n) AS BIGINT) AS sum_actual
        |  FROM j GROUP BY 1)
        |SELECT event_type, n_eval, sum_abs_err,
        |  CAST(sum_abs_err AS DOUBLE) / CAST(n_eval AS DOUBLE) AS mae,
        |  CAST(sum_abs_err AS DOUBLE) / CAST(sum_actual AS DOUBLE) AS wape
        |FROM g ORDER BY event_type""".stripMargin,
    "events_transition_latency" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ts_ms FROM events),
        |t AS (SELECT event_type,
        |    lag(event_type) OVER w AS from_type,
        |    ts_ms - lag(ts_ms) OVER w AS gap_ms
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts_ms ASC, event_id ASC))
        |SELECT from_type, event_type AS to_type, count(*) AS n,
        |  median(gap_ms) AS median_gap_ms
        |FROM t WHERE from_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,
    "events_srm_check" ->
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |a AS (SELECT
         |    count(CASE WHEN
         |      ((${XxhSql.expr("'AB' || CAST(user_id AS VARCHAR)", "42")})
         |        % 2 + 2) % 2 = 0 THEN 1 END) AS users_a,
         |    count(CASE WHEN
         |      ((${XxhSql.expr("'AB' || CAST(user_id AS VARCHAR)", "42")})
         |        % 2 + 2) % 2 <> 0 THEN 1 END) AS users_b
         |  FROM u),
         |f AS (SELECT users_a, users_b,
         |    CAST(users_a + users_b AS DOUBLE) / 2.0e0 AS e,
         |    CAST(users_a AS DOUBLE) AS ua, CAST(users_b AS DOUBLE) AS ub
         |  FROM a)
         |SELECT users_a, users_b,
         |  (ua - e) * (ua - e) / e + (ub - e) * (ub - e) / e AS chi2,
         |  (ua - e) * (ua - e) / e + (ub - e) * (ub - e) / e > 3.84e0
         |    AS srm_suspect
         |FROM f""".stripMargin,
    "events_cuped" ->
      s"""WITH pu AS (SELECT user_id,
         |    CAST(sum(CASE WHEN event_type IN ('view', 'click')
         |      THEN 1 ELSE 0 END) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN event_type = 'purchase'
         |      THEN 1 ELSE 0 END) AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |arms AS (SELECT x, y,
         |    ((${XxhSql.expr("'AB' || CAST(user_id AS VARCHAR)", "42")}
         |      % 2) + 2) % 2 AS arm FROM pu),
         |g AS (SELECT count(*) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(y * y) AS BIGINT) AS syy,
         |    count(CASE WHEN arm = 0 THEN 1 END) AS users_a,
         |    CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT)
         |      AS sxa,
         |    CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT)
         |      AS sya,
         |    count(CASE WHEN arm <> 0 THEN 1 END) AS users_b,
         |    CAST(sum(CASE WHEN arm <> 0 THEN x ELSE 0 END) AS BIGINT)
         |      AS sxb,
         |    CAST(sum(CASE WHEN arm <> 0 THEN y ELSE 0 END) AS BIGINT)
         |      AS syb
         |  FROM arms),
         |f AS (SELECT users_a, users_b,
         |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         |    CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
         |    CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd,
         |    CAST(sxa AS DOUBLE) AS sxad, CAST(sya AS DOUBLE) AS syad,
         |    CAST(sxb AS DOUBLE) AS sxbd, CAST(syb AS DOUBLE) AS sybd,
         |    CAST(users_a AS DOUBLE) AS uad,
         |    CAST(users_b AS DOUBLE) AS ubd
         |  FROM g)
         |SELECT users_a, users_b,
         |  (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS theta,
         |  sybd / ubd - syad / uad AS diff_raw,
         |  (sybd / ubd - syad / uad) -
         |    ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)) *
         |    (sxbd / ubd - sxad / uad) AS diff_adj,
         |  ((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)) /
         |    ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd))
         |    AS var_reduction
         |FROM f""".stripMargin,
    "events_trend_ols" ->
      """WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, count(*) AS n_days,
        |    CAST(sum(day) AS BIGINT) AS sx, CAST(sum(n) AS BIGINT) AS sy,
        |    CAST(sum(day * n) AS BIGINT) AS sxy,
        |    CAST(sum(day * day) AS BIGINT) AS sxx
        |  FROM daily GROUP BY 1),
        |f AS (SELECT event_type, n_days, sy,
        |    (CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_per_day,
        |    sx
        |  FROM g)
        |SELECT event_type, n_days, sy AS total, slope_per_day,
        |  (CAST(sy AS DOUBLE) - slope_per_day * CAST(sx AS DOUBLE)) /
        |    CAST(n_days AS DOUBLE) AS intercept
        |FROM f ORDER BY event_type""".stripMargin,
    "events_cusum_changepoint" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1),
        |t AS (SELECT count(*) AS days, CAST(sum(n) AS BIGINT) AS total
        |  FROM daily),
        |c AS (SELECT day, n, days, total,
        |    CAST(sum(days * n - total) OVER (ORDER BY day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS s
        |  FROM daily, t)
        |SELECT day, n, s, abs(s) AS s_abs,
        |  CAST(abs(s) AS DOUBLE) / CAST(days * total AS DOUBLE) AS d_stat
        |FROM c ORDER BY s_abs DESC, day ASC LIMIT 1""".stripMargin,
    "events_markov_stationary" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ts_ms FROM events),
        |pr AS (SELECT event_type AS to_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_ms ASC, event_id ASC) AS from_type
        |  FROM e),
        |tr AS (SELECT from_type, to_type, count(*) AS n
        |  FROM pr WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |outc AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
        |  FROM tr GROUP BY 1),
        |q AS (SELECT t.from_type, t.to_type,
        |    CAST((t.n * 1000000) // o.tot AS BIGINT) AS q
        |  FROM tr t JOIN outc o USING (from_type)),
        |types AS (SELECT DISTINCT event_type AS type FROM events),
        |k AS (SELECT count(*) AS k FROM types),
        |p0 AS (SELECT type, CAST(1000000000 // k AS BIGINT) AS p
        |  FROM types, k),
        |p1 AS (SELECT q.to_type AS type,
        |    CAST(sum((p0.p * q.q) // 1000000) AS BIGINT) AS p
        |  FROM p0 JOIN q ON p0.type = q.from_type GROUP BY 1),
        |p2 AS (SELECT q.to_type AS type,
        |    CAST(sum((p1.p * q.q) // 1000000) AS BIGINT) AS p
        |  FROM p1 JOIN q ON p1.type = q.from_type GROUP BY 1),
        |p3 AS (SELECT q.to_type AS type,
        |    CAST(sum((p2.p * q.q) // 1000000) AS BIGINT) AS p
        |  FROM p2 JOIN q ON p2.type = q.from_type GROUP BY 1),
        |p4 AS (SELECT q.to_type AS type,
        |    CAST(sum((p3.p * q.q) // 1000000) AS BIGINT) AS p
        |  FROM p3 JOIN q ON p3.type = q.from_type GROUP BY 1),
        |p5 AS (SELECT q.to_type AS type,
        |    CAST(sum((p4.p * q.q) // 1000000) AS BIGINT) AS p
        |  FROM p4 JOIN q ON p4.type = q.from_type GROUP BY 1),
        |p6 AS (SELECT q.to_type AS type,
        |    CAST(sum((p5.p * q.q) // 1000000) AS BIGINT) AS p
        |  FROM p5 JOIN q ON p5.type = q.from_type GROUP BY 1)
        |SELECT type, p AS stationary_scaled,
        |  CAST(p AS DOUBLE) / 1e9 AS stationary
        |FROM p6 ORDER BY type""".stripMargin,
    // DiD replication: midpoint-day boundary, xxh64 arm split, DECIMAL
    // conditional sums, ITT roster denominators, the same fixed tree.
    "events_did" ->
      s"""WITH e AS (SELECT user_id, event_type, value,
         |    epoch_ms(ts) // 86400000 AS day FROM events),
         |b AS (SELECT (min(day) + max(day) + 1) // 2 AS split_day FROM e),
         |arms AS (SELECT e.*, b.split_day, CASE WHEN
         |    ((${XxhSql.expr("'AB' || CAST(user_id AS VARCHAR)", "42")}
         |      % 2) + 2) % 2 = 0 THEN 'A' ELSE 'B' END AS arm
         |  FROM e, b),
         |g AS (SELECT max(split_day) AS split_day,
         |    count(DISTINCT CASE WHEN arm = 'A' THEN user_id END)
         |      AS users_a,
         |    count(DISTINCT CASE WHEN arm = 'B' THEN user_id END)
         |      AS users_b,
         |    COALESCE(CAST(sum(CASE WHEN arm = 'A' AND day < split_day
         |      AND event_type = 'purchase' THEN CAST(value AS
         |      DECIMAL(28,6)) END) AS DOUBLE), 0e0) AS sa_pre,
         |    COALESCE(CAST(sum(CASE WHEN arm = 'A' AND day >= split_day
         |      AND event_type = 'purchase' THEN CAST(value AS
         |      DECIMAL(28,6)) END) AS DOUBLE), 0e0) AS sa_post,
         |    COALESCE(CAST(sum(CASE WHEN arm = 'B' AND day < split_day
         |      AND event_type = 'purchase' THEN CAST(value AS
         |      DECIMAL(28,6)) END) AS DOUBLE), 0e0) AS sb_pre,
         |    COALESCE(CAST(sum(CASE WHEN arm = 'B' AND day >= split_day
         |      AND event_type = 'purchase' THEN CAST(value AS
         |      DECIMAL(28,6)) END) AS DOUBLE), 0e0) AS sb_post
         |  FROM arms),
         |m AS (SELECT split_day, users_a, users_b,
         |    sa_pre / CAST(users_a AS DOUBLE) AS m_a_pre,
         |    sa_post / CAST(users_a AS DOUBLE) AS m_a_post,
         |    sb_pre / CAST(users_b AS DOUBLE) AS m_b_pre,
         |    sb_post / CAST(users_b AS DOUBLE) AS m_b_post
         |  FROM g)
         |SELECT split_day, users_a, users_b, m_a_pre, m_a_post,
         |  m_b_pre, m_b_post,
         |  (m_b_post - m_b_pre) - (m_a_post - m_a_pre) AS did
         |FROM m""".stripMargin,
    // KS replication: per-user DECIMAL metric, xxh64 arms, cumulative
    // counts over distinct metric values, the same exact-integer D
    "events_ab_ks" ->
      s"""WITH pu AS (SELECT user_id,
         |    COALESCE(CAST(sum(CASE WHEN event_type = 'purchase'
         |      THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE), 0e0)
         |      AS m
         |  FROM events GROUP BY 1),
         |arms AS (SELECT m, CASE WHEN
         |    ((${XxhSql.expr("'AB' || CAST(user_id AS VARCHAR)", "42")}
         |      % 2) + 2) % 2 = 0 THEN 'A' ELSE 'B' END AS arm FROM pu),
         |pv AS (SELECT m, count(CASE WHEN arm = 'A' THEN 1 END) AS ca,
         |    count(CASE WHEN arm = 'B' THEN 1 END) AS cb
         |  FROM arms GROUP BY 1),
         |c AS (SELECT
         |    CAST(sum(ca) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
         |    CAST(sum(cb) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b,
         |    CAST(sum(ca) OVER () AS BIGINT) AS na,
         |    CAST(sum(cb) OVER () AS BIGINT) AS nb
         |  FROM pv),
         |g AS (SELECT max(na) AS users_a, max(nb) AS users_b,
         |    max(abs(cum_a * nb - cum_b * na)) AS d_num FROM c)
         |SELECT users_a, users_b,
         |  CAST(d_num AS DOUBLE) / CAST(users_a * users_b AS DOUBLE)
         |    AS ks_d,
         |  1.36 * sqrt(CAST(users_a + users_b AS DOUBLE) /
         |    CAST(users_a * users_b AS DOUBLE)) AS ks_crit,
         |  CAST(d_num AS DOUBLE) / CAST(users_a * users_b AS DOUBLE) >
         |    1.36 * sqrt(CAST(users_a + users_b AS DOUBLE) /
         |      CAST(users_a * users_b AS DOUBLE)) AS reject
         |FROM g""".stripMargin,
    "events_conversion_latency" ->
      """WITH v AS (SELECT user_id, min(epoch_ms(ts)) AS t_view
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT e.user_id, min(epoch_ms(ts)) AS t_buy
        |  FROM events e JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ms(ts) > v.t_view
        |  GROUP BY 1),
        |l AS (SELECT v.user_id, p.t_buy - v.t_view AS lat
        |  FROM v LEFT JOIN p ON p.user_id = v.user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_viewed,
        |  CAST(count(lat) AS BIGINT) AS n_converted,
        |  CAST(count(lat) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS conversion_rate,
        |  median(lat) AS median_ms, quantile_cont(lat, 0.9) AS p90_ms
        |FROM l""".stripMargin,
    // first-event segment via the identical (ts_ms, event_id) total
    // order; the same AB hash as events_ab_lift; lift = two divisions
    "events_uplift_segments" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |    epoch_ms(ts) AS ts_ms FROM events),
         |fe AS (SELECT user_id, event_type AS segment FROM (
         |    SELECT user_id, event_type, row_number() OVER (
         |      PARTITION BY user_id ORDER BY ts_ms ASC, event_id ASC)
         |      AS rn FROM e) WHERE rn = 1),
         |pu AS (SELECT user_id,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS converted
         |  FROM e GROUP BY 1),
         |arms AS (SELECT segment, converted, CASE WHEN
         |    ((${XxhSql.expr("'AB' || CAST(fe.user_id AS VARCHAR)", "42")}
         |      % 2) + 2) % 2 = 0 THEN 'A' ELSE 'B' END AS arm
         |  FROM fe JOIN pu ON pu.user_id = fe.user_id),
         |g AS (SELECT segment,
         |    count(CASE WHEN arm = 'A' THEN 1 END) AS users_a,
         |    CAST(sum(CASE WHEN arm = 'A' THEN converted ELSE 0 END)
         |      AS BIGINT) AS conv_a,
         |    count(CASE WHEN arm = 'B' THEN 1 END) AS users_b,
         |    CAST(sum(CASE WHEN arm = 'B' THEN converted ELSE 0 END)
         |      AS BIGINT) AS conv_b
         |  FROM arms GROUP BY segment)
         |SELECT segment, users_a, conv_a, users_b, conv_b,
         |  CASE WHEN users_a = 0 OR users_b = 0 THEN NULL
         |    ELSE CAST(conv_b AS DOUBLE) / CAST(users_b AS DOUBLE) -
         |      CAST(conv_a AS DOUBLE) / CAST(users_a AS DOUBLE) END
         |    AS lift
         |FROM g ORDER BY segment""".stripMargin,
    // the events_sessionize window chain verbatim, collapsed to a
    // depth histogram with one share division
    "events_session_depth_dist" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms
        |           FROM events),
        |f AS (SELECT *,
        |    CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id
        |        ORDER BY ts_ms ASC, event_id ASC) IS NULL
        |      OR ts_ms - lag(ts_ms) OVER (PARTITION BY user_id
        |        ORDER BY ts_ms ASC, event_id ASC) > 1800000
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |g AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts_ms ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS session_idx
        |  FROM f),
        |s AS (SELECT user_id, session_idx, count(*) AS n_events
        |  FROM g GROUP BY 1, 2),
        |h AS (SELECT n_events, count(*) AS n_sessions FROM s GROUP BY 1),
        |t AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS n_total FROM h)
        |SELECT n_events, n_sessions,
        |  CAST(n_sessions AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
        |FROM h, t ORDER BY n_events""".stripMargin,
    "events_heavy_user_cap" ->
      """WITH pu AS (SELECT event_type, user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(sum(least(n, 50)) AS BIGINT) AS n_capped,
        |  count(CASE WHEN n > 50 THEN 1 END) AS n_heavy_users,
        |  CAST(sum(least(n, 50)) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
        |    AS kept_share
        |FROM pu GROUP BY event_type ORDER BY event_type""".stripMargin,
    "events_inactivity_churn" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events),
        |lp AS (SELECT user_id, max(ts_ms) AS last_ms FROM e GROUP BY 1),
        |mx AS (SELECT max(ts_ms) AS max_ms FROM e),
        |h AS (SELECT (max_ms - last_ms) // 604800000 AS weeks_inactive,
        |    count(*) AS n_users
        |  FROM lp, mx GROUP BY 1)
        |SELECT weeks_inactive, n_users,
        |  CAST(sum(n_users) OVER (ORDER BY weeks_inactive ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM h ORDER BY weeks_inactive""".stripMargin,
    "events_interarrival" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms
        |  FROM events),
        |g AS (SELECT ts_ms - lag(ts_ms) OVER (PARTITION BY user_id
        |    ORDER BY ts_ms ASC, event_id ASC) AS gap_ms FROM e)
        |SELECT count(*) AS n_gaps, median(gap_ms) AS median_gap_ms,
        |  quantile_cont(gap_ms, 0.9) AS p90_gap_ms,
        |  count(CASE WHEN gap_ms < 60000 THEN 1 END) AS n_under_1m,
        |  CAST(count(CASE WHEN gap_ms < 60000 THEN 1 END) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS under_1m_share
        |FROM g WHERE gap_ms IS NOT NULL""".stripMargin
  )
}
