package graft.queries

import graft.Materialize._

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-analytics operators over the `events` stream that the
  * time-series workload runs daily: gap-based sessionization and
  * gap-filling with last-observation-carried-forward — both pure
  * window/join compositions (no custom physical operator needed), both
  * oracle-checked.
  *
  * Scale shape: sessionization is one shuffle (partition by user) +
  * per-user sort — per-entity keys keep full parallelism (~1e6+ users);
  * gapfill's grid is (types × buckets), tiny relative to events, and the
  * fill is a per-type ordered window. Nothing quadratic, no driver loop.
  */
object TimeseriesQueries {

  private val SessionGapUs = 1800000000L // 30 min
  private val EwmaW = 16 // q133 window: 2^-16 decay is below output resolution
  private val TrigramTopK = 20 // q142 result depth

  val queries: Map[String, Q] = Map(
    // sessionize: a session breaks after a 30-min silence; one row per
    // (user, session) with bounds and size
    "q26_sessionize" -> ((s, dir) => {
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wOrd))
        .withColumn("new_s",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > SessionGapUs, 1).otherwise(0))
        .withColumn("session_no", sum(col("new_s")).over(wRun))
        .groupBy(col("user_id"), col("session_no"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"), col("session_no"))
    }),

    // gapfill + LOCF: hourly per-type averages on a complete hour grid,
    // empty hours carrying the last observed value forward
    "q27_gapfill_locf" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), date_trunc("hour", col("ts")).as("bucket_ts"),
          col("value"))
      val hourly = ev.groupBy(col("event_type"), col("bucket_ts"))
        .agg(davg(col("value")).as("avg_v"))
      val bounds = ev.agg(min(col("bucket_ts")).as("mn"), max(col("bucket_ts")).as("mx"))
      val grid = ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("mn"), col("mx"), expr("interval 1 hour"))).as("bucket_ts"))
      val wFill = Window.partitionBy(col("event_type")).orderBy(col("bucket_ts"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("event_type", "bucket_ts"), "left")
        .withColumn("v_filled",
          round(last(col("avg_v"), ignoreNulls = true).over(wFill), 6))
        .select(col("event_type"), col("bucket_ts"), col("v_filled"))
        .orderBy(col("event_type"), col("bucket_ts"))
    }),

    // ordered-sequence funnel (view → click → purchase): per user, the
    // earliest view, the earliest click strictly after it, the earliest
    // purchase strictly after that. ONE shuffle (groupBy user) + a
    // per-user time-ordered fold — stage k+1's condition compares only
    // against the accumulator's stage-k timestamp (strict ts >), so the
    // result is independent of tie order and matches the oracle's
    // three-level join chain exactly. The oracle spells the naive form
    // (3 joins + 3 aggregations); the fold is the 100 TB shape: a
    // user's funnel needs no other user's rows, so it never re-shuffles.
    "q93_event_funnel" -> ((s, dir) => {
      val nullTs = lit(null).cast("timestamp")
      val folded = aggregate(
        col("evs"),
        struct(nullTs.as("t1"), nullTs.as("t2"), nullTs.as("t3")),
        (acc, e) => struct(
          when(acc("t1").isNull && e("et") === "view", e("ts"))
            .otherwise(acc("t1")).as("t1"),
          when(acc("t2").isNull && acc("t1").isNotNull &&
              e("et") === "click" && e("ts") > acc("t1"), e("ts"))
            .otherwise(acc("t2")).as("t2"),
          when(acc("t3").isNull && acc("t2").isNotNull &&
              e("et") === "purchase" && e("ts") > acc("t2"), e("ts"))
            .otherwise(acc("t3")).as("t3")))
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(
          struct(col("ts"), col("event_type").as("et")))).as("evs"))
        .withColumn("f", folded)
        .select(col("user_id"),
          when(col("f.t3").isNotNull, lit(3))
            .when(col("f.t2").isNotNull, lit(2))
            .when(col("f.t1").isNotNull, lit(1))
            .otherwise(lit(0)).as("stage"),
          col("f.t1").as("t_view"), col("f.t2").as("t_click"),
          col("f.t3").as("t_purchase"))
        .orderBy(col("user_id"))
    }),

    // cohort retention: users grouped by first-active day, counted per
    // day-offset from that cohort. No pre-distinct pass — the user-keyed
    // window stamps each event with its user's cohort, then Spark's
    // two-exchange distinct aggregate collapses duplicate (cohort,
    // offset, user) rows: three keyed data shuffles (window, distinct
    // phase, final count), all linear in events — PlanSpec pins it.
    "q94_cohort_retention" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      t(s, dir, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .withColumn("cohort", min(col("day")).over(w))
        .withColumn("offset_days", datediff(col("day"), col("cohort")))
        .groupBy(col("cohort"), col("offset_days"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort"), col("offset_days"))
    }),

    // rolling-baseline anomaly flags: hourly per-type totals compared
    // against the mean of the populated hours in the trailing 24
    // WALL-CLOCK hours (RANGE frame over an epoch-hour index, current
    // hour excluded — a ROWS frame would silently span gaps in the
    // hourly series, which exist at every SF). Windows with under half
    // coverage carry no trustworthy baseline and are dropped. All
    // arithmetic is decimal-exact until the final rounded ratio, so
    // both engines agree bit-for-bit — a stddev-based z-score would
    // depend on float summation order. One shuffle to the hourly grain,
    // one per-type ordered window over the (tiny) hourly series.
    "q95_rolling_anomaly" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("bucket_ts"))
        .agg(sum(dec(col("value"))).as("hv"))
        .withColumn("hour_idx", expr("unix_micros(bucket_ts) div 3600000000"))
      val wTrail = Window.partitionBy(col("event_type"))
        .orderBy(col("hour_idx")).rangeBetween(-24, -1)
      hourly
        .withColumn("trail_sum", sum(col("hv")).over(wTrail))
        .withColumn("trail_n", count(col("hv")).over(wTrail))
        // a zero baseline (possible when value sums cancel or are 0)
        // would divide by zero — Spark yields Infinity/NaN, DuckDB
        // differs; such rows carry no meaningful ratio, drop them on
        // BOTH sides identically
        .where(col("trail_n") >= 12 && col("trail_sum") =!= 0)
        .select(col("event_type"), col("bucket_ts"),
          col("hv").cast("double").as("hour_value"),
          round((col("hv") * col("trail_n")).cast("double") /
            col("trail_sum").cast("double"), 6).as("ratio_to_baseline"))
        .withColumn("is_anomaly",
          (col("ratio_to_baseline") > 1.5).cast("int"))
        .orderBy(col("event_type"), col("bucket_ts"))
    }),

    // M4 downsampling (Jugel et al., "M4: A Visualization-Oriented Time
    // Series Data Aggregation", VLDB 2014): per (series, bucket) keep
    // min/max/first/last — the error-free envelope for line rendering.
    // ONE shuffle with full map-side partials: first/last ride min_by/
    // max_by over a (ts, event_id) struct key instead of a per-series
    // window sort, so the 100 TB shape is a plain hash aggregate. All
    // four stats are SELECTIONS (no arithmetic), so doubles compare
    // exactly and the oracle (window spelling — DuckDB 1.0's arg_min
    // lacks composite keys) matches bit-for-bit.
    "q118_m4_downsample" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"),
          graft.functions.TimeBucket.time_bucket(
            expr("INTERVAL '15' MINUTE"), col("ts")).as("bucket"))
        .agg(min(col("value")).as("min_v"), max(col("value")).as("max_v"),
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("first_v"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("last_v"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("bucket"))
    }),

    // LTTB downsampling — shape-preserving complement to q118's M4.
    // Rows-only: the largest-triangle chain is sequential per series, so
    // no SQL twin exists (LttbSpec pins endpoint/count/subset/order
    // invariants and planted-spike retention). See operators/Lttb.scala
    // for the O(n/B)-memory streaming shape.
    "q119_lttb_downsample" -> ((s, dir) =>
      graft.operators.Lttb.downsample(
          t(s, dir, "events"), "event_type", "ts", "event_id", "value",
          buckets = 40)
        .orderBy(col("event_type"), col("ts"), col("event_id"))),

    // q119's ORACLE-EXACT twin (r6 verdict #5: convert "trust my spec"
    // into "oracle agrees"): the largest-triangle chain IS expressible
    // in SQL as a 38-step recursive CTE carrying the previously selected
    // vertex per series. Exactness needs every float op to be
    // order-free and bit-reproducible across engines, so the twin runs
    // the same kernel on a transformed frame: x = epoch-µs offset from
    // the global min (bucket-centroid sums stay integer-exact — see
    // Lttb.avgOf), y = integer cents as double (sums exact in any
    // order). The area/centroid formulas are spelled identically in the
    // oracle; results map back to (ts, value) losslessly.
    "q119b_lttb_exact" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // one driver scalar (a metadata-sized min, same idiom as q139's
      // bounds probe) so both engines shift by the identical origin
      val gmin = ev.agg(min(unix_micros(col("ts")))).head().getLong(0)
      val in = ev.select(col("event_type"),
        timestamp_micros(unix_micros(col("ts")) - gmin).as("ts"),
        col("event_id"),
        (dec(col("value")) * 100).cast("long").cast("double").as("cents"))
      graft.operators.Lttb.downsample(
          in, "event_type", "ts", "event_id", "cents", buckets = 40)
        .select(col("event_type"),
          timestamp_micros(unix_micros(col("ts")) + gmin).as("ts"),
          col("event_id"),
          (col("cents") / lit(100.0)).as("value"))
        .orderBy(col("event_type"), col("ts"), col("event_id"))
    }),

    // Counter rate (the PromQL increase()/rate() shape Arc's monitoring
    // users run constantly): per-series non-negative deltas with counter
    // RESETS (delta < 0 ⇒ the counter restarted; the post-reset value is
    // the increase), summed per hour bucket of the later sample. All
    // arithmetic in DECIMAL(18,2) (events.value is generated at 2 dp) so
    // both engines are exact and order-independent. One per-series window
    // + one hash aggregate. The fixture's series key (event_type) is
    // low-cardinality; in a real deployment the key is the full tag-set
    // series id (high cardinality), which is what the shape assumes —
    // skew on a hot series is bounded by that series' sample count.
    "q120_counter_rate" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("event_type"), col("ts"), col("event_id"), dec(col("value")).as("v"))
        .withColumn("prev", lag(col("v"), 1).over(w))
        .withColumn("inc",
          when(col("prev").isNull, lit(0).cast("decimal(18,2)"))
            .when(col("v") >= col("prev"), col("v") - col("prev"))
            .otherwise(col("v")))
        .groupBy(col("event_type"),
          graft.functions.TimeBucket.time_bucket(
            expr("INTERVAL '1' HOUR"), col("ts")).as("bucket"))
        .agg(sum(col("inc")).cast("double").as("increase"),
          count(lit(1)).as("n_samples"))
        .orderBy(col("event_type"), col("bucket"))
    }),

    // hopping (sliding) windows: hourly aggregates advancing every 15
    // minutes — each event lands in 4 overlapping windows. Spark's
    // native sliding `window()` generates the replicas inside the
    // aggregate (one shuffle; map-side partials over 4× the rows, which
    // is the inherent cost of overlap). The oracle spells the identical
    // replication as a cross join with the 4 window offsets.
    "q122_hopping_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"), window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("event_type"), col("window.start").as("ws"),
          col("n"), col("sum_value"))
        .orderBy(col("event_type"), col("ws"))),

    // exact per-bucket quantiles by SELECTION (nearest-rank p50/p95),
    // so doubles match the oracle bit-for-bit — the exact complement of
    // q34's sketches. Rank indexes in pure integer math
    // ((n*95+99) div 100): a double 0.95*n flips ceil() at
    // representation boundaries. Selection runs on GroupQuantile's
    // spillable shuffle-sort ranks — no per-(series, day) value array,
    // so even a pathological hot bucket spills instead of OOMing.
    "q123_bucket_quantiles" -> ((s, dir) => {
      import graft.operators.GroupQuantile
      val byDay = t(s, dir, "events")
        .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
          col("value"))
      GroupQuantile.selectRanks(byDay, Seq("event_type", "day"), "value",
        Seq(
          "p50" -> (n => GroupQuantile.rank(n, 2L)),
          "p95" -> (n => GroupQuantile.idiv(n * lit(95L) + lit(99L), lit(100L)))))
        .select(col("event_type"), col("day"), col("n"), col("p50"), col("p95"))
        .orderBy(col("event_type"), col("day"))
    }),

    // gapfill by LINEAR INTERPOLATION (q27 is the LOCF sibling): hourly
    // integer-cent means on a per-type spine; missing buckets fill with
    //   (pv·(nt−t) + nv·(t−pt)) div (nt−pt)
    // in pure int64 (cents × epoch seconds), so both engines agree
    // bit-for-bit — a double lerp would tie-break differently. The spine
    // is bounded by each type's own min/max DATA bucket, so every
    // interpolated row has both neighbors by construction. Scale: grid is
    // (series × buckets) — tiny next to events — and the fill is one
    // ordered window per series key.
    "q125_gapfill_interp" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        date_trunc("hour", col("ts")).as("bucket_ts"),
        (dec(col("value")) * 100).cast("long").as("cents"))
      val hourly = ev.groupBy(col("event_type"), col("bucket_ts"))
        .agg(expr("sum(cents) div count(1)").as("v"))
      val spine = hourly.groupBy(col("event_type"))
        .agg(min(col("bucket_ts")).as("mn"), max(col("bucket_ts")).as("mx"))
        .select(col("event_type"),
          explode(sequence(col("mn"), col("mx"), expr("interval 1 hour")))
            .as("bucket_ts"))
      val wPrev = Window.partitionBy(col("event_type")).orderBy(col("bucket_ts"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy(col("event_type")).orderBy(col("bucket_ts"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      spine.join(hourly, Seq("event_type", "bucket_ts"), "left")
        .withColumn("t", unix_timestamp(col("bucket_ts")))
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
        .withColumn("pt", last(when(col("v").isNotNull, col("t")),
          ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
        .withColumn("nt", first(when(col("v").isNotNull, col("t")),
          ignoreNulls = true).over(wNext))
        .select(col("event_type"), col("bucket_ts"),
          (coalesce(col("v"),
            expr("(pv * (nt - t) + nv * (t - pt)) div (nt - pt)"))
            .cast("double") / 100.0).as("v_filled"),
          when(col("v").isNotNull, lit("actual")).otherwise(lit("interp"))
            .as("src"))
        .orderBy(col("event_type"), col("bucket_ts"))
    }),

    // burst windows × foreign events: find each type's bursty hours
    // (count > 1.5× its own mean hourly count, in exact integer cross-
    // multiplication), merge consecutive hours into intervals (gaps-and-
    // islands), then count OTHER types' activity inside each interval
    // via the binned containment join — the no-equi-key interval join
    // spelled as an equi-join on hour bins (operators/IntervalJoin).
    // The oracle spells the naive BETWEEN join; the bin path must agree
    // exactly (each pair meets in exactly one bin).
    "q126_interval_join_binned" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"), col("ts"),
        date_trunc("hour", col("ts")).as("h"),
        (dec(col("value")) * 100).cast("long").as("cents"))
      val hourly = ev.groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("cnt"))
      val tot = hourly.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("total"), count(lit(1)).as("n_hours"))
      val bursts = hourly.join(broadcast(tot), "event_type")
        // guarded cross-multiplication (same shape as q135's seasonal
        // predicate): at 100 TB cnt*n_hours can overflow int64, and a
        // silent wrap mis-selects burst windows instead of failing loudly.
        // The outer ×2/×3 are guarded too — a guarded inner product in
        // (Max/2, Max] would still wrap under a bare lit(2L)*
        .where(mulGuard(mulGuard(col("cnt"), col("n_hours"), "burst cnt*n_hours"),
            lit(2L), "burst 2*product") >
          mulGuard(col("total"), lit(3L), "burst 3*total"))
      val wIsl = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val intervals = bursts
        .withColumn("isl",
          expr("unix_timestamp(h) div 3600") - row_number().over(wIsl))
        .groupBy(col("event_type").as("burst_type"), col("isl"))
        .agg(min(col("h")).as("w_start"),
          (max(col("h")) + expr("interval 1 hour")).as("w_end"),
          count(lit(1)).as("n_hours"))
        .drop("isl")
      val pts = ev.select(col("event_type").as("pt_type"), col("ts"),
        col("cents"))
      graft.operators.IntervalJoin
        .binnedContainment(intervals, "w_start", "w_end", pts, "ts", 3600L)
        .where(col("pt_type") =!= col("burst_type"))
        .groupBy(col("burst_type"), col("w_start"), col("n_hours"))
        .agg(count(lit(1)).as("n_other"),
          (sum(col("cents")).cast("double") / 100.0).as("sum_value"))
        .orderBy(col("burst_type"), col("w_start"))
    }),

    // robust per-series outlier gate: median/MAD instead of q95's
    // mean/stddev (a single extreme value inflates stddev and hides
    // its siblings; the median absolute deviation doesn't budge).
    // Exact nearest-rank medians on integer cents via shuffle-sort rank
    // selection (GroupQuantile — spillable sorts, NO per-group
    // collect_list buffer; a hot series splits across range partitions
    // instead of OOMing one task), outlier test |v − med| > 3·MAD in
    // pure int64.
    "q128_robust_outliers" -> ((s, dir) => {
      import graft.operators.GroupQuantile
      val ev = t(s, dir, "events").select(col("event_type"),
        (dec(col("value")) * 100).cast("long").as("c"))
      // med/mad stay UNBARRIERED deliberately (r14, measured): a
      // materialize() here trades the duplicated (parallel) window
      // subtrees for two extra sequential job barriers — +0.3 s at
      // sf0.1 (19 jobs vs 8) — and at scale GroupQuantile's large arm
      // already checkpoints the range-sorted stream inside
      // GlobalRank.rangeSorted, so the duplicated tail is only the
      // cheap post-stamp aggregation
      val med = GroupQuantile.selectRanks(ev, Seq("event_type"), "c",
        Seq("med" -> (n => GroupQuantile.rank(n, 2L))))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("ad", abs(col("c") - col("med")))
      val mad = GroupQuantile.selectRanks(
          dev.select(col("event_type"), col("ad")),
          Seq("event_type"), "ad",
          Seq("mad" -> (n => GroupQuantile.rank(n, 2L))))
        .select(col("event_type"), col("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"), col("n"), col("med"), col("mad"))
        .agg(sum(when(col("ad") > lit(3L) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
        .select(col("event_type"), col("n"),
          (col("med").cast("double") / 100.0).as("median"),
          (col("mad").cast("double") / 100.0).as("mad"),
          col("n_outliers"), round6(col("n_outliers"), col("n")).as("out_rate"))
        .orderBy(col("event_type"))
    }),

    // time-weighted average per (series, day) — the irregular-sampling
    // average every time-series engine ships (TimescaleDB time_weight,
    // InfluxDB integral): each value weighted by how long it held
    // (LOCF until the next sample), over the observed span. Pure int64:
    // cents × MILLIsecond gaps (num ≤ max_cents·86.4e6 ≈ 4.2e12), then
    // 2-dp half-up rounding in cents-domain via the ×200 integer scale
    // (≤ 8.5e14 — round6's ×2e6 would overflow on these numerators,
    // which is exactly why this op rounds at 2 dp). One per-series
    // window + one aggregate. Tie order is pinned by (t, event_id) in
    // BOTH engines — with equal timestamps the value-to-gap pairing
    // would otherwise be nondeterministic.
    "q129_time_weighted_avg" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"),
        date_trunc("day", col("ts")).as("day"),
        expr("unix_micros(ts) div 1000").as("t"),
        (dec(col("value")) * 100).cast("long").as("c"), col("event_id"))
      val w = Window.partitionBy(col("event_type"), col("day"))
        .orderBy(col("t"), col("event_id"))
      e.withColumn("nt", lead(col("t"), 1).over(w))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(when(col("nt").isNull, 0L)
            .otherwise(col("c") * (col("nt") - col("t")))).as("num"),
          (max(col("t")) - min(col("t"))).as("den"),
          min(col("c")).as("c0"), count(lit(1)).as("n_samples"))
        .select(col("event_type"), col("day"), col("n_samples"),
          when(col("den") > 0L,
            expr("(num * 200 + den) div (den * 2)").cast("double") / 10000.0)
            .otherwise(col("c0").cast("double") / 100.0).as("twa"))
        .orderBy(col("event_type"), col("day"))
    }),

    // heartbeat gap detection (dead-man monitoring): per series, flag
    // inter-event silences longer than 3× the series' own mean gap.
    // The test cross-multiplies in int64 — gap·(n−1) > 3·span — so no
    // division touches the predicate; mean-gap stats broadcast back.
    "q130_heartbeat_gaps" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"), col("ts"),
        unix_micros(col("ts")).as("t"), col("event_id"))
      val stats = e.groupBy(col("event_type"))
        .agg((max(col("t")) - min(col("t"))).as("span"),
          (count(lit(1)) - 1L).as("n1"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("t"), col("event_id"))
      e.withColumn("nt", lead(col("t"), 1).over(w))
        .withColumn("gap_end", lead(col("ts"), 1).over(w))
        .where(col("nt").isNotNull)
        .join(broadcast(stats), "event_type")
        .where((col("nt") - col("t")) * col("n1") > lit(3L) * col("span"))
        .select(col("event_type"), col("ts").as("gap_start"), col("gap_end"),
          (col("nt") - col("t")).as("gap_us"))
        .orderBy(col("event_type"), col("gap_start"))
    }),

    // EWMA smoothing of the hourly peak — exponential decay with α = 1/2
    // so every weight is a POWER OF TWO and the whole smoother is exact
    // int64 rational arithmetic (a float-α EWMA is recursive and its
    // rounding order diverges between engines). Windowed to the last
    // W=16 hours: 2^-16 ≈ 1.5e-5 is below the 4-dp output resolution,
    // so the truncation is invisible, and the bounded frame keeps the
    // per-row weight sum in int64 (peak_cents · 2^16 ≈ 3e9 here;
    // mulGuard-free headroom to peak ~ 4.6e13 cents). One hourly
    // pre-aggregation (events collapse ~1e4:1) + one per-series window
    // — the raw stream is never window-sorted.
    "q133_ewma_smooth" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .select(col("event_type"), date_trunc("hour", col("ts")).as("bucket_ts"),
          (dec(col("value")) * 100).cast("long").as("c"))
        .groupBy(col("event_type"), col("bucket_ts"))
        .agg(max(col("c")).as("peak"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("bucket_ts"))
        .rowsBetween(-(EwmaW - 1), Window.currentRow)
      hourly
        .withColumn("vs", collect_list(col("peak")).over(w))
        // element i (0-based, oldest first) carries weight 2^i — the
        // most recent sample gets 2^(m-1); normalizer 2^m − 1
        .withColumn("num", expr(
          """aggregate(transform(vs, (x, i) -> x * shiftleft(CAST(1 AS BIGINT), i)),
            |CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin))
        .withColumn("den", expr("shiftleft(CAST(1 AS BIGINT), size(vs)) - 1"))
        .select(col("event_type"), col("bucket_ts"),
          (col("peak").cast("double") / 100.0).as("peak_v"),
          // 2-dp half-up in cents domain (q129's ×200 scale), → dollars
          expr("(num * 200 + den) div (den * 2)").cast("double")
            .divide(10000.0).as("ewma"))
        .orderBy(col("event_type"), col("bucket_ts"))
    }),

    // co-movement correlation matrix: Pearson r between the hourly
    // count series of every event-type pair, on the zero-filled common
    // hour grid. EXACT despite the double output: all five moment sums
    // are int64 (mulGuarded), and the final r = cov/√(vx·vy) is three
    // IEEE ops (multiply, sqrt, divide — all correctly rounded), so
    // both engines produce bit-identical doubles with no rounding
    // fudge. Scale: the grid is (types × hours) — events pre-aggregate
    // ~1e4:1 before the pair join, and the pair count is #types², not
    // rows².
    "q134_lag_correlation" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), date_trunc("hour", col("ts")).as("bucket_ts"))
      val hourly = ev.groupBy(col("event_type"), col("bucket_ts"))
        .agg(count(lit(1)).as("n"))
      val bounds = ev.agg(min(col("bucket_ts")).as("mn"), max(col("bucket_ts")).as("mx"))
      val grid = ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("mn"), col("mx"), expr("interval 1 hour"))).as("bucket_ts"))
      val c = grid.join(hourly, Seq("event_type", "bucket_ts"), "left")
        .select(col("event_type"), col("bucket_ts"),
          coalesce(col("n"), lit(0L)).as("cnt"))
      val a = c.select(col("event_type").as("ta"), col("bucket_ts"), col("cnt").as("x"))
      val b = c.select(col("event_type").as("tb"), col("bucket_ts"), col("cnt").as("y"))
      val p = a.join(b, Seq("bucket_ts")).where(col("ta") < col("tb"))
        .groupBy(col("ta"), col("tb"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val vx = mulGuard(col("n"), col("sxx"), "corr vx") -
        mulGuard(col("sx"), col("sx"), "corr sx2")
      val vy = mulGuard(col("n"), col("syy"), "corr vy") -
        mulGuard(col("sy"), col("sy"), "corr sy2")
      val cov = mulGuard(col("n"), col("sxy"), "corr cov") -
        mulGuard(col("sx"), col("sy"), "corr sxsy")
      p.select(col("ta"), col("tb"), col("n"),
          when(vx === 0L || vy === 0L, lit(null).cast("double"))
            .otherwise(cov.cast("double") / sqrt(vx.cast("double") * vy.cast("double")))
            .as("r"))
        .orderBy(col("ta"), col("tb"))
    }),

    // seasonal (hour-of-week) baseline anomalies: each populated hour
    // compared against the mean count its weekly slot has shown across
    // the whole span (zero-filled grid, so quiet weeks count). The
    // predicate 3·cnt·n_slots > 4·slot_sum (cnt above 4/3 of the slot
    // mean — non-degenerate at every SF; a 2× bar flags nothing at
    // sf0.1's density) is int64 cross-multiplied — no division; the ≥3
    // floor keeps one-off blips out. Complements q95
    // (trailing-24h baseline): this one catches "busy for a Tuesday
    // 3am", which a trailing window normalizes away.
    "q135_seasonal_baseline" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), date_trunc("hour", col("ts")).as("bucket_ts"))
      val hourly = ev.groupBy(col("event_type"), col("bucket_ts"))
        .agg(count(lit(1)).as("n"))
      val bounds = ev.agg(min(col("bucket_ts")).as("mn"), max(col("bucket_ts")).as("mx"))
      val grid = ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("mn"), col("mx"), expr("interval 1 hour"))).as("bucket_ts"))
      val slots = grid.join(hourly, Seq("event_type", "bucket_ts"), "left")
        .select(col("event_type"), col("bucket_ts"),
          coalesce(col("n"), lit(0L)).as("cnt"),
          ((dayofweek(col("bucket_ts")) - 1) * 24 + hour(col("bucket_ts"))).as("how"))
      val base = slots.groupBy(col("event_type"), col("how"))
        .agg(sum(col("cnt")).as("slot_sum"), count(lit(1)).as("n_slots"))
      slots.join(broadcast(base), Seq("event_type", "how"))
        .where(col("cnt") >= 3L &&
          lit(3L) * mulGuard(col("cnt"), col("n_slots"), "seasonal") >
            lit(4L) * col("slot_sum"))
        .select(col("event_type"), col("bucket_ts"), col("cnt"),
          round6(col("slot_sum"), col("n_slots")).as("baseline"))
        .orderBy(col("event_type"), col("bucket_ts"))
    }),

    // Markov transition matrix over per-user event sequences: counts
    // and row-normalized probabilities for (event_type → next_type).
    // One user-keyed window (full parallelism across ~1e6+ users), then
    // a 25-row aggregate; probability is the exact integer round6
    // rational. The per-from-type total rides a window over the TINY
    // aggregated frame, not the event stream.
    "q136_event_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n_trans"))
        .withColumn("n_from",
          sum(col("n_trans")).over(Window.partitionBy(col("event_type"))))
        .select(col("event_type"), col("next_type"), col("n_trans"),
          round6(col("n_trans"), col("n_from")).as("p_trans"))
        .orderBy(col("event_type"), col("next_type"))
    }),

    // SCD2-style state intervals: collapse each user's consecutive
    // equal event_types into validity windows [valid_from, valid_to)
    // chained so each interval ends where the next begins (open-ended
    // current state = null valid_to) — the standard
    // snapshot-to-dimension build. Gaps-and-islands: change flag → run
    // number (running sum) → one aggregate; everything inside a single
    // user-keyed partition, two window passes, no self-join.
    "q137_state_intervals" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("chg",
          when(lag(col("event_type"), 1).over(w).isNull ||
            lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("run_no", sum(col("chg")).over(wRun))
        .groupBy(col("user_id"), col("run_no"))
        .agg(min(col("event_type")).as("state"),
          min(col("ts")).as("valid_from"), count(lit(1)).as("n_events"))
        .withColumn("valid_to", lead(col("valid_from"), 1)
          .over(Window.partitionBy(col("user_id")).orderBy(col("run_no"))))
        .select(col("user_id"), col("run_no"), col("state"),
          col("valid_from"), col("valid_to"), col("n_events"))
        .orderBy(col("user_id"), col("run_no"))
    }),

    // per-(series, day) OLS trend slope — EXACT rational arithmetic:
    // x = minutes into the day (integer), y = cents, slope =
    // (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) in cents/minute rounded via the
    // signed integer round6. Minute-grained x keeps the numerator
    // inside round6's ~4.6e12 headroom (second-grained would overflow
    // the ×2e6 rounding scale — same lesson as q129); every product is
    // mulGuarded so a 100 TB day that outgrows int64 fails loudly. The
    // trend label is a division-free cross-multiplied threshold. One
    // shuffle (the day aggregate); the moment sums are map-side
    // partials.
    "q140_trend_slope" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"),
        date_trunc("day", col("ts")).as("day"),
        expr("(unix_micros(ts) - unix_micros(date_trunc('day', ts))) div 60000000")
          .as("x"),
        (dec(col("value")) * 100).cast("long").as("y"))
      val m = e.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .where(col("n") >= 3L)
      val a = mulGuard(col("n"), col("sxy"), "slope cov") -
        mulGuard(col("sx"), col("sy"), "slope sxsy")
      val b = mulGuard(col("n"), col("sxx"), "slope var") -
        mulGuard(col("sx"), col("sx"), "slope sx2")
      m.where(b > 0L)
        .select(col("event_type"), col("day"), col("n"),
          round6Signed(a, b).as("slope_cpm"),
          // |slope| > 0.5 cents/min ⟺ 2|A| > B
          when(lit(2L) * abs(a) <= b, "flat")
            .when(a > 0L, "rising").otherwise("falling").as("trend"))
        .orderBy(col("event_type"), col("day"))
    }),

    // winsorized robust mean: clamp each series' values at its own
    // exact nearest-rank P05/P95 (integer index — no float percentile
    // ambiguity), then the clamped mean as an exact rational. The
    // quantile pass is GroupQuantile's shuffle-sort rank selection
    // (spillable sorts, no per-group arrays — any series size
    // survives); the clamp pass re-joins through a broadcast. Reports
    // how much mass the tails carried — the "is the mean trustworthy"
    // one-liner.
    "q141_winsorize" -> ((s, dir) => {
      import graft.operators.GroupQuantile
      val ev = t(s, dir, "events").select(col("event_type"),
        (dec(col("value")) * 100).cast("long").as("c"))
      val qs = GroupQuantile.selectRanks(ev, Seq("event_type"), "c", Seq(
        "lo" -> (n => GroupQuantile.rank(n, 20L)),
        "hi" -> (n => GroupQuantile.idiv(lit(19L) * n + lit(19L), lit(20L)))))
      ev.join(broadcast(qs), "event_type")
        .groupBy(col("event_type"), col("n"), col("lo"), col("hi"))
        .agg(sum(when(col("c") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("c") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
          sum(greatest(col("lo"), least(col("hi"), col("c")))).as("wsum"))
        .select(col("event_type"), col("n"),
          (col("lo").cast("double") / 100.0).as("p05"),
          (col("hi").cast("double") / 100.0).as("p95"),
          col("n_lo"), col("n_hi"),
          // winsorized mean in dollars at 4 dp: cents ratio × 100
          expr("(wsum * 200 + n) div (n * 2)").cast("double")
            .divide(10000.0).as("wmean"))
        .orderBy(col("event_type"))
    }),

    // top event-type trigrams ("paths"): the sequence-mining sibling of
    // q136's pair transitions — per-user ordered 3-grams, counted and
    // ranked. Two leads inside ONE user-keyed window (no self-joins,
    // no sequence explosion), then a T³-row aggregate and a top-k that
    // compiles to TakeOrdered.
    "q142_trigram_paths" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .where(col("e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_paths"))
        .orderBy(col("n_paths").desc, col("path"))
        .limit(TrigramTopK)
    }),

    // CUSUM control chart (Page 1954): per series, the classic
    // changepoint detector — S⁺/S⁻ accumulate deviations from the
    // series' own exact median, alarm and reset when either excursion
    // crosses 4·MAD. Everything is int64 (cents): target and threshold
    // come from GroupQuantile's shuffle-sort nearest-rank selection
    // (spillable sorts — no per-group value arrays), and the recursion
    // — inherently sequential per series — STREAMS each series through
    // `flatMapSortedGroups` in (tt, event_id) order: Spark's secondary
    // sort delivers the rows without materializing the group, and the
    // fold state is four int64 counters, O(1) per series at any length.
    "q144_cusum_alerts" -> ((s, dir) => {
      import graft.operators.GroupQuantile
      import s.implicits._
      val ev = t(s, dir, "events").select(col("event_type"),
        unix_micros(col("ts")).as("tt"), col("event_id"),
        (dec(col("value")) * 100).cast("long").as("c"))
      // med stays unbarriered (r14, measured — see q128): the barrier
      // costs more sequential job latency than the duplicated parallel
      // window subtree, and the large arm checkpoints internally
      val med = GroupQuantile.selectRanks(
        ev.select(col("event_type"), col("c")), Seq("event_type"), "c",
        Seq("med" -> (n => GroupQuantile.rank(n, 2L))))
      val mad = GroupQuantile.selectRanks(
          ev.join(broadcast(med), "event_type")
            .select(col("event_type"), abs(col("c") - col("med")).as("ad")),
          Seq("event_type"), "ad",
          Seq("mad" -> (n => GroupQuantile.rank(n, 2L))))
        .select(col("event_type"), col("mad"))
      // per-series (n, med, h) is a 5-row frame: ship it IN the fold
      // closure instead of joining it onto the event stream — the
      // groupByKey shuffle then carries 4 columns, not 7 (same move as
      // the query-side broadcast collects elsewhere; bounded by the
      // series count, never the corpus)
      val params: Map[String, (Long, Long, Long)] = med.join(mad, "event_type")
        .withColumn("h", greatest(lit(4L) * col("mad"), lit(1L)))
        .select(col("event_type"), col("n"), col("med"), col("h"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val folded = ev
        .select(col("event_type"), col("tt"), col("event_id"), col("c"))
        .as[(String, Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapSortedGroups(col("tt"), col("event_id")) { (et, it) =>
          // params.get, not apply: a null/unseen event_type group (the
          // collected params frame came through an equi-join that drops
          // null keys) must skip, not throw NoSuchElementException
          // inside the task
          params.get(et) match {
            case None => Iterator.empty
            case Some((n, med, h)) =>

          var sp = 0L; var sm = 0L; var nh = 0L; var nl = 0L
          it.foreach { case (_, _, _, c) =>
            val spn = math.max(0L, sp + (c - med))
            val smn = math.max(0L, sm + (med - c))
            if (spn > h) { nh += 1; sp = 0L } else sp = spn
            if (smn > h) { nl += 1; sm = 0L } else sm = smn
          }
          Iterator((et, n, med, h, nh, nl))
          }
        }
        .toDF("event_type", "n", "med", "h", "n_alarms_hi", "n_alarms_lo")
      folded.select(col("event_type"), col("n"),
          (col("med").cast("double") / 100.0).as("target"),
          (col("h").cast("double") / 100.0).as("threshold"),
          col("n_alarms_hi"), col("n_alarms_lo"))
        .orderBy(col("event_type"))
    }),

    // sliding-window EXACT distinct: per (type, hour), how many
    // distinct users were active in the trailing 24 h — the classic
    // "rolling DAU" that naive engines recompute per hour (24× the
    // work) or approximate with sketches. O(n) shape: a user's
    // presence hours merge into covered intervals ([p, p+23] unions —
    // consecutive presences ≤24 h apart chain into one island), each
    // island emits two boundary deltas (+1 at start, −1 past end), and
    // one prefix sum over the per-type hourly deltas yields every
    // hour's exact count. Shuffles: presence distinct, the per-user
    // island window, the per-type delta aggregate — all linear; the
    // user×hour cross product never materializes. The oracle spells
    // the naive 24-hour range join.
    "q146_sliding_distinct" -> ((s, dir) => {
      val W = 24L
      val pres = t(s, dir, "events")
        .select(col("event_type"), col("user_id"),
          expr("unix_micros(ts) div 3600000000").as("h"))
        .distinct()
      val wU = Window.partitionBy(col("event_type"), col("user_id"))
        .orderBy(col("h"))
      val wRun = wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val islands = pres
        .withColumn("prev", lag(col("h"), 1).over(wU))
        .withColumn("brk",
          when(col("prev").isNull || col("h") - col("prev") > W, 1L)
            .otherwise(0L))
        .withColumn("isl", sum(col("brk")).over(wRun))
        .groupBy(col("event_type"), col("user_id"), col("isl"))
        .agg(min(col("h")).as("h0"), (max(col("h")) + W - 1L).as("h1"))
      val deltas = islands.select(col("event_type"),
          explode(array(struct(col("h0").as("h"), lit(1L).as("d")),
            struct((col("h1") + 1L).as("h"), lit(-1L).as("d")))).as("b"))
        .select(col("event_type"), col("b.h").as("h"), col("b.d").as("d"))
        .groupBy(col("event_type"), col("h")).agg(sum(col("d")).as("d"))
      val bounds = pres.agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
      val grid = pres.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("mn"), col("mx"))).as("h"))
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(deltas, Seq("event_type", "h"), "left")
        .withColumn("active_24h", sum(coalesce(col("d"), lit(0L))).over(wCum))
        .select(col("event_type"),
          timestamp_micros(col("h") * 3600000000L).as("bucket_ts"),
          col("active_24h"))
        .orderBy(col("event_type"), col("bucket_ts"))
    }),

    // funnel latency quartiles: for users who advanced a stage, the
    // exact nearest-rank P25/P50/P75 of the conversion delay — q93's
    // per-user fold (same semantics: earliest strictly-later event)
    // composed with the exact integer quantile idiom. Latencies land
    // in whole seconds (µs div 1e6) so both engines select identical
    // ranks; per-stage lists are user-bounded (one delay per
    // converting user) — sketch path applies beyond memory, as with
    // q128.
    "q147_funnel_latency" -> ((s, dir) => {
      val nullTs = lit(null).cast("timestamp")
      val folded = aggregate(
        col("evs"),
        struct(nullTs.as("t1"), nullTs.as("t2"), nullTs.as("t3")),
        (acc, e) => struct(
          when(acc("t1").isNull && e("et") === "view", e("ts"))
            .otherwise(acc("t1")).as("t1"),
          when(acc("t2").isNull && acc("t1").isNotNull &&
              e("et") === "click" && e("ts") > acc("t1"), e("ts"))
            .otherwise(acc("t2")).as("t2"),
          when(acc("t3").isNull && acc("t2").isNotNull &&
              e("et") === "purchase" && e("ts") > acc("t2"), e("ts"))
            .otherwise(acc("t3")).as("t3")))
      val f = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(
          struct(col("ts"), col("event_type").as("et")))).as("evs"))
        .withColumn("f", folded)
        .select(col("f.t1").as("t1"), col("f.t2").as("t2"), col("f.t3").as("t3"))
      val stages = f.where(col("t2").isNotNull)
        .select(lit("view>click").as("stage"),
          expr("(unix_micros(t2) - unix_micros(t1)) div 1000000").as("lat_s"))
        .unionAll(f.where(col("t3").isNotNull)
          .select(lit("click>purchase").as("stage"),
            expr("(unix_micros(t3) - unix_micros(t2)) div 1000000").as("lat_s")))
      // per-stage latency lists are one entry PER CONVERTING USER — a
      // corpus-sized group at scale, so the quartiles take GroupQuantile's
      // spillable shuffle-sort ranks, not a collect_list buffer
      graft.operators.GroupQuantile.selectRanks(stages, Seq("stage"), "lat_s",
        Seq(
          "p25_s" -> (n => graft.operators.GroupQuantile.rank(n, 4L)),
          "p50_s" -> (n => graft.operators.GroupQuantile.rank(n, 2L)),
          "p75_s" -> (n => graft.operators.GroupQuantile.idiv(
            lit(3L) * n + lit(3L), lit(4L)))))
        .select(col("stage"), col("n"), col("p25_s"), col("p50_s"), col("p75_s"))
        .orderBy(col("stage"))
    }),

    // value-distribution drift over time: per series, total-variation
    // distance between the $50-bin value histograms of the first and
    // second halves of the span — the "has this metric's shape
    // changed" monitor (the log-free exact sibling of PSI, which needs
    // transcendentals both engines round differently). q110's integer
    // trick: TV = Σ|c1·n2 − c2·n1| / (2·n1·n2) keeps every numerator
    // in int64 (mulGuarded), one division at the end. Two keyed
    // aggregates over the event stream; histograms are (series × bins)
    // rows.
    "q149_value_drift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .crossJoin(broadcast(t(s, dir, "events")
          .agg(min(unix_micros(col("ts"))).as("t0"),
            max(unix_micros(col("ts"))).as("t1"))))
        .select(col("event_type"),
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint) div 5000")
            .as("bin"),
          when(unix_micros(col("ts")) * 2 < col("t0") + col("t1"), 1L)
            .otherwise(2L).as("half"))
      val h = ev.groupBy(col("event_type"), col("bin"))
        .agg(sum(when(col("half") === 1L, 1L).otherwise(0L)).as("c1"),
          sum(when(col("half") === 2L, 1L).otherwise(0L)).as("c2"))
      // per-series totals roll up from the histogram instead of a second
      // pass over the raw stream (same move as q161; r14, guide §2.4)
      val tot = h.groupBy(col("event_type"))
        .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      h.join(broadcast(tot), "event_type")
        .groupBy(col("event_type"), col("n1"), col("n2"))
        .agg(sum(abs(mulGuard(col("c1"), col("n2"), "drift c1n2") -
          mulGuard(col("c2"), col("n1"), "drift c2n1"))).as("num"))
        .where(col("n1") > 0L && col("n2") > 0L)
        .select(col("event_type"), col("n1"), col("n2"),
          round6(col("num"),
            lit(2L) * mulGuard(col("n1"), col("n2"), "drift den")).as("tv"))
        .orderBy(col("event_type"))
    }),

    // churn / reactivation ledger: per day, users RETURNING after a
    // dormancy-length silence and users GOING dormant that day (their
    // next event is beyond the dormancy horizon, or never —
    // right-censored: the span's last horizon can't prove churn and is
    // excluded from churn counting, the standard survival-analysis
    // guard). Horizon = 2 days, calibrated non-degenerate at every SF
    // (this generator's users never sleep 14 days; max observed gap is
    // 3/4/6 days at sf0.001/0.01/0.1). One user-keyed
    // window (lag + lead), integer day arithmetic, then a day-grid
    // aggregate; no self-joins, no per-day recount.
    "q152_churn_ledger" -> ((s, dir) => {
      val DormantDays = 2L
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"),
          datediff(date_trunc("day", col("ts")),
            lit("1970-01-01").cast("date")).cast("long").as("d"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val marked = ev
        .withColumn("prev_d", lag(col("d"), 1).over(w))
        .withColumn("next_d", lead(col("d"), 1).over(w))
        .crossJoin(broadcast(ev.agg(max(col("d")).as("dmax"))))
        .select(col("d"),
          // same strict inequality as the churn side: a return counts
          // only when the preceding silence EXCEEDED the horizon, so
          // every reactivation pairs with exactly one earlier churn
          // (the ledger balances up to right-censoring)
          when(col("prev_d").isNotNull &&
            col("d") - col("prev_d") > DormantDays, 1L).otherwise(0L)
            .as("react"),
          when(col("d") <= col("dmax") - DormantDays &&
            (col("next_d").isNull || col("next_d") - col("d") > DormantDays),
            1L).otherwise(0L).as("churn"))
      marked.groupBy(col("d"))
        .agg(sum(col("react")).as("n_reactivated"),
          sum(col("churn")).as("n_churned"))
        .where(col("n_reactivated") > 0L || col("n_churned") > 0L)
        .select(timestamp_micros(col("d") * 86400000000L).as("day"),
          col("n_reactivated"), col("n_churned"))
        .orderBy(col("day"))
    }),

    // last-touch purchase attribution: each purchase credited to the
    // FIRST event type (the "channel") of its enclosing session.
    // Revenue sums ride the exact decimal path.
    //
    // ONE window pass (r15): the enclosing session's entry channel is a
    // running `last(entry-marker, ignoreNulls)` over the SAME
    // (user, ts, event_id) sort the session-boundary lag already needs
    // — a session's first row (by that order) is exactly the row the
    // boundary predicate marks, so every later row's "latest marked
    // event_type" IS its session's channel. The former shape composed
    // q26's sessionization into a session frame, re-scanned events for
    // purchases, and as-of joined the two (union + a SECOND user-keyed
    // window sort): the join only re-derived state the first window
    // already held (every purchase's matching session_start is its own
    // session's — session starts are > gap apart, so the as-of backward
    // match can never skip to another session). Guide §2.4: 2 events
    // scans → 1, 2 user-keyed sorts → 1, as-of union exchange deleted.
    // cents is computed map-side for purchase rows only, so the window
    // shuffle carries one mostly-null long, not the raw value string.
    "q153_attribution" -> ((s, dir) => {
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          when(col("event_type") === "purchase",
            (dec(col("value")) * 100).cast("long")).as("cents"))
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wOrd))
        .withColumn("channel",
          last(when(col("prev_us").isNull ||
              unix_micros(col("ts")) - col("prev_us") > SessionGapUs,
            col("event_type")), ignoreNulls = true).over(wRun))
        .where(col("event_type") === "purchase")
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          (sum(col("cents")).cast("double") / 100.0).as("revenue"))
        .orderBy(col("channel"))
    }),

    // day-over-day rank movers ("trending" report): each type's volume
    // rank within its day vs the previous day — rank math is pure
    // integers so movement is exact; the daily pre-aggregate collapses
    // the stream before any window touches it (days × types rows).
    // Absent-yesterday types surface with a null prev_rank instead of
    // a fabricated movement.
    "q154_rank_movers" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val wDay = Window.partitionBy(col("day"))
        .orderBy(col("n").desc, col("event_type"))
      val wType = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily
        .withColumn("rk", rank().over(wDay).cast("long"))
        .withColumn("prev_day", lag(col("day"), 1).over(wType))
        .withColumn("prev_rk", lag(col("rk"), 1).over(wType))
        .select(col("day"), col("event_type"), col("n"), col("rk"),
          when(col("prev_day") === col("day") - expr("interval 1 day"),
            col("prev_rk")).as("prev_rank"),
          when(col("prev_day") === col("day") - expr("interval 1 day"),
            col("prev_rk") - col("rk")).as("moved"))
        .orderBy(col("day"), col("rk"), col("event_type"))
    }),

    // value concentration ("whale report"): the share of each type's
    // total value carried by its top-decile users — exact rational:
    // integer cents totals, the decile size is the ceiling rank
    // (n+9) div 10, the share a round6 ratio. Per-user totals collapse
    // the stream first; the top-decile selection rides a per-type
    // rank window over the USER-level frame (users ≪ events), never
    // the stream.
    "q155_value_concentration" -> ((s, dir) => {
      val totals = t(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum((dec(col("value")) * 100).cast("long")).as("cents"))
      val wRank = Window.partitionBy(col("event_type"))
        .orderBy(col("cents").desc, col("user_id"))
      totals
        .withColumn("rk", row_number().over(wRank).cast("long"))
        .withColumn("nu",
          count(lit(1)).over(Window.partitionBy(col("event_type"))))
        .withColumn("k", expr("(nu + 9) div 10"))
        .groupBy(col("event_type"))
        .agg(max(col("nu")).as("n_users"), max(col("k")).as("top_k"),
          sum(col("cents")).as("tot"),
          sum(when(col("rk") <= col("k"), col("cents")).otherwise(0L))
            .as("top_cents"))
        .select(col("event_type"), col("n_users"), col("top_k"),
          (col("tot").cast("double") / 100.0).as("total_value"),
          round6(col("top_cents"), col("tot")).as("top_share"))
        .orderBy(col("event_type"))
    }),

    // two-sample Kolmogorov–Smirnov drift: per series, the exact KS
    // statistic max|F1(v) − F2(v)| between the first- and second-half
    // value distributions — q149's TV distance catches mass moving
    // BETWEEN bins; KS catches the shift/shape change a coarse
    // histogram smears away, and is the standard distribution-drift
    // test a feature-monitoring pipeline runs. Same half-split
    // convention as q149; values quantized to cents (int64) so the
    // ECDF support is discrete and both engines agree bit-for-bit;
    // D = |cum1·n2 − cum2·n1| stays integral (mulGuard-ed), one
    // rounded division at the end. The cumulative window partitions by
    // series and runs over the (series × distinct cents) frame —
    // bounded by the value DOMAIN, not the event count, so the
    // per-series window task stays small at any corpus scale.
    "q161_ks_drift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .crossJoin(broadcast(t(s, dir, "events")
          .agg(min(unix_micros(col("ts"))).as("t0"),
            max(unix_micros(col("ts"))).as("t1"))))
        .select(col("event_type"),
          (dec(col("value")) * 100).cast("long").as("v"),
          when(unix_micros(col("ts")) * 2 < col("t0") + col("t1"), 1L)
            .otherwise(2L).as("half"))
      val g = ev.groupBy(col("event_type"), col("v"))
        .agg(sum(when(col("half") === 1L, 1L).otherwise(0L)).as("c1"),
          sum(when(col("half") === 2L, 1L).otherwise(0L)).as("c2"))
      // per-series totals ROLL UP from the grouped frame instead of
      // re-aggregating the raw stream — the before plan scanned events
      // four times (ev evaluated once per consumer, and each ev carries
      // its own min/max bounds scan); identical sums (r14, guide §2.4)
      val tot = g.groupBy(col("event_type"))
        .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      val wc = Window.partitionBy(col("event_type")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("cum1", sum(col("c1")).over(wc))
        .withColumn("cum2", sum(col("c2")).over(wc))
        .join(broadcast(tot), "event_type")
        .where(col("n1") > 0L && col("n2") > 0L)
        .groupBy(col("event_type"), col("n1"), col("n2"))
        .agg(max(abs(mulGuard(col("cum1"), col("n2"), "ks c1n2") -
          mulGuard(col("cum2"), col("n1"), "ks c2n1"))).as("ks_num"))
        .select(col("event_type"), col("n1"), col("n2"),
          round6(col("ks_num"),
            mulGuard(col("n1"), col("n2"), "ks den")).as("ks"))
        .orderBy(col("event_type"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q26_sessionize" ->
      s"""WITH d AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
         |    epoch_us(CAST(ts AS TIMESTAMP)) -
         |      LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER
         |        (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
         |  FROM events),
         |s AS (SELECT user_id, ts,
         |    CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > $SessionGapUs
         |                  THEN 1 ELSE 0 END) OVER
         |      (PARTITION BY user_id ORDER BY ts, event_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS session_no
         |  FROM d)
         |SELECT user_id, session_no, MIN(ts) AS session_start,
         |  MAX(ts) AS session_end, COUNT(*) AS n_events
         |FROM s GROUP BY user_id, session_no
         |ORDER BY user_id, session_no""".stripMargin,

    "q27_gapfill_locf" ->
      s"""WITH ev AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_ts,
         |    value FROM events),
         |hourly AS (SELECT event_type, bucket_ts, ${oAvg("value")} AS avg_v
         |  FROM ev GROUP BY event_type, bucket_ts),
         |bounds AS (SELECT MIN(bucket_ts) AS mn, MAX(bucket_ts) AS mx FROM ev),
         |grid AS (SELECT t.event_type, g.bucket_ts
         |  FROM (SELECT DISTINCT event_type FROM ev) t
         |  CROSS JOIN (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR))
         |              AS bucket_ts FROM bounds) g)
         |SELECT event_type, bucket_ts,
         |  round(LAST_VALUE(avg_v IGNORE NULLS) OVER
         |    (PARTITION BY event_type ORDER BY bucket_ts
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_filled
         |FROM grid LEFT JOIN hourly USING (event_type, bucket_ts)
         |ORDER BY event_type, bucket_ts""".stripMargin,

    // the naive three-level join chain — strict ts > at each level, so
    // it agrees with the Spark fold under any tie order
    "q93_event_funnel" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
         |  FROM events),
         |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM e
         |  WHERE event_type = 'view' GROUP BY user_id),
         |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
         |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
         |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM e JOIN s2 USING (user_id)
         |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id),
         |u AS (SELECT DISTINCT user_id FROM e)
         |SELECT u.user_id,
         |  CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
         |       WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage,
         |  t1 AS t_view, t2 AS t_click, t3 AS t_purchase
         |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
         |  LEFT JOIN s3 USING (user_id)
         |ORDER BY user_id""".stripMargin,

    "q94_cohort_retention" ->
      s"""WITH a AS (SELECT user_id,
         |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events),
         |c AS (SELECT user_id, MIN(day) AS cohort FROM a GROUP BY user_id)
         |SELECT cohort, CAST(date_diff('day', cohort, day) AS INT) AS offset_days,
         |  CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
         |FROM a JOIN c USING (user_id)
         |GROUP BY cohort, offset_days ORDER BY cohort, offset_days""".stripMargin,

    "q95_rolling_anomaly" ->
      s"""WITH hourly AS (SELECT event_type,
         |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_ts,
         |    SUM(CAST(value AS DECIMAL(18,2))) AS hv,
         |    epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 3600000000
         |      AS hour_idx
         |  FROM events GROUP BY 1, 2),
         |r AS (SELECT event_type, bucket_ts, hv,
         |    SUM(hv) OVER (PARTITION BY event_type ORDER BY hour_idx
         |      RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS trail_sum,
         |    COUNT(hv) OVER (PARTITION BY event_type ORDER BY hour_idx
         |      RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS trail_n
         |  FROM hourly)
         |SELECT event_type, bucket_ts, CAST(hv AS DOUBLE) AS hour_value,
         |  round(CAST(hv * trail_n AS DOUBLE) / CAST(trail_sum AS DOUBLE), 6)
         |    AS ratio_to_baseline,
         |  CAST(round(CAST(hv * trail_n AS DOUBLE) / CAST(trail_sum AS DOUBLE), 6)
         |    > 1.5 AS INT) AS is_anomaly
         |FROM r WHERE trail_n >= 12 AND trail_sum <> 0
         |ORDER BY event_type, bucket_ts""".stripMargin,

    // window spelling of first/last (DuckDB 1.0 arg_min has no composite
    // tie-break key); selections only, so doubles match exactly
    "q118_m4_downsample" ->
      """WITH b AS (SELECT event_type,
        |    make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 900000000)
        |      * 900000000) AS bucket,
        |    CAST(ts AS TIMESTAMP) AS ts, event_id, value FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |      ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |      ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM b)
        |SELECT event_type, bucket, MIN(value) AS min_v, MAX(value) AS max_v,
        |  MAX(CASE WHEN ra = 1 THEN value END) AS first_v,
        |  MAX(CASE WHEN rd = 1 THEN value END) AS last_v, COUNT(*) AS n
        |FROM r GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin,

    // the LTTB chain as a 38-step recursive CTE: rec carries the
    // previously selected vertex (px, py, pid) per series; each step
    // argmax-selects bucket b's point against the next bucket's
    // centroid (bucket 37 uses the series' last point). Every float
    // operation (offset-µs centroid, cents sums, triangle area) is
    // spelled exactly as Lttb.avgOf/select compute it, so the doubles
    // are bit-identical and the driver's hash gate passes.
    "q119b_lttb_exact" ->
      """WITH RECURSIVE g AS (
        |  SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS gmin FROM events),
        |base AS (SELECT event_type AS k,
        |    epoch_us(CAST(ts AS TIMESTAMP)) - (SELECT gmin FROM g) AS x,
        |    event_id AS id,
        |    CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS DOUBLE) AS y
        |  FROM events),
        |ord AS (SELECT k, x, id, y,
        |    row_number() OVER (PARTITION BY k ORDER BY x, id) - 1 AS rn,
        |    count(*) OVER (PARTITION BY k) AS n FROM base),
        |shrt AS (SELECT k, x, id, y FROM ord WHERE n <= 40),
        |lng AS (SELECT * FROM ord WHERE n > 40),
        |firsts AS (SELECT k, x, id, y FROM lng WHERE rn = 0),
        |lasts AS (SELECT k, x, id, y FROM lng WHERE rn = n - 1),
        |inter AS (SELECT k, x, id, y, ((rn - 1) * 38) // (n - 2) AS pb
        |  FROM lng WHERE rn >= 1 AND rn <= n - 2),
        |cent AS (SELECT k, pb,
        |    CAST(MIN(x) AS DOUBLE) + CAST(SUM(x - bx0) AS DOUBLE) / COUNT(*) AS cx,
        |    SUM(y) / COUNT(*) AS cy
        |  FROM (SELECT k, pb, x, y, MIN(x) OVER (PARTITION BY k, pb) AS bx0
        |        FROM inter)
        |  GROUP BY k, pb),
        |vert AS (SELECT k, pb - 1 AS b, cx, cy FROM cent WHERE pb >= 1
        |  UNION ALL SELECT k, 37 AS b, CAST(x AS DOUBLE) AS cx, y AS cy FROM lasts),
        |rec AS (
        |  SELECT 0 AS b, k, x AS px, y AS py, id AS pid FROM firsts
        |  UNION ALL
        |  SELECT b + 1, k, sx, sy, sid FROM (
        |    SELECT r.b AS b, r.k AS k, i.x AS sx, i.y AS sy, i.id AS sid,
        |      row_number() OVER (PARTITION BY r.k, r.b ORDER BY
        |        abs((CAST(r.px AS DOUBLE) - v.cx) * (i.y - r.py)
        |          - (CAST(r.px AS DOUBLE) - CAST(i.x AS DOUBLE)) * (v.cy - r.py))
        |          DESC, i.x, i.id) AS rk
        |    FROM rec r
        |    JOIN inter i ON i.k = r.k AND i.pb = r.b
        |    JOIN vert v ON v.k = r.k AND v.b = r.b
        |    WHERE r.b < 38) s
        |  WHERE rk = 1),
        |sel AS (SELECT k, px AS x, pid AS id, py AS y FROM rec WHERE b >= 1),
        |allpts AS (
        |  SELECT k, x, id, y FROM shrt
        |  UNION ALL SELECT k, x, id, y FROM firsts
        |  UNION ALL SELECT k, x, id, y FROM sel
        |  UNION ALL SELECT k, x, id, y FROM lasts)
        |SELECT k AS event_type,
        |  make_timestamp(x + (SELECT gmin FROM g)) AS ts,
        |  id AS event_id, y / 100.0 AS value
        |FROM allpts
        |ORDER BY event_type, ts, event_id""".stripMargin,

    "q120_counter_rate" ->
      """WITH d AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |l AS (SELECT *, LAG(v) OVER (PARTITION BY event_type
        |    ORDER BY ts, event_id) AS prev FROM d),
        |i AS (SELECT event_type,
        |    make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket,
        |    CASE WHEN prev IS NULL THEN CAST(0 AS DECIMAL(18,2))
        |         WHEN v >= prev THEN v - prev ELSE v END AS inc FROM l)
        |SELECT event_type, bucket, CAST(SUM(inc) AS DOUBLE) AS increase,
        |  COUNT(*) AS n_samples FROM i GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin,

    "q122_hopping_window" ->
      s"""WITH k AS (SELECT unnest(generate_series(0, 3)) AS k),
         |e AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
         |  FROM events)
         |SELECT event_type,
         |  make_timestamp(((us // 900000000) - k) * 900000000) AS ws,
         |  COUNT(*) AS n, ${oSum("value")} AS sum_value
         |FROM e CROSS JOIN k
         |GROUP BY event_type, ws ORDER BY event_type, ws""".stripMargin,

    "q123_bucket_quantiles" ->
      """WITH b AS (SELECT event_type,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
        |    list_sort(list(value)) AS vs, COUNT(*) AS n
        |  FROM events GROUP BY event_type, day)
        |SELECT event_type, day, n,
        |  vs[CAST((n + 1) // 2 AS INT)] AS p50,
        |  vs[CAST((n * 95 + 99) // 100 AS INT)] AS p95
        |FROM b ORDER BY event_type, day""".stripMargin,

    "q125_gapfill_interp" ->
      """WITH ev AS (SELECT event_type,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_ts,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |hourly AS (SELECT event_type, bucket_ts, SUM(cents) // COUNT(*) AS v
        |  FROM ev GROUP BY event_type, bucket_ts),
        |spine AS (SELECT event_type,
        |    unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket_ts
        |  FROM (SELECT event_type, MIN(bucket_ts) AS mn, MAX(bucket_ts) AS mx
        |        FROM hourly GROUP BY event_type)),
        |j AS (SELECT s.event_type, s.bucket_ts, h.v,
        |    epoch_us(s.bucket_ts) // 1000000 AS t
        |  FROM spine s LEFT JOIN hourly h
        |    ON s.event_type = h.event_type AND s.bucket_ts = h.bucket_ts),
        |w AS (SELECT event_type, bucket_ts, v, t,
        |    LAST_VALUE(v IGNORE NULLS) OVER pw AS pv,
        |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
        |      OVER pw AS pt,
        |    FIRST_VALUE(v IGNORE NULLS) OVER nw AS nv,
        |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
        |      OVER nw AS nt
        |  FROM j
        |  WINDOW pw AS (PARTITION BY event_type ORDER BY bucket_ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    nw AS (PARTITION BY event_type ORDER BY bucket_ts
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, bucket_ts,
        |  CAST(COALESCE(v, (pv * (nt - t) + nv * (t - pt)) // (nt - pt))
        |    AS DOUBLE) / 100.0 AS v_filled,
        |  CASE WHEN v IS NOT NULL THEN 'actual' ELSE 'interp' END AS src
        |FROM w ORDER BY event_type, bucket_ts""".stripMargin,

    "q126_interval_join_binned" ->
      """WITH ev AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |hourly AS (SELECT event_type, h, COUNT(*) AS cnt FROM ev GROUP BY 1, 2),
        |tot AS (SELECT event_type, SUM(cnt) AS total, COUNT(*) AS n_hours
        |  FROM hourly GROUP BY 1),
        |bursts AS (SELECT h.event_type, h.h
        |  FROM hourly h JOIN tot t USING (event_type)
        |  WHERE h.cnt * t.n_hours * 2 > t.total * 3),
        |isl AS (SELECT event_type, h,
        |    epoch_us(h) // 3600000000 -
        |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS g
        |  FROM bursts),
        |iv AS (SELECT event_type AS burst_type, MIN(h) AS w_start,
        |    MAX(h) + INTERVAL 1 HOUR AS w_end, COUNT(*) AS n_hours
        |  FROM isl GROUP BY event_type, g)
        |SELECT burst_type, w_start, n_hours, COUNT(*) AS n_other,
        |  CAST(SUM(e.cents) AS DOUBLE) / 100.0 AS sum_value
        |FROM iv JOIN ev e ON e.ts >= iv.w_start AND e.ts < iv.w_end
        |  AND e.event_type <> iv.burst_type
        |GROUP BY burst_type, w_start, n_hours
        |ORDER BY burst_type, w_start""".stripMargin,

    "q128_robust_outliers" ->
      s"""WITH ev AS (SELECT event_type,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
         |  FROM events),
         |med AS (SELECT event_type, COUNT(*) AS n,
         |    (list_sort(list(c)))[CAST((COUNT(*) + 1) // 2 AS INT)] AS med
         |  FROM ev GROUP BY event_type),
         |dev AS (SELECT e.event_type, n, med, abs(c - med) AS ad
         |  FROM ev e JOIN med USING (event_type)),
         |mad AS (SELECT event_type,
         |    (list_sort(list(ad)))[CAST((COUNT(*) + 1) // 2 AS INT)] AS mad
         |  FROM dev GROUP BY event_type)
         |SELECT event_type, n, CAST(med AS DOUBLE) / 100.0 AS median,
         |  CAST(mad AS DOUBLE) / 100.0 AS mad,
         |  CAST(SUM(CASE WHEN ad > 3 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         |  ${oRound6("SUM(CASE WHEN ad > 3 * mad THEN 1 ELSE 0 END)", "n")}
         |    AS out_rate
         |FROM dev JOIN mad USING (event_type)
         |GROUP BY event_type, n, med, mad
         |ORDER BY event_type""".stripMargin,

    "q129_time_weighted_avg" ->
      """WITH e AS (SELECT event_type,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    event_id FROM events),
        |g AS (SELECT event_type, day, c, t,
        |    LEAD(t) OVER (PARTITION BY event_type, day
        |                  ORDER BY t, event_id) AS nt FROM e),
        |a AS (SELECT event_type, day,
        |    SUM(CASE WHEN nt IS NULL THEN 0 ELSE c * (nt - t) END) AS num,
        |    MAX(t) - MIN(t) AS den, MIN(c) AS c0,
        |    COUNT(*) AS n_samples
        |  FROM g GROUP BY event_type, day)
        |SELECT event_type, day, n_samples,
        |  CASE WHEN den > 0
        |    THEN CAST((num * 200 + den) // (den * 2) AS DOUBLE) / 10000.0
        |    ELSE CAST(c0 AS DOUBLE) / 100.0 END AS twa
        |FROM a ORDER BY event_type, day""".stripMargin,

    "q130_heartbeat_gaps" ->
      """WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id FROM events),
        |st AS (SELECT event_type, MAX(t) - MIN(t) AS span,
        |    COUNT(*) - 1 AS n1 FROM e GROUP BY event_type),
        |g AS (SELECT event_type, ts, t,
        |    LEAD(t) OVER w AS nt, LEAD(ts) OVER w AS gap_end
        |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY t, event_id))
        |SELECT g.event_type, ts AS gap_start, gap_end, nt - t AS gap_us
        |FROM g JOIN st ON g.event_type = st.event_type
        |WHERE nt IS NOT NULL AND (nt - t) * n1 > 3 * span
        |ORDER BY g.event_type, gap_start""".stripMargin,

    "q133_ewma_smooth" ->
      s"""WITH h AS (SELECT event_type,
         |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_ts,
         |    MAX(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS peak
         |  FROM events GROUP BY 1, 2),
         |l AS (SELECT event_type, bucket_ts, peak,
         |    list(peak) OVER (PARTITION BY event_type ORDER BY bucket_ts
         |      ROWS BETWEEN ${EwmaW - 1} PRECEDING AND CURRENT ROW) AS vs
         |  FROM h),
         |r AS (SELECT event_type, bucket_ts, peak,
         |    CAST(list_sum(list_transform(vs,
         |      (x, i) -> x * (CAST(1 AS BIGINT) << (i - 1)))) AS BIGINT) AS num,
         |    (CAST(1 AS BIGINT) << len(vs)) - 1 AS den
         |  FROM l)
         |SELECT event_type, bucket_ts, CAST(peak AS DOUBLE) / 100.0 AS peak_v,
         |  CAST((num * 200 + den) // (den * 2) AS DOUBLE) / 10000.0 AS ewma
         |FROM r ORDER BY event_type, bucket_ts""".stripMargin,

    "q134_lag_correlation" ->
      """WITH ev AS (SELECT event_type,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_ts FROM events),
        |b AS (SELECT MIN(bucket_ts) mn, MAX(bucket_ts) mx FROM ev),
        |g AS (SELECT t.event_type, h.bucket_ts
        |  FROM (SELECT DISTINCT event_type FROM ev) t
        |  CROSS JOIN (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR))
        |              AS bucket_ts FROM b) h),
        |c AS (SELECT g.event_type, g.bucket_ts, CAST(COALESCE(n, 0) AS BIGINT) AS cnt
        |  FROM g LEFT JOIN (SELECT event_type, bucket_ts, COUNT(*) n
        |                    FROM ev GROUP BY 1, 2) e
        |    ON g.event_type = e.event_type AND g.bucket_ts = e.bucket_ts),
        |p AS (SELECT a.event_type ta, b2.event_type tb, COUNT(*) AS n,
        |    CAST(SUM(a.cnt) AS BIGINT) sx, CAST(SUM(b2.cnt) AS BIGINT) sy,
        |    CAST(SUM(a.cnt * b2.cnt) AS BIGINT) sxy,
        |    CAST(SUM(a.cnt * a.cnt) AS BIGINT) sxx,
        |    CAST(SUM(b2.cnt * b2.cnt) AS BIGINT) syy
        |  FROM c a JOIN c b2 ON a.bucket_ts = b2.bucket_ts
        |    AND a.event_type < b2.event_type
        |  GROUP BY 1, 2)
        |SELECT ta, tb, n,
        |  CASE WHEN (n*sxx - sx*sx) = 0 OR (n*syy - sy*sy) = 0 THEN NULL
        |    ELSE CAST(n*sxy - sx*sy AS DOUBLE) /
        |      sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
        |    END AS r
        |FROM p ORDER BY ta, tb""".stripMargin,

    "q135_seasonal_baseline" ->
      s"""WITH ev AS (SELECT event_type,
         |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_ts FROM events),
         |b AS (SELECT MIN(bucket_ts) mn, MAX(bucket_ts) mx FROM ev),
         |g AS (SELECT t.event_type, h.bucket_ts
         |  FROM (SELECT DISTINCT event_type FROM ev) t
         |  CROSS JOIN (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR))
         |              AS bucket_ts FROM b) h),
         |s AS (SELECT g.event_type, g.bucket_ts, CAST(COALESCE(n, 0) AS BIGINT) AS cnt,
         |    dayofweek(g.bucket_ts) * 24 + hour(g.bucket_ts) AS how
         |  FROM g LEFT JOIN (SELECT event_type, bucket_ts, COUNT(*) n
         |                    FROM ev GROUP BY 1, 2) e
         |    ON g.event_type = e.event_type AND g.bucket_ts = e.bucket_ts),
         |base AS (SELECT event_type, how, SUM(cnt) AS slot_sum,
         |    COUNT(*) AS n_slots FROM s GROUP BY 1, 2)
         |SELECT s.event_type, s.bucket_ts, s.cnt,
         |  ${oRound6("slot_sum", "n_slots")} AS baseline
         |FROM s JOIN base ON s.event_type = base.event_type AND s.how = base.how
         |WHERE s.cnt >= 3 AND 3 * s.cnt * n_slots > 4 * slot_sum
         |ORDER BY s.event_type, s.bucket_ts""".stripMargin,

    "q136_event_transitions" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
         |    event_type FROM events),
         |tr AS (SELECT event_type,
         |    LEAD(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS next_type FROM e),
         |c AS (SELECT event_type, next_type, COUNT(*) AS n_trans FROM tr
         |  WHERE next_type IS NOT NULL GROUP BY 1, 2)
         |SELECT event_type, next_type, n_trans,
         |  ${oRound6("n_trans",
        "SUM(n_trans) OVER (PARTITION BY event_type)")} AS p_trans
         |FROM c ORDER BY event_type, next_type""".stripMargin,

    "q137_state_intervals" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    event_type FROM events),
        |f AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(event_type) OVER w IS NULL
        |           OR LAG(event_type) OVER w <> event_type
        |      THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (SELECT user_id, ts, event_type,
        |    CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS run_no
        |  FROM f),
        |runs AS (SELECT user_id, run_no, MIN(event_type) AS state,
        |    MIN(ts) AS valid_from, COUNT(*) AS n_events
        |  FROM r GROUP BY user_id, run_no)
        |SELECT user_id, run_no, state, valid_from,
        |  LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_no)
        |    AS valid_to, n_events
        |FROM runs ORDER BY user_id, run_no""".stripMargin,

    "q140_trend_slope" ->
      s"""WITH e AS (SELECT event_type,
         |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         |    (epoch_us(CAST(ts AS TIMESTAMP)) -
         |     epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))) // 60000000
         |      AS x,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
         |  FROM events),
         |m AS (SELECT event_type, day, COUNT(*) AS n,
         |    CAST(SUM(x) AS BIGINT) sx, CAST(SUM(y) AS BIGINT) sy,
         |    CAST(SUM(x*y) AS BIGINT) sxy, CAST(SUM(x*x) AS BIGINT) sxx
         |  FROM e GROUP BY 1, 2 HAVING COUNT(*) >= 3)
         |SELECT event_type, day, n,
         |  ${oRound6Signed("n*sxy - sx*sy", "n*sxx - sx*sx")} AS slope_cpm,
         |  CASE WHEN 2 * abs(n*sxy - sx*sy) <= (n*sxx - sx*sx) THEN 'flat'
         |       WHEN n*sxy - sx*sy > 0 THEN 'rising'
         |       ELSE 'falling' END AS trend
         |FROM m WHERE n*sxx - sx*sx > 0
         |ORDER BY event_type, day""".stripMargin,

    "q141_winsorize" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |q AS (SELECT event_type, COUNT(*) AS n,
        |    (list_sort(list(c)))[CAST((COUNT(*) + 19) // 20 AS INT)] AS lo,
        |    (list_sort(list(c)))[CAST((19 * COUNT(*) + 19) // 20 AS INT)] AS hi
        |  FROM ev GROUP BY event_type)
        |SELECT ev.event_type, n,
        |  CAST(lo AS DOUBLE) / 100.0 AS p05, CAST(hi AS DOUBLE) / 100.0 AS p95,
        |  CAST(SUM(CASE WHEN c < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        |  CAST(SUM(CASE WHEN c > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |  CAST((CAST(SUM(GREATEST(lo, LEAST(hi, c))) AS BIGINT) * 200 + n)
        |    // (n * 2) AS DOUBLE) / 10000.0 AS wmean
        |FROM ev JOIN q ON ev.event_type = q.event_type
        |GROUP BY ev.event_type, n, lo, hi
        |ORDER BY ev.event_type""".stripMargin,

    "q142_trigram_paths" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
         |    event_type FROM events),
         |g AS (SELECT event_type,
         |    LEAD(event_type, 1) OVER w AS e2, LEAD(event_type, 2) OVER w AS e3
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT event_type || '>' || e2 || '>' || e3 AS path,
         |  COUNT(*) AS n_paths
         |FROM g WHERE e3 IS NOT NULL
         |GROUP BY 1 ORDER BY n_paths DESC, path LIMIT $TrigramTopK""".stripMargin,

    "q144_cusum_alerts" ->
      """WITH ev AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tt,
        |    event_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |g AS (SELECT event_type, COUNT(*) AS n, list_sort(list(c)) AS vs,
        |    list(c ORDER BY tt, event_id) AS seq
        |  FROM ev GROUP BY event_type),
        |m AS (SELECT event_type, n, seq,
        |    vs[CAST((n + 1) // 2 AS INT)] AS med,
        |    (list_sort(list_transform(vs, v -> abs(v -
        |        vs[CAST((n + 1) // 2 AS INT)]))))[CAST((n + 1) // 2 AS INT)]
        |      AS mad
        |  FROM g),
        |m2 AS (SELECT event_type, n, seq, med,
        |    GREATEST(4 * mad, 1) AS h FROM m)
        |-- the fold packs (excursion, alarm_count) into ONE BIGINT as
        |-- sp*2^20 + count: DuckDB 1.0's list_reduce silently
        |-- mis-evaluates STRUCT-typed BIGINT accumulators (verified by
        |-- counterexample [2,2]/h=3), while scalar BIGINT folds are
        |-- correct (fuzz-checked vs a reference fold, 300 cases).
        |-- Bounds: stored sp <= h <= 4*49002 < 2^20, count <= n < 2^20
        |-- for this data, so the packing is lossless.
        |SELECT event_type, n, CAST(med AS DOUBLE) / 100.0 AS target,
        |  CAST(h AS DOUBLE) / 100.0 AS threshold,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), seq), (a, x) ->
        |    CASE WHEN GREATEST(CAST(0 AS BIGINT), (a // 1048576) + (x - med)) > h
        |         THEN (a % 1048576) + 1
        |         ELSE GREATEST(CAST(0 AS BIGINT), (a // 1048576) + (x - med))
        |              * 1048576 + (a % 1048576) END) % 1048576 AS n_alarms_hi,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), seq), (a, x) ->
        |    CASE WHEN GREATEST(CAST(0 AS BIGINT), (a // 1048576) + (med - x)) > h
        |         THEN (a % 1048576) + 1
        |         ELSE GREATEST(CAST(0 AS BIGINT), (a // 1048576) + (med - x))
        |              * 1048576 + (a % 1048576) END) % 1048576 AS n_alarms_lo
        |FROM m2 ORDER BY event_type""".stripMargin,

    // the naive spelling: recount the trailing 24 hours at every grid
    // hour (a 24× recompute the engine-side boundary-delta formulation
    // avoids)
    "q146_sliding_distinct" ->
      """WITH pres AS (SELECT DISTINCT event_type, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h FROM events),
        |b AS (SELECT MIN(h) mn, MAX(h) mx FROM pres),
        |grid AS (SELECT t.event_type, g.h
        |  FROM (SELECT DISTINCT event_type FROM pres) t
        |  CROSS JOIN (SELECT unnest(generate_series(mn, mx)) AS h FROM b) g)
        |SELECT g.event_type, make_timestamp(g.h * 3600000000) AS bucket_ts,
        |  COUNT(DISTINCT p.user_id) AS active_24h
        |FROM grid g LEFT JOIN pres p
        |  ON p.event_type = g.event_type AND p.h BETWEEN g.h - 23 AND g.h
        |GROUP BY g.event_type, g.h
        |ORDER BY g.event_type, bucket_ts""".stripMargin,

    // q93's join-chain funnel + exact nearest-rank quartile selection
    "q147_funnel_latency" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events),
        |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id),
        |l AS (SELECT 'view>click' AS stage,
        |    (epoch_us(t2) - epoch_us(t1)) // 1000000 AS lat_s
        |  FROM s2 JOIN s1 USING (user_id)
        |  UNION ALL
        |  SELECT 'click>purchase' AS stage,
        |    (epoch_us(t3) - epoch_us(t2)) // 1000000 AS lat_s
        |  FROM s3 JOIN s2 USING (user_id))
        |SELECT stage, COUNT(*) AS n,
        |  (list_sort(list(lat_s)))[CAST((COUNT(*) + 3) // 4 AS INT)] AS p25_s,
        |  (list_sort(list(lat_s)))[CAST((COUNT(*) + 1) // 2 AS INT)] AS p50_s,
        |  (list_sort(list(lat_s)))[CAST((3 * COUNT(*) + 3) // 4 AS INT)] AS p75_s
        |FROM l GROUP BY stage ORDER BY stage""".stripMargin,

    "q149_value_drift" ->
      s"""WITH b AS (SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) t0,
         |    MAX(epoch_us(CAST(ts AS TIMESTAMP))) t1 FROM events),
         |ev AS (SELECT event_type,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000 AS bin,
         |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) * 2 < t0 + t1
         |      THEN 1 ELSE 2 END AS half
         |  FROM events, b),
         |h AS (SELECT event_type, bin,
         |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM ev GROUP BY 1, 2),
         |tt AS (SELECT event_type,
         |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
         |  FROM ev GROUP BY 1)
         |SELECT h.event_type, n1, n2,
         |  ${oRound6("CAST(SUM(abs(c1 * n2 - c2 * n1)) AS BIGINT)",
        "2 * n1 * n2")} AS tv
         |FROM h JOIN tt ON h.event_type = tt.event_type
         |WHERE n1 > 0 AND n2 > 0
         |GROUP BY h.event_type, n1, n2
         |ORDER BY h.event_type""".stripMargin,

    "q152_churn_ledger" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    date_diff('day', DATE '1970-01-01',
        |      date_trunc('day', CAST(ts AS TIMESTAMP))) AS d
        |  FROM events),
        |mx AS (SELECT MAX(d) AS dmax FROM ev),
        |m AS (SELECT d,
        |    CASE WHEN LAG(d) OVER w IS NOT NULL AND d - LAG(d) OVER w > 2
        |      THEN 1 ELSE 0 END AS react,
        |    CASE WHEN d <= dmax - 2 AND
        |        (LEAD(d) OVER w IS NULL OR LEAD(d) OVER w - d > 2)
        |      THEN 1 ELSE 0 END AS churn
        |  FROM ev, mx WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        |SELECT make_timestamp(d * 86400000000) AS day,
        |  CAST(SUM(react) AS BIGINT) AS n_reactivated,
        |  CAST(SUM(churn) AS BIGINT) AS n_churned
        |FROM m GROUP BY d
        |HAVING SUM(react) > 0 OR SUM(churn) > 0
        |ORDER BY day""".stripMargin,

    // q26's sessionize chain + entry-channel row_number + a correlated
    // latest-session-at-or-before subquery (the as-of's naive spelling)
    "q153_attribution" ->
      s"""WITH d AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
         |    event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) -
         |      LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER
         |        (PARTITION BY user_id
         |         ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
         |  FROM events),
         |s AS (SELECT user_id, ts, event_id, event_type,
         |    CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > $SessionGapUs
         |                  THEN 1 ELSE 0 END) OVER
         |      (PARTITION BY user_id ORDER BY ts, event_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS session_no
         |  FROM d),
         |sess AS (SELECT user_id, ts AS session_start, event_type AS channel
         |  FROM (SELECT user_id, session_no, ts, event_type,
         |          ROW_NUMBER() OVER (PARTITION BY user_id, session_no
         |            ORDER BY ts, event_id) AS rn FROM s)
         |  WHERE rn = 1),
         |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'),
         |a AS (SELECT p.cents,
         |    (SELECT channel FROM sess
         |     WHERE sess.user_id = p.user_id AND sess.session_start <= p.ts
         |     ORDER BY sess.session_start DESC LIMIT 1) AS channel
         |  FROM p)
         |SELECT channel, COUNT(*) AS n_purchases,
         |  CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue
         |FROM a GROUP BY channel ORDER BY channel""".stripMargin,

    "q154_rank_movers" ->
      """WITH d AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    event_type, COUNT(*) AS n FROM events GROUP BY 1, 2),
        |r AS (SELECT day, event_type, n,
        |    CAST(RANK() OVER (PARTITION BY day
        |      ORDER BY n DESC, event_type) AS BIGINT) AS rk
        |  FROM d),
        |m AS (SELECT day, event_type, n, rk,
        |    LAG(day) OVER w AS prev_day, LAG(rk) OVER w AS prev_rk
        |  FROM r WINDOW w AS (PARTITION BY event_type ORDER BY day))
        |SELECT day, event_type, n, rk,
        |  CASE WHEN prev_day = day - INTERVAL 1 DAY THEN prev_rk END
        |    AS prev_rank,
        |  CASE WHEN prev_day = day - INTERVAL 1 DAY THEN prev_rk - rk END
        |    AS moved
        |FROM m ORDER BY day, rk, event_type""".stripMargin,

    "q155_value_concentration" ->
      s"""WITH t AS (SELECT event_type, user_id,
         |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
         |      AS BIGINT) AS cents
         |  FROM events GROUP BY 1, 2),
         |r AS (SELECT event_type, cents,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
         |      ORDER BY cents DESC, user_id) AS BIGINT) AS rk,
         |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nu
         |  FROM t)
         |SELECT event_type, nu AS n_users, (nu + 9) // 10 AS top_k,
         |  CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / 100.0 AS total_value,
         |  ${oRound6(
        "CAST(SUM(CASE WHEN rk <= (nu + 9) // 10 THEN cents ELSE 0 END) AS BIGINT)",
        "CAST(SUM(cents) AS BIGINT)")} AS top_share
         |FROM r GROUP BY event_type, nu
         |ORDER BY event_type""".stripMargin,

    "q161_ks_drift" ->
      s"""WITH b AS (SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) t0,
         |    MAX(epoch_us(CAST(ts AS TIMESTAMP))) t1 FROM events),
         |ev AS (SELECT event_type,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) * 2 < t0 + t1
         |      THEN 1 ELSE 2 END AS half
         |  FROM events, b),
         |g AS (SELECT event_type, v,
         |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM ev GROUP BY 1, 2),
         |tt AS (SELECT event_type,
         |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
         |  FROM ev GROUP BY 1),
         |c AS (SELECT event_type, v,
         |    SUM(c1) OVER (PARTITION BY event_type ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
         |    SUM(c2) OVER (PARTITION BY event_type ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
         |  FROM g)
         |SELECT c.event_type, n1, n2,
         |  ${oRound6("CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS BIGINT)",
        "n1 * n2")} AS ks
         |FROM c JOIN tt ON c.event_type = tt.event_type
         |WHERE n1 > 0 AND n2 > 0
         |GROUP BY c.event_type, n1, n2
         |ORDER BY c.event_type""".stripMargin
  )
}
