package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream shaping operators: gap sessionization and the per-key
  * as-of join — the two workhorse primitives for turning raw event logs
  * into training-ready features at corpus scale.
  *
  * Both are single-shuffle designs: one exchange on the partition key
  * (user / series id), then linear window scans inside each partition —
  * no self-joins, no range cross products, nothing that quadratically
  * amplifies a hot key. That is the property that survives a 100 TB
  * event log on a 1000-executor cluster.
  */
object EventOps {

  /** Gap-based sessionization: events of one user belong to the same
    * session while consecutive gaps are ≤ `gapSeconds`. Output is one row
    * per session with start/end/count and the exact (decimal-summed)
    * value total.
    *
    * The session boundary depends only on the SORTED timestamps of a
    * user's events (a tie has gap 0 and can never split), so the result
    * is deterministic under any shuffle order.
    *
    * Expects (user_id, ts: epoch-second long, value) columns.
    */
  def sessionize(events: DataFrame, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts")
    val run = Window.partitionBy("user_id").orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, 0)
    events
      .withColumn("brk",
        when(lag(col("ts"), 1).over(w).isNull ||
          col("ts") - lag(col("ts"), 1).over(w) > gapSeconds, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("brk")).over(run))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(graft.queries.Sql.decSum(col("value")), 4).as("total_value"))
  }

  /** Ordered funnel: per user, the earliest time each step of `steps`
    * completes, where step k counts only at-or-after step k-1's
    * completion (the classic product-analytics funnel — a purchase
    * BEFORE the first view does not complete a view→purchase funnel).
    *
    * ONE shuffle total: a single groupBy(user) collects each step's
    * sorted timestamp array (bounded by that user's event count), and
    * the sequential chaining — t_k = min of step k's timestamps ≥
    * t_{k-1} — is a row-local array filter + min afterwards. A
    * join-per-step formulation would shuffle k times and quadratically
    * amplify hot users; this never does. Null t_k (step unreached, or a
    * prior step unreached — a null threshold filters to an empty array)
    * propagates through the chain exactly like the SQL mirror.
    *
    * Expects (user_id, ts: epoch-second long, event_type). Output:
    * (user_id, t_<step> per step, reached = number of completed steps).
    */
  def funnelStages(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.size == steps.distinct.size, "distinct steps")
    // collect_list skips nulls, so each array holds exactly that step's ts
    val perUser = events
      .filter(col("event_type").isInCollection(steps))
      .groupBy(col("user_id"))
      .agg(
        sort_array(collect_list(when(col("event_type") === steps.head, col("ts"))))
          .as(s"a_0"),
        steps.tail.zipWithIndex.map { case (st, i) =>
          sort_array(collect_list(when(col("event_type") === st, col("ts"))))
            .as(s"a_${i + 1}") }: _*)
    val chained = steps.indices.foldLeft(perUser) { (df, k) =>
      val t =
        if (k == 0) array_min(col("a_0"))
        else array_min(filter(col(s"a_$k"), x => x >= col(s"t_${k - 1}")))
      df.withColumn(s"t_$k", t)
    }
    chained.select(
      col("user_id") +:
        steps.indices.map(k => col(s"t_$k").as(s"t_${steps(k)}")) :+
        steps.indices.map(k => when(col(s"t_$k").isNotNull, 1).otherwise(0))
          .reduce(_ + _).cast("long").as("reached"): _*)
  }

  /** Funnel report: one row per step with the user count that reached it
    * and the conversion rate vs step 1 — the aggregate every funnel
    * dashboard shows. Builds on [[funnelStages]] (still one wide
    * shuffle); the per-step unpivot explodes a constant-size array on a
    * ONE-ROW aggregate, so the tail is driver-trivial at any scale. */
  def funnelReport(events: DataFrame, steps: Seq[String]): DataFrame = {
    val stages = funnelStages(events, steps)
    // coalesce: sum over ZERO users (empty event log) is null, and the
    // report should still show 0-count rows
    val counts = stages.agg(
      coalesce(sum(when(col(s"t_${steps.head}").isNotNull, 1L).otherwise(0L)), lit(0L))
        .as("c_0"),
      steps.tail.zipWithIndex.map { case (st, i) =>
        coalesce(sum(when(col(s"t_$st").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as(s"c_${i + 1}") }: _*)
    counts.select(posexplode(array(
        steps.indices.map(k => struct(lit(steps(k)).as("step_name"),
          col(s"c_$k").as("n_users"),
          when(col("c_0") > 0,
            round(col(s"c_$k").cast("double") / col("c_0") + lit(1e-9), 4))
            .as("conversion"))): _*)).as(Seq("i", "s")))
      .select((col("i") + 1).cast("long").as("step"), col("s.step_name"),
        col("s.n_users"), col("s.conversion"))
  }

  /** FUNNEL TIME-TO-CONVERT QUANTILES — the "how long does step k take"
    * view next to [[funnelReport]]'s "how many make it": per transition
    * (step k−1 → k), exact type-1 quantiles of the per-user gap
    * t_k − t_{k−1} over converting users. EXACT at scale without a
    * per-step sort of user-scale data: gaps are integer seconds, so the
    * quantile is read off a (step, gap)-distinct cumulative histogram —
    * the only corpus-scale shuffle is the histogram groupBy, and the
    * per-step window runs over DISTINCT gap values (bounded by the
    * funnel horizon in seconds, never by user count — the madOutliers
    * bin-not-rows principle). Quantile = smallest gap whose cumulative
    * count reaches ceil(p·n). Output: (step, step_name, p, n_conv,
    * gap_q). */
  def funnelTiming(events: DataFrame, steps: Seq[String],
                   ps: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    require(steps.size >= 2, "timing needs at least one transition")
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1), "quantiles in (0,1]")
    val stages = funnelStages(events, steps)
    val gapCols = steps.indices.tail.map { k =>
      struct(lit(k.toLong).as("step"), lit(steps(k)).as("step_name"),
        (col(s"t_${steps(k)}") - col(s"t_${steps(k - 1)}")).as("gap"))
    }
    val gaps = stages.select(explode(array(gapCols: _*)).as("g"))
      .select(col("g.step"), col("g.step_name"), col("g.gap"))
      .filter(col("gap").isNotNull)
    val h = gaps.groupBy(col("step"), col("step_name"), col("gap"))
      .agg(count(lit(1)).as("c"))
    val cum = h
      .withColumn("cum", sum(col("c")).over(Window.partitionBy("step")
        .orderBy("gap").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("step")))
    cum.select(col("step"), col("step_name"), col("gap"), col("cum"), col("n"),
        explode(typedlit(ps)).as("p"))
      .filter(col("cum") >= ceil(col("p") * col("n")).cast("long"))
      .groupBy(col("step"), col("step_name"), col("p"))
      .agg(max(col("n")).as("n_conv"), min(col("gap")).as("gap_q"))
  }

  /** Weekly cohort retention: users are cohorted by the calendar week
    * (epoch-week, `ts div 604800`) of their FIRST event; cell
    * (cohort_wk, offset_wk) counts the cohort's users active offset
    * weeks later, with the rate against the cohort's size.
    *
    * Shuffle plan: distinct (user, week) pairs → per-user min week (the
    * second aggregation reuses the first's hash partitioning on
    * user_id, so no extra exchange) → one final groupBy on the (tiny)
    * cohort×offset key. Nothing holds per-user history in memory. */
  def retention(events: DataFrame): DataFrame = {
    val active = events
      .select(col("user_id"), expr("ts div 604800").as("wk"))
      .distinct()
    val cohort = active.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val cells = active.join(cohort, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
      .agg(count(lit(1)).as("n_users"))
    val sizes = cells.filter(col("offset_wk") === 0)
      .select(col("cohort_wk"), col("n_users").as("cohort_size"))
    cells.join(sizes, "cohort_wk")
      .select(col("cohort_wk"), col("offset_wk"), col("n_users"),
        round(col("n_users").cast("double") / col("cohort_size") + lit(1e-9), 4)
          .as("retention"))
  }

  /** Per-key as-of join: each left row picks the right row with the
    * greatest `ts` ≤ its own `ts` within the same key (DuckDB/pandas
    * `ASOF JOIN` semantics, `<=` variant). Left rows before the first
    * right observation keep nulls.
    *
    * Implemented as the union-merge: tag right rows 0 and left rows 1
    * (left's remaining columns ride along, null-padded on right rows),
    * sort by (ts, tag) inside each key partition, and carry the last
    * non-null right value forward. ONE shuffle on the key, one linear
    * scan, no second join — per-key equi-join + max-filter would shuffle
    * the same data but build a quadratic candidate set on hot keys, and
    * a broadcast range join caps at small right sides; this form does
    * neither.
    *
    * `left` needs (key, ts) plus any pass-through columns; `right` is
    * (key, ts, value) of any orderable types — the null pads below take
    * their types from `right`'s actual schema, so a right frame with e.g.
    * timestamp ts or decimal value unions cleanly. Right rows sharing a
    * (key, ts) are resolved deterministically: the window ordering
    * tie-breaks on `value`, so the GREATEST value at the tied ts wins.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String): DataFrame = {
    val extra = left.columns.filterNot(c => c == key || c == "ts")
    val rightTagged = right.select(
      col(key) +: col("ts") +: lit(0).as("__src") +:
        col("ts").as("__rts") +: col("value").as("__rval") +:
        extra.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val leftTagged = left.select(
      col(key) +: col("ts") +: lit(1).as("__src") +:
        lit(null).cast(right.schema("ts").dataType).as("__rts") +:
        lit(null).cast(right.schema("value").dataType).as("__rval") +:
        extra.map(col(_)): _*)
    // right row sorts before a left row at the same ts -> <= semantics;
    // __rval (asc, nulls first — left rows carry null) makes duplicate
    // right ts deterministic: last() sees the greatest tied value last
    val w = Window.partitionBy(key).orderBy(col("ts"), col("__src"), col("__rval").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, 0)
    rightTagged.unionByName(leftTagged)
      .withColumn("asof_ts", last(col("__rts"), ignoreNulls = true).over(w))
      .withColumn("asof_value", last(col("__rval"), ignoreNulls = true).over(w))
      .filter(col("__src") === 1)
      .select(col(key) +: col("ts") +: extra.map(col(_)) :+
        col("asof_ts") :+ col("asof_value"): _*)
  }

  /** SCD2 HISTORY BUILDER (slowly-changing-dimension type 2): turn a
    * changelog — (key, ts, attr) rows, each "key's attribute became attr
    * at ts" — into validity intervals: one row per RUN of consecutive
    * equal values with [valid_from, valid_to) bounds and an is_current
    * flag on each key's open run. This is the standard warehouse shape
    * for as-of dimension lookups, and the compaction every CDC ingest
    * needs before a merge.
    *
    * ONE shuffle on `key`, then linear window scans over the same sort:
    * a lag() marks value changes — a change row IS an SCD2 row (no
    * collapse aggregation needed) — and a lead() over the surviving
    * change rows closes each interval with the next change's ts.
    * Per-task work is bounded by one key's changelog. Events tied on ts
    * are ordered by `tieCol` (both engines identically), so same-second
    * flips resolve deterministically. */
  def scd2History(changes: DataFrame, key: String, attr: String,
                  tieCol: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col("ts"), col(tieCol))
    changes
      .withColumn("chg", when(lag(col(attr), 1).over(w).isNull ||
        col(attr) =!= lag(col(attr), 1).over(w), 1L).otherwise(0L))
      .filter(col("chg") === 1)
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col(key), col(attr), col("ts").as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
  }

  /** BUCKETIZED INTERVAL JOIN — the scale-correct form of the
    * `ts BETWEEN lo AND hi` theta join. With no equality predicate Spark
    * plans a raw interval join as BroadcastNestedLoopJoin (or a cartesian
    * product), both fatal when neither side fits one machine. Covering
    * buckets restore an equi-join: each interval explodes to the
    * `bucket`-second buckets it overlaps (⌈span/bucket⌉+1 rows — bounded
    * whenever interval spans are), each probe row maps to its ONE bucket,
    * and the join key is the bucket id with the exact lo ≤ ts ≤ hi check
    * as a residual filter. Candidate work is Σ_probe |intervals sharing
    * the probe's bucket| — near-linear when `bucket` tracks the median
    * interval span, and both sides shuffle-partition on the bucket key,
    * so the plan scales out like any equi-join (AQE handles a hot
    * bucket like any other skewed key).
    *
    * Counts probe rows per interval; intervals that match nothing are
    * kept with n_events = 0 (left semantics). `intervals` carries
    * (idCols..., lo, hi) in epoch seconds, `probe` carries (ts). */
  def intervalCount(intervals: DataFrame, probe: DataFrame, bucket: Long,
                    idCols: Seq[String]): DataFrame = {
    require(bucket > 0, "bucket must be positive")
    val iv = intervals.withColumn("__b",
      explode(sequence(expr(s"lo div $bucket"), expr(s"hi div $bucket"))))
    val ev = probe.select(col("ts").as("__ts"), expr(s"ts div $bucket").as("__b"))
    val counts = iv.join(ev, "__b")
      .filter(col("__ts") >= col("lo") && col("__ts") <= col("hi"))
      .groupBy(idCols.map(col): _*).agg(count(lit(1)).as("n_events"))
    intervals.join(counts, idCols, "left")
      .select(idCols.map(col) :+ col("lo") :+ col("hi") :+
        coalesce(col("n_events"), lit(0L)).as("n_events"): _*)
  }

  /** Robust per-group outlier detection by MEDIAN ABSOLUTE DEVIATION —
    * the screen that survives the contamination it is looking for (mean
    * ± k·stddev moves with the outliers; the median does not). Medians
    * are the exact LOWER median (the ⌈n/2⌉-th smallest value per group)
    * — no interpolation, so the two engines agree bit-for-bit on
    * doubles; dev = |value − median| and the k·MAD comparison are single
    * IEEE ops, equally exact. Returns the outlier rows (event_type,
    * event_id, value, dev).
    *
    * Scale shape — histogram + exact refine, NOT a per-key sort window
    * (the [[graft.pipeline.TextOps.lenQuantiles]] pattern): a
    * `row_number() over (partition by event_type order by value)` funnels
    * every row of a hot event type through ONE task — a straggler at
    * 100× scale. Instead pass 1 builds an ADDITIVE per-(group, bin)
    * histogram (one partial-aggregated shuffle; bin = floor(value /
    * binWidth), monotone in value so equal values can never straddle a
    * bin), the cumulative-count window runs over the BIN relation (rows
    * per group bounded by value-range / binWidth, independent of corpus
    * size), and pass 2 ranks ONLY the median bin's rows — the global
    * ⌈n/2⌉-th element is the (⌈n/2⌉ − cumBefore)-th element of its bin,
    * so the one remaining sort window sees ~n/bins rows per group. Both
    * passes are exact: the result is identical to the full sort, which
    * is what the unchanged DuckDB oracle checks. */
  def madOutliers(events: DataFrame, k: Double = 3.0,
                  binWidth: Double = 1.0): DataFrame = {
    require(k > 0, "k must be positive")
    require(binWidth > 0, "binWidth must be positive")
    def lowerMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val binned = df
        .groupBy(col("event_type"), floor(col(valueCol) / binWidth).as("__bin"))
        .agg(count(lit(1)).as("__c"))
      val wB = Window.partitionBy("event_type").orderBy("__bin")
      val medBin = binned
        .withColumn("__cum", sum(col("__c")).over(
          wB.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("__n", sum(col("__c")).over(
          Window.partitionBy("event_type")))
        .withColumn("__r", expr("(__n + 1) div 2"))
        // the bin holding global rank ⌈n/2⌉, plus the within-bin rank
        .filter(col("__cum") >= col("__r") &&
          col("__cum") - col("__c") < col("__r"))
        .select(col("event_type"), col("__bin"),
          (col("__r") - (col("__cum") - col("__c"))).as("__k"))
      df.withColumn("__bin", floor(col(valueCol) / binWidth))
        .join(broadcast(medBin), Seq("event_type", "__bin"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("event_type").orderBy(col(valueCol), col("event_id"))))
        .filter(col("__rn") === col("__k"))
        .select(col("event_type"), col(valueCol).as(out))
    }
    val base = events.select(col("event_type"), col("event_id"), col("value"))
    val med = lowerMedian(base, "value", "med")
    val dev = base.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = lowerMedian(dev, "dev", "mad")
    dev.join(broadcast(mad), Seq("event_type"))
      .filter(col("dev") > lit(k) * col("mad"))
      .select(col("event_type"), col("event_id"), col("value"),
        round(col("dev") + lit(1e-9), 4).as("dev"))
  }

  /** HOT-KEY skew diagnostic — the measurement that decides whether a
    * downstream join/groupBy on `keyCol` needs salting
    * ([[graft.functions.FrameOps.saltedJoin]]) or AQE skew handling: the top `k` keys by
    * row count with each key's share of all rows and the cumulative
    * share (top-1 share ≈ 1/partitions is the classic straggler
    * threshold). One corpus-sized shuffle (the groupBy on the key, with
    * map-side partial agg); the ordered top-k is a TakeOrdered over the
    * per-key counts — never a global sort of the data — and the final
    * window runs over exactly `k` rows. Share arithmetic stays integral
    * until one division, so engines can't drift. */
  /** VOLUME-ANOMALY windows — the ops monitor next to the value-level
    * [[madOutliers]]: per (event_type, hour), the event count z-scored
    * against its own TRAILING 24-hour baseline (rows -24..-1 of the
    * per-type DENSE hourly series). The scored grid is zero-filled over
    * each type's [min, max] hour span, so a COMPLETE outage hour (no
    * events at all — the case a sparse series can never flag) scores as
    * n = 0 against its baseline, and the ROWS frame always spans
    * exactly the trailing 24 calendar hours (a sparse series would
    * silently stretch it across gaps). Hours with |z| > `zThresh` —
    * ingest outages, bot spikes, pipeline stalls — are the output.
    * Baseline mean/std ride decimal-exact window sums (partition =
    * event_type, a bounded per-type hourly series, never row-scale);
    * hours with fewer than `minBaseline` trailing points or zero
    * variance are skipped rather than flagged on noise. Output:
    * (event_type, win_start, n, base_mean, z). */
  def anomalyWindows(events: DataFrame, zThresh: Double = 3.0,
                     minBaseline: Int = 12): DataFrame =
    anomalyFromHourly(hourlyCounts(events), zThresh, minBaseline)

  /** The per-(event_type, hour) count frame [[anomalyFromHourly]]
    * scores — separated so the streaming monitor can accumulate it as
    * additive per-batch deltas and re-score the merged store. */
  def hourlyCounts(events: DataFrame): DataFrame = events
    .select(col("event_type"),
      expr("unix_timestamp(ts) div 3600 * 3600").as("win_start"))
    .groupBy(col("event_type"), col("win_start"))
    .agg(count(lit(1)).as("n"))

  /** [[anomalyWindows]] over an already-aggregated hourly frame
    * ((event_type, win_start, n) — e.g. the streaming store's summed
    * deltas). Densifies BEFORE scoring: the store stays sparse-additive
    * (zero rows never enter it), and each scoring pass zero-fills the
    * per-type [min, max] hour grid — one `sequence` explode per type
    * (span = calendar hours, bounded by wall-clock time not event
    * volume: a decade is ~90k rows/type) + one keyed left join. */
  def anomalyFromHourly(hourly: DataFrame, zThresh: Double = 3.0,
                        minBaseline: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col("event_type")).orderBy(col("win_start"))
      .rowsBetween(-24, -1)
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("win_start")).as("__mn"), max(col("win_start")).as("__mx"))
      .select(col("event_type"),
        explode(sequence(col("__mn"), col("__mx"), lit(3600L))).as("win_start"))
    val dense = grid.join(hourly, Seq("event_type", "win_start"), "left")
      .na.fill(0L, Seq("n"))
    dense
      .withColumn("bn", count(lit(1)).over(w))
      .withColumn("bs", sum(col("n").cast(DecimalType(30, 6))).over(w).cast("double"))
      .withColumn("bs2", sum((col("n") * col("n")).cast(DecimalType(30, 6))).over(w).cast("double"))
      .filter(col("bn") >= minBaseline)
      .withColumn("mu", col("bs") / col("bn"))
      .withColumn("sd", sqrt(col("bs2") / col("bn") - col("mu") * col("mu")))
      .filter(col("sd") > 0)
      .withColumn("z", (col("n").cast("double") - col("mu")) / col("sd"))
      .filter(abs(col("z")) > zThresh)
      .select(col("event_type"), col("win_start"), col("n"),
        round(col("mu") + lit(1e-9), 4).as("base_mean"),
        round(col("z") + lit(1e-9), 4).as("z"))
  }

  /** DAU / WAU STICKINESS — the engagement ratio per day: distinct
    * users that day over distinct users in the trailing 7 days.
    * Exact (not sketched): user-days dedup once, then the weekly leg
    * fans each user-day out to the ≤ 7 windows it serves (bounded ×7,
    * dedup per window) — the standard exact-WAU shape; swap in the HLL
    * registers ([[graft.pipeline.SketchOps.hllUserWindows]]) when
    * per-day distincts stop fitting. Output: (day, dau, wau,
    * stickiness). */
  def dauStickiness(events: DataFrame): DataFrame = {
    val ud = events.select(
        expr("unix_timestamp(ts) div 86400").as("day"), col("user_id"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("wday"))
      .distinct()
      .groupBy(col("wday").as("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau") + lit(1e-9), 4)
          .as("stickiness"))
  }

  /** BOT / AUTOMATION DETECTION via inter-arrival regularity — the
    * traffic-cleaning gate a pipeline runs before training on user
    * events: scripted clients fire on timers, so their inter-event gaps
    * have near-zero dispersion where humans are bursty. Per user:
    * exact LOWER-MEDIAN gap and the MAD (median absolute deviation
    * around it — both type-1 element selections, so integer-exact and
    * engine-portable like [[graft.metrics.MetricOps.quantileP95]]),
    * and the verdict mad·100 ≤ pct·median (integer cross-multiplied)
    * at a minimum event count. All windows partition by user_id — the
    * event table's scale key; per-user sorts are bounded by one user's
    * activity. Output: (user_id, n_gaps, med_gap, mad_gap, is_bot). */
  def botRegularity(events: DataFrame, minGaps: Int = 20,
                    madPctMax: Int = 10): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gaps = events.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap",
        floor(unix_timestamp(col("ts"))) -
          floor(unix_timestamp(lag(col("ts"), 1).over(wOrd))))
      .filter(col("gap").isNotNull)
      .select(col("user_id"), col("event_id"), col("gap").cast("long").as("gap"))
    val wg = Window.partitionBy(col("user_id"))
    val meds = gaps
      .withColumn("rn", row_number().over(wg.orderBy(col("gap"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(wg))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("user_id"), col("gap").as("med_gap"), col("n").as("n_gaps"))
    gaps.join(meds, Seq("user_id"))
      .withColumn("dev", abs(col("gap") - col("med_gap")))
      .withColumn("rn", row_number().over(wg.orderBy(col("dev"), col("event_id"))))
      .filter(col("rn") === expr("(n_gaps + 1) div 2"))
      .select(col("user_id"), col("n_gaps"), col("med_gap"),
        col("dev").as("mad_gap"),
        when(col("n_gaps") >= minGaps &&
            col("dev") * 100 <= lit(madPctMax.toLong) * col("med_gap"), 1L)
          .otherwise(0L).as("is_bot"))
  }

  def hotKeys(events: DataFrame, keyCol: String, k: Int = 10): DataFrame = {
    require(k > 0, "k must be positive")
    val counts = events.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("tot"))
    val top = counts.orderBy(col("n").desc, col(keyCol)).limit(k)
    // `n % 1` (always 0, but not constant-foldable — lit(1) folds to an
    // EMPTY partition spec) keeps this deliberately-bounded <= k-row
    // window distinguishable from a real global window in a plan audit
    val w = Window.partitionBy(col("n") % 1).orderBy(col("n").desc, col(keyCol))
    top.crossJoin(broadcast(total))
      .withColumn("rk", row_number().over(w))
      .withColumn("cum_n", sum(col("n")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col(keyCol), col("n"), col("rk"),
        round(col("n").cast("double") / col("tot") + lit(1e-9), 6).as("share"),
        round(col("cum_n").cast("double") / col("tot") + lit(1e-9), 6).as("cum_share"))
  }

  /** Reply-tree fixture constants, shared by [[postsInject]] and the
    * DuckDB oracle interpolation (the urlInject/c4Inject convention).
    * Three deterministic parent rules, checked in priority order on
    * post_id = event_id (contiguous ids; every candidate parent < id, so
    * the forest is acyclic by construction):
    *   1. id ≡ [[ThreadMegaResidue]] (mod [[ThreadMegaMod]]) → parent =
    *      id − ThreadMegaMod: every 101st post chains onto the previous
    *      one — ONE deep thread whose depth GROWS with the corpus
    *      (depth ≈ N/101: 13 at sf0.001, ~98 at sf0.01, ~990 at sf0.1),
    *      the deep-thread skew a real forum dump contains.
    *   2. id ≡ 0 (mod [[ThreadRootMod]]) → root (parent NULL).
    *   3. otherwise → parent = id − 1 − (id mod [[ThreadStepMod]]): a
    *      bushy shallow forest (mean depth ~3) attached wherever the
    *      walk lands — including INTO the mega-thread.
    * Negative candidates clamp to NULL (root). */
  val ThreadMegaMod = 101L
  val ThreadMegaResidue = 3L
  val ThreadRootMod = 7L
  val ThreadStepMod = 5L

  /** Synthesize a forum-post table (post_id, parent_id, author, text)
    * from the `events` table — see the rule table at [[ThreadMegaMod]].
    * Pure Column arithmetic on event_id/user_id/event_type, replayed
    * verbatim by the oracle. */
  def postsInject(events: DataFrame): DataFrame = {
    val id = col("event_id")
    val mega = id - ThreadMegaMod
    val step = id - 1L - (id % ThreadStepMod)
    events.select(
      id.as("post_id"),
      when(id % ThreadMegaMod === ThreadMegaResidue,
          when(mega >= 0, mega))
        .when(id % ThreadRootMod === 0, lit(null).cast("long"))
        .otherwise(when(step >= 0, step))
        .as("parent_id"),
      col("user_id").as("author"),
      concat(col("event_type"), lit("#"), id.cast("string")).as("text"))
  }

  /** Parent-pointer normalization shared by [[threadPaths]] and
    * [[threadLabels]]: a parent_id absent from the post set (a deleted
    * parent — the NORM in a real forum dump) is nulled out, so the
    * orphaned reply becomes a thread root. One equi-join on the id —
    * both the engine walk and the DuckDB recursive-CTE oracle then
    * agree on dangling pointers BY CONSTRUCTION (the oracle's inner
    * join would otherwise silently drop the walk while the engine
    * settled it). Output: (post_id, parent_id) with parent_id ∈ post
    * set or null. */
  private def normalizeParents(posts: DataFrame): DataFrame =
    posts.select(col("post_id"), col("parent_id").cast("long").as("__rawp"))
      .join(posts.select(col("post_id").as("__vp")),
        col("__rawp") === col("__vp"), "left")
      // __vp equals the raw parent when it exists, null otherwise
      .select(col("post_id"), col("__vp").as("parent_id"))

  /** REPLY-TREE RECONSTRUCTION by pointer doubling — the conversation/
    * thread-assembly pass a dialogue-pretraining pipeline runs over a
    * forum or comment dump (DialoGPT, Zhang et al. 2020, builds its
    * corpus from root-to-leaf reply chains): given posts
    * (post_id, parent_id, …), label every post with its thread root,
    * depth, and full ancestor chain.
    *
    * Same iterated-halving machinery as
    * [[GraphOps.connectedComponents]]' label-of-label step, with a path
    * accumulator: each post holds a pointer `anc` to its highest KNOWN
    * ancestor plus the contiguous ancestor chain up to it (parent first,
    * `anc` last); each round every post adopts its ancestor's pointer
    * and splices in its ancestor's chain — chains DOUBLE per round, so a
    * depth-D thread settles in ⌈log₂ D⌉ + 1 rounds (10 rounds covers
    * depth 1024; a diameter-deep walk would need D rounds). Per round:
    * ONE equi-join of the state against itself on the pointer — shuffles
    * on post id, no fan-out on hot threads — then ONE job that both
    * materializes the lazy localCheckpoint (lineage truncation) and
    * returns the (remaining, max-chain) convergence aggregate: half the
    * scheduled jobs of the eager-checkpoint-plus-count loop. A cycle
    * (corrupt input — parent chains must be acyclic) raises as soon as
    * the longest chain exceeds the post count — BEFORE the doubling
    * accumulator can amplify it toward 2^maxIter cells — with `maxIter`
    * kept as the backstop.
    *
    * Total state is O(Σ depth) id cells, inherent when the chain IS the
    * output ([[dialogueChains]]); callers that only need (root, depth)
    * labels use the O(N)-state [[threadLabels]] instead. Output:
    * (post_id, parent_id, root_id, depth, chain) with chain = ancestors
    * bottom-up (parent first, root last; empty for roots). */
  def threadPaths(posts: DataFrame, maxIter: Int = 40): DataFrame = {
    var st = normalizeParents(posts).select(
        col("post_id"),
        col("parent_id").as("anc"),
        when(col("parent_id").isNull, array().cast("array<bigint>"))
          .otherwise(array(col("parent_id"))).as("chain"))
      .localCheckpoint(false)
    val init = st.agg(count(lit(1)), sum(when(col("anc").isNotNull, 1L)),
      max(size(col("chain")))).head()
    val nPosts = init.getLong(0)
    var remaining = if (init.isNullAt(1)) 0L else init.getLong(1)
    var iter = 0
    def round(): Unit = {
      val hop = st.select(col("post_id").as("anc"),
        col("anc").as("anc2"), col("chain").as("chain2"))
      st = st.join(hop, Seq("anc"), "left")
        .select(col("post_id"),
          col("anc2").as("anc"),
          when(col("chain2").isNull, col("chain"))
            .otherwise(concat(col("chain"), col("chain2"))).as("chain"))
        .localCheckpoint(false)
      iter += 1
    }
    while (remaining > 0 && iter < maxIter) {
      // TWO doubling rounds per convergence check: a round past the
      // settle point is a no-op (settled rows miss the join and pass
      // through unchanged), so pairing halves the scheduled jobs
      // without changing the result; the cycle bound is checked every
      // other round, still long before maxIter lets state amplify
      round()
      if (remaining > 1 && iter < maxIter) round()
      val row = st.agg(sum(when(col("anc").isNotNull, 1L)),
        max(size(col("chain")))).head()
      remaining = if (row.isNullAt(0)) 0L else row.getLong(0)
      require(row.isNullAt(1) || row.getInt(1) < nPosts,
        "threadPaths: ancestor chain longer than the post count — " +
          "cycle in parent ids")
    }
    require(remaining == 0,
      s"threadPaths did not settle in $maxIter rounds — cycle in parent ids?")
    // try_element_at, not element_at: roots have EMPTY chains and ANSI
    // mode (Spark 4 default) makes out-of-bounds element_at throw
    st.select(
      col("post_id"),
      try_element_at(col("chain"), lit(1)).as("parent_id"),
      coalesce(try_element_at(col("chain"), lit(-1)), col("post_id"))
        .as("root_id"),
      size(col("chain")).cast("long").as("depth"),
      col("chain"))
  }

  /** CHAINLESS thread labels by pointer doubling — the O(N)-state twin
    * of [[threadPaths]] for consumers that need (root, depth) but not
    * the ancestor list: each post carries a pointer `anc` to its
    * highest known ancestor plus the edge DISTANCE to it; per round
    * every post adopts its ancestor's pointer and ADDS its ancestor's
    * distance (`depth += depth(anc)` — the classic doubling invariant),
    * settling with the root id once the adopted ancestor is itself
    * settled. Same ⌈log₂ D⌉ + 1 equi-join rounds and one-job-per-round
    * loop as [[threadPaths]], but the per-post state is THREE scalars
    * instead of an O(depth) array — total state O(N) id cells where the
    * chain variant pays O(Σ depth), which on a corpus whose deepest
    * thread grows with N (the [[postsInject]] mega-thread: depth ≈
    * N/101) is the difference between linear and quadratic memory.
    * Cycles raise as soon as any accumulated depth reaches the post
    * count. Output: (post_id, parent_id, root_id, depth). */
  def threadLabels(posts: DataFrame, maxIter: Int = 40): DataFrame = {
    var st = normalizeParents(posts).select(
        col("post_id"),
        col("parent_id"),
        col("parent_id").as("anc"),
        when(col("parent_id").isNull, col("post_id")).as("root"),
        when(col("parent_id").isNull, lit(0L)).otherwise(lit(1L)).as("depth"))
      .localCheckpoint(false)
    val init = st.agg(count(lit(1)),
      sum(when(col("anc").isNotNull, 1L))).head()
    val nPosts = init.getLong(0)
    var remaining = if (init.isNullAt(1)) 0L else init.getLong(1)
    var iter = 0
    def round(): Unit = {
      val hop = st.select(col("post_id").as("anc"), col("anc").as("anc2"),
        col("root").as("root2"), col("depth").as("d2"))
      // settled rows (anc null) never match the join key and pass
      // through unchanged; walking rows always match (parents are
      // normalized into the post set), adopting the ancestor's pointer,
      // distance, and — once the ancestor is settled — its root
      st = st.join(hop, Seq("anc"), "left")
        .select(col("post_id"), col("parent_id"),
          col("anc2").as("anc"),
          coalesce(col("root"), col("root2")).as("root"),
          (col("depth") + coalesce(col("d2"), lit(0L))).as("depth"))
        .localCheckpoint(false)
      iter += 1
    }
    while (remaining > 0 && iter < maxIter) {
      // two rounds per convergence check (see threadPaths) — a round
      // past the settle point is a no-op, so the pairing is hash-safe
      round()
      if (remaining > 1 && iter < maxIter) round()
      val row = st.agg(sum(when(col("anc").isNotNull, 1L)),
        max(col("depth"))).head()
      remaining = if (row.isNullAt(0)) 0L else row.getLong(0)
      require(row.isNullAt(1) || row.getLong(1) < nPosts,
        "threadLabels: accumulated depth reached the post count — " +
          "cycle in parent ids")
    }
    require(remaining == 0,
      s"threadLabels did not settle in $maxIter rounds — cycle in parent ids?")
    st.select(col("post_id"), col("parent_id"),
      col("root").as("root_id"), col("depth"))
  }

  /** Per-post thread labeling + per-thread size — the relational face of
    * the reply-tree walk: (post_id, parent_id, root_id, depth,
    * thread_size). Rides the CHAINLESS [[threadLabels]] doubling (O(N)
    * total state — this output never needs the ancestor arrays);
    * thread_size is one partial-agg groupBy(root_id) joined back on the
    * root key (both shuffle on root_id — a mega-thread is one group,
    * never a window partition holding its posts). */
  def threadAssembly(posts: DataFrame): DataFrame = {
    val paths = graft.CacheScope.persist(threadLabels(posts))
    val sizes = paths.groupBy(col("root_id")).agg(count(lit(1)).as("thread_size"))
    paths.join(sizes, Seq("root_id"))
      .select(col("post_id"), col("parent_id"), col("root_id"),
        col("depth"), col("thread_size"))
  }

  /** ROOT-TO-LEAF DIALOGUE LINEARIZATION (the DialoGPT corpus recipe):
    * every LEAF post (no replies) yields one training dialogue — the
    * post chain from its thread root down to it, each turn rendered
    * "author: text" — kept when it has at least `minTurns` turns and
    * STRICT speaker alternation (no author speaks twice in a row; the
    * depth/author filters of the published recipe).
    *
    * Scale shape: [[threadPaths]] supplies the chains; leaves drop out
    * via one LEFT ANTI join against the distinct parent set; each kept
    * chain explodes to O(depth) (pos, ancestor) rows that equi-join
    * posts for (author, text) and re-assemble with a skew-safe
    * array_sort(collect_list(struct(pos, …))) — a mega-thread's
    * dialogue is one group of depth-bounded rows, never a cross
    * product. Output: (leaf_id, root_id, n_turns, n_speakers,
    * dialogue). */
  def dialogueChains(posts: DataFrame, minTurns: Int = 3): DataFrame = {
    val paths = threadPaths(posts)
    val parents = posts.filter(col("parent_id").isNotNull)
      .select(col("parent_id").as("post_id")).distinct()
    val leaves = paths.join(parents, Seq("post_id"), "left_anti")
      .filter(size(col("chain")) + 1 >= minTurns)
    val turns = leaves.select(
        col("post_id").as("leaf_id"), col("root_id"),
        (size(col("chain")) + 1).cast("long").as("n_turns"),
        posexplode(concat(reverse(col("chain")), array(col("post_id"))))
          .as(Seq("pos", "pid")))
      .join(posts.select(col("post_id").as("pid"), col("author"), col("text")),
        Seq("pid"))
    val assembled = turns.groupBy(col("leaf_id"), col("root_id"), col("n_turns"))
      .agg(array_sort(collect_list(struct(col("pos"), col("author"), col("text"))))
        .as("t"))
    val alternations = size(filter(zip_with(
      slice(col("t"), lit(1), size(col("t")) - 1),
      slice(col("t"), lit(2), size(col("t")) - 1),
      (a, b) => a.getField("author") =!= b.getField("author")),
      x => x))
    assembled
      .withColumn("n_alt", alternations)
      .filter(col("n_alt") === col("n_turns") - 1)
      .select(col("leaf_id"), col("root_id"), col("n_turns"),
        size(array_distinct(transform(col("t"), t => t.getField("author"))))
          .cast("long").as("n_speakers"),
        concat_ws(" | ", transform(col("t"),
          t => concat(t.getField("author").cast("string"), lit(": "),
            t.getField("text")))).as("dialogue"))
  }
}
