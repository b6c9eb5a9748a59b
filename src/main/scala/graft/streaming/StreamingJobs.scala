package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The two managed streaming benchmark jobs the reference tunes, as
  * Structured Streaming transformations (source-agnostic: apply to a
  * Kafka/rate/memory stream or, identically, to a batch DataFrame — the
  * Column plan is the same, which is how the batch oracles verify the
  * streaming semantics).
  *
  *  - A18 TopSpeedWindowing (CARS scenario,
  *    reference src/main/resources/phoebe.properties:13): per-car max
  *    speed over event-time tumbling windows with a watermark.
  *  - A19 Yahoo streaming benchmark (ADS scenario,
  *    reference baseline.properties:10): filter view events (P10), enrich
  *    against the static campaign dimension (J7 stream-static broadcast
  *    join), count per campaign per window with a watermark.
  *
  * Next to them: gap sessionization and the S12–S14 workload sources.
  * The curation streams live in the curation surface, which depends on
  * this package and never the other way round.
  *
  * Scale notes: windowed aggregations shuffle on (window, key) with
  * partial aggregation; the campaign dimension is broadcast so the
  * stream never shuffles for the join; watermarks bound state.
  */
object StreamingJobs {

  /** A18 — events(ts: Timestamp, car_id, speed) → per-car per-window max.
    * `watermark` bounds lateness/state (streaming only; harmless on batch).
    */
  def topSpeedWindows(cars: DataFrame, windowLen: String,
                      watermark: String = "30 minutes"): DataFrame =
    cars.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("car_id"))
      .agg(max(col("speed")).as("max_speed"))
      .select(col("car_id"), unix_timestamp(col("w.start")).as("win_start"),
        col("max_speed"))

  /** A19 — view events enriched with the campaign dim (broadcast while
    * the dim's estimated size fits the session threshold — the real
    * campaign dim is ~100 rows; the TPC-H proxy grows with SF), counted
    * per campaign per window. */
  def campaignWindows(events: DataFrame, campaigns: DataFrame, windowLen: String,
                      watermark: String = "30 minutes"): DataFrame =
    events.filter(col("event_type") === "view")
      .withWatermark("ts", watermark)
      .join(graft.functions.FrameOps.dimBroadcast(campaigns),
        col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), windowLen).as("w"), col("campaign"))
      .agg(count(lit(1)).as("n_views"))
      .select(col("campaign"), unix_timestamp(col("w.start")).as("win_start"),
        col("n_views"))

  /** Gap sessionization as a stream: Spark's native `session_window`
    * (event-time windows that merge while consecutive events fall within
    * `gap`) with a watermark bounding state — the streaming twin of
    * the `events_sessionize` batch operator. Two documented deviations
    * from the batch operator: the merge test is strict-< of the gap
    * (an event exactly `gap` after its predecessor starts a NEW session),
    * and `session_end` is the window end = last event + gap, not the last
    * event itself. State is per (user, open session) and is evicted as
    * the watermark passes a session's end — bounded regardless of stream
    * length. Applying the same plan to a batch frame yields the same
    * sessions, which is how the spec pins the semantics. */
  def sessionWindows(events: DataFrame, gap: String,
                     watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(graft.queries.Sql.decSum(col("value")), 4).as("total_value"))
      .select(col("user_id"),
        unix_timestamp(col("w.start")).as("session_start"),
        unix_timestamp(col("w.end")).as("session_end"),
        col("n_events"), col("total_value"))

  /** S12 — synthetic sine workload source
    * (reference analytics/app/prepare_model.py:24-47):
    * value = |x + x·noise| with x = sin(2π·i/period)·amplitude + vphase.
    * The reference draws noise ~ N(0, 0.01) with seed 42; here noise is a
    * deterministic md5-derived uniform in [−0.01, 0.01] so any engine
    * reproduces it exactly (documented deviation: distribution shape).
    * Works identically over `spark.range` (batch) or a rate stream's
    * per-row index. */
  def sineValue(i: Column, period: Int, amplitude: Double, vphase: Double): Column = {
    val x = round(sin(i.cast("double") * (2 * math.Pi) / period), 8) * amplitude + vphase
    val noise =
      (conv(substring(md5(i.cast("string")), 1, 15), 16, 10).cast("long") % 2001 - 1000)
        .cast("double") / 100000.0
    abs(x + x * noise)
  }

  def sineWorkload(spark: SparkSession, n: Long, period: Int,
                   amplitude: Double, vphase: Double, startTs: Long,
                   step: Long): DataFrame =
    spark.range(n).toDF("i").select(
      (lit(startTs) + col("i") * step).as("ts"),
      round(sineValue(col("i"), period, amplitude, vphase) + lit(1e-9), 4).as("value"))

  /** S13 — dataset workload: an existing series tiled `k`× to extend its
    * length (reference prepare_model.py:50-72 `pd.concat([df]*k)`), with
    * the same deterministic noise. */
  def tiledWorkload(series: DataFrame, k: Int, spanTs: Long): DataFrame =
    series.select(col("ts"), col("value"),
      explode(sequence(lit(0), lit(k - 1))).as("rep"))
      .select((col("ts") + col("rep") * spanTs).as("ts"),
        round(abs(col("value") +
          col("value") * ((conv(substring(md5(concat(col("rep").cast("string"),
            lit(":"), col("ts").cast("string"))), 1, 15), 16, 10).cast("long") % 2001 - 1000)
            .cast("double") / 100000.0)) + lit(1e-9), 4).as("value"))

  /** S14 — random example series: sequential timestamps + md5-derived
    * uniform values (reference ws.py:35-38 np.random.rand). */
  def randomSeries(spark: SparkSession, n: Long, startTs: Long, step: Long): DataFrame =
    spark.range(n).toDF("i").select(
      (lit(startTs) + col("i") * step).as("ts"),
      (conv(substring(md5(concat(lit("r"), col("i").cast("string"))), 1, 15), 16, 10)
        .cast("long") % 10000).cast("double").divide(10000).as("value"))
}
