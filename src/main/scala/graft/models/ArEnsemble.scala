package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** M1 (skeleton) — the workload-forecaster ensemble re-expressed
  * Spark-first: 20 models, model k trained on the stride-k subsample of
  * the series ending at the last observation (A14, reference
  * wm.py:79-84), each fit as an AR(2)-with-intercept by exact closed-form
  * OLS (Cramer on a 3×3 normal system), then 6-step recursive forecasts
  * per model (A17's per-model forecast frame).
  *
  * Bit-parity with pmdarima's stepwise heuristics is unrealistic
  * (SURVEY.md §7.4 risk 1); this object keeps the fixed AR(2) baseline,
  * and [[AutoOrder]] supplies the order-search capability — per-member
  * (p ≤ 3, d ≤ 1, q ≤ 1) selection by the reference's own 20%-holdout
  * MAE criterion, with differencing and MA terms — as its own verified
  * query (`m1_auto_order`). All 20 fits happen in ONE DataFrame plan
  * (explode model ids × stride filter → groupBy model), not a driver
  * loop.
  *
  * The Cramer determinant / forecast-recursion expressions are shared SQL
  * template strings (`expr(...)` on the Spark side, verbatim in the
  * DuckDB oracle) so both engines run identical double arithmetic.
  */
object ArEnsemble {

  val detSql = "n3*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)"
  val det0Sql = "sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)"
  val det1Sql = "n3*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)"
  val det2Sql = "n3*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)"

  /** Forecast step k (1-based): f1 uses the last two strided values. */
  def forecastSql(k: Int): String = k match {
    case 1 => "c + a1*yl1 + a2*yl2"
    case 2 => "c + a1*f1 + a2*yl1"
    case n => s"c + a1*f${n - 1} + a2*f${n - 2}"
  }

  /** All `horizon` forecast steps as ONE linear-size expression: a fold
    * over 1..horizon carrying the running tail in an array accumulator
    * (element_at -1/-2), seeded with [yl2, yl1] so element k+2 is f_k.
    * A per-step `withColumn(f_k = c + a1*f_{k-1} + a2*f_{k-2})` chain
    * inlines both predecessors after Catalyst's project collapse —
    * Fibonacci tree growth, ~10 s of pure analyzer/codegen time at
    * horizon 20 — while this fold is the identical arithmetic in the
    * identical order (bit-equal to the chained form and the oracle's
    * step-CTE chain). Null c/a1/a2 (singular fit) propagates null
    * forecasts exactly as the chain did. */
  private def forecastArray(horizon: Int): Column =
    aggregate(
      sequence(lit(1), lit(horizon)),
      array(col("yl2").cast("double"), col("yl1").cast("double")),
      (acc, _) => concat(acc, array(
        col("c") + col("a1") * element_at(acc, -1) +
          col("a2") * element_at(acc, -2))))

  /** (pos, n)-posed single series. With `bucketSpan` set the ranking is
    * DISTRIBUTED: rank within ts-buckets plus carried bucket offsets (the
    * TimeSeriesOps.interpolate chunking pattern) — only the per-bucket
    * COUNT relation (one row per bucket) passes through a single
    * partition, so a multi-month 1 Hz series ranks in parallel. Without
    * it, the deliberate `% 1`-keyed single-partition window applies —
    * bounded by contract to series that fit one task (≲ a few million
    * rows; the metric series here are hundreds of points). */
  def posed(series: DataFrame, bucketSpan: Option[Long] = None): DataFrame =
    bucketSpan match {
      case None =>
        series
          .withColumn("pos", row_number().over(
            Window.partitionBy(col("ts") % 1).orderBy("ts")) - 1)
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("ts") % 1)))
      case Some(span) =>
        val bk = series.withColumn("bk", expr(s"ts div $span"))
        val wTiny = Window.partitionBy(col("bk") % 1)
        val offs = bk.groupBy(col("bk")).agg(count(lit(1)).as("cnt"))
          .withColumn("off", coalesce(sum(col("cnt")).over(
            wTiny.orderBy(col("bk")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("n", sum(col("cnt")).over(wTiny))
          .select(col("bk"), col("off"), col("n"))
        bk.join(offs, "bk")
          .withColumn("pos", col("off") +
            row_number().over(Window.partitionBy(col("bk")).orderBy("ts")) - 1)
          .drop("bk", "off")
    }

  /** Input: single null-free series (ts, value). Output per model_id ∈
    * [1, models]: n3 (training rows), c/a1/a2, f1..f6. */
  def fitForecast(series: DataFrame, models: Int = 20, horizon: Int = 6,
                  posBucketSpan: Option[Long] = None): DataFrame = {
    val dec = (c: Column) => c.cast(DecimalType(15, 4))
    val strided = posed(series, posBucketSpan)
      .select(col("pos"), col("n"), col("value"),
        explode(sequence(lit(1), lit(models))).as("model_id"))
      .filter((col("n") - 1 - col("pos")) % col("model_id") === 0)
    val wM = Window.partitionBy(col("model_id")).orderBy(col("pos"))
    val lagged = strided
      .withColumn("y1", lag(col("value"), 1).over(wM))
      .withColumn("y2", lag(col("value"), 2).over(wM))
      .withColumn("rend", row_number().over(
        Window.partitionBy(col("model_id")).orderBy(col("pos").desc)))
    val moments = lagged.filter(col("y2").isNotNull)
      .groupBy(col("model_id")).agg(
        count(lit(1)).as("n3"),
        sum(dec(col("value"))).cast("double").as("sy"),
        sum(dec(col("y1"))).cast("double").as("s1"),
        sum(dec(col("y2"))).cast("double").as("s2"),
        sum(dec(col("y1")) * dec(col("y1"))).cast("double").as("s11"),
        sum(dec(col("y2")) * dec(col("y2"))).cast("double").as("s22"),
        sum(dec(col("y1")) * dec(col("y2"))).cast("double").as("s12"),
        sum(dec(col("y1")) * dec(col("value"))).cast("double").as("s1y"),
        sum(dec(col("y2")) * dec(col("value"))).cast("double").as("s2y"))
    val lastVals = lagged.filter(col("rend") === 1)
      .select(col("model_id"), col("value").as("yl1"), col("y1").as("yl2"))
    val df = moments.join(lastVals, "model_id")
      .withColumn("det", expr(detSql))
      // det=0 (constant/collinear series) => null forecasts, the same
      // guard forecastFromState carries; the oracle mirrors it with
      // NULLIF(det, 0) so neither engine emits inf
      .withColumn("c", when(col("det") =!= 0.0, expr(det0Sql) / col("det")))
      .withColumn("a1", when(col("det") =!= 0.0, expr(det1Sql) / col("det")))
      .withColumn("a2", when(col("det") =!= 0.0, expr(det2Sql) / col("det")))
      .withColumn("fs", forecastArray(horizon))
    df.select(col("model_id") +: col("n3") +:
      (1 to horizon).map(k =>
        round(element_at(col("fs"), k + 2) + lit(1e-9), 4).as(s"f$k")): _*)
  }

  // ------------------------------------------------------- M1 incremental --

  private def dec15(c: Column) = c.cast(DecimalType(15, 4))
  private val decSumT = DecimalType(25, 4)
  private val decProdT = DecimalType(38, 8)

  /** The nine exact moments of the (y2, y1, y) rows, or of those among
    * them where `rows` holds. */
  private def momentAggs(v: Column, y1: Column, y2: Column, rows: Option[Column] = None) = {
    def over(c: Column) = rows.fold(c)(when(_, c))
    Seq(
      count(over(lit(1))).as("n3"),
      sum(over(dec15(v))).cast(decSumT).as("sy"),
      sum(over(dec15(y1))).cast(decSumT).as("s1"),
      sum(over(dec15(y2))).cast(decSumT).as("s2"),
      sum(over(dec15(y1) * dec15(y1))).cast(decProdT).as("s11"),
      sum(over(dec15(y2) * dec15(y2))).cast(decProdT).as("s22"),
      sum(over(dec15(y1) * dec15(y2))).cast(decProdT).as("s12"),
      sum(over(dec15(y1) * dec15(v))).cast(decProdT).as("s1y"),
      sum(over(dec15(y2) * dec15(v))).cast(decProdT).as("s2y"))
  }

  /** M1 incremental state — the closed-form analog of the reference's
    * per-model ArimaModelWrapper bookkeeping (reference
    * analytics/app/workload/models.py:96-136: `model.update(new_obs)` +
    * `last_learned_timestamp` + cached workload). Per model_id: the nine
    * EXACT decimal moments of the strided AR(2) design, the last two grid
    * values (the lag context), and counters. The OLS moments are
    * ADDITIVE, so [[updateState]] aggregates only the stride-aligned NEW
    * observations — O(1) state per model, never a refit over history. On
    * a cluster the state is `models` tiny rows while each update's moment
    * deltas are a distributed aggregation over the new batch only.
    *
    * The stride grid is anchored at the END of the initial series
    * (reference `(count-1) - arange(0, count, stride)`); updates consume
    * observations that land on the same grid and leave the rest to later
    * ticks (the reference's cached-workload semantics, with the global
    * position counter `n_tot` standing in for the cached points). */
  def fitState(series: DataFrame, models: Int = 20,
               posBucketSpan: Option[Long] = None): DataFrame = {
    val grid = posed(series, posBucketSpan)
      .select(col("pos"), col("n"), col("ts"), col("value"),
        explode(sequence(lit(1), lit(models))).as("model_id"))
      .filter((col("n") - 1 - col("pos")) % col("model_id") === 0)
    val wM = Window.partitionBy(col("model_id")).orderBy(col("pos"))
    val lagged = grid
      .withColumn("y1", lag(col("value"), 1).over(wM))
      .withColumn("y2", lag(col("value"), 2).over(wM))
      .withColumn("rend", row_number().over(
        Window.partitionBy(col("model_id")).orderBy(col("pos").desc)))
    val moments = lagged.filter(col("y2").isNotNull)
      .groupBy(col("model_id"))
      .agg(momentAggs(col("value"), col("y1"), col("y2")).head,
        momentAggs(col("value"), col("y1"), col("y2")).tail: _*)
    val lastVals = lagged.filter(col("rend") === 1)
      .select(col("model_id"), col("value").as("yl1"), col("y1").as("yl2"),
        col("ts").as("last_ts"), col("pos").as("anchor"), col("n").as("n_tot"))
    // LEFT join from lastVals (every model has ≥1 grid point: pos = n-1
    // always lands on each stride) so a model whose grid has <3 points —
    // too few for any complete (y2,y1,y) row — keeps its state row with
    // ZERO moments instead of vanishing: updateState can then fill it as
    // observations arrive, and forecastFromState null-guards n3<3 via the
    // singular determinant.
    val zeroed = lastVals.join(moments, Seq("model_id"), "left")
      .withColumn("n3", coalesce(col("n3"), lit(0L)))
    val withZeroMoments = Seq("sy" -> decSumT, "s1" -> decSumT, "s2" -> decSumT,
      "s11" -> decProdT, "s22" -> decProdT, "s12" -> decProdT,
      "s1y" -> decProdT, "s2y" -> decProdT)
      .foldLeft(zeroed) { case (df, (c, t)) =>
        df.withColumn(c, coalesce(col(c), lit(0).cast(t))) }
    withZeroMoments
      .select(col("model_id"), col("n3"), col("sy"), col("s1"), col("s2"),
        col("s11"), col("s22"), col("s12"), col("s1y"), col("s2y"),
        col("yl1"), col("yl2"), col("last_ts"), col("anchor"), col("n_tot"))
      .withColumn("n_upd", lit(0L))
      // the global max ts ever consumed — the durable restart cursor for
      // OptimizeLoop.attach (every observation advances it, grid-aligned
      // or not). Stride-1's last_ts IS the series max; the non-foldable
      // %-key bounds the window to the `models` state rows.
      .withColumn("seen_ts", max(col("last_ts")).over(Window.partitionBy(col("model_id") % 1)))
  }

  /** Consume a batch of NEW observations (ts strictly after everything
    * already seen): per model, the points landing on its anchored stride
    * grid extend the moments additively; the rest only advance the global
    * position counter (they may become grid points of later batches).
    *
    * One pass: each new observation (k-th by ts) meets every state row,
    * and sits at global position n_tot + k − 1, on model m's grid when
    * that is ≡ anchor (mod m). Per model, the aligned points in order take
    * their lags from the state's last two grid values (yl1, yl2) and then
    * from each other; one aggregate sums the moments of the complete
    * (y2, y1, y) rows and picks the new last two values and last ts.
    *
    * NOTE for callers: `state` is referenced twice below (the alignment
    * and the final join) — pass it materialized (a parquet read, or
    * `.persist()` at the call site) or its upstream plan re-executes.
    * Persisting HERE would leak one cache entry per optimize-loop tick, so
    * ownership stays with the caller. */
  def updateState(state: DataFrame, newObs: DataFrame, models: Int = 20): DataFrame = {
    val nNew = newObs.agg(count(lit(1)).as("n_new"), max(col("ts")).as("mx_new"))
    val grid = state.filter(col("model_id") <= models).select(col("model_id"),
      col("n_tot"), col("anchor"), col("yl1").as("c1"), col("yl2").as("c2"))
    val wS = Window.partitionBy(col("model_id")).orderBy(col("k"))
    val aligned = newObs
      .withColumn("k", row_number().over(Window.partitionBy(col("ts") % 1).orderBy("ts")))
      .crossJoin(broadcast(grid))
      .filter((col("n_tot") + col("k") - 1 - col("anchor")) % col("model_id") === 0)
      .withColumn("sk", row_number().over(wS))
      .withColumn("y1", when(col("sk") === 1, col("c1"))
        .otherwise(lag(col("value"), 1).over(wS)))
      .withColumn("y2", when(col("sk") === 1, col("c2")).when(col("sk") === 2, col("c1"))
        .otherwise(lag(col("value"), 2).over(wS)))
    // complete (y2,y1,y) rows only — same rule as fitState's
    // y2.isNotNull filter: a model fitted from <2 grid points carries a
    // null lag context, and its first new rows must not count into n3
    // while contributing nothing to the (null-skipping) moment sums
    val moments = momentAggs(col("value"), col("y1"), col("y2"), Some(col("y2").isNotNull))
    val deltas = aligned.groupBy(col("model_id"))
      .agg(moments.head, moments.tail ++ Seq(
        // the latest grid values from the unfiltered tail: an incomplete
        // first row still advances the grid
        max_by(col("value"), col("sk")).as("nyl1"),
        max_by(col("y1"), col("sk")).as("nyl2"),
        max(col("ts")).as("d_last_ts")): _*)
      .select(col("model_id") +: col("nyl1") +: col("nyl2") +: col("d_last_ts") +:
        Seq("n3", "sy", "s1", "s2", "s11", "s22", "s12", "s1y", "s2y")
          .map(c => col(c).as(s"d_$c")): _*)
    def addDec(name: String, t: DecimalType) =
      (col(name) + coalesce(col(s"d_$name"), lit(0).cast(t))).cast(t).as(name)
    // deltas has at most `models` rows: broadcast it, as the planner
    // cannot bound it from statistics
    state.join(broadcast(deltas), Seq("model_id"), "left")
      .crossJoin(broadcast(nNew))
      .select(col("model_id"),
        (col("n3") + coalesce(col("d_n3"), lit(0L))).as("n3"),
        addDec("sy", decSumT), addDec("s1", decSumT), addDec("s2", decSumT),
        addDec("s11", decProdT), addDec("s22", decProdT), addDec("s12", decProdT),
        addDec("s1y", decProdT), addDec("s2y", decProdT),
        coalesce(col("nyl1"), col("yl1")).as("yl1"),
        coalesce(col("nyl2"), col("yl2")).as("yl2"),
        coalesce(col("d_last_ts"), col("last_ts")).as("last_ts"),
        col("anchor"), (col("n_tot") + col("n_new")).as("n_tot"),
        (col("n_upd") + coalesce(col("d_n3"), lit(0L))).as("n_upd"),
        greatest(col("seen_ts"), coalesce(col("mx_new"), col("seen_ts"))).as("seen_ts"))
  }

  /** Closed-form refit + recursive forecast from the (decimal) state: the
    * reference's 600 s horizon is `models` steps of the base step size
    * (models.py:97 `prediction_horizon = len(models) * step_size`). */
  def forecastFromState(state: DataFrame, horizon: Int = 20): DataFrame = {
    val df = state.select(Seq(col("model_id"), col("n3"), col("n_upd"),
      col("last_ts"), col("yl1"), col("yl2")) ++
      Seq("sy", "s1", "s2", "s11", "s22", "s12", "s1y", "s2y")
        .map(c => col(c).cast("double").as(c)): _*)
      .withColumn("det", expr(detSql))
      // a singular design (too few points, or a perfectly collinear
      // series) yields null forecasts instead of an ANSI division error;
      // callers skip nulls when blending
      .withColumn("c", when(col("det") =!= 0.0, expr(det0Sql) / col("det")))
      .withColumn("a1", when(col("det") =!= 0.0, expr(det1Sql) / col("det")))
      .withColumn("a2", when(col("det") =!= 0.0, expr(det2Sql) / col("det")))
      .withColumn("fs", forecastArray(horizon))
    df.select(col("model_id") +: col("n3") +: col("n_upd") +: col("last_ts") +:
      (1 to horizon).map(k =>
        round(element_at(col("fs"), k + 2) + lit(1e-9), 4).as(s"f$k")): _*)
  }

  /** A17+A10 — blend a wide per-model forecast frame (model_id, f1..fH)
    * across the model axis with the null-skipping EWM fold (span 5,
    * adjust=False — reference wm.py:133): one (step, blend) row per
    * forecast step. Shared by the a17 query and the REST façade.
    *
    * The fold is ONE `aggregate` over the model-ordered member array
    * (the [[forecastArray]] trick) instead of a `models`-deep chain of
    * `withColumn` levels: each step is [[graft.metrics.SmoothOps.ewmLevelSql]]'s
    * CASE arithmetic in the same order, and a null seed makes level 1 the
    * first member, so the result is bit-equal to the chain. */
  def blendForecast(wide: DataFrame, models: Int, horizon: Int): DataFrame = {
    val long = wide.select(col("model_id"),
      posexplode(array((1 to horizon).map(k => col(s"f$k")): _*)))
      .select(col("model_id"), (col("pos") + 1).as("step"), col("col").as("f"))
    val members = long.groupBy(col("step")).agg(array((1 to models).map(k =>
      max(when(col("model_id") === k, col("f")))): _*).as("xs"))
    val blend = aggregate(col("xs"), lit(null).cast("double"), (acc, x) =>
      when(x.isNull, acc).when(acc.isNull, x)
        .otherwise(acc * (lit(2e0) / lit(3e0)) + x * (lit(1e0) / lit(3e0))))
    members.select(col("step"), round(blend + lit(1e-9), 4).as("blend"))
  }
}
