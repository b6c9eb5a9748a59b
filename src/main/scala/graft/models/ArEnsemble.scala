package graft.models

import java.math.{BigDecimal => JBigDecimal}
import org.apache.spark.sql.{Column, DataFrame, Row}
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

  /** The nine exact moments of the (y2, y1, y) rows. */
  private def momentAggs(v: Column, y1: Column, y2: Column) = Seq(
    count(lit(1)).as("n3"),
    sum(dec15(v)).cast(decSumT).as("sy"),
    sum(dec15(y1)).cast(decSumT).as("s1"),
    sum(dec15(y2)).cast(decSumT).as("s2"),
    sum(dec15(y1) * dec15(y1)).cast(decProdT).as("s11"),
    sum(dec15(y2) * dec15(y2)).cast(decProdT).as("s22"),
    sum(dec15(y1) * dec15(y2)).cast(decProdT).as("s12"),
    sum(dec15(y1) * dec15(v)).cast(decProdT).as("s1y"),
    sum(dec15(y2) * dec15(v)).cast(decProdT).as("s2y"))

  /** M1 incremental state — the closed-form analog of the reference's
    * per-model ArimaModelWrapper bookkeeping (reference
    * analytics/app/workload/models.py:96-136: `model.update(new_obs)` +
    * `last_learned_timestamp` + cached workload). Per model_id: the nine
    * EXACT decimal moments of the strided AR(2) design, the last two grid
    * values (the lag context), and counters. The OLS moments are
    * ADDITIVE, so [[updateState]] aggregates only the stride-aligned NEW
    * observations — O(1) state per model, never a refit over history:
    * the state is `models` tiny rows, and an update folds only the new
    * batch into them.
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
    * The update is a driver fold over the `models` state rows
    * ([[updateRows]]): both inputs are collected, so `newObs` must be
    * tick-sized (the points since the last update, not a history). The
    * state is a few rows and a tick brings tens of points: a distributed
    * plan would spend most of a second on joins, windows and broadcasts
    * for microseconds of arithmetic. The result is a local relation, so
    * projections over it (the forecast) run no Spark job. */
  def updateState(state: DataFrame, newObs: DataFrame, models: Int = 20): DataFrame = {
    val obs = newObs.select(col("ts"), col("value").cast("double")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).sortBy(_._1)
    state.sparkSession.createDataFrame(
      java.util.Arrays.asList(updateRows(state.collect().toSeq, obs.toSeq, models): _*), state.schema)
  }

  /** The update fold, bit-equal to Spark's decimal rules: a value enters
    * as the DOUBLE → DECIMAL(15,4) cast (its `Double.toString` digits,
    * HALF_UP, raising on overflow as under ANSI), and `state + delta` on
    * a DECIMAL(38,8) moment is typed DECIMAL(38,7) by Spark's
    * precision-loss rule, so every update rounds those sums HALF_UP to 7
    * places before they are stored at scale 8 again. `obs` is ts-sorted;
    * the k-th point sits at global position n_tot + k − 1, on model m's
    * grid when that is ≡ anchor (mod m). Per model, the aligned points
    * take their lags from the state's last two grid values and then from
    * each other; only complete (y2, y1, y) rows count into n3 and the
    * (null-skipping) sums. Rows with model_id > `models` only advance
    * n_tot and seen_ts. */
  def updateRows(state: Seq[Row], obs: Seq[(Long, Option[Double])], models: Int): Seq[Row] =
    state.map { r =>
      val out = r.toSeq.toArray
      def set(c: String, v: Any): Unit = out(r.fieldIndex(c)) = v
      def opt(c: String) = Option(r.getAs[java.lang.Double](c)).map(_.doubleValue)
      val m = r.getAs[Int]("model_id")
      val nTot = r.getAs[Long]("n_tot")
      val grid = if (m > models) Seq.empty else obs.zipWithIndex.collect {
        case (p, k) if (nTot + k - r.getAs[Number]("anchor").longValue) % m == 0 => p }
      val ys = Seq(opt("yl2"), opt("yl1")) ++ grid.map(_._2)
      val dy = ys.map(_.map(toDec15))
      def mul(a: Option[JBigDecimal], b: Option[JBigDecimal]) = for (x <- a; y <- b) yield x.multiply(y)
      val terms = grid.indices.map(i => (dy(i), dy(i + 1), dy(i + 2))).filter(_._1.isDefined)
        .map { case (y2, y1, y) =>
          Seq(y, y1, y2, mul(y1, y1), mul(y2, y2), mul(y1, y2), mul(y1, y), mul(y2, y)) }
      MomentCols.zipWithIndex.foreach { case (c, j) =>
        val s = terms.flatMap(_(j)).foldLeft(r.getAs[JBigDecimal](c))(_ add _)
        // sy, s1, s2 are (25,4) sums, which add exactly
        set(c, if (j < 3) s else s.setScale(7, HalfUp).setScale(8))
      }
      set("n3", r.getAs[Long]("n3") + terms.size)
      set("n_upd", r.getAs[Long]("n_upd") + terms.size)
      // the last aligned value and its lag; a null keeps the stored one
      grid.lastOption.foreach { case (ts, _) =>
        set("yl1", ys.last.orElse(opt("yl1")).getOrElse(null))
        set("yl2", ys(ys.size - 2).orElse(opt("yl2")).getOrElse(null))
        set("last_ts", ts)
      }
      set("n_tot", nTot + obs.size)
      obs.lastOption.foreach(p => set("seen_ts", math.max(r.getAs[Long]("seen_ts"), p._1)))
      Row.fromSeq(out.toSeq)
    }

  private val MomentCols = Seq("sy", "s1", "s2", "s11", "s22", "s12", "s1y", "s2y")
  private val HalfUp = java.math.RoundingMode.HALF_UP

  private def toDec15(v: Double): JBigDecimal = {
    val d = new JBigDecimal(java.lang.Double.toString(v)).setScale(4, HalfUp)
    if (d.precision > 15) throw new ArithmeticException(s"$v overflows DECIMAL(15,4)")
    d
  }

  /** Closed-form refit + recursive forecast from the (decimal) state: the
    * reference's 600 s horizon is `models` steps of the base step size
    * (models.py:97 `prediction_horizon = len(models) * step_size`). */
  def forecastFromState(state: DataFrame, horizon: Int = 20): DataFrame = {
    val df = state.select(Seq(col("model_id"), col("n3"), col("n_upd"),
      col("last_ts"), col("yl1"), col("yl2")) ++
      MomentCols.map(c => col(c).cast("double").as(c)): _*)
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
    members.select(col("step"), ewmBlend(col("xs")).as("blend"))
  }

  /** The blend of one model-ordered member array (null members skipped),
    * rounded to 4 places: [[blendForecast]]'s fold, and the optimize
    * loop's over its one-row frame of next-step forecasts. */
  def ewmBlend(members: Column): Column =
    round(aggregate(members, lit(null).cast("double"), (acc, x) =>
      when(x.isNull, acc).when(acc.isNull, x)
        .otherwise(acc * (lit(2e0) / lit(3e0)) + x * (lit(1e0) / lit(3e0)))) + lit(1e-9), 4)
}
