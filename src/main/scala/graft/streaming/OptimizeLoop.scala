package graft.streaming

import java.util.concurrent.{ExecutionException, FutureTask}
import graft.metrics.MetricOps
import graft.models.{ArEnsemble, CandidateOps}
import graft.sources.ProfilesStore
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The reference's resident 60 s / 600 s optimization loop
  * (reference execution/phoebe/Graph.java:215-283, SURVEY.md §3.3) as
  * Structured Streaming driver logic: metrics arrive as a stream,
  * `foreachBatch` appends them to the durable metrics store (keyed by
  * query and batch id, so a replayed batch is stored once), and every
  * `evalEveryBatches`-th batch runs one evaluation tick over the stored
  * history — trailing-window averages (A3), the backpressure rule (M10
  * over M7 slopes), and the rescale decision (M13) — reporting a decision
  * row, mirroring the reference's evalInt gate (60 s polls, act per
  * 600 s).
  *
  * State layout matches the reference: durable history in a store (their
  * SQLite, here parquet), decision state on the driver; the per-tick
  * analytics are full Spark plans over the stored history, so the loop
  * scales with the metrics volume.
  */
object OptimizeLoop {

  /** What one tick reads off the stored history (long format: sid ∈
    * {latency, throughput, conslag, backpressure}, ts, value):
    *  - `avg`: A3's trailing-window average per series
    *    ([[MetricOps.trailingAvg]]);
    *  - `bckPresPer`, `latencySlope`, `conslagSlope`: M10's inputs, the
    *    share of positive backpressure points and the rounded M7 slopes
    *    ([[MetricOps.backpressureRule]]); None where the batch function
    *    reads null;
    *  - `workloadSlope`: M13's input, the M11 throughput slope
    *    ([[MetricOps.forecastSlope]]);
    *  - `tickTs`: the max ts of the history; `throughputMaxTs`: the max
    *    throughput ts, the forecaster's cursor. */
  private[graft] final case class TickStats(
      avg: Map[String, Double], bckPresPer: Option[Double],
      latencySlope: Option[Double], conslagSlope: Option[Double],
      workloadSlope: Option[Double], tickTs: Option[Long], throughputMaxTs: Option[Long]) {
    /** M10: per == 1, or 0 < per with both slopes above 1; a null input
      * reads as not backpressured. */
    def isBckPres: Boolean = bckPresPer.contains(1.0) ||
      (bckPresPer.exists(_ > 0.0) && latencySlope.exists(_ > 1.0) &&
        conslagSlope.exists(_ > 1.0))
  }

  /** [[TickStats]] from one plan and one collect. A per-sid window gives
    * each series' max ts and its min/max ts over non-null values; one
    * conditional aggregate per sid then sums A3's trailing window, M10's
    * share, and the exact OLS sums of the series' one fit: M7 over the
    * whole of latency and conslag, M11 over the second half of
    * throughput. The sums are [[MetricOps.fitStats]]'s decimal and long
    * aggregates, taken with x = ts − (the series' min ts); the fit's own x
    * origin, its min ts, is moved onto them afterwards in exact arithmetic
    * (a no-op for M7), so every slope is bit-equal to the batch
    * functions'. */
  private[graft] def tickStats(history: DataFrame, step: Long, avgWindowPoints: Int): TickStats = {
    val w = Window.partitionBy(col("sid"))
    val valued = col("value").isNotNull
    val ranged = history.select(col("sid"), col("ts"), col("value"))
      .withColumn("t_max", max(col("ts")).over(w))
      .withColumn("v_min", min(when(valued, col("ts"))).over(w))
      .withColumn("v_max", max(when(valued, col("ts"))).over(w))
    val inTrail = col("ts") >= col("t_max") - lit(avgWindowPoints.toLong * step)
    val fitted = valued && (col("sid").isin("latency", "conslag") ||
      (col("sid") === "throughput" && col("ts") >= (col("v_min") + col("v_max")) / 2))
    val x = col("ts") - col("v_min")
    val y = col("value").cast(DecimalType(18, 4))
    val perSid = ranged.groupBy(col("sid")).agg(
      max(col("t_max")).as("t_max"),
      round(sum(when(inTrail, col("value").cast(DecimalType(30, 6)))).cast("double") /
        count(when(inTrail, col("value"))) + lit(1e-9), 4).as("avg"),
      (sum(when(col("value") > 0, 1).otherwise(0)).cast("double") / count(lit(1))).as("per"),
      (min(when(fitted, col("ts"))) - min(col("v_min"))).as("d"),
      count(when(fitted, col("value"))).as("n"),
      sum(when(fitted, x)).as("sx0"),
      sum(when(fitted, y)).as("sy"),
      sum(when(fitted, x.cast(DecimalType(18, 0)) * y)).as("sxy0"),
      sum(when(fitted, (x * x).cast(DecimalType(38, 0)))).as("sxx0"))
    // x' = x − d over the fit's n points
    val d = col("d").cast(DecimalType(38, 0))
    val n = col("n").cast(DecimalType(38, 0))
    val fit = perSid.select(col("sid"), col("t_max"), col("avg"), col("per"), col("n"),
      (col("sx0") - col("n") * col("d")).cast("double").as("sx"),
      col("sy").cast("double").as("sy"),
      (col("sxy0") - d * col("sy")).cast("double").as("sxy"),
      (col("sxx0") - lit(2) * d * col("sx0").cast(DecimalType(38, 0)) + n * d * d)
        .cast("double").as("sxx"))
    val rows = MetricOps.withLine(fit)
      .select(col("sid"), col("t_max"), col("avg"), col("per"),
        round(col("slope") + lit(1e-9), 6).as("slope"))
      .collect()
    val bySid = rows.map(r => r.getString(0) -> r).toMap
    def opt(sid: String, i: Int): Option[Double] =
      bySid.get(sid).filterNot(_.isNullAt(i)).map(_.getDouble(i))
    TickStats(
      avg = rows.filterNot(_.isNullAt(2)).map(r => r.getString(0) -> r.getDouble(2)).toMap,
      bckPresPer = opt("backpressure", 3),
      latencySlope = opt("latency", 4),
      conslagSlope = opt("conslag", 4),
      workloadSlope = opt("throughput", 4),
      tickTs = rows.filterNot(_.isNullAt(1)).map(_.getLong(1)).maxOption,
      throughputMaxTs = bySid.get("throughput").filterNot(_.isNullAt(1)).map(_.getLong(1)))
  }

  /** M13 (the m13 query's semantics): the candidate is taken when the
    * current scale-out is backpressured; the slope is the WORKLOAD
    * (throughput) forecast slope, not the latency slope M10 reads. */
  private def decide(s: TickStats, currentScaleOut: Long,
                     candidateBest: Long): (Double, Double, Boolean, Long, Boolean) = {
    val (best, rescale) = CandidateOps.rescaleDecision(
      bestRec = candidateBest, bestLat = candidateBest, isBestCandidate = None,
      slope = if (s.workloadSlope.exists(_ > 0)) 1.0 else -1.0,
      currentSo = currentScaleOut, currentValid = !s.isBckPres)
    (s.avg.getOrElse("latency", Double.NaN), s.avg.getOrElse("throughput", Double.NaN),
      s.isBckPres, best, rescale)
  }

  /** One evaluation over the accumulated metric history: trailing
    * averages (A3), the backpressure rule (M10 over M7 slopes) and the
    * rescale decision (M13). Slopes are null while a series has < 2
    * points (undefined fit), which reads as not backpressured / flat. */
  def evaluateTick(history: DataFrame, step: Long,
                   avgWindowPoints: Int, currentScaleOut: Long,
                   candidateBest: Long): (Double, Double, Boolean, Long, Boolean) =
    decide(tickStats(history, step, avgWindowPoints), currentScaleOut, candidateBest)

  /** M1 forecaster tick (reference analytics/app/workload/models.py:166-183
    * `predict()`: update each model with the new observations, persist the
    * updated state, forecast): [[advance]] with the state read from
    * `stateDir`, then the per-model forecast frame. */
  def forecastTick(spark: SparkSession, stateDir: String, newObs: DataFrame,
                   models: Int = 20, horizon: Int = 20): DataFrame =
    ArEnsemble.forecastFromState(advance(spark, stateDir, None, newObs, models), horizon)

  /** One step of the incremental [[ArEnsemble]] state under `stateDir`:
    * the first step fits, later ones `update()` `resident` — the state the
    * caller holds from its last step — or, when it holds none, the stored
    * state. The new state is durably swapped in (write-next → delete →
    * rename: a parquet table can't be overwritten while being read) and
    * returned as a local relation, so a forecast over it runs no job. */
  private def advance(spark: SparkSession, stateDir: String, resident: Option[DataFrame],
                      newObs: DataFrame, models: Int): DataFrame = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(s"$stateDir/m1_state")
    val nxt = new Path(s"$stateDir/m1_state_next")
    // crash recovery: a death between delete(cur) and rename(nxt, cur)
    // leaves only the fully-written next state — promote it instead of
    // silently refitting from one batch and discarding all prior moments
    if (!fs.exists(cur) && fs.exists(nxt) &&
        require2(fs.rename(nxt, cur), s"promote $nxt")) ()
    val next = resident.orElse(Some(cur).filter(fs.exists).map(p => spark.read.parquet(p.toString)))
      .map(ArEnsemble.updateState(_, newObs, models))
      .getOrElse {
        val fit = ArEnsemble.fitState(newObs, models)
        spark.createDataFrame(java.util.Arrays.asList(fit.collect(): _*), fit.schema)
      }
    // an empty state must NEVER be written: a fitState over zero
    // observations would persist an empty frame, and every later
    // updateState over it stays empty — the store would be permanently
    // bricked while the cursor advances past real data. A stored state is
    // therefore never empty, and an empty first tick simply waits for
    // observations.
    if (!next.isEmpty) {
      next.coalesce(1).write.mode("overwrite").parquet(nxt.toString)
      fs.delete(cur, true)
      require2(fs.rename(nxt, cur), s"swap $nxt -> $cur")
    }
    next
  }

  /** The blended next-step forecast of the per-model (model_id, …, f1)
    * rows: the EWM fold over the model-ordered members, on a one-row
    * local frame (no job); NaN where every member is null. */
  private def blendNext(spark: SparkSession, f1: Seq[Row], models: Int): Double = {
    import spark.implicits._
    val byModel = f1.map(r => r.getAs[Int]("model_id") -> r.getAs[java.lang.Double]("f1")).toMap
    val members = (1 to models).map(k => byModel.get(k).flatMap(Option(_)).map(_.doubleValue))
    val b = Seq(Tuple1(members)).toDF("xs").select(ArEnsemble.ewmBlend(col("xs"))).head
    if (b.isNullAt(0)) Double.NaN else b.getDouble(0)
  }

  /** Starts `body` on a thread of its own and returns a function that
    * waits for its result (rethrowing its failure). A new thread inherits
    * the caller's Spark local properties, so its jobs belong to the
    * stream's job group and stopping the stream cancels them. */
  private def alongside[T](body: => T): () => T = {
    val task = new FutureTask[T](() => body)
    val thread = new Thread(task, "optimize-loop-evaluation")
    thread.setDaemon(true)
    thread.start()
    () => try task.get() catch { case e: ExecutionException => throw e.getCause }
  }

  private def require2(ok: Boolean, what: String): Boolean = {
    require(ok, s"m1 state store: rename failed ($what)"); ok
  }

  /** Restart cursor: the max observation ts the durable M1 state has
    * already consumed (Long.MinValue when no state exists yet). attach()
    * seeds its in-memory cursor from this so a restarted loop never
    * re-feeds consumed history into the additive state. */
  def seedCursor(spark: SparkSession, stateDir: String): Long = {
    val p = new Path(s"$stateDir/m1_state")
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val existing =
      if (fs.exists(p)) Some(p)
      else if (fs.exists(new Path(s"$stateDir/m1_state_next")))
        Some(new Path(s"$stateDir/m1_state_next"))
      else None
    existing.map { path =>
      val df = spark.read.parquet(path.toString)
      // states written before the cursor column existed fall back to the
      // grid-only watermark (may re-feed a tail of non-grid points once)
      val c = if (df.columns.contains("seen_ts")) "seen_ts" else "last_ts"
      val r = df.agg(max(col(c))).head
      if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
    }.getOrElse(Long.MinValue)
  }

  /** Attach the loop to a metrics stream. Decisions are delivered to
    * `onDecision(batchId, avgLat, avgThr, isBck, best, rescale)` AND — the
    * reference's predictions-table parity (managers/DataManager.java:
    * 218-242, one row per tick) — appended durably to
    * `storePath_decisions`. When `forecastDir` is set, each tick also
    * update()s the M1 ensemble with the throughput observations that
    * arrived since the last tick and records the blended next-step
    * forecast in the decision row. */
  def attach(metrics: DataFrame, storePath: String, step: Long,
             avgWindowPoints: Int, evalEveryBatches: Long,
             currentScaleOut: Long, candidateBest: Long,
             trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
             forecastDir: Option[String] = None, forecastModels: Int = 20)(
      onDecision: (Long, Double, Double, Boolean, Long, Boolean) => Unit): DataStreamWriter[Row] = {
    // driver-side bookkeeping, like the reference's last_learned_timestamp:
    // the forecaster must consume each observation exactly once — seeded
    // from the DURABLE state so a restarted loop (new driver, same
    // forecastDir) does not re-feed consumed history into the additive
    // moments (which would silently double-count every sum)
    var lastSeenTs = forecastDir.map(fd => seedCursor(metrics.sparkSession, fd))
      .getOrElse(Long.MinValue)
    // the state of the last successful swap, held like the reference's
    // in-process models: only the first tick after a (re)start reads the
    // durable state
    var resident: Option[DataFrame] = None
    metrics.writeStream.trigger(trigger).foreachBatch {
      (batch: DataFrame, id: Long) =>
        // keyed by the stream's checkpointed id and the batch id: a batch
        // replayed from the same checkpoint replaces its first attempt
        val query = batch.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
        val batchKey = s"$query-b$id"
        ProfilesStore.appendBatch(batch, storePath, batchKey)
        if ((id + 1) % evalEveryBatches == 0) {
          val spark = batch.sparkSession
          // the store holds what the stream appends: read it with the
          // batch's schema instead of inferring one from a footer (a job)
          val hist = spark.read.schema(batch.schema).parquet(storePath)
          // the evaluation only reads, and the forecaster needs none of
          // it: it runs alongside the forecaster
          val evaluation = alongside(tickStats(hist, step, avgWindowPoints))
          val fNext: Option[Double] = forecastDir.map { fd =>
            val newThr = hist.filter(col("sid") === "throughput" &&
              col("ts") > lastSeenTs).select("ts", "value")
            val st = advance(spark, fd, resident, newThr, forecastModels)
            val f1 = ArEnsemble.forecastFromState(st, 1).collect().toSeq
            // an empty state is not stored: the next tick fits afresh
            if (f1.nonEmpty) resident = Some(st)
            // the stored value is the BLENDED next-step forecast (EWM
            // span-5 over the ensemble — A10/A17, the value the reference's
            // prediction row records), not a plain model mean
            blendNext(spark, f1, forecastModels)
          }
          val stats = evaluation()
          stats.throughputMaxTs.foreach(mx => lastSeenTs = math.max(lastSeenTs, mx))
          val (lat, thr, bck, best, resc) = decide(stats, currentScaleOut, candidateBest)
          import spark.implicits._
          // first tick may evaluate an empty history (e.g. an empty
          // initial micro-batch): there is nothing to decide on — skip the
          // decision row instead of NPE-ing the streaming query
          stats.tickTs.foreach { tickTs =>
            ProfilesStore.appendBatch(
              Seq((id, tickTs, lat, thr, bck, best, resc, fNext))
                .toDF("batch_id", "ts", "avg_lat", "avg_thr", "is_bck_pres",
                  "best_scale_out", "rescale", "forecast_next"),
              storePath + "_decisions", batchKey)
          }
          onDecision(id, lat, thr, bck, best, resc)
        }
    }
  }
}
