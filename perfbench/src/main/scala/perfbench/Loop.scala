package perfbench

import scala.collection.mutable
import graft.models.ArEnsemble
import graft.sources.ProfilesStore
import graft.streaming.OptimizeLoop
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** `optimize_loop`: the profile → model → optimize tick of
  * `OptimizeLoop.attach` on a `MemoryStream`, over a metrics store seeded
  * with `historyHours` of 1 Hz history. Each tick feeds 60 simulated
  * seconds of the four series and is timed from `addData` to the return of
  * `processAllAvailable`.
  *
  * The series follow the ADS sine scenario (S12): throughput is
  * `sin(2πt/7200)·1e5 + 1e5` with 1 % gaussian noise; latency and consumer
  * lag follow the load; backpressure is off except for one planted
  * five-minute overload episode in the history. The seed sets the phase,
  * the noise and the position of the episode.
  */
final class Loop(work: String, historyHours: Int, trace: Trace) {
  private val T0 = 1704067200L
  private val TickSeconds = 60
  private val WarmupTicks = 1
  private val store = s"$work/store"
  private val decisionsPath = s"$work/store_decisions"
  private val m1 = s"$work/m1"
  private val checkpoint = s"$work/checkpoint"

  private final class Gen(seed: Long) {
    private val rng = new java.util.Random(seed)
    private val phase = rng.nextInt(7200)
    private val historyEnd = T0 + historyHours * 3600L
    private val episode = T0 + 3600L + rng.nextInt(math.max(1, historyHours * 3600 - 7200))
    private var t = T0
    private def r4(v: Double) = math.round(v * 1e4) / 1e4

    /** The next `seconds` of all four series, as (sid, ts, value). */
    def next(seconds: Int): Seq[(String, Long, Double)] =
      (0 until seconds).flatMap { _ =>
        val x = math.sin(2 * math.Pi * ((t - T0 + phase) % 7200) / 7200.0) * 1e5 + 1e5
        val thr = math.abs(x + x * 0.01 * rng.nextGaussian())
        val over = t >= episode && t < episode + 300 && t < historyEnd
        val lat = (800 + 0.004 * thr + 25 * rng.nextGaussian()) * (if (over) 3 else 1)
        val lag = math.max(0.0, 200 + 0.001 * thr + 30 * rng.nextGaussian() +
          (if (over) 20.0 * (t - episode) else 0.0))
        val row = Seq(("latency", t, r4(lat)), ("throughput", t, r4(thr)),
          ("conslag", t, r4(lag)), ("backpressure", t, if (over) 1.0 else 0.0))
        t += 1
        row
      }
  }

  private var gen: Gen = _
  private var input: MemoryStream[(String, Long, Double)] = _
  private var query: StreamingQuery = _
  private var batchId = -1L
  val decided = mutable.LinkedHashMap.empty[Long, (Double, Double, Boolean, Long, Boolean)]

  /** Fresh store with the seeded history, the loop attached, and the
    * warm-up tick run (it fits the forecaster). */
  def setup(spark: SparkSession, seed: Long): Unit = {
    import spark.implicits._
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Seq(store, decisionsPath, m1, checkpoint).foreach(p => fs.delete(new Path(p), true))
    decided.clear()
    batchId = -1L
    gen = new Gen(seed)
    ProfilesStore.init(gen.next(historyHours * 3600).toDF("sid", "ts", "value"), store)
    implicit val ctx = spark.sqlContext
    input = MemoryStream[(String, Long, Double)]
    val metrics = input.toDF().toDF("sid", "ts", "value")
    val writer =
      if (trace.enabled) replay(metrics)
      else OptimizeLoop.attach(metrics, store, step = 1L, avgWindowPoints = 600,
        evalEveryBatches = 1, currentScaleOut = 4, candidateBest = 6,
        trigger = Trigger.ProcessingTime(0), forecastDir = Some(m1),
        forecastModels = 20)(onDecision)
    query = writer.option("checkpointLocation", checkpoint).start()
    (1 to WarmupTicks).foreach(_ => tick())
  }

  private def onDecision(id: Long, lat: Double, thr: Double, bck: Boolean,
                         best: Long, resc: Boolean): Unit =
    decided.synchronized(decided(id) = (lat, thr, bck, best, resc))

  /** Run `count` timed ticks, then stop the loop and collect what the
    * checks need. Returns the run record. */
  def run(spark: SparkSession, count: Int): Map[String, Any] = {
    val ticks = mutable.ArrayBuffer.empty[Map[String, Any]]
    trace.start(spark.sparkContext)
    val gc0 = trace.gcMillis()
    val start = trace.now()
    (1 to count).foreach { _ =>
      val t0 = trace.now()
      val r = try Right(trace.op("tick", "loop")(tick()))
        catch { case e: Throwable => Left(e.toString) }
      ticks += Map("start_ns" -> t0, "end_ns" -> trace.now(),
        "batch" -> r.toOption, "error" -> r.left.toOption)
    }
    val timed = trace.now() - start
    val gcMs = trace.gcMillis() - gc0
    val recent = progress
    stop()
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new Path(store)).count(_.getPath.getName.endsWith(".parquet"))
    val rows = spark.read.parquet(decisionsPath).groupBy("batch_id").count()
      .collect().map(r => r.getLong(0).toString -> r.getLong(1)).toMap
    val last = ticks.flatMap(_("batch").asInstanceOf[Option[Long]]).lastOption
      .flatMap(id => decided.get(id).map { case (lat, thr, bck, _, _) =>
        Map("batch" -> id, "avg_lat" -> lat, "avg_thr" -> thr, "is_bck_pres" -> bck)
      })
    Map("ops" -> ticks.toSeq, "units" -> ticks.size, "timed_ns" -> timed, "gc_ms" -> gcMs,
      "decision_rows" -> rows, "decided" -> decided.keys.toSeq, "last_decision" -> last,
      "store" -> store, "store_files" -> files,
      "store_rows" -> ProfilesStore.read(spark, store).count(), "progress" -> recent)
  }

  /** Feed one tick of input and wait until the loop has processed it;
    * returns the batch id. */
  private def tick(): Long = {
    input.addData(gen.next(TickSeconds))
    query.processAllAvailable()
    batchId += 1
    batchId
  }

  def stop(): Unit = if (query != null) { query.stop(); query = null }

  /** Per-batch progress of the loop's stream: trigger and addBatch time. */
  private def progress: Seq[Map[String, Any]] =
    Option(query).map(_.recentProgress.toSeq).getOrElse(Nil)
      .filter(_.numInputRows > 0).map { p =>
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        Map("batch" -> p.batchId, "trigger_ms" -> d("triggerExecution"),
          "add_batch_ms" -> d("addBatch"))
      }

  /** The traced run: each tick replays, through the same public calls and
    * in the order `attach` makes them, the body of its `foreachBatch`
    * (with `evalEveryBatches = 1`), one span per call. Structured Streaming
    * stamps every job of a `foreachBatch` with one call site, so spans
    * are the only way to split a tick. */
  private def replay(metrics: DataFrame): DataStreamWriter[Row] = {
    var lastSeenTs = OptimizeLoop.seedCursor(metrics.sparkSession, m1)
    metrics.writeStream.trigger(Trigger.ProcessingTime(0)).foreachBatch {
      (batch: DataFrame, id: Long) =>
        trace.span("append")(ProfilesStore.append(batch, store))
        val spark = batch.sparkSession
        val hist = trace.span("read")(ProfilesStore.read(spark, store))
        val (lat, thr, bck, best, resc) = trace.span("evaluateTick")(
          OptimizeLoop.evaluateTick(hist, 1L, 600, 4L, 6L))
        val fNext = trace.span("forecast") {
          val newThr = hist.filter(col("sid") === "throughput" &&
            col("ts") > lastSeenTs).select("ts", "value")
          val mx = trace.span("cursor")(newThr.agg(max("ts")).head)
          if (!mx.isNullAt(0)) lastSeenTs = math.max(lastSeenTs, mx.getLong(0))
          val wide = trace.span("forecastTick")(
            OptimizeLoop.forecastTick(spark, m1, newThr, 20, horizon = 1))
          val bRow = trace.span("blendForecast")(ArEnsemble.blendForecast(wide, 20, 1).head(1))
          if (bRow.isEmpty || bRow.head.isNullAt(1)) Double.NaN else bRow.head.getDouble(1)
        }
        trace.span("decision") {
          import spark.implicits._
          val tickRow = hist.agg(max("ts")).head
          if (!tickRow.isNullAt(0))
            ProfilesStore.append(
              Seq((id, tickRow.getLong(0), lat, thr, bck, best, resc, fNext))
                .toDF("batch_id", "ts", "avg_lat", "avg_thr", "is_bck_pres",
                  "best_scale_out", "rescale", "forecast_next"),
              decisionsPath)
        }
        onDecision(id, lat, thr, bck, best, resc)
    }
  }
}
