package graft

import java.util.concurrent.atomic.AtomicInteger
import graft.metrics.MetricOps
import graft.sources.ProfilesStore
import graft.streaming.OptimizeLoop
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.GraftListenerBridge
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.streaming.Trigger

/** The optimize tick of [[OptimizeLoop]]: its fused evaluation against
  * the batch metric functions it replaces, the decision rows a short run
  * writes, and how many Spark jobs a steady-state tick costs. */
class OptimizeTickSpec extends SparkSpec {
  import spark.implicits._

  private val T0 = 1704067200L

  /** The ADS sine scenario at 1 Hz (S12): throughput
    * `sin(2πt/7200)·1e5 + 1e5` with 1 % gaussian noise, latency and
    * consumer lag following the load, and one overload episode of
    * `overloadLen` seconds at `overloadAt` (latency tripled, lag ramping,
    * backpressure on). */
  private final class Gen(seed: Long, overloadAt: Long, overloadLen: Int) {
    private val rng = new java.util.Random(seed)
    private var t = T0
    private def r4(v: Double) = math.round(v * 1e4) / 1e4

    def next(seconds: Int): Seq[(String, Long, Double)] =
      (0 until seconds).flatMap { _ =>
        val x = math.sin(2 * math.Pi * ((t - T0) % 7200) / 7200.0) * 1e5 + 1e5
        val thr = math.abs(x + x * 0.01 * rng.nextGaussian())
        val over = t >= overloadAt && t < overloadAt + overloadLen
        val lat = (800 + 0.004 * thr + 25 * rng.nextGaussian()) * (if (over) 3 else 1)
        val lag = math.max(0.0, 200 + 0.001 * thr + 30 * rng.nextGaussian() +
          (if (over) 20.0 * (t - overloadAt) else 0.0))
        val row = Seq(("latency", t, r4(lat)), ("throughput", t, r4(thr)),
          ("conslag", t, r4(lag)), ("backpressure", t, if (over) 1.0 else 0.0))
        t += 1
        row
      }
  }

  private def fresh(base: String): String = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Seq("", "_decisions", "_m1", "_ckpt").foreach(s => fs.delete(new Path(base + s), true))
    base
  }

  /** The batch functions the tick fuses, each run on its own, in the
    * shape `evaluateTick` reads them. */
  private def oracle(history: DataFrame, points: Int) = {
    def series(name: String) = history.filter(col("sid") === name).drop("sid")
    val trail = MetricOps.trailingAvg(history, 1L, points)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val bck = MetricOps.backpressureRule(
      series("latency"), series("conslag"), series("backpressure")).head
    val wl = MetricOps.forecastSlope(
      series("throughput").withColumn("sid", lit("throughput"))).head(1)
    (trail, bck, wl.headOption)
  }

  private def half4(d: Double) =
    BigDecimal(d + 1e-9).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def half6(d: Double) =
    BigDecimal(d + 1e-9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def assertFusedMatches(history: DataFrame, points: Int): OptimizeLoop.TickStats = {
    val got = OptimizeLoop.tickStats(history, 1L, points)
    val (trail, bck, wl) = oracle(history, points)
    assert(got.avg == trail)
    def opt(i: Int) = if (bck.isNullAt(i)) None else Some(bck.getDouble(i))
    // backpressureRule rounds its output columns once more
    assert(got.bckPresPer.map(half4) == opt(0))
    assert(got.latencySlope.map(half6) == opt(1))
    assert(got.conslagSlope.map(half6) == opt(2))
    assert(got.isBckPres == (!bck.isNullAt(3) && bck.getBoolean(3)))
    assert(got.workloadSlope == wl.flatMap(r => if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    val tick = history.agg(max("ts")).head
    assert(got.tickTs == (if (tick.isNullAt(0)) None else Some(tick.getLong(0))))
    val thr = history.filter(col("sid") === "throughput").agg(max("ts")).head
    assert(got.throughputMaxTs == (if (thr.isNullAt(0)) None else Some(thr.getLong(0))))
    got
  }

  test("fused tick evaluation equals trailingAvg, backpressureRule and forecastSlope") {
    // two hours at 1 Hz with a five-minute overload in the last quarter
    val hist = new Gen(11L, T0 + 5700, 300).next(7200).toDF("sid", "ts", "value")
    val whole = assertFusedMatches(hist, 600)
    assert(whole.bckPresPer.exists(p => p > 0 && p < 1))
    // the overload alone: a share of 1 flags backpressure outright
    val episode = hist.filter(col("ts") >= T0 + 5700 && col("ts") < T0 + 6000)
    assert(assertFusedMatches(episode, 120).isBckPres)
    // null values inside a trailing window and after a series' last value,
    // a throughput series whose second half is one point, an unknown sid
    val ragged = hist.filter(col("ts") < T0 + 30).union(Seq(
      ("latency", T0 + 25, null.asInstanceOf[java.lang.Double]),
      ("latency", T0 + 30, null.asInstanceOf[java.lang.Double]),
      ("backpressure", T0 + 29, null.asInstanceOf[java.lang.Double]),
      ("throughput", T0 + 3000, java.lang.Double.valueOf(7.5)),
      ("other", T0 + 50, java.lang.Double.valueOf(1.0))).toDF("sid", "ts", "value"))
    assertFusedMatches(ragged, 10)

    // TickEdgeSpec's histories: empty, partial and one point per series
    assertFusedMatches(Seq.empty[(String, Long, Double)].toDF("sid", "ts", "value"), 5)
    assertFusedMatches(Seq(("latency", 0L, 100.0), ("latency", 1L, 110.0),
      ("throughput", 0L, 5000.0), ("throughput", 1L, 4990.0)).toDF("sid", "ts", "value"), 5)
    assertFusedMatches(Seq(("latency", 0L, 100.0), ("conslag", 0L, 5.0),
      ("backpressure", 0L, 0.0), ("throughput", 0L, 5000.0)).toDF("sid", "ts", "value"), 5)
  }

  /** `historySeconds` of seeded history, then `ticks` one-minute ticks of
    * `attach` with the forecaster on. An overload starts as the history
    * ends and lasts four minutes. With `restartBefore`, the query is
    * stopped before that tick and attached again on the same store,
    * forecaster state and checkpoint. Returns the decision rows and the
    * number of Spark jobs each tick ran. */
  private def run(base: String, historySeconds: Int, ticks: Int,
                  restartBefore: Option[Int] = None): (Seq[Row], Seq[Int]) = {
    implicit val ctx = spark.sqlContext
    val store = fresh(base)
    val gen = new Gen(3L, T0 + historySeconds, 240)
    ProfilesStore.init(gen.next(historySeconds).toDF("sid", "ts", "value"), store)
    val in = MemoryStream[(String, Long, Double)]
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def start() = OptimizeLoop.attach(in.toDF().toDF("sid", "ts", "value"), store, step = 1L,
      avgWindowPoints = 600, evalEveryBatches = 1, currentScaleOut = 4, candidateBest = 6,
      trigger = Trigger.ProcessingTime(0), forecastDir = Some(store + "_m1"),
      forecastModels = 20)((_, _, _, _, _, _) => ())
      .option("checkpointLocation", store + "_ckpt").start()
    var q = start()
    spark.sparkContext.addSparkListener(listener)
    try {
      val perTick = (1 to ticks).map { t =>
        if (restartBefore.contains(t)) { q.stop(); q = start() }
        GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
        val before = jobs.get()
        in.addData(gen.next(60))
        q.processAllAvailable()
        GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
        jobs.get() - before
      }
      val rows = spark.read.parquet(store + "_decisions").orderBy("batch_id")
        .select("avg_lat", "avg_thr", "is_bck_pres", "best_scale_out", "rescale",
          "forecast_next").collect().toSeq
      (rows, perTick)
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Recorded from the loop before its tick was fused into fewer jobs:
    * ten minutes of history, a calm first tick, backpressured later ones. */
  private val pinnedRows = Seq(
    Row(1605.2601, 130475.9013, false, 4L, false, 156139.4869),
    Row(1908.927, 135358.6607, true, 6L, true, 158580.1759),
    Row(2215.4068, 140145.1718, true, 6L, true, 164275.3291))

  test("attach writes the pinned decision rows over three ticks") {
    // the fused evaluation and forecaster must decide exactly the same
    val (rows, _) = run("target/graft-tmp/optick_pin", 600, 3)
    assert(rows == pinnedRows)
  }

  test("a restart between ticks decides as the uninterrupted run") {
    // the restarted attach holds no forecaster state: its first tick
    // reads the durable one, and must blend the same next-step forecast
    val (rows, _) = run("target/graft-tmp/optick_restart", 600, 3, restartBefore = Some(3))
    assert(rows == pinnedRows)
  }

  test("a steady-state attach tick runs at most 7 Spark jobs") {
    // over the benchmark's six hours of history, where the planner sizes
    // joins differently than over a short one. The first tick fits the
    // forecaster; the later ones update it. The benchmark's traced loop
    // replays the public calls one by one, so its `tick.jobs` counts that
    // replay, not this tick.
    val (_, jobs) = run("target/graft-tmp/optick_jobs", 6 * 3600, 3)
    jobs.drop(1).foreach(n => assert(n <= 7, s"a steady tick ran $n jobs: $jobs"))
  }
}
