package graft

import graft.metrics.MetricOps
import graft.pipeline.CurationStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Parity pin for the streaming pattern monitor: a streamed window hit
  * must be bit-equal to the BATCH similarity-search correlation over the
  * same points (two independent arithmetic paths — BigInt vs
  * DECIMAL(38,0) — agreeing on the same doubles), and the keyed state
  * must drop late duplicates keep-first.
  */
class PatternMonitorSpec extends SparkSpec {

  import spark.implicits._

  // two contiguous hourly series with real variance; 4-decimal values
  private val t0 = 1700000000L / 3600 * 3600
  private def mkSeries = {
    val rows = for {
      (sid, seed) <- Seq(("click", 3), ("other", 11))
      i <- 0 until 30
    } yield (sid, t0 + i * 3600L, ((i * seed * 37 + seed) % 1000) / 10.0 + 5.0)
    rows.toDF("sid", "ts", "value")
  }

  test("a streamed window hit equals the batch Pearson over the same points") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ser = mkSeries
    // the frozen query pattern: the last 24 click points, quantized the
    // batch way
    val quant = (col("value").cast(DecimalType(15, 4)) * 10000).cast("long")
    val qv = ser.filter(col("sid") === "click").orderBy(col("ts"))
      .select(quant.as("vi")).collect().map(_.getLong(0)).takeRight(24)
    // batch reference: the last window of 'other' starts at pos 7 of 30
    val batch = MetricOps.tsSimilaritySearch(ser)
      .filter(col("sid") === "other" && col("start_pos") === 7L).collect()
    assert(batch.length === 1)
    val expected = batch(0).getAs[Double]("corr")

    val pts = ser.orderBy(col("ts"))
      .select(col("sid"), col("ts"), quant.as("vi")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val in = MemoryStream[(String, Long, Long)]
    val q = CurationStreams.patternMonitorStream(
        in.toDS(), qv, win = 24, step = 3600L)
      .writeStream.outputMode("append").format("memory")
      .queryName(s"pm_${System.nanoTime()}").start()
    val name = q.name
    try {
      // batch 1: first 20 points of each series — windows not yet full
      in.addData(pts.filter(_._2 < t0 + 20 * 3600L).toSeq)
      q.processAllAvailable()
      assert(spark.table(name).count() === 0L)
      // batch 2: the rest + a late DUPLICATE of an old point with a
      // poisoned value — keep-first state must ignore it
      in.addData(pts.filter(_._2 >= t0 + 20 * 3600L).toSeq :+
        (("other", t0 + 25 * 3600L, 999999L)))
      q.processAllAvailable()
      val afterB2 = spark.table(name).count()
      // batch 3: ONLY a late duplicate — the unchanged window must not
      // re-emit the same hit into the append sink
      in.addData(Seq(("other", t0 + 26 * 3600L, 123L)))
      q.processAllAvailable()
      assert(spark.table(name).count() === afterB2,
        "an effectively-empty batch re-emitted a duplicate hit")
      // STATE-CARDINALITY PIN: one state row per SERIES, forever — 74
      // points and 3 batches later the store holds exactly the 2 keys,
      // each a bounded O(win) ring, never the point history
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows === 2L,
        s"per-series state must be one row per series, got $stateRows")
    } finally q.stop()
    val hits = spark.table(name)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val other = hits.filter(_._1 == "other")
    assert(other.length === 1)
    assert(other(0)._2 === t0 + 29 * 3600L)
    assert(other(0)._3 === expected,
      s"streamed ${other(0)._3} != batch $expected")
    // the click window IS the query pattern: correlation exactly 1
    val self = hits.filter(_._1 == "click")
    assert(self.length === 1 && self(0)._3 === 1.0)
  }
}
