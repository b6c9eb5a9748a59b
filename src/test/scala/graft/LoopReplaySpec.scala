package graft

import graft.streaming.OptimizeLoop
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** A restart replays the last uncommitted batch from the checkpoint, so
  * the loop's store and decision writes must be idempotent per batch:
  * a replayed batch is stored once and decides once, as if it had run
  * once. */
class LoopReplaySpec extends SparkSpec {

  import spark.implicits._

  private val mk = (t: Long) => Seq(
    ("latency", t, 100.0 + 10 * t), ("throughput", t, 5000.0 - 7 * t + (t % 3)),
    ("conslag", t, 50.0 + 5 * t), ("backpressure", t, if (t % 2 == 0) 1.0 else 0.0))

  /** Three loop batches over a fresh store. With `replay`, the last
    * batch's commit is deleted and the loop restarts on the same stream,
    * so Spark runs that batch again. Returns the stored metrics, the
    * decision rows and the batch ids the loop decided on, in order. */
  private def run(base: String, replay: Boolean): (Seq[Row], Seq[Row], Seq[Long]) = {
    implicit val sqlCtx = spark.sqlContext
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)
    val (store, chk) = (s"$base/store", s"$base/chk")
    val in = MemoryStream[(String, Long, Double)]
    val decided = scala.collection.mutable.ArrayBuffer.empty[Long]
    def start() = OptimizeLoop.attach(
      in.toDF.toDF("sid", "ts", "value"), store, step = 1L,
      avgWindowPoints = 5, evalEveryBatches = 1, currentScaleOut = 8, candidateBest = 4,
      trigger = Trigger.ProcessingTime("0 seconds"),
      forecastDir = Some(s"$base/m1"), forecastModels = 2) {
        (id, _, _, _, _, _) => decided += id
      }.option("checkpointLocation", chk).start()
    val q = start()
    try Seq(0L to 3L, 4L to 7L, 8L to 11L).foreach { ts =>
      in.addData(ts.flatMap(mk))
      q.processAllAvailable()
    } finally q.stop()
    if (replay) {
      assert(fs.delete(new Path(s"$chk/commits/2"), false))
      val again = start()
      try again.processAllAvailable() finally again.stop()
    }
    (spark.read.parquet(store).collect().toSeq,
      spark.read.parquet(store + "_decisions").orderBy("batch_id").collect().toSeq,
      decided.toSeq)
  }

  test("a batch replayed after a restart is stored once and decides once") {
    val (plainStore, plainDecisions, plainIds) = run("target/graft-tmp/loop_replay/plain", replay = false)
    val (store, decisions, ids) = run("target/graft-tmp/loop_replay/replay", replay = true)
    assert(plainIds === Seq(0L, 1L, 2L))
    assert(ids === Seq(0L, 1L, 2L, 2L), "the restart did not replay the last batch")
    val perKey = store.groupBy(r => (r.getString(0), r.getLong(1))).values.map(_.size)
    assert(store.size === 48 && perKey.forall(_ == 1), "a replayed batch was stored twice")
    assert(store.toSet === plainStore.toSet)
    assert(decisions.map(_.getAs[Long]("batch_id")) === Seq(0L, 1L, 2L))
    assert(decisions === plainDecisions)
  }
}
