package graft

import graft.models.IsoLocal
import graft.pipeline.VectorOps
import org.apache.spark.sql.functions._

/** Invariant tests for the deterministic isolation forest: a planted
  * far-out point isolates first, the fit is bit-deterministic, and path
  * lengths respect the depth cap.
  */
class IsoForestSpec extends SparkSpec {

  import spark.implicits._

  // a tight cluster around the origin + one far outlier; enough rows
  // that every tree's adaptive subsample is non-trivial
  private def frame = {
    val cluster = (0L until 200L).map { i =>
      (i, (0 until 8).map(j => (((i + j) % 7).toInt - 3) / 100.0f), 0)
    }
    val outlier = Seq((999L, (0 until 8).map(_ => 50.0f), 0))
    (cluster ++ outlier).toDF("vec_id", "embedding", "label")
  }

  test("a planted far-out point has the smallest path sum") {
    val out = VectorOps.isoOutliers(frame, topK = 3, dim = 8).collect()
    assert(out.head.getLong(0) === 999L,
      s"expected the planted outlier first, got ${out.map(_.getLong(0)).mkString(",")}")
    // strictly more isolable than the runner-up, not a tie
    assert(out(0).getLong(1) < out(1).getLong(1))
  }

  test("the md5-deterministic fit is bit-identical across runs") {
    val e = frame.select(col("vec_id"), VectorOps.quant.as("q")).collect()
    val vs = e.map(_.getSeq[Long](1).toArray)
    val samples = Array.fill(IsoLocal.Trees)(vs.take(40))
    val c1 = IsoLocal.fit(samples, dim = 8)
    val c2 = IsoLocal.fit(samples, dim = 8)
    assert(c1 === c2)
    assert(c1.nonEmpty, "fit produced no cuts on a splittable sample")
  }

  test("isoScoreStream: frozen cuts equal the batch scoring across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = s"target/graft-tmp/iso_score_spec_${System.nanoTime()}"
    val rows = frame.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val vs = frame.select(VectorOps.quant.as("q")).collect()
      .map(_.getSeq[Long](0).toArray)
    val cuts = IsoLocal.fit(Array.fill(IsoLocal.Trees)(vs.take(40)), dim = 8)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = graft.pipeline.CurationStreams.isoScoreStream(
        in.toDF.toDF("vec_id", "embedding"), cuts, dir)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      in.addData(rows.take(rows.length / 2).toSeq)
      q.processAllAvailable()
      in.addData(rows.drop(rows.length / 2).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$dir/batch_0", s"$dir/batch_1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = frame.select(col("vec_id"), VectorOps.quant.as("q")).collect()
      .map(r => (r.getLong(0), IsoLocal.pathSum(cuts, r.getSeq[Long](1).toArray)))
      .toSet
    assert(streamed == oneShot && streamed.size == rows.length)
  }

  test("path lengths are bounded by MaxDepth and nonnegative") {
    val e = frame.select(VectorOps.quant.as("q")).collect()
      .map(_.getSeq[Long](0).toArray)
    val samples = Array.fill(IsoLocal.Trees)(e.take(40))
    val cuts = IsoLocal.fit(samples, dim = 8)
    e.foreach { v =>
      (0 until IsoLocal.Trees).foreach { t =>
        val p = IsoLocal.pathLength(cuts, t, v)
        assert(p >= 0 && p <= IsoLocal.MaxDepth)
      }
    }
  }
}
