package graft

import graft.pipeline.VectorOps
import org.apache.spark.sql.functions._

/** k-means coarse-quantizer IVF: the property that justifies its
  * existence next to the sign-hyperplane index — on CLUSTERED data,
  * cells that follow the data keep the neighbors that fixed hyperplane
  * cells split apart.
  */
class KmeansIvfSpec extends SparkSpec {
  import spark.implicits._

  /** 8 well-separated direction clusters × 30 members, dim 64: member =
    * cluster center (±1 per component, seeded) + small per-member jitter,
    * so true nearest neighbors are overwhelmingly same-cluster. */
  private lazy val clustered = {
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(8)(Array.fill(64)(if (rnd.nextBoolean()) 1.0f else -1.0f))
    val rows = for {
      c <- centers.indices
      m <- 0 until 30
    } yield {
      val v = centers(c).map(x => x + (rnd.nextFloat() - 0.5f) * 0.4f)
      ((c * 30 + m).toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("k-means cells beat sign-hyperplane multi-probe on clustered data") {
    val km = VectorOps.kmeansRecall(clustered, queryMaxId = 10, k = 3)
      .agg(avg(col("recall"))).head.getDouble(0)
    val mp = VectorOps.multiprobeRecall(clustered, queryMaxId = 10, k = 3)
      .agg(avg(col("recall"))).head.getDouble(0)
    assert(km >= mp, s"kmeans recall $km should be >= multiprobe recall $mp")
    assert(km >= 0.8, s"kmeans recall on well-clustered data should be high, got $km")
  }

  test("Lloyd fit is deterministic and assignment covers every vector exactly once") {
    val c1 = VectorOps.kmeansCentroids(clustered)
    val c2 = VectorOps.kmeansCentroids(clustered)
    assert(c1.length == c2.length &&
      c1.zip(c2).forall { case (a, b) => a.sameElements(b) })
    // ceil(240 / 50) = 5 cells
    assert(c1.length == 5)
    val topk = VectorOps.ivfKmeansTopK(clustered, k = 3)
    // every query with >= 1 candidate returns <= 3 ranked rows
    val bad = topk.groupBy(col("q_id")).agg(count(lit(1)).as("n"), max(col("rk")).as("m"))
      .filter(col("n") > 3 || col("m") > 3).count()
    assert(bad == 0L)
  }

  test("incremental append serves exactly the full-corpus assignment at base centroids") {
    val dir = "target/graft-tmp/ivf_append_spec"
    val split = 200L // base = first 200 vectors, batch = last 40
    val appended = VectorOps.ivfKmeansAppend(clustered, split, k = 3, dir)
      .collect().map(_.toSeq).toSet
    // from-scratch reference: same base-fitted centroids, full corpus
    // assigned in one pass, same nprobe serve
    val cents = VectorOps.kmeansCentroids(clustered.filter(col("vec_id") < split))
    val nprobe = VectorOps.defaultNprobe(cents.length)
    val ranked = graft.CacheScope.persist(
      VectorOps.kmeansRanked(clustered, cents, nprobe))
    val cells = ranked.filter(col("rn") === 1).select(col("vec_id"), col("cid"))
    val probes = ranked.filter(col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cid"))
    val cands = probes.join(cells, Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    val scratch = VectorOps.serveScore(clustered, clustered, cands, 3)
      .collect().map(_.toSeq).toSet
    assert(appended == scratch,
      s"append served ${appended.size} rows != from-scratch ${scratch.size}")
  }

  test("second append reuses the persisted base index without rewriting it") {
    val dir = "target/graft-tmp/ivf_append_twice_spec"
    val split = 200L
    VectorOps.ivfKmeansBuild(clustered, split, dir)
    def mtime(sub: String): Long = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getModificationTime).max
    }
    val (c0, b0) = (mtime("centroids"), mtime("cells"))
    val first = VectorOps.ivfKmeansAppend(clustered, split, k = 3, dir,
      rebuildBase = false).collect().map(_.toSeq).toSet
    val second = VectorOps.ivfKmeansAppend(clustered, split, k = 3, dir,
      rebuildBase = false).collect().map(_.toSeq).toSet
    // appends are idempotent AND equal to the rebuild path's results
    assert(first == second)
    val rebuilt = VectorOps.ivfKmeansAppend(clustered, split, k = 3,
      "target/graft-tmp/ivf_append_twice_spec_rb").collect().map(_.toSeq).toSet
    assert(first == rebuilt)
    // the base index was never recomputed or rewritten: O(|batch|) append
    assert(mtime("centroids") == c0 && mtime("cells") == b0,
      "append with rebuildBase=false rewrote the base index")
  }

  test("knnGraph: ≤k same-cell neighbors per source, ranked by cosine") {
    val k = 3
    val g = VectorOps.knnGraph(clustered, k).collect()
    val bySrc = g.groupBy(_.getLong(0))
    bySrc.foreach { case (_, rows) =>
      assert(rows.length <= k)
      // rk is 1..n and cosine non-increasing along it
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to rows.length))
      val cs = sorted.map(_.getDouble(2))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    // every edge stays inside one k-means cell
    val cents = VectorOps.kmeansCentroids(clustered)
    val cells = VectorOps.kmeansRanked(clustered, cents, maxRank = 1)
      .select(col("vec_id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    g.foreach(r => assert(cells(r.getLong(0)) == cells(r.getLong(1))))
  }

  test("semanticClusters: planted clusters stay coherent, none straddle") {
    val out = VectorOps.semanticClusters(clustered, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 240) // every vector labeled
    // no semantic cluster mixes two planted clusters (vec_id / 30)
    out.groupBy(_._2).foreach { case (_, members) =>
      val planted = members.keys.map(_ / 30).toSet
      assert(planted.size == 1, s"cluster spans planted groups $planted")
    }
    // the graph actually connects things: most vectors are non-singleton
    val nonSingleton = out.groupBy(_._2).count(_._2.size > 1)
    assert(nonSingleton >= 8, s"only $nonSingleton multi-member clusters")
  }

  test("clusterBalancedSample: quota enforced, singletons survive, two-phase equals the single window") {
    val quota = 4
    val got = VectorOps.clusterBalancedSample(clustered, quota = quota)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // never more than quota survivors per cluster, ranks are 1..min(n, quota)
    got.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.length <= quota, s"cluster $c over quota")
      assert(rows.map(_._4).sorted.toSeq ===
        (1 to rows.length).map(_.toLong), s"cluster $c ranks not dense")
      assert(rows.length === math.min(rows.head._3, quota.toLong).toInt)
    }
    // every cluster is represented (small ones whole, big ones capped)
    val clusters = VectorOps.semanticClusters(clustered).collect()
      .map(_.getLong(1)).toSet
    assert(got.map(_._2).toSet === clusters)
    // the bucketed two-phase is exactly the one-window answer
    val ref = VectorOps.clusterBalancedSample(clustered, quota = quota, fanout = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet === ref.toSet)
  }
}
