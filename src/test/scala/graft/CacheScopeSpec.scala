package graft

/** Cache ownership: a long-lived session composing many queries must not
  * accumulate pinned storage. Every builder-internal persist registers
  * with the enclosing CacheScope, so after each scoped terminal action
  * the session's persistent-RDD registry is back where it started.
  *
  * (Queries built on connectedComponents are exercised elsewhere — their
  * per-round localCheckpoints unregister via GC, not unpersist, so they
  * would flake an exact registry assertion.)
  */
class CacheScopeSpec extends SparkSpec {

  test("scoped queries release every builder-internal cache") {
    val sf = "/root/testdata/sf0.001"
    // the cache-heaviest non-CC queries: savgol's base, exp-mean's dense
    // grid, twoMeans' window base, the LSH dedup, the survivor index,
    // and the incremental-forecast state
    val names = Seq("a8_savgol", "a9_exp_rolling_mean", "m4_cluster_stats",
      "dedup_embedding_cosine", "embedding_pipeline", "m1_update_forecast")
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    names.foreach { n =>
      CacheScope.scoped {
        SparkEntry.queries(n)(spark, sf)
          .write.format("noop").mode("overwrite").save()
      }
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"query $n left ${leaked.size} cached RDDs pinned")
    }
  }

  test("without a scope, persists still work and clearCache releases them") {
    import spark.implicits._
    val df = CacheScope.persist(Seq(1, 2, 3).toDF("x"))
    assert(df.count() == 3)
    assert(df.storageLevel.useMemory, "unscoped persist must still cache")
    spark.catalog.clearCache()
  }
}
