package graft

import org.apache.spark.sql.DataFrame

/** `SparkEntry.runQuery`, the per-query isolation policy every main runs
  * its queries under: a failing query is reported and the loop goes on,
  * and after each query nothing it cached stays pinned — neither the
  * persists registered with the scope nor a raw `.persist()` (the
  * `clearCache()` backstop). Bench's -1 sentinel relies on both. */
class RunQuerySpec extends SparkSpec {

  test("a failing query is reported, the next still runs, and no cache outlives its query") {
    import spark.implicits._
    var ranThird = false
    val stubs: Seq[(String, () => DataFrame)] = Seq(
      "scoped_and_raw" -> { () =>
        val raw = Seq(1, 2, 3).toDF("y").persist()
        raw.count()
        CacheScope.persist(Seq(1, 2, 3).toDF("x")).crossJoin(raw)
      },
      "broken" -> { () => throw new IllegalStateException("stub failure") },
      "scoped" -> { () => ranThird = true; CacheScope.persist(Seq(4, 5).toDF("x")) })
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val err = new java.io.ByteArrayOutputStream
    val prevErr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val outcomes =
      try stubs.map { case (name, build) =>
        SparkEntry.runQuery(spark, "stub", name, build())(SparkEntry.noop)
      }
      finally System.setErr(prevErr)
    assert(outcomes.map(_.isRight) === Seq(true, false, true))
    assert(outcomes(1).left.exists(_.getMessage == "stub failure"))
    assert(err.toString.contains("[stub] broken failed: java.lang.IllegalStateException: stub failure"))
    assert(ranThird, "the query after the failure must still run")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"${leaked.size} cached RDDs outlived their query")
  }
}
