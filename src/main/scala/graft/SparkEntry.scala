package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are assembled from per-module registries; each module pairs the
  * Spark implementation with a DuckDB oracle over the same parquet tables.
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    TimeSeriesQueries,
    RelationalQueries,
    TextQueries,
    VectorQueries,
    MetricQueries,
    AggQueries,
    SmoothQueries,
    ModelQueries,
    MlQueries,
    OpsQueries,
    MultimodalQueries,
    EventQueries,
    SketchQueries,
    CurationQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = modules.flatMap(_.queries)
    require(all.size == all.map(_._1).distinct.size,
      s"duplicate query name across modules: ${
        all.groupBy(_._1).collect { case (k, v) if v.size > 1 => k }.mkString(",")}")
    all.toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracles).toMap

  /** The sink that forces full evaluation of every column (`count()`
    * would let Catalyst prune unused projections). */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The per-query isolation policy every main runs its queries under.
    * `query` is built inside its own [[CacheScope.scoped]] block and
    * handed to `sink`; a failure of any kind is reported on stderr as
    * `[tag] name failed: …` and returned, never thrown, so the caller's
    * loop keeps going. Afterwards `clearCache()` releases anything
    * persisted outside the scope: per-query persists would otherwise
    * accumulate in one JVM, and the eventual full GC lands on an
    * arbitrary later query. Returns the seconds from the builder call
    * through scope end; the `clearCache()` is outside that region. */
  def runQuery(spark: SparkSession, tag: String, name: String, query: => DataFrame)(
      sink: DataFrame => Unit): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    val outcome =
      try { CacheScope.scoped(sink(query)); Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        System.err.println(s"[$tag] $name failed: $e")
        Left(e)
      }
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    outcome
  }
}
