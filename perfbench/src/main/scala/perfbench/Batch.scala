package perfbench

import scala.collection.mutable.ArrayBuffer
import graft.CacheScope
import graft.queries._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** A batch workload: a fixed set of registered queries, run as a closed
  * loop with one client. A run makes one untimed warm-up pass and then a
  * fixed number of timed passes; each pass runs every query once, in an
  * order the seed permutes. An op is one query: its builder call
  * `fn(spark, dir)` and its sink, a `collect()` of the result, inside
  * `CacheScope.scoped`.
  *
  * @param queries (name, layer, builder): a query is billed to the layer
  *                of the module it is registered in (`Batch.Layers`).
  */
final class Batch(val queries: Seq[(String, String, (SparkSession, String) => DataFrame)]) {

  /** The session warm-up `graft.Bench` runs before timing. */
  def setup(spark: SparkSession, data: String): Unit =
    spark.read.parquet(s"$data/lineitem.parquet")
      .groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()

  /** One untimed warm-up pass, then `passes` timed ones. Returns the run
    * record: the timed ops, each with its result's fingerprint (taken after
    * the timed phase), the number of timed passes and the timed phase's
    * length. */
  def run(spark: SparkSession, data: String, seed: Long, passes: Int,
          trace: Trace): Map[String, Any] = {
    val rng = new scala.util.Random(seed)
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val results = ArrayBuffer.empty[Option[(StructType, Array[Row])]]
    def pass(timed: Boolean, p: Int): Unit =
      rng.shuffle(queries).foreach { case (name, layer, fn) =>
        val t0 = trace.now()
        val res =
          try Right(trace.op(name, layer) {
            CacheScope.scoped {
              val df = trace.span("build")(fn(spark, data))
              (df.schema, trace.span("sink")(df.collect()))
            }
          })
          catch { case e: Throwable => Left(e.toString) }
        val t1 = trace.now()
        try spark.catalog.clearCache() catch { case _: Throwable => () }
        res.left.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
        if (timed) {
          ops += Map("name" -> name, "layer" -> layer, "pass" -> p,
            "start_ns" -> t0, "end_ns" -> t1, "error" -> res.left.toOption)
          results += res.toOption
        }
      }
    pass(timed = false, 0)
    trace.start(spark.sparkContext)
    val gc0 = trace.gcMillis()
    val start = trace.now()
    (1 to passes).foreach(p => pass(timed = true, p))
    val timed = trace.now() - start
    val gcMs = trace.gcMillis() - gc0
    val checked = ops.zip(results).map { case (op, r) =>
      op ++ r.map { case (schema, rows) =>
        Map("fingerprint" -> Canon.fingerprint(schema, rows), "rows" -> rows.length)
      }.getOrElse(Map.empty)
    }
    Map("ops" -> checked.toSeq, "units" -> passes, "timed_ns" -> timed, "gc_ms" -> gcMs)
  }
}

object Batch {

  /** The batch layers and the query modules billed to each. */
  val Layers: Seq[(String, Seq[QueryModule])] = Seq(
    "timeseries" -> Seq(TimeSeriesQueries),
    "metrics" -> Seq(MetricQueries, SmoothQueries, AggQueries),
    "models" -> Seq(MlQueries, ModelQueries),
    "streaming" -> Seq(OpsQueries),
    "sources" -> Seq(RelationalQueries),
    "pipeline.text" -> Seq(TextQueries),
    "pipeline.vector" -> Seq(VectorQueries),
    "pipeline.curation" -> Seq(CurationQueries))

  private val PhoebeLayers = Set("timeseries", "metrics", "models", "streaming", "sources")

  /** The 21 operator-tier `pipeline` queries the curation workload is
    * drawn from: text quality and deduplication, vector search and bitext
    * mining (including the brute top-k and |A|×|B| spellings), and the
    * composed curation pipelines. */
  val CurationSet: Seq[String] = Seq(
    "bpe_learn", "bpe_vocab_roundtrip", "quality_gopher_repetition", "corpus_pipeline",
    "curation_pipeline_html", "text_charlm_score", "dedup_minhash_lsh",
    "dedup_jaccard_ngram", "dedup_cluster_sizes", "dedup_exact_substring",
    "ann_cosine_topk", "ann_ivf_topk", "ann_pq_topk", "ann_graph_topk",
    "bitext_mutual_pairs", "bitext_margin_pairs", "decontam_semantic",
    "embedding_pipeline", "incremental_refresh", "web_pipeline", "dedup_canonical")

  /** The full query set a workload is drawn from: every query of the
    * paper's analytics modules for `phoebe_batch`, `CurationSet` for
    * `curation_batch`. */
  def fullSet(workload: String): Seq[String] = workload match {
    case "phoebe_batch" =>
      Layers.filter(l => PhoebeLayers(l._1)).flatMap(_._2.flatMap(_.queries.keys)).sorted
    case "curation_batch" => CurationSet
    case w => throw new IllegalArgumentException(s"$w is not a batch workload")
  }

  /** The batch of the named queries, each billed to its module's layer. */
  def of(names: Seq[String]): Batch = new Batch(names.map { n =>
    Layers.flatMap { case (layer, modules) =>
      modules.flatMap(_.queries.get(n)).map(fn => (n, layer, fn))
    }.headOption.getOrElse(throw new IllegalArgumentException(s"$n is not a batch query"))
  })
}
