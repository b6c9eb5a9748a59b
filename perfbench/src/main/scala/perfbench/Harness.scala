package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up `--setups` times (each a fresh
  * session), run `--units` timed passes (batch) or ticks (loop), check the
  * outputs after the timed phase, and write the raw run record to
  * `<work>/record.json`. Metrics are computed from the record by `run.py`.
  * A batch workload runs the comma-separated `--queries`, or its full
  * query set with `--queries full`.
  *
  * Usage: perfbench.Harness --workload W --seed N --units U --trace 0|1
  *          --cpus C --setups K --data DIR --work DIR [--queries Q,...]
  */
object Harness {

  /** The session conf of `graft.Bench`. */
  def benchConf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.ui.enabled" -> "false")

  /** Hours of 1 Hz history the loop's metrics store is seeded with. */
  val HistoryHours = 6

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val units = a("units").toInt
    val cpus = a("cpus").toInt
    val setups = a("setups").toInt
    val data = a("data")
    val work = a("work")
    val trace = new Trace(a("trace") == "1")
    val master = s"local[$cpus]"
    val conf = benchConf(cpus)

    def session(): SparkSession = {
      val s = conf.foldLeft(SparkSession.builder().master(master)) {
        case (b, (k, v)) => b.config(k, v)
      }.config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    val batch = workload match {
      case "optimize_loop" => None
      case w => Some(Batch.of(a("queries") match {
        case "full" => Batch.fullSet(w)
        case q => q.split(",").toSeq
      }))
    }
    val loop = if (batch.isEmpty) Some(new Loop(s"$work/loop", HistoryHours, trace)) else None

    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to setups).foreach { _ =>
      if (spark != null) { loop.foreach(_.stop()); spark.stop() }
      val t0 = System.nanoTime()
      spark = session()
      batch.foreach(_.setup(spark, data))
      loop.foreach(_.setup(spark, seed))
      setupS += (System.nanoTime() - t0) / 1e9
    }

    val body = batch.map(_.run(spark, data, seed, units, trace))
      .getOrElse(loop.get.run(spark, units))
    // the last query a seed runs would otherwise stay referenced
    batch.foreach(_.setup(spark, data))
    val liveHeap = liveHeapMb()
    trace.drain(spark.sparkContext)
    val record = body ++ Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "master" -> master, "conf" -> conf.toMap, "setup_s" -> setupS.toSeq,
      "live_heap_mb" -> liveHeap, "peak_rss_mb" -> peakRssMb(),
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "trace" -> trace.record)
    Files.writeString(Paths.get(s"$work/record.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record))
    spark.stop()
  }

  /** Heap in use after a full collection, in MiB: what the program keeps
    * live once the timed phase is over. The first collection lets Spark's
    * context cleaner release the blocks of unreachable broadcasts and
    * shuffles; the second collects what that freed. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The process's peak resident set (`VmHWM`), in MiB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}
