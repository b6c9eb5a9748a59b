package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{CacheScope, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Writes, for each named query, its result as parquet under
  * `<out>/<name>/` and its fingerprint, plus the queries' DuckDB oracle SQL
  * in `<out>/oracle_sql.json`: the layout `tools/check.py` reads, so that
  * `fingerprint.py` can check each result against its oracle before it
  * stores the fingerprint.
  *
  * Usage: perfbench.Dump <data dir> <out dir> <cpus> <query,...>
  */
object Dump {
  def main(argv: Array[String]): Unit = {
    val Array(data, out, cpus, queries) = argv
    val tmp = System.getProperty("java.io.tmpdir")
    val spark = Harness.benchConf(cpus.toInt).foldLeft(
      SparkSession.builder().master(s"local[$cpus]")) { case (b, (k, v)) => b.config(k, v) }
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val oracles = SparkEntry.oracleSql
    val batch = Batch.of(queries.split(",").toSeq)
    val names = batch.queries.map(_._1)
    val fps = batch.queries.map { case (name, _, fn) =>
      val (schema, rows) = CacheScope.scoped {
        val df = fn(spark, data)
        (df.schema, df.collect())
      }
      spark.catalog.clearCache()
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name")
      name -> Map("fingerprint" -> Canon.fingerprint(schema, rows), "rows" -> rows.length)
    }
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(s"$out/fingerprints.json"), json.writeValueAsString(fps.toMap))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      json.writeValueAsString(names.map(n => n -> oracles.get(n)).toMap))
    spark.stop()
  }
}
