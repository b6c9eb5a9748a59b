package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** S5/S6/S7 — the profiles store as a parquet-backed table with append
  * and delete, mirroring the reference's SQLite profiles/predictions DDL
  * + insert/delete surface (reference managers/DataManager.java:148-242).
  *
  * Delete is copy-on-write (write the anti-filtered snapshot, atomic-ish
  * directory swap) — the standard parquet-table mutation pattern when no
  * transactional table format is available; on a real deployment this
  * maps 1:1 onto Delta/Iceberg DELETE.
  */
object ProfilesStore {

  def init(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** [[append]] keyed by one batch of one stream, so a batch that Spark
    * replays after a restart replaces its earlier attempt instead of
    * adding to it. The rows are written to a staging dir next to the
    * table; any `part-<batchKey>-*` files an earlier attempt left in the
    * table are removed, and the staged part files are renamed in under
    * that prefix. The table stays one flat dir of parquet files. */
  def appendBatch(df: DataFrame, path: String, batchKey: String): Unit = {
    val (table, staging) = (new Path(path), new Path(s"${path}__$batchKey"))
    df.write.mode("overwrite").parquet(staging.toString)
    val fs = table.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val prefix = s"part-$batchKey-"
    fs.mkdirs(table)
    fs.globStatus(new Path(table, s"$prefix*")).map(_.getPath).foreach(p =>
      require(fs.delete(p, false), s"profiles store: could not remove $p"))
    fs.globStatus(new Path(staging, "part-*")).map(_.getPath).foreach { p =>
      val to = new Path(table, prefix + p.getName.stripPrefix("part-"))
      require(fs.rename(p, to), s"profiles store: rename $p -> $to failed")
    }
    fs.delete(staging, true)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Delete rows matching `pred` (copy-on-write + swap). */
  def delete(spark: SparkSession, path: String, pred: Column): Unit = {
    val tmp = path + "__cow"
    read(spark, path).filter(!pred).write.mode("overwrite").parquet(tmp)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.delete(new Path(path), true) && fs.rename(new Path(tmp), new Path(path)),
      s"profiles store: swapping $tmp into $path failed; the kept rows are in $tmp")
  }
}
