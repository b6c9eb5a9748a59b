package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frame-level utilities. */
object FrameOps {

  /** Broadcast a dimension only while its OPTIMIZER-ESTIMATED size fits
    * the session's autoBroadcastJoinThreshold (plan statistics — no
    * action is triggered). The TPC-H proxy dims (customer) stand in for
    * ~100-row reference dims (campaigns) but grow with SF: a forced
    * broadcast() hint would ship 15M rows per executor at sf100, while
    * dropping the hint entirely would lose the broadcast at the small
    * scales where it is right. This guard picks per-plan. */
  def dimBroadcast(df: DataFrame): DataFrame = {
    val threshold =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
      catch { case _: Throwable => 10L * 1024 * 1024 }
    if (threshold > 0 &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(threshold))
      broadcast(df)
    else df
  }

  /** Skew-safe inner equi-join for big×big joins with hot keys: scatter
    * each left row into one of `salt` sub-keys with a deterministic
    * row hash, replicate every right row across all `salt` sub-keys, and
    * equi-join on (key, salt) — a hot key's rows now land on `salt`
    * reducers instead of one. Replication multiplies the right side, so
    * pick the SMALLER side as `right` and keep `salt` modest (8-32).
    *
    * Spark's AQE skew-join (spark.sql.adaptive.skewJoin) already splits
    * oversized sort-merge partitions at runtime — prefer it when it
    * applies; this explicit form covers the cases it does not (skew
    * landing in one task via a hash-partitioned cache, deterministic
    * pre-partitioned layouts) and documents the engine's skew strategy.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salt: Int): DataFrame = {
    require(salt > 0, "salt must be positive")
    val l = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col).toSeq: _*), lit(salt)))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(salt - 1L))))
    l.join(r, Seq(key, "__salt")).drop("__salt")
  }

  /** P4 — drop columns whose values are ALL null (pandas
    * `dropna(axis='columns', how='all')`, reference wm.py:132). One
    * aggregate pass decides; the projection itself is metadata-only. */
  def dropAllNullColumns(df: DataFrame): DataFrame = {
    val counts = df.agg(count(lit(1)).as("__rows"),
      df.columns.map(c => count(col(c)).as(c)).toSeq: _*).head
    val dead = df.columns.filter(c => counts.getAs[Long](c) == 0L)
    if (dead.isEmpty) df else df.drop(dead: _*)
  }
}
