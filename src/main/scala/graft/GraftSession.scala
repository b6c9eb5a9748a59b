package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession config of the library: every main and the test
  * session build through here, so the plan gates (`PlanSpec`,
  * `WarnProbe`) check the same engine the bench times. `cpus` is the
  * only parameter; the mains read it from `SPARK_GRAFT_CPUS` (default 4).
  */
object GraftSession {

  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // AQE sizes post-shuffle partitions by data volume instead of core
      // count (production guidance for busy clusters; at toy SF it
      // collapses ~KB shuffles to one task instead of 32), and cached
      // plans are allowed to re-partition so persisted pipeline stages
      // get the same treatment.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // events.parquet carries TIMESTAMP(NANOS); Tables.events normalizes
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session of a main: `SPARK_GRAFT_CPUS` cores. */
  def fromEnv(): SparkSession = apply(cpus(sys.env.get("SPARK_GRAFT_CPUS")))

  /** `SPARK_GRAFT_CPUS` as a core count: 4 when unset; anything but a
    * positive integer fails here, naming the variable, instead of
    * surfacing later as a Spark master-URL error. */
  def cpus(env: Option[String]): Int = env match {
    case None => 4
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }
}
