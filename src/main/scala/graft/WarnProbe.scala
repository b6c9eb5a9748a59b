package graft

/** EXECUTABLE plan-hygiene gate: runs every query at a given SF with a
  * log4j2 appender attached to the root logger and FAILS (exit 1) if any
  * query emits Spark's "No Partition Defined for Window operation"
  * warning — the runtime twin of PlanSpec's logical-plan guard, catching
  * single-partition shapes the logical pattern match can't see. Also
  * records (never swallows) per-query failures and reports them in the
  * same non-zero exit. The whitelist below is EMPTY by design: a query
  * that legitimately needs a bounded single-partition window must spell
  * it with the non-foldable `col % 1` partition key (no warning) or add
  * itself here with a justification comment.
  *
  * The session is [[GraftSession]]'s, the one [[Bench]] times, and each
  * query runs under [[SparkEntry.runQuery]]'s isolation policy. Run:
  * `sbt "runMain graft.WarnProbe"` (optionally with query names as args);
  * exit 0 = surface clean. */
object WarnProbe {

  /** Queries allowed to plan a global window, each with a reason. Empty:
    * the whole surface is expected clean. */
  val Whitelist: Set[String] = Set.empty

  private val GlobalWindowMarker = "No Partition Defined"

  /** Attach a WARN-level appender to the log4j2 root logger that
    * records every message containing [[GlobalWindowMarker]]; returns
    * the live hit queue. Capture happens at the logging layer, not by
    * redirecting stderr: log4j's console appender binds its stream at
    * init, so a System.err swap after session start silently misses
    * everything. */
  def attachProbe(): java.util.concurrent.ConcurrentLinkedQueue[String] = {
    val hits = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val conf = ctx.getConfiguration
    val probe = new org.apache.logging.log4j.core.appender.AbstractAppender(
      s"graft-warnprobe-${System.nanoTime()}", null, null, true,
      Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(ev: org.apache.logging.log4j.core.LogEvent): Unit = {
        val m = ev.getMessage.getFormattedMessage
        if (m.contains(GlobalWindowMarker)) hits.add(m)
      }
    }
    probe.start()
    conf.addAppender(probe)
    conf.getRootLogger.addAppender(probe, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
    hits
  }

  def main(args: Array[String]): Unit = {
    val hits = attachProbe()

    val spark = GraftSession.fromEnv()
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val only = args.toSet
    val failed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val warned = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.isEmpty || only(q._1)).foreach { case (name, fn) =>
        System.err.println(s"===QUERY $name")
        hits.clear()
        SparkEntry.runQuery(spark, "warnprobe", name, fn(spark, sf))(SparkEntry.noop)
          .left.foreach(e =>
            failed += ((name, Option(e.getMessage).getOrElse(e.getClass.getName))))
        if (!hits.isEmpty && !Whitelist(name)) warned += name
      }
    spark.stop()
    if (warned.nonEmpty) {
      System.err.println(s"===GLOBAL-WINDOW ${warned.size} queries planned an " +
        s"unpartitioned window at runtime (not whitelisted):")
      warned.foreach(n => System.err.println(s"  $n"))
    }
    if (failed.nonEmpty) {
      System.err.println(s"===FAILED ${failed.size} queries:")
      failed.foreach { case (n, m) => System.err.println(s"  $n: ${m.linesIterator.take(1).mkString}") }
    }
    if (warned.nonEmpty || failed.nonEmpty) sys.exit(1)
    System.err.println(s"===CLEAN ${SparkEntry.queries.size} queries, zero global-window warnings")
  }
}
