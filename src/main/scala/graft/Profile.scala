package graft

import org.apache.spark.scheduler._

/** Per-query optimization profiler (spark_optimization_guide §1: measure
  * first). For each named query (all when none given) runs the plan twice
  * through the noop sink (run 1 = codegen/JIT warmup, run 2 measured) and
  * prints one JSON line with the breakdown the bench's single wall number
  * can't show:
  *
  *  - wall_s        run-2 wall clock (the bench's own currency)
  *  - plan_s        time from DataFrame construction to the first job
  *                  submission (Catalyst analysis/optimization + driver
  *                  code building the plan — §7.3's "nothing running")
  *  - jobs          Spark jobs launched (each argmax collect / checkpoint
  *                  / noop write is one)
  *  - task_s        summed task duration across all jobs (the distributed
  *                  work; wall >> task_s/cpus means driver-bound)
  *  - gap_s         wall minus time covered by ANY running job — pure
  *                  driver-side gaps between jobs (planning per job,
  *                  collect handling, checkpoint bookkeeping)
  *  - shuf_mb       shuffle write bytes (the §2.3 currency)
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 runMain graft.Profile [query…]
  */
object Profile {

  /** Seconds of `[t0, t1]` covered by none of `spans` — the driver-side
    * gaps. Spans may overlap, nest or reach outside the window; only
    * their union's intersection with the window counts as covered. */
  def uncovered(t0: Long, t1: Long, spans: Seq[(Long, Long)]): Double = {
    val ss = spans.map { case (a, b) => (a max t0, b min t1) }
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L; var curA = t0; var curB = t0
    ss.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    covered += curB - curA
    ((t1 - t0) - covered) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv()

    // job/task accounting listener; reset per measured run
    val lock = new Object
    var jobs = 0
    var taskNs = 0L
    var shufBytes = 0L
    var firstSubmitNs = 0L
    // [start, end] of every job, to compute un-covered wall (driver gaps)
    var spans = List.empty[(Long, Long)]
    var jobStartNs = Map.empty[Int, Long]
    // per-callsite job accounting (SPARK_GRAFT_JOBS=1): which code path
    // launches how many jobs and how much wall they cover
    var siteOf = Map.empty[Int, String]
    var siteAgg = Map.empty[String, (Int, Double)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
        // event-carried timestamp, not processing time: the bus is async
        // and processing-time stamps inflate under bus lag
        val now = e.time * 1000000L
        jobs += 1
        if (firstSubmitNs == 0L) firstSubmitNs = now
        jobStartNs += e.jobId -> now
        siteOf += e.jobId -> (Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("?"))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
        jobStartNs.get(e.jobId).foreach { s =>
          val now = e.time * 1000000L
          spans ::= (s, now)
          val site = siteOf.getOrElse(e.jobId, "?")
          val (c, t) = siteAgg.getOrElse(site, (0, 0.0))
          siteAgg += site -> (c + 1, t + (now - s) / 1e9)
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
        val m = e.taskMetrics
        if (m != null) {
          taskNs += e.taskInfo.duration * 1000000L
          shufBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    })
    def drain(): Unit =
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
    def reset(): Unit = lock.synchronized {
      jobs = 0; taskNs = 0L; shufBytes = 0L; firstSubmitNs = 0L
      spans = Nil; jobStartNs = Map.empty; siteOf = Map.empty; siteAgg = Map.empty
    }
    // epoch-based clock: listener events carry epoch-ms stamps, so the
    // run window must share their base (1 ms granularity is plenty for
    // multi-second walls)
    def epochNs(): Long = System.currentTimeMillis() * 1000000L
    val only = args.toSet
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    SparkEntry.queries
      .filter { case (n, _) => only.isEmpty || only(n) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        def run(sink: org.apache.spark.sql.DataFrame => Unit) =
          SparkEntry.runQuery(spark, "profile", name, fn(spark, sfDir))(sink)
        var t0 = 0L
        var t1 = 0L
        val measured = run(SparkEntry.noop).flatMap { _ =>
          explain.foreach { dir =>
            new java.io.File(dir).mkdirs()
            run { df =>
              java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name.txt"),
                df.queryExecution.explainString(
                  org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
            }
          }
          // drain the async listener bus so late WARMUP events can't
          // contaminate the measured run's counters
          drain()
          reset()
          t0 = epochNs()
          run { df => SparkEntry.noop(df); t1 = epochNs() }
        }
        // t1 is stamped when the save returns; draining afterwards only
        // makes sure every measured event has reached the counters
        drain()
        measured match {
          case Left(e) =>
            println(s"""{"q":"$name","error":"${e.getClass.getSimpleName}"}""")
          case Right(_) => lock.synchronized {
            val wall = (t1 - t0) / 1e9
            val plan = if (firstSubmitNs == 0L) wall else (firstSubmitNs - t0) / 1e9
            val gap = uncovered(t0, t1, spans)
            println(f"""{"q":"$name","wall_s":$wall%.2f,"plan_s":$plan%.2f,"jobs":$jobs,"task_s":${taskNs / 1e9}%.2f,"gap_s":$gap%.2f,"shuf_mb":${shufBytes / 1048576.0}%.1f}""")
            if (sys.env.get("SPARK_GRAFT_JOBS").contains("1"))
              siteAgg.toSeq.sortBy(-_._2._2).take(20).foreach { case (s, (c, t)) =>
                println(f"  [jobs] $c%4d  ${t}%7.2fs  $s")
              }
          }
        }
      }
    spark.stop()
  }
}
