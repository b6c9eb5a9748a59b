package graft

import graft.pipeline.{EventOps, GraphOps}
import org.apache.spark.sql.functions._

/** Golden-value tests for the event-shaping operators (sessionize, as-of
  * join) and the connected-components label propagation. */
class EventGraphSpec extends SparkSpec {
  import spark.implicits._

  test("botRegularity: a timer-regular user is flagged, a bursty one is not") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // user 7 fires every 60 s exactly; user 8 with wildly varied gaps
    val bot = (0 until 30).map(i => (i.toLong, ts(i * 60L), 7L))
    var t = 0L
    val human = (100 until 130).map { i =>
      t += 30 + (i * 53) % 200
      (i.toLong, ts(t), 8L)
    }
    val d = (bot ++ human).toDF("event_id", "ts", "user_id")
    val out = EventOps.botRegularity(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (medB, madB, isBotB) = out(7L)
    assert(medB === 60L && madB === 0L && isBotB === 1L)
    val (_, madH, isBotH) = out(8L)
    assert(isBotH === 0L && madH > 0L)
  }

  test("sessionize: gap splits, tie never splits, exact value totals") {
    val gap = 100L
    val e = Seq(
      // user 1: [0, 50, 150] one session (gaps 50, 100 <= gap), then 251
      (1L, 0L, 1.0), (1L, 50L, 2.0), (1L, 150L, 3.0), (1L, 251L, 4.0),
      // user 2: tied timestamps stay together
      (2L, 10L, 1.5), (2L, 10L, 2.5), (2L, 10L, 3.5)
    ).toDF("user_id", "ts", "value")
    val got = EventOps.sessionize(e, gap)
      .orderBy("user_id", "session_start")
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      (1L, 0L, 150L, 3L, 6.0),
      (1L, 251L, 251L, 1L, 4.0),
      (2L, 10L, 10L, 3L, 7.5)))
  }

  test("funnelTiming: type-1 quantiles over hand-built gaps, non-converters excluded") {
    // users 1..3 convert a->b with gaps 10, 20, 30; user 4 never reaches b.
    // p50 -> ceil(0.5*3)=2nd smallest = 20; p90 -> ceil(2.7)=3rd = 30.
    val e = Seq(
      (1L, 100L, "a"), (1L, 110L, "b"),
      (2L, 100L, "a"), (2L, 120L, "b"),
      (3L, 100L, "a"), (3L, 130L, "b"),
      (4L, 100L, "a")).toDF("user_id", "ts", "event_type")
    val got = EventOps.funnelTiming(e, Seq("a", "b"), ps = Seq(0.5, 0.9))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).sortBy(_._3)
    assert(got.toSeq == Seq((1L, "b", 0.5, 3L, 20L), (1L, "b", 0.9, 3L, 30L)))
  }

  test("anomalyWindows: a complete outage hour is zero-filled and flagged") {
    // the sparse hourly series can never flag an hour with NO events (it
    // has no row to score); the dense grid gives it n = 0. Type "s"
    // emits 2/3 events alternating per hour for 30 hours EXCEPT hour 27
    // (the outage): baseline mean 2.5, sd 0.5 ⇒ z = -5.
    val rows = for {
      h <- 0 until 30; if h != 27
      k <- 0 until (2 + h % 2)
    } yield ("s", new java.sql.Timestamp((h * 3600L + 60L * k) * 1000))
    val got = EventOps.anomalyWindows(
        rows.toDF("event_type", "ts"), zThresh = 3.0, minBaseline = 12)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
    assert(got.length == 1, s"exactly the outage hour flags: ${got.toSeq}")
    val (et, ws, n, z) = got.head
    assert(et == "s" && ws == 27L * 3600 && n == 0L && z == -5.0)
  }

  test("asofJoin: <= semantics, per-key isolation, null before first obs") {
    val left = Seq((1L, "a", 5L), (2L, "a", 10L), (3L, "a", 14L), (4L, "b", 10L), (5L, "a", 2L))
      .toDF("event_id", "sid", "ts")
    val right = Seq(("a", 5L, 1.0), ("a", 12L, 2.0), ("b", 3L, 9.0))
      .toDF("sid", "ts", "value")
    val got = EventOps.asofJoin(left, right, "sid")
      .orderBy("event_id")
      .collect().map(r => (r.getLong(r.fieldIndex("event_id")),
        Option(r.get(r.fieldIndex("asof_ts"))).map(_.asInstanceOf[Long]),
        Option(r.get(r.fieldIndex("asof_value"))).map(_.asInstanceOf[Double])))
    assert(got.toSeq == Seq(
      (1L, Some(5L), Some(1.0)),   // exact match: <= picks it
      (2L, Some(5L), Some(1.0)),   // between obs: earlier one
      (3L, Some(12L), Some(2.0)),
      (4L, Some(3L), Some(9.0)),   // key isolation
      (5L, None, None)))           // before first obs
  }

  test("funnelStages: order matters, per-step chaining, reached count") {
    val steps = Seq("signup", "view", "buy")
    val e = Seq(
      // user 1 completes in order
      (1L, 10L, "signup"), (1L, 20L, "view"), (1L, 30L, "buy"),
      // user 2: buy BEFORE view -> funnel stops at view
      (2L, 10L, "signup"), (2L, 30L, "view"), (2L, 20L, "buy"),
      // user 3: view before signup doesn't count, later view does
      (3L, 20L, "signup"), (3L, 10L, "view"), (3L, 40L, "view"),
      // user 4: no signup -> nothing counts
      (4L, 10L, "view"), (4L, 20L, "buy"),
      // user 5: same-second signup+view (ties chain inclusively)
      (5L, 10L, "signup"), (5L, 10L, "view")
    ).toDF("user_id", "ts", "event_type")
    val got = EventOps.funnelStages(e, steps).orderBy("user_id")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, Some(10L), Some(20L), Some(30L), 3L),
      (2L, Some(10L), Some(30L), None, 2L),
      (3L, Some(20L), Some(40L), None, 2L),
      (4L, None, None, None, 0L),
      (5L, Some(10L), Some(10L), None, 2L)))
    val rep = EventOps.funnelReport(e, steps).orderBy("step")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rep.toSeq == Seq(
      (1L, "signup", 4L, 1.0), (2L, "view", 4L, 1.0), (3L, "buy", 1L, 0.25)))
  }

  test("retention: cohorts by first week, offsets, rates") {
    val wk = 604800L
    val e = Seq(
      // users 1,2 start week 0; user 1 active weeks 0,1,2; user 2 weeks 0,2
      (1L, 0L), (1L, wk), (1L, 2 * wk), (2L, 5L), (2L, 2 * wk + 5),
      // user 3 starts week 1, never returns
      (3L, wk + 10L)
    ).toDF("user_id", "ts").withColumn("event_type", lit("x"))
    val got = EventOps.retention(e).orderBy("cohort_wk", "offset_wk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (0L, 0L, 2L, 1.0), (0L, 1L, 1L, 0.5), (0L, 2L, 2L, 1.0),
      (1L, 0L, 1L, 1.0)))
  }

  test("connectedComponents: chain + clique, driver and distributed paths agree") {
    // chain 1-2-3-4 (diameter 3), clique 10-11-12, isolated pair 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("src", "dst")
    val want = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L),
      (20L, 20L), (21L, 20L))
    // small graph -> union-find on the driver
    val viaDriver = GraphOps.connectedComponents(edges)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(viaDriver.toSeq == want)
    // driverMaxEdges = 0 forces the distributed label-propagation path
    val viaLoop = GraphOps.connectedComponents(edges, driverMaxEdges = 0L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(viaLoop.toSeq == want)
  }

  test("madOutliers: histogram+refine medians == naive sorted medians (ties, bin edges)") {
    // the histogram/in-bin-refine median must equal the old full-sort
    // lower median on ANY data — exercised here with heavy ties and
    // values landing exactly on bin boundaries (multiples of 0.5 with
    // binWidth 1.0), where an off-by-one in the cumulative-rank logic
    // would pick a neighbor
    val rnd = new scala.util.Random(7)
    def lowerMedian(vs: Seq[(Long, Double)]): Double = {
      val s = vs.sortBy { case (id, v) => (v, id) }
      s(((s.size + 1) / 2) - 1)._2
    }
    for (_ <- 1 to 3) {
      val rows = (1 to 200).map { i =>
        (s"t${rnd.nextInt(3)}", i.toLong, math.floor(rnd.nextDouble() * 30) / 2.0)
      }
      val got = EventOps.madOutliers(rows.toDF("event_type", "event_id", "value"),
          k = 1.5).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      val byKey = rows.groupBy(_._1)
      val want = rows.filter { case (et, _, v) =>
        val med = lowerMedian(byKey(et).map(t => (t._2, t._3)))
        val mad = lowerMedian(byKey(et).map(t => (t._2, math.abs(t._3 - med))))
        math.abs(v - med) > 1.5 * mad
      }.map(t => (t._1, t._2)).toSet
      assert(got == want)
    }
  }

  test("asofJoin plans with ZERO join operators (union-merge, one exchange)") {
    val left = Seq((1L, "a", 5L, "x")).toDF("event_id", "sid", "ts", "tag")
    val right = Seq(("a", 5L, 1.0)).toDF("sid", "ts", "value")
    val plan = EventOps.asofJoin(left, right, "sid")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    assert(plan.contains("Window"))
  }

  test("saltedJoin == plain inner join, and scatters a hot key") {
    import graft.functions.FrameOps
    val left = (1 to 200).map(i => (if (i <= 190) 7L else i.toLong, i.toLong))
      .toDF("k", "lv") // 95% of rows on key 7
    val right = Seq((7L, "hot"), (195L, "cold"), (999L, "unmatched"))
      .toDF("k", "rv")
    val plain = left.join(right, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val salted = FrameOps.saltedJoin(left, right, "k", salt = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(salted.toSeq == plain.toSeq)
    // the hot key's rows really spread across sub-keys
    val spread = left.filter(col("k") === 7L)
      .withColumn("__salt", pmod(xxhash64(col("k"), col("lv")), lit(8)))
      .select("__salt").distinct().count()
    assert(spread > 4, s"expected >4 of 8 salt buckets used, got $spread")
  }

  test("connectedComponents: 2000-chain converges in O(log d) rounds (pointer doubling)") {
    // neighbor-min alone needs ~diameter rounds, so a 2000-node chain
    // under maxIter=15 passes ONLY with the label-of-label doubling step
    val n = 2000
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val got = GraphOps.connectedComponents(edges, maxIter = 15, driverMaxEdges = 0L)
    assert(got.agg(countDistinct(col("comp_id"))).head.getLong(0) == 1L)
    assert(got.count() == n.toLong)
    assert(got.agg(min(col("comp_id"))).head.getLong(0) == 1L)
  }

  test("connectedComponents: driver union-find survives a 100k-deep chain") {
    // adversarial collect order can chain parents O(n) deep; the iterative
    // find must label the whole chain without blowing the driver stack
    val n = 100000
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val got = GraphOps.connectedComponents(edges) // <= driverMaxEdges path
    assert(got.agg(countDistinct(col("comp_id"))).head.getLong(0) == 1L)
    assert(got.count() == n.toLong)
  }

  test("pagerank: matches the driver-simulated integer recurrence; hub outranks leaves") {
    import spark.implicits._
    // star 1-{2,3,4} plus a detached edge 5-6
    val raw = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L))
    val got = GraphOps.pagerank(raw.toDF("src", "dst"), iters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // replay the exact integer recurrence on the driver
    val sym = raw.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val deg = sym.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val u = GraphOps.RankUnit
    var r = deg.keys.map(_ -> u).toMap
    (1 to 10).foreach { _ =>
      val in = sym.groupBy(_._2).map { case (n, es) =>
        n -> es.map { case (s, _) => r(s) / deg(s) }.sum }
      r = deg.keys.map(n => n -> (u * 3 / 20 + 17 * in.getOrElse(n, 0L) / 20)).toMap
    }
    assert(got == r)
    // the star hub is strictly the most central node
    assert(got(1L) > got(2L) && got(2L) == got(3L) && got(3L) == got(4L))
    assert(got(5L) == got(6L))
  }
}
