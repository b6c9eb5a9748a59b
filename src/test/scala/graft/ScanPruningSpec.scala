package graft

import org.apache.spark.sql.execution.FileSourceScanExec

/** Pushdown/pruning guardrails: at 100 TB the difference between a
  * query that works and one that melts is whether its filters and
  * column list actually REACH the parquet scan. These tests walk the
  * executed plans of representative queries and assert (a) the
  * predicate shows up in the scan's pushed filters, and (b) the scan's
  * read schema carries only the needed columns — so an accidental
  * `select(*)` or a filter stranded above a join fails the suite, not
  * the production run.
  */
class ScanPruningSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def scans(name: String): Seq[FileSourceScanExec] = {
    // AQE wraps joined plans in AdaptiveSparkPlanExec whose inner tree
    // collect() can't see before execution; pushdown/pruning decisions
    // are made below AQE, so inspecting the non-adaptive plan is exact.
    // CacheScope-persisted subtrees hide their file scan inside an
    // InMemoryRelation — descend into the cached plan, where the
    // pruning decision was made.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // a cache entry left by an earlier suite (built with AQE on) would
    // wrap its cachedPlan in AdaptiveSparkPlanExec, which hides the scan
    // from collect until execution — drop shared-session cache state so
    // the persist below rebuilds under this test's conf
    spark.catalog.clearCache()
    def collect(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collectWithSubqueries {
        case s: FileSourceScanExec => Seq(s)
        case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          collect(im.relation.cachedPlan)
      }.flatten
    try collect(SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("p10_view_filter: event_type predicate is pushed and the scan reads only needed columns") {
    val ss = scans("p10_view_filter")
    assert(ss.nonEmpty)
    val ev = ss.find(_.metadata("Location").contains("events")).get
    assert(ev.metadata("PushedFilters").contains("EqualTo(event_type,view)"),
      s"filter not pushed: ${ev.metadata("PushedFilters")}")
    val read = ev.metadata("ReadSchema")
    assert(!read.contains("props"), s"unneeded JSON props column read: $read")
  }

  test("q5_region_revenue: region filter pushed; lineitem scan reads only the 3 needed columns") {
    val ss = scans("q5_region_revenue")
    val reg = ss.find(_.metadata("Location").contains("region")).get
    assert(reg.metadata("PushedFilters").contains("EqualTo(r_name,ASIA)"))
    val li = ss.find(_.metadata("Location").contains("lineitem")).get
    val read = li.metadata("ReadSchema")
    Seq("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount").foreach(c =>
      assert(read.contains(c), s"$c missing from lineitem ReadSchema: $read"))
    Seq("l_comment", "l_shipdate", "l_quantity").foreach(c =>
      assert(!read.contains(c), s"unneeded $c read from lineitem: $read"))
  }

  test("text_token_stats: only doc_id and text are read from documents") {
    val ss = scans("text_token_stats")
    val doc = ss.find(_.metadata("Location").contains("documents")).get
    val read = doc.metadata("ReadSchema")
    assert(read.contains("text") && read.contains("doc_id"))
    Seq("source", "lang", "n_chars").foreach(c =>
      assert(!read.contains(c), s"unneeded $c read: $read"))
  }

  test("emb_pca_project: the scoring scan reads only vec_id and embedding") {
    val ss = scans("emb_pca_project")
    assert(ss.nonEmpty)
    ss.filter(_.metadata("Location").contains("embeddings")).foreach { s =>
      val read = s.metadata("ReadSchema")
      assert(!read.contains("label"), s"unneeded label column read: $read")
    }
  }

  test("quality_ref_ppl: label-free columns only — doc_id, text, source") {
    val ss = scans("quality_ref_ppl")
    ss.filter(_.metadata("Location").contains("documents")).foreach { s =>
      val read = s.metadata("ReadSchema")
      Seq("lang", "n_chars").foreach(c =>
        assert(!read.contains(c), s"unneeded $c read: $read"))
    }
  }

  test("events_anomaly_windows: only ts and event_type are read from events") {
    val ss = scans("events_anomaly_windows")
    val ev = ss.find(_.metadata("Location").contains("events")).get
    val read = ev.metadata("ReadSchema")
    Seq("props", "value", "user_id").foreach(c =>
      assert(!read.contains(c), s"unneeded $c read: $read"))
  }

  test("mm_scene_cuts: the synthetic payload derives from doc_id alone — text never read") {
    val ss = scans("mm_scene_cuts")
    assert(ss.nonEmpty)
    ss.filter(_.metadata("Location").contains("documents")).foreach { s =>
      val read = s.metadata("ReadSchema")
      Seq("text", "lang", "n_chars").foreach(c =>
        assert(!read.contains(c), s"unneeded $c read: $read"))
    }
  }

  test("text_chi2_shift: only source and text are read from documents") {
    val ss = scans("text_chi2_shift")
    assert(ss.nonEmpty)
    ss.filter(_.metadata("Location").contains("documents")).foreach { s =>
      val read = s.metadata("ReadSchema")
      Seq("lang", "n_chars", "doc_id").foreach(c =>
        assert(!read.contains(c), s"unneeded $c read: $read"))
    }
  }
}
