package graft.queries

import graft.Tables
import graft.queries.Sql._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core: scans, filters, equi-joins (incl. broadcast
  * stream-static enrichment J7, semi-join J4), aggregations, sorts and the
  * profile-store operators (S5/S6, P1, O2, J5) from SURVEY.md §2, exercised
  * on the TPC-H-ish driver testdata.
  *
  * Scale notes: dimension joins are explicitly broadcast; fact-side
  * aggregations are partial (map-side combine) by construction; all filters
  * and projections are plain Column exprs so Catalyst pushes them into the
  * parquet scans.
  */
object RelationalQueries extends QueryModule {

  private val PRO = Tables.profilesSql

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TPC-H Q1 shape: single-pass scan + partial agg; the canonical
    // "does the engine aggregate 100 TB without moving it" query.
    "q1_pricing_summary" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          decSum(col("l_quantity")).as("sum_qty"),
          decSum(col("l_extendedprice")).as("sum_base_price"),
          decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          decSum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
          decAvg(col("l_quantity")).as("avg_qty"),
          decAvg(col("l_extendedprice")).as("avg_price"),
          decAvg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    // TPC-H Q3 shape. Scale design: lineitem⋈orders is a shuffle join on
    // orderkey (both are facts — broadcasting either OOMs at sf100); only
    // the segment-filtered customer key list is broadcast into orders.
    // Top-10 via orderBy+limit → TakeOrderedAndProject: per-partition heaps
    // + driver merge, no single-partition window shuffle.
    "q3_top_orders" -> ((s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"), "left_semi")
      val l = Tables.lineitem(s, d)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: multi-way equi-join through the star schema.
    // Scale design: customer/supplier grow linearly with SF (15M customers
    // at sf100) so they shuffle-join; only the constant-size nation (25
    // rows) and region (5 rows) dims are broadcast. The ASIA filter reaches
    // supplier/customer early through the broadcast nation⋈region join,
    // shrinking both shuffle sides before the fact join.
    "q5_region_revenue" -> ((s, d) => {
      val nr = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val c = Tables.customer(s, d)
        .join(broadcast(nr), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val sup = Tables.supplier(s, d)
        .join(broadcast(nr), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
                 col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
    }),

    // J4 — semi-join (EXISTS).
    "j4_semi_join" -> ((s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d).filter(col("l_quantity") >= 49)
                .select(col("l_orderkey")),
              col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), round(col("o_totalprice"), 4).as("o_totalprice"))),

    // J7 — stream-static enrichment in batch form: fact stream joined to a
    // size-guarded broadcast dimension (reference: ad event → Redis
    // campaign lookup; see FrameOps.dimBroadcast for the SF caveat).
    "j7_enrich_broadcast" -> ((s, d) =>
      Tables.events(s, d)
        .join(graft.functions.FrameOps.dimBroadcast(Tables.customer(s, d)),
          col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("total_value"))),

    // P10 — view-event filter + projection (Yahoo-benchmark shape).
    "p10_view_filter" -> ((s, d) =>
      Tables.events(s, d).filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_sec"), col("value"))),

    // Z-order layout assignment over orders on (custkey, order day):
    // the multi-column clustering a 100 TB table needs for file-level
    // min/max pruning on EITHER column (see sources.ZOrder). The layout
    // itself (range-partition by zval) is plan-tested in ZOrderSpec;
    // this query verifies the exact bit-interleave arithmetic.
    "orders_zorder" -> ((s, d) =>
      graft.sources.ZOrder.zAssign(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          expr("unix_timestamp(o_orderdate) div 86400").as("o_day")),
        "o_custkey", "o_day", bits = 16, nBuckets = 16)
        .select("o_orderkey", "za", "zb", "zval", "zbucket")),

    // P1 — backpressure split of the profile store.
    "profiles_p1_split" -> ((s, d) =>
      Tables.profiles(s, d).filter(col("isbckpres") === 0)),

    // O2 — profile-store scan ordered by (scaleOut, stopTs). The global
    // sort range-partitions (scale-safe). NOTE: the driver set-compares
    // rows, so the ordering itself is exercised but not asserted here —
    // the alternative (a global row_number rank column) serializes the
    // table through one window partition at scale and was deliberately
    // dropped; ordering semantics are covered by orderBy's contract.
    "profiles_o2_sort" -> ((s, d) =>
      Tables.profiles(s, d).orderBy(col("scaleout"), col("stopts"), col("expid"))),

    // J5 — group-to-series: per scale-out the (stopTs, avgLat) series,
    // flattened with an in-group position.
    "profiles_j5_series" -> ((s, d) =>
      Tables.profiles(s, d).select(col("scaleout"),
        (row_number().over(Window.partitionBy(col("scaleout"))
          .orderBy(col("stopts"), col("expid"))) - 1).as("pos"),
        col("stopts"), col("avglat"))),

    // P8 — active-scale-out membership filter.
    "profiles_p8_isin" -> ((s, d) =>
      Tables.profiles(s, d).filter(col("scaleout").isin(2, 4, 8, 16))
        .groupBy(col("scaleout"))
        .agg(count(lit(1)).as("n"), decAvg(col("avgthr")).as("mean_thr"))),

    // O9 — distinct scale-outs present, ordered (tiny result; the distinct
    // is the shuffle, the sort is on ≤23 rows).
    "profiles_o9_distinct" -> ((s, d) =>
      Tables.profiles(s, d).select(col("scaleout")).distinct()
        .orderBy(col("scaleout"))),

    // P3 — dedup on a key subset keeping the FIRST row per key in
    // (stopts, expid) order (pandas drop_duplicates(subset=...) keeps the
    // first occurrence; our deterministic order stands in for pandas row
    // order). min_by on a struct = one shuffle, no window.
    "p3_dedup_subset" -> ((s, d) =>
      Tables.profiles(s, d).groupBy(col("scaleout")).agg(
        min_by(struct(col("expid"), col("gentype"), col("avglat"), col("avgthr")),
          struct(col("stopts"), col("expid"))).as("r"))
        .select(col("scaleout"), col("r.expid").as("expid"),
          col("r.gentype").as("gentype"), col("r.avglat").as("avglat"),
          col("r.avgthr").as("avgthr"))),

    // S8 — the Prometheus matrix shape: the long-format metric store
    // pivoted to one column per label (series id), per timestamp.
    "s8_label_matrix" -> ((s, d) => {
      val sids = Seq("click", "view", "purchase", "signup", "error")
      Tables.series(s, d).groupBy(col("ts")).agg(
        max(when(col("sid") === sids.head, col("value"))).as(sids.head),
        sids.tail.map(t => max(when(col("sid") === t, col("value"))).as(t)): _*)
    }),

    // K-ANONYMITY / L-DIVERSITY AUDIT (Sweeney 2002; Machanavajjhala et
    // al. 2007) over the customer quasi-identifiers (nation, market
    // segment, account-balance bucket): the privacy risk report a
    // release pipeline runs BEFORE publishing. The generalization ladder
    // (drop the finest QI per level) is computed as ONE Spark `rollup` —
    // one pass, every level a grouping set, partial-agg all the way —
    // instead of one scan per level. Per level: class count, the
    // smallest class (k of k-anonymity), rows/classes in classes below
    // k = 5, and the worst-class distinct-sensitive-value count (l of
    // l-diversity, sensitive = exact balance). All integer arithmetic
    // except floor(balance/1000), one IEEE divide+floor identical in
    // both engines. (QI columns are non-null in this schema; a nullable
    // QI would need a sentinel before rollup, whose NULL means
    // "generalized away".)
    "privacy_k_anon" -> ((s, d) => {
      val k = 5
      val base = Tables.customer(s, d).select(
        col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal"),
        col("c_acctbal").as("sens"))
      val classes = base.rollup(col("nat"), col("seg"), col("bal"))
        .agg(count(lit(1)).as("sz"), countDistinct(col("sens")).as("l"),
          grouping_id().as("gid"))
      classes.groupBy(col("gid"))
        .agg(count(lit(1)).as("n_classes"),
          min(col("sz")).as("min_class_size"),
          sum(when(col("sz") < k, col("sz")).otherwise(0L)).as("n_rows_at_risk"),
          sum(when(col("sz") < k, 1L).otherwise(0L)).as("n_classes_at_risk"),
          min(col("l")).as("min_l_diversity"))
        .select(col("gid").cast("long").as("gid"), col("n_classes"),
          col("min_class_size"), col("n_rows_at_risk"),
          col("n_classes_at_risk"), col("min_l_diversity"))
    }))

  def oracles: Map[String, String] = Map(
    // ROLLUP replay with the grouping id assembled explicitly
    // (GROUPING(nat)·4 + GROUPING(seg)·2 + GROUPING(bal)) to match
    // Spark's first-column-most-significant grouping_id convention
    "privacy_k_anon" ->
      s"""WITH base AS (SELECT CAST(c_nationkey AS BIGINT) AS nat,
         |    c_mktsegment AS seg,
         |    CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal,
         |    c_acctbal AS sens FROM customer),
         |cls AS (SELECT COUNT(*) AS sz, COUNT(DISTINCT sens) AS l,
         |    GROUPING(nat) * 4 + GROUPING(seg) * 2 + GROUPING(bal) AS gid
         |  FROM base GROUP BY ROLLUP (nat, seg, bal))
         |SELECT CAST(gid AS BIGINT) AS gid,
         |  COUNT(*) AS n_classes,
         |  CAST(MIN(sz) AS BIGINT) AS min_class_size,
         |  CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
         |  CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_at_risk,
         |  CAST(MIN(l) AS BIGINT) AS min_l_diversity
         |FROM cls GROUP BY gid""".stripMargin,

    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${decSumSql("l_quantity")} AS sum_qty,
         |  ${decSumSql("l_extendedprice")} AS sum_base_price,
         |  ${decSumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${decSumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         |  ${decAvgSql("l_quantity")} AS avg_qty,
         |  ${decAvgSql("l_extendedprice")} AS avg_price,
         |  ${decAvgSql("l_discount")} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_orders" ->
      s"""SELECT o_orderkey,
         |  ${decSumSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM customer JOIN orders ON o_custkey = c_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY o_orderkey
         |ORDER BY revenue DESC, o_orderkey
         |LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      s"""SELECT n_name,
         |  ${decSumSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY n_name""".stripMargin,

    "j4_semi_join" ->
      """SELECT o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice
        |FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity >= 49)""".stripMargin,

    "j7_enrich_broadcast" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_events,
         |  ${decSumSql("value")} AS total_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY c_mktsegment""".stripMargin,

    // the engine's bit-interleave replayed term-for-term (// = Spark div)
    "orders_zorder" -> {
      val bits = 16
      val m = (1L << bits) - 1
      val bucketWidth = (1L << (2 * bits)) / 16
      val inter = (0 until bits).map(i =>
        s"((((za >> $i) & 1) << ${2 * i}) | (((zb >> $i) & 1) << ${2 * i + 1}))")
        .mkString(" | ")
      s"""WITH o AS (SELECT o_orderkey, o_custkey,
         |    CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400 AS o_day
         |  FROM orders),
         |st AS (SELECT MIN(o_custkey) AS loA, MAX(o_custkey) AS hiA,
         |    MIN(o_day) AS loB, MAX(o_day) AS hiB FROM o),
         |z AS (SELECT o_orderkey,
         |    CASE WHEN hiA = loA THEN CAST(0 AS BIGINT)
         |         ELSE ((o_custkey - loA) * $m) // (hiA - loA) END AS za,
         |    CASE WHEN hiB = loB THEN CAST(0 AS BIGINT)
         |         ELSE ((o_day - loB) * $m) // (hiB - loB) END AS zb
         |  FROM o CROSS JOIN st),
         |zz AS (SELECT o_orderkey, za, zb, $inter AS zval FROM z)
         |SELECT o_orderkey, za, zb, zval, zval // $bucketWidth AS zbucket
         |FROM zz""".stripMargin
    },

    "p10_view_filter" ->
      """SELECT event_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec, value
        |FROM events WHERE event_type = 'view'""".stripMargin,

    "profiles_p1_split" ->
      s"WITH profiles AS ($PRO) SELECT * FROM profiles WHERE isbckpres = 0",

    "profiles_o2_sort" ->
      s"WITH profiles AS ($PRO) SELECT * FROM profiles ORDER BY scaleout, stopts, expid",

    "profiles_j5_series" ->
      s"""WITH profiles AS ($PRO)
         |SELECT scaleout,
         |  row_number() OVER (PARTITION BY scaleout ORDER BY stopts, expid) - 1 AS pos,
         |  stopts, avglat
         |FROM profiles""".stripMargin,

    "profiles_p8_isin" ->
      s"""WITH profiles AS ($PRO)
         |SELECT scaleout, COUNT(*) AS n, ${decAvgSql("avgthr")} AS mean_thr
         |FROM profiles WHERE scaleout IN (2, 4, 8, 16)
         |GROUP BY scaleout""".stripMargin,

    "profiles_o9_distinct" ->
      s"""WITH profiles AS ($PRO)
         |SELECT DISTINCT scaleout FROM profiles ORDER BY scaleout""".stripMargin,

    "p3_dedup_subset" ->
      s"""WITH profiles AS ($PRO),
         |r AS (SELECT *, row_number() OVER (PARTITION BY scaleout
         |        ORDER BY stopts, expid) AS rn FROM profiles)
         |SELECT scaleout, expid, gentype, avglat, avgthr
         |FROM r WHERE rn = 1""".stripMargin,

    "s8_label_matrix" -> {
      val sids = Seq("click", "view", "purchase", "signup", "error")
      val cols = sids.map(t => s"MAX(CASE WHEN sid = '$t' THEN value END) AS $t")
        .mkString(",\n  ")
      s"""WITH series AS (${graft.Tables.seriesSql})
         |SELECT ts,
         |  $cols
         |FROM series GROUP BY ts""".stripMargin
    })
}
