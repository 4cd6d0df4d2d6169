package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{FilterSpec, GraftSession}
import EntryExprs.dsum

/** Relational operator coverage (SURVEY §2.1–§2.7) expressed over the
  * driver test tables, each paired with a DuckDB oracle.
  *
  * Determinism rules used throughout (the driver hash-compares values):
  *  - double aggregation goes through exact DECIMAL sums, cast to double at
  *    the end, so Spark and DuckDB produce bit-identical results regardless
  *    of partial-aggregation order;
  *  - every query ends in a total ORDER BY (unique tiebreaker included);
  *  - timestamps are cast to DATE at the output edge.
  *
  * Operator map (SURVEY §2 ids → query):
  *  S6/P1/F1/F4/F5 → q02; F2 → q03; F3/J10 → q04; J3/F6 → q05; J1 → q06;
  *  J5 → q07; J4 → q08; A1 → q01,q12; A2 → q13; A3 → q14; A4 → q15;
  *  A5/C3 → q16; A6/C6/C7 → q17; A7/SO2 → q18; W3 → q19; W1/W2 → q20;
  *  C1 → q21; C4 → q22; F8 → q23; A8/C11 → q24.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.table(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1: the reference's flagship shape — grouped aggregate over the fact
    // table (clinpy Project.__str__ cohort counts writ large). Partial
    // aggregation is map-side; one shuffle on the (tiny) group key.
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // P1/F1/F4/F5: projection + conjunctive predicates; all three filters
    // and the 4-column projection push into the Parquet scan.
    "q02_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") >= 30 &&
          col("l_discount") <= 0.05)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // F2: IN-list predicate.
    "q03_in_list" -> ((s, dir) => {
      t(s, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // F3/J10: the reference's chained semi-join idiom
    // (cohort → samples → junctions, junction.py:44-51) as
    // segment → customers → orders → lineitems. Both semi-joins broadcast
    // (dim sides are small after filtering); no full shuffle of lineitem.
    "q04_semi_chain" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ords = t(s, dir, "orders")
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
      t(s, dir, "lineitem")
        .join(broadcast(ords), col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // J3/F6: left anti join — the reference's new-rows detection
    // (rna_functions.py:77-90) as customers-without-finished-orders.
    // (Unfiltered orders cover every customer at small SF — degenerate.)
    "q05_anti_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }),

    // J1: fact ⋈ broadcast dimension (junctions ⋈ sample_to_junction shape).
    "q06_dim_join_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_lines"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("p_brand")
    }),

    // J5: left outer join enrich (junction.py:326-335 coordinate merge).
    "q07_left_join" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .as("revenue"))
      t(s, dir, "orders").filter(col("o_orderkey") < 2000)
        .join(rev, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"), col("o_orderstatus"),
          coalesce(col("revenue"), lit(0.0)).as("revenue"))
        .orderBy("o_orderkey")
    }),

    // J4: multi-column natural-key join — staged rows ⋈ dim on composite key
    // (rna_functions.py:92-100). Derived dim keyed (partkey, suppkey).
    "q08_multikey_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val dim = li.groupBy("l_partkey", "l_suppkey")
        .agg(min(col("l_extendedprice")).as("base_price"))
      li.join(dim, Seq("l_partkey", "l_suppkey"))
        .filter(col("l_extendedprice") > col("base_price") * lit(1.2))
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_above"))
        .orderBy("l_partkey")
    }),

    // A1: plain group-by count (Project.__str__ cohort sizes, project.py:60-65).
    "q12_group_count" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // A2: count + count(distinct) summary (variants.py:111-118).
    "q13_count_distinct" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")
    }),

    // A3: DISTINCT on a projection (dim build, rna_functions.py:65-66).
    "q14_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // A4: long→wide pivot (expression matrix, expression.py:53-60). Pivot
    // values enumerated explicitly so the plan is a single pass (no extra
    // distinct job) and the output schema is static.
    "q15_pivot" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("bucket", col("user_id") % 50)
        .groupBy("bucket")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(sum(col("value").cast("decimal(18,6)")).cast("double"))
        .orderBy("bucket")
    }),

    // A5/C3: split + explode (CSQ unpack, snp_functions.py:107-127).
    "q16_explode_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("token")).limit(40)
    }),

    // C6/C7/A6: JSON field extraction + aggregation (sample_meta JSON,
    // project.py:35-38).
    "q17_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy((col("k") % 7).as("k_bucket"))
        .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("sum_k"))
        .orderBy("k_bucket")
    }),

    // A7/SO2: row union (start-exons ∪ end-exons, junction.py:367).
    "q18_union" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val a = ev.filter(col("event_type") === "click")
        .select(col("event_id"), lit("c").as("tag"))
      val b = ev.filter(col("event_type") === "error")
        .select(col("event_id"), lit("e").as("tag"))
      a.unionByName(b).orderBy("event_id", "tag")
    }),

    // W3: window row_number — per-partition rank with unique tiebreak
    // (the exon-ordering window of junction.py:354-367).
    "q19_window_topn" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    }),

    // W1/W2: global sort + limit (top-k; TakeOrderedAndProject physical op —
    // no full sort at scale).
    "q20_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(10)
    }),

    // C1: conditional recode — the strand 0/1/2 → ./+/- map
    // (rna_functions.py:5-13) over a derived ternary column.
    "q21_recode" -> ((s, dir) => {
      val m = col("l_linenumber") % 3
      t(s, dir, "lineitem")
        .withColumn("strand",
          when(m === 0, ".").when(m === 1, "+").otherwise("-"))
        .groupBy("strand").agg(count(lit(1)).as("n"))
        .orderBy("strand")
    }),

    // C4: empty/sentinel→NULL coercion then typed cast (snp_functions.py:55-78).
    "q22_coercion" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("k_str", get_json_object(col("props"), "$.k"))
        .withColumn("k", nullif(col("k_str"), lit("0")).cast("long"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_nonzero"), count(lit(1)).as("n_total"))
        .orderBy("event_type")
    }),

    // F8: dynamic filter-spec DSL compiled to Catalyst predicates.
    "q23_filter_spec" -> ((s, dir) => {
      val specs = Seq(
        FilterSpec("o_orderstatus", "=", "F"),
        FilterSpec("o_orderpriority", "in", Seq("1-URGENT", "2-HIGH")),
        FilterSpec("o_totalprice", ">=", 50000.0))
      t(s, dir, "orders")
        .filter(FilterSpec.and(specs))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // Sketch aggregates (SURVEY §7: scale-out replacement for exact A2
    // where exactness isn't required), PORTABLE edition: engine-specific
    // HLL++/KLL estimates can't be adjudicated by any oracle, so this
    // runs the same sketch economics (bounded state, map-side partials,
    // ONE shuffle — distinct sketch, row count and sampled quantile all
    // share a single groupBy) with estimates that are pure md5-hash
    // functions DuckDB replays bit-for-bit. KMV distinct of user_id
    // (k=64, ~13% σ) + exact median of a deterministic 2% hash sample
    // of value on the micro grid.
    "q27_sketches" -> ((s, dir) => {
      import graft.ext.Sketches
      val k = 64
      val bottomK = udaf(new Sketches.BottomK(k),
        org.apache.spark.sql.Encoders.scalaLong)
      val sampled = when(
        Sketches.hashU32(col("event_id")) < lit((0.02 * 4294967296.0).toLong),
        expr("CAST(FLOOR(CAST(value AS DOUBLE)*1000000.0 + 0.5) AS BIGINT)"))
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          bottomK(coalesce(Sketches.hashU32(col("user_id")), lit(-1L)))
            .as("__mins"),
          count(lit(1)).as("n"),
          percentile(sampled, lit(0.5)).as("p50_value_micros"),
          count(sampled).as("n_sampled"))
        .select(col("event_type"),
          Sketches.kmvEstimate(col("__mins"), k).as("kmv_users"),
          col("n"), col("p50_value_micros"), col("n_sampled"))
        .orderBy("event_type")
    }),

    // Two-phase salted aggregation for skewed group keys (ext/Skew):
    // 5 giant groups spread over (key, salt) reducers first. Result is
    // identical to the plain GROUP BY — only the shuffle shape differs.
    "q28_salted_agg" -> ((s, dir) => {
      graft.ext.Skew.saltedSumAgg(t(s, dir, "events"),
          keys = Seq("event_type"), salts = 8,
          aggs = Seq("n" -> count(lit(1)),
            "total" -> sum(col("value").cast("decimal(18,6)"))))
        .select(col("event_type"), col("n").cast("long").as("n"),
          col("total").cast("double").as("total"))
        .orderBy("event_type")
    }),

    // Deterministic stratified sampling (ext/Sampling): per-event-type
    // quota of 20, hash-ordered so any engine/run selects the same rows.
    "q29_stratified_sample" -> ((s, dir) => {
      graft.ext.Sampling.stratified(t(s, dir, "events"),
          strata = Seq("event_type"), keyCol = "event_id", n = 20)
        .select("event_type", "event_id")
        .orderBy("event_type", "event_id")
    }),

    // Deterministic fraction sampling — map-only, no shuffle.
    "q44_fraction_sample" -> ((s, dir) => {
      graft.ext.Sampling.byFraction(t(s, dir, "events"), "event_id", 0.1)
        .select("event_id", "event_type")
        .orderBy("event_id")
    }),

    // Full outer join (beyond the reference's join family — completes
    // the engine's join-type coverage): order revenue vs a derived
    // high-value dimension; unmatched sides surface with nulls.
    "q45_full_outer" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_extendedprice")).as("revenue"))
        .filter(col("revenue") > 100000.0)
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"))
      rev.join(urgent, col("l_orderkey") === col("o_orderkey"), "full_outer")
        .select(
          coalesce(col("l_orderkey"), col("o_orderkey")).as("orderkey"),
          col("revenue"), col("o_totalprice"))
        .orderBy("orderkey")
    }),

    // Window family beyond row_number: lag + unbounded running sum.
    "q46_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .withColumn("running_spend",
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .select("o_custkey", "o_orderkey", "prev_price", "running_spend")
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Hierarchical aggregation (rollup) — subtotal/total rows for
    // curation reporting; not in the reference, standard engine surface.
    "q47_rollup" -> ((s, dir) => {
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority"))
    }),

    // Data-plane set operations (INTERSECT/EXCEPT — absent from the
    // reference, SURVEY §2.6; completes the engine's set-op family):
    // users who clicked AND purchased, minus users who ever errored.
    // Grain: (user, k-bucket) — plain user_id sets are degenerate at
    // small SF (every user does every event type).
    "q48_setops" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def grain(kind: String) =
        ev.filter(col("event_type") === kind)
          .select(col("user_id"),
            (get_json_object(col("props"), "$.k").cast("long") % 20)
              .as("kb"))
      grain("click").intersect(grain("purchase"))
        .except(grain("error"))
        .orderBy("user_id", "kb")
    }),

    // A8/C11: single-row summary; timestamps cast to DATE at the edge.
    "q24_minmax_dates" -> ((s, dir) => {
      t(s, dir, "orders")
        .agg(min(col("o_orderdate")).cast("date").as("first_date"),
          max(col("o_orderdate")).cast("date").as("last_date"),
          count(lit(1)).as("n"))
    }))

  val oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_returnflag='R' AND l_quantity>=30 AND l_discount<=0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_in_list" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE') ORDER BY c_custkey""".stripMargin,
    "q04_semi_chain" ->
      """SELECT l_returnflag, COUNT(*) AS n_lines,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_custkey IN (
        |    SELECT c_custkey FROM customer WHERE c_mktsegment='BUILDING'))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q05_anti_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey=c.c_custkey AND o.o_orderstatus='F')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q06_dim_join_agg" ->
      """SELECT p_brand, COUNT(*) AS n_lines,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN part ON l_partkey=p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q07_left_join" ->
      """SELECT o_orderkey, o_orderstatus, COALESCE(r.revenue, 0.0) AS revenue
        |FROM orders LEFT JOIN (
        |  SELECT l_orderkey,
        |   CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |  FROM lineitem GROUP BY 1) r ON o_orderkey=r.l_orderkey
        |WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin,
    "q08_multikey_join" ->
      """SELECT l_partkey, COUNT(*) AS n_above FROM lineitem
        |JOIN (SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS base_price
        |      FROM lineitem GROUP BY 1,2) d
        | USING (l_partkey, l_suppkey)
        |WHERE l_extendedprice > base_price*1.2
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_group_count" ->
      "SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders GROUP BY 1 ORDER BY 1",
    "q13_count_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1,2",
    "q15_pivot" ->
      """SELECT user_id % 50 AS bucket,
        | CAST(SUM(CASE WHEN event_type='click' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS click,
        | CAST(SUM(CASE WHEN event_type='error' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS error,
        | CAST(SUM(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS purchase,
        | CAST(SUM(CASE WHEN event_type='signup' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS signup,
        | CAST(SUM(CASE WHEN event_type='view' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q16_explode_tokens" ->
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(text,' ')) AS token FROM documents)
        |GROUP BY 1 ORDER BY n DESC, token LIMIT 40""".stripMargin,
    "q17_json_extract" ->
      """SELECT CAST(json_extract_string(props,'$.k') AS BIGINT) % 7 AS k_bucket,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q18_union" ->
      """SELECT * FROM (
        |  SELECT event_id, 'c' AS tag FROM events WHERE event_type='click'
        |  UNION ALL
        |  SELECT event_id, 'e' AS tag FROM events WHERE event_type='error')
        |ORDER BY event_id, tag""".stripMargin,
    "q19_window_topn" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey, ROW_NUMBER() OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q20_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q21_recode" ->
      """SELECT CASE WHEN l_linenumber%3=0 THEN '.'
        |            WHEN l_linenumber%3=1 THEN '+' ELSE '-' END AS strand,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q22_coercion" ->
      """SELECT event_type,
        | COUNT(CAST(nullif(json_extract_string(props,'$.k'),'0') AS BIGINT)) AS n_nonzero,
        | COUNT(*) AS n_total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q23_filter_spec" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderstatus='F' AND o_orderpriority IN ('1-URGENT','2-HIGH')
        |  AND o_totalprice >= 50000.0
        |ORDER BY o_orderkey""".stripMargin,
    // Portable-sketch replay: KMV (rank-64 of distinct md5-u32 hashes)
    // + exact quantile of the same deterministic 2% hash sample. The
    // constants mirror the Spark side: 63*2^32 = 270582939648,
    // floor(0.02*2^32) = 85899345.
    "q27_sketches" ->
      """WITH h AS (SELECT DISTINCT event_type AS grp,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),1,8)) AS BIGINT) AS hv
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT grp, hv,
        |    row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn,
        |    COUNT(*) OVER (PARTITION BY grp) AS cnt
        |  FROM h),
        |k AS (SELECT grp,
        |    CASE WHEN MAX(cnt) < 64 THEN CAST(MAX(cnt) AS DOUBLE)
        |         ELSE 270582939648.0
        |              / CAST(MAX(CASE WHEN rn = 64 THEN hv END) AS DOUBLE)
        |    END AS kmv_users
        |  FROM r GROUP BY grp),
        |b AS (SELECT event_type, COUNT(*) AS n,
        |    quantile_cont(CAST(FLOOR(CAST(value AS DOUBLE)*1000000.0 + 0.5) AS BIGINT), 0.5)
        |      FILTER (WHERE CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)),1,8)) AS BIGINT) < 85899345)
        |      AS p50_value_micros,
        |    COUNT(CAST(FLOOR(CAST(value AS DOUBLE)*1000000.0 + 0.5) AS BIGINT))
        |      FILTER (WHERE CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)),1,8)) AS BIGINT) < 85899345)
        |      AS n_sampled
        |  FROM events GROUP BY 1)
        |SELECT b.event_type, COALESCE(k.kmv_users, 0.0) AS kmv_users,
        |  b.n, b.p50_value_micros, b.n_sampled
        |FROM b LEFT JOIN k ON b.event_type IS NOT DISTINCT FROM k.grp
        |ORDER BY event_type NULLS FIRST""".stripMargin,
    "q28_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q29_stratified_sample" ->
      """SELECT event_type, event_id FROM (
        |  SELECT event_type, event_id, ROW_NUMBER() OVER (
        |    PARTITION BY event_type
        |    ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rnk
        |  FROM events)
        |WHERE rnk <= 20 ORDER BY event_type, event_id""".stripMargin,
    "q44_fraction_sample" ->
      """SELECT event_id, event_type FROM events
        |WHERE CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)),1,8)) AS BIGINT)
        |      < 429496729
        |ORDER BY event_id""".stripMargin,
    "q45_full_outer" ->
      """SELECT COALESCE(r.l_orderkey, u.o_orderkey) AS orderkey,
        | r.revenue, u.o_totalprice
        |FROM (SELECT l_orderkey,
        |        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |      FROM lineitem GROUP BY 1
        |      HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) > 100000.0) r
        |FULL OUTER JOIN (SELECT o_orderkey, o_totalprice FROM orders
        |                 WHERE o_orderpriority='1-URGENT') u
        |  ON r.l_orderkey = u.o_orderkey
        |ORDER BY orderkey""".stripMargin,
    "q46_window_running" ->
      """SELECT o_custkey, o_orderkey,
        | LAG(o_totalprice, 1) OVER w AS prev_price,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |   (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   AS running_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q47_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q48_setops" ->
      """SELECT user_id, kb FROM (
        |  SELECT user_id, CAST(json_extract_string(props,'$.k') AS BIGINT)%20 AS kb
        |  FROM events WHERE event_type='click'
        |  INTERSECT
        |  SELECT user_id, CAST(json_extract_string(props,'$.k') AS BIGINT)%20
        |  FROM events WHERE event_type='purchase'
        |  EXCEPT
        |  SELECT user_id, CAST(json_extract_string(props,'$.k') AS BIGINT)%20
        |  FROM events WHERE event_type='error')
        |ORDER BY user_id, kb""".stripMargin,
    "q24_minmax_dates" ->
      """SELECT CAST(MIN(o_orderdate) AS DATE) AS first_date,
        | CAST(MAX(o_orderdate) AS DATE) AS last_date, COUNT(*) AS n
        |FROM orders""".stripMargin)
}
