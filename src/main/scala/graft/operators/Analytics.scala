package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions.r5

/** Relational/metadata operators: the reference's artifact-build
  * pipeline (review→product rollups, facet counts for the sidebar
  * filters, reference app.py:138-147) plus the OLAP core any engine
  * at 100 TB needs (multi-way joins, windowed top-n, sessionization).
  *
  * All aggregations are plain groupBy (map-side partial agg for free);
  * dimension tables (region/nation/supplier/part) are broadcast; date
  * outputs are formatted as strings for cross-engine stability.
  */
object Analytics {

  /** TPC-H Q1-style pricing summary over lineitem. */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q3-style: unshipped-revenue top-10 for one segment. */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).where(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).where(col("o_orderdate") < lit("1998-01-01"))
    val l = Tables.lineitem(spark, dir).where(col("l_shipdate") > lit("1998-01-01"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q10-style: top customers by RETURNED revenue — the
    * lost-revenue triage list. Returned lines filter in the lineitem
    * scan (pushed), the order join shuffles on orderkey, the customer
    * attributes ride a key-equi join AQE sizes (broadcast at dim
    * scale, sort-merge when customer is corpus-sized), global top-N
    * via TakeOrdered.
    */
  def q10Returns(spark: SparkSession, dir: String, topN: Int = 20): DataFrame = {
    val l = Tables.lineitem(spark, dir).where(col("l_returnflag") === "R")
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(topN)
  }

  /** TPC-H Q14-style: promo revenue share per ship month. The part
    * attribute join carries one build row per partkey; the month key
    * is integer yyyymm arithmetic (identical on both engines, no
    * date_trunc timezone surface); share is a ratio of two
    * same-ordered sums rounded once.
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .groupBy((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
        .cast("long").as("ship_month"))
      .agg(
        round(sum(when(col("p_type").startsWith("PROMO"), rev).otherwise(lit(0.0))), 2)
          .as("promo_revenue"),
        round(sum(rev), 2).as("total_revenue"))
      .withColumn("promo_share_pct",
        round(lit(100.0) * col("promo_revenue") / col("total_revenue"), 4))
      .orderBy(col("ship_month"))
  }

  /** Session-size distribution over [[sessionize]]'s output: how many
    * sessions have k events, and how long they run — the shape
    * engagement dashboards trend and the sanity check on the session
    * gap parameter itself (a gap set too tight shows as a mass of
    * 1-event sessions). Duration mean is the exact integer sum divided
    * once.
    */
  def sessionStats(spark: SparkSession, dir: String): DataFrame =
    sessionize(spark, dir)
      .groupBy(col("n_events"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("duration_ms")).as("sum_duration_ms"),
        round(sum(col("sess_value")), 2).as("value_total"))
      .withColumn("avg_duration_s",
        round(col("sum_duration_ms") / col("n_sessions") / 1000.0, 3))
      .orderBy(col("n_events"))

  /** TPC-H Q5-style snowflake join: revenue by nation within a region
    * and date window, with co-located customer/supplier nations.
    */
  def q5RegionVolume(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
    val l = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir).where(col("r_name") === "ASIA")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q6-style revenue forecast: one tightly-filtered scan and a
    * global sum — the pushdown showcase. Every predicate (date range,
    * discount band, quantity cap) reaches the parquet reader as a
    * PushedFilter, the projection reads three columns, and the
    * aggregate is one partial+final pair — no data-row shuffle at any
    * scale. Plan-asserted in PlanSpec.
    */
  def q6Forecast(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01")
        && col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))

  /** Top-N per group via ranking window (the reference's per-facet
    * top-k lists generalized).
    */
  def topNPerGroup(spark: SparkSession, dir: String, n: Int): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= n)
      .select(col("o_orderpriority"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("totalprice"), col("rk"))
      .orderBy(col("o_orderpriority"), col("rk"))
  }

  /** Review→product rollup analog (how the reference built products.csv
    * out of reviews.csv: n_reviews count, avg_rating mean, …) over the
    * events stream keyed by user.
    */
  def productRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
        round(avg(col("value")), 4).as("avg_value"),
        min(col("ts_ms")).as("first_ms"),
        max(col("ts_ms")).as("last_ms"))
      .orderBy(col("user_id"))

  /** Result preview formatting (reference app.py:255 truncates
    * example_text to the preview length + ellipsis).
    */
  def docPreview(spark: SparkSession, dir: String, previewLen: Int = 180): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(substring(col("text"), 1, previewLen), lit("...")).as("preview"),
        length(col("text")).cast("long").as("full_len"))
      .orderBy(col("doc_id"))

  /** Comparison-tab details panel (reference app.py:334-347): metadata
    * projection for a small id set, embeddings joined to documents.
    */
  def productDetails(spark: SparkSession, dir: String, ids: Seq[Long]): DataFrame =
    Tables.documents(spark, dir)
      .join(Tables.embeddings(spark, dir),
        col("doc_id") === col("vec_id"))
      .where(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("label").cast("long").as("label"))
      .orderBy(col("doc_id"))

  /** The reference's array-valued `categories` metadata (products
    * carry a category LIST, app.py:118, shown in the details and
    * comparison panels app.py:334-347). The test tables carry scalar
    * metadata only, so the list column is DERIVED deterministically —
    * lang, a source tag, a length bucket — and then treated as a
    * first-class array column: facets explode it, membership filters
    * compile to array_contains. Narrow projection; no shuffle.
    */
  def docTags(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).withColumn("tags",
      array(col("lang"), concat(lit("src:"), col("source")),
        concat(lit("len:"), expr("n_chars div 500"))))

  /** Facet counts over the EXPLODED array column — the category
    * sidebar facet for multi-valued metadata (app.py:118/138 shape).
    * explode + partial-agg: shuffle carries (tag, count) pairs only.
    */
  def tagFacets(spark: SparkSession, dir: String): DataFrame =
    docTags(spark, dir)
      .select(explode(col("tags")).as("tag"))
      .groupBy(col("tag")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("tag"))

  /** Tag co-occurrence — the "related facets" panel: for every pair of
    * tags appearing on the same document, how many documents carry
    * both. Pairs are ordered lexicographically (tag_a < tag_b) so each
    * unordered pair counts once; top-N by count with full tie-break.
    *
    * Scale: a narrow per-doc explode of the (bounded, per-doc) tag
    * array against itself — pair volume is O(docs · tags²) with tags
    * per doc a small constant, never a corpus join; then one
    * map-side-combined aggregate and TakeOrdered.
    */
  def tagCooccurrence(spark: SparkSession, dir: String, topN: Int = 30): DataFrame =
    docTags(spark, dir)
      .select(col("tags"), explode(col("tags")).as("tag_a"))
      .select(col("tag_a"), explode(col("tags")).as("tag_b"))
      .where(col("tag_a") < col("tag_b"))
      .groupBy(col("tag_a"), col("tag_b"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("tag_a"), col("tag_b"))
      .limit(topN)

  /** Facet value counts (reference app.py:138 sidebar brand facet). */
  def brandFacets(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"), round(avg(col("p_retailprice")), 4).as("avg_retail"))
      .orderBy(col("n_parts").desc, col("p_brand"))

  /** Gap-based sessionization (30-min inactivity closes a session).
    * Batch analog of the streaming sessionizer; all arithmetic on
    * epoch-millis for oracle parity.
    */
  def sessionize(spark: SparkSession, dir: String, gapMs: Long = 1800000L): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("value"))
      .withColumn("new_sess",
        when(lag(col("ts_ms"), 1).over(w).isNull ||
          col("ts_ms") - lag(col("ts_ms"), 1).over(w) > gapMs, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(cum))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("start_ms"),
        max(col("ts_ms")).as("end_ms"),
        round(sum(col("value")), 2).as("sess_value"))
      .withColumn("duration_ms", col("end_ms") - col("start_ms"))
      .orderBy(col("user_id"), col("sess_id"))
  }

  /** Tumbling-hour rollup via the window() operator (the batch twin of
    * EventStreams.windowedCounts; epoch-aligned so the oracle's integer
    * bucket arithmetic produces identical boundaries).
    */
  def hourly(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("tsx", timestamp_millis(col("ts_ms")))
      .groupBy(window(col("tsx"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(unix_millis(col("window.start")).as("hour_ms"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("hour_ms"), col("event_type"))

  /** Weekly cohort retention — the engagement table behind every
    * product dashboard: users are cohorted by their FIRST active week,
    * and each (cohort, week-offset) cell counts how many of them were
    * active that many weeks later, as a fraction of the cohort.
    * Offset 0 is 1.0 by construction (the cohort definition), which
    * the spec pins.
    *
    * Scale shape: the (user, week) activity set is one distinct over
    * a two-column projection; cohorts are a per-user min; the cell
    * counts shuffle by (cohort, offset) with map-side partial
    * distinct. The cohort-size table is weeks-sized — AQE broadcasts
    * it. Exact integer week arithmetic (ms div week-ms) on both
    * engines; retention is an exact long/long division (SURVEY §4).
    */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val weekMs = 604800000L // 7 * 24 * 3600 * 1000
    val wk = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"ts_ms div $weekMs").as("week"))
      .distinct()
    val cohort = wk.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    val sizes = cohort.groupBy(col("cohort_week")).agg(count(lit(1)).as("n_cohort"))
    wk.join(cohort, "user_id")
      .withColumn("offset", col("week") - col("cohort_week"))
      .groupBy(col("cohort_week"), col("offset"))
      .agg(count_distinct(col("user_id")).as("n_active"))
      .join(sizes, "cohort_week")
      .withColumn("retention", col("n_active") / col("n_cohort"))
      .orderBy(col("cohort_week"), col("offset"))
  }

  /** Revenue-cohort LTV curve — the money twin of [[retention]]: per
    * first-active-week cohort and week offset, the purchase value that
    * week, cumulative per cohort, and cumulative per cohort MEMBER
    * (the LTV trajectory growth models fit against). Same
    * exact-integer week arithmetic as retention; the cumulative sum
    * runs over the tiny cohort×offset aggregate, never the event
    * stream.
    */
  def userLtv(spark: SparkSession, dir: String): DataFrame = {
    val weekMs = 604800000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"ts_ms div $weekMs").as("week"),
        when(col("event_type") === "purchase", col("value")).otherwise(lit(0.0)).as("rev"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    val sizes = cohort.groupBy(col("cohort_week")).agg(count(lit(1)).as("n_cohort"))
    val byOffset = ev.join(cohort, "user_id")
      .withColumn("offset", col("week") - col("cohort_week"))
      .groupBy(col("cohort_week"), col("offset"))
      .agg(round(sum(col("rev")), 2).as("week_revenue"))
    val w = Window.partitionBy(col("cohort_week")).orderBy(col("offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byOffset
      .withColumn("cum_revenue", round(sum(col("week_revenue")).over(w), 2))
      .join(broadcast(sizes), "cohort_week")
      .withColumn("ltv_per_user", round(col("cum_revenue") / col("n_cohort"), 4))
      .select(col("cohort_week"), col("offset"), col("week_revenue"),
        col("cum_revenue"), col("n_cohort"), col("ltv_per_user"))
      .orderBy(col("cohort_week"), col("offset"))
  }

  /** Semi-structured extraction: events.props carries a JSON payload;
    * pull typed fields out with the codegen'd JSON path expression and
    * aggregate — no UDF, pushdown-friendly.
    */
  def propsParse(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"),
        count(when(col("k") > 50, 1)).as("n_high"))
      .orderBy(col("event_type"))

  /** Per-user as-of join: each purchase matched to the user's most
    * recent STRICTLY-earlier view (attribution: "which browse led to
    * this buy"). Spark has no ASOF JOIN operator, and the naive
    * inequality join (`p.ts > v.ts` + max per purchase) plans a
    * per-user pair blowup; instead both sides UNION into one stream,
    * sorted once per user, and the match is `last(view_ts)` over the
    * preceding-rows frame — the classic sort-merge as-of shape.
    *
    * Scale: ONE shuffle keyed by user_id, one sort within each
    * partition, then a narrow frame-bounded window — no join at all,
    * so there is no pair explosion for hot users and the cost is
    * O(events log events-per-user) regardless of how many views
    * precede each purchase. Purchases sort BEFORE views at equal ts
    * (`ord`), making the match strictly-earlier like the oracle's
    * `p.ts_ms > v.v_ms`. Plan-asserted in PlanSpec: no join operator,
    * one hash-partitioning exchange.
    */
  def eventsAsOf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val p = e.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        lit(0).as("ord"), lit(null).cast("long").as("v_ms"), col("value"))
    val v = e.where(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        lit(1).as("ord"), col("ts_ms").as("v_ms"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("ord"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p.unionByName(v)
      .withColumn("last_view_ms", last(col("v_ms"), ignoreNulls = true).over(w))
      .where(col("ord") === 0)
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("last_view_ms"),
        (col("ts_ms") - col("last_view_ms")).as("gap_ms"),
        round(col("value"), 2).as("value"))
      .orderBy(col("event_id"))
  }

  /** Inter-event dwell times: per event TYPE, the distribution of the
    * gap from an event to the same user's next event (any type) — the
    * engagement-pacing profile (how long after a view does anything
    * else happen) that session-gap and trending thresholds are tuned
    * against.
    *
    * Determinism: gaps are exact epoch-ms longs; the mean is the exact
    * integer sum divided once (never a running double `avg`), the
    * median is the exact `percentile` (≡ DuckDB `quantile_cont`) on
    * integers, both rounded once.
    *
    * Scale shape: one user-keyed window pass (shuffle by user, sort
    * within partition) + one map-side-combined aggregate per type —
    * the same shape as [[rolling]]; no global sort.
    */
  def eventsDwell(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts_ms"))
      .withColumn("next_ms", lead(col("ts_ms"), 1).over(w))
      .where(col("next_ms").isNotNull)
      .withColumn("gap_ms", col("next_ms") - col("ts_ms"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap_ms")).as("sum_ms"),
        min(col("gap_ms")).as("min_ms"), max(col("gap_ms")).as("max_ms"),
        expr("percentile(gap_ms, 0.5D)").as("med"))
      .select(col("event_type"), col("n_gaps"),
        round(col("sum_ms") / col("n_gaps") / 1000.0, 3).as("avg_gap_s"),
        round(col("med") / 1000.0, 3).as("median_gap_s"),
        col("min_ms"), col("max_ms"))
      .orderBy(col("event_type"))
  }

  /** Per-user running aggregates: 5-row moving average and cumulative
    * value over the event-time order — the dashboard trend-line
    * shapes. One shuffle keyed by user, one sort per partition, both
    * frames computed in the same window pass; no global ordering is
    * ever planned (the final orderBy is presentation, outside the
    * window).
    */
  def rolling(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("value"))
      .withColumn("avg5",
        round(avg(col("value")).over(w.rowsBetween(-4, Window.currentRow)), 4))
      .withColumn("cum_value",
        round(sum(col("value")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
      .orderBy(col("user_id"), col("ts_ms"), col("event_id"))
  }

  /** Exact interpolated quantiles of event value per type (Spark's
    * `percentile` ≡ DuckDB's `quantile_cont`: rank (n−1)·p, linear
    * interpolation). Exact percentile holds per-group value counts in
    * the aggregation buffer — right for oracle-parity and for
    * low-cardinality value domains; at 100 TB with unbounded domains
    * the drop-in scale path is `approx_percentile` (t-digest, bounded
    * memory), the same trade len_deciles documents — wired for real
    * by [[Scale.pct]] under `spark.graft.scale.approx=true`.
    */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(Scale.pctArray(spark, "value", "array(0.25D, 0.5D, 0.75D, 0.95D)").as("qs"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"),
        round(element_at(col("qs"), 1), 5).as("q25"),
        round(element_at(col("qs"), 2), 5).as("q50"),
        round(element_at(col("qs"), 3), 5).as("q75"),
        round(element_at(col("qs"), 4), 5).as("p95"),
        col("n_events"))
      .orderBy(col("event_type"))

  /** CUBE over (event_type, hour-of-day): all four grouping sets in
    * one pass (Spark expands the cube BEFORE the shuffle, so partial
    * aggregation still combines map-side). `gid` is grouping_id —
    * sorting by it first makes the output deterministic without
    * relying on cross-engine NULL-ordering: within one gid every
    * nulled column is null for ALL rows.
    */
  def cubeByTypeHour(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("hod", expr("(ts_ms div 3600000) % 24"))
      .cube(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("event_type"), col("hod"))

  /** Pivot: per-user event-type counts as columns. The value list is
    * EXPLICIT, so no distinct-values pre-job runs and the plan is one
    * partial-aggregated groupBy whose width is fixed at plan time —
    * the only pivot shape that works when the corpus is 100 TB.
    */
  def pivotUserCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0)
      .select(col("user_id"), col("view").as("n_view"), col("click").as("n_click"),
        col("purchase").as("n_purchase"), col("signup").as("n_signup"),
        col("error").as("n_error"))
      .orderBy(col("user_id"))

  /** Behavioral rollup per event type (funnel stage counts). */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(avg(col("value")), 4).as("avg_value"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"))

  /** RFM user segmentation — the classic marketing cut of the user
    * base: Recency (hours since the user's last event, relative to the
    * corpus max), Frequency (event count), Monetary (purchase value
    * sum), each bucketed into quartiles, plus the composed "rfm"
    * segment code.
    *
    * Quartiles WITHOUT a global sort: a single-row
    * `percentile(metric, [.25,.5,.75])` aggregate per metric computes
    * the cutoffs (Spark's `percentile` ≡ DuckDB's `quantile_cont`, the
    * events_quantiles parity precedent), the one-row cutoff table
    * broadcasts, and bucket assignment is a narrow comparison pass —
    * the same shape len_deciles uses, vs. the naive `ntile(4)` whose
    * unpartitioned window would single-thread the entire user base at
    * 100 TB.
    */
  def userRfm(spark: SparkSession, dir: String): DataFrame = {
    // ScratchCache: the cutoff aggregates and the scoring pass both
    // read the per-user rollup — one event scan, not three
    val per = graft.sources.ScratchCache.materialize(
      Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(
          max(col("ts_ms")).as("last_ms"),
          count(lit(1)).as("frequency"),
          round(sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(lit(0.0))), 2).as("monetary")))
    val cuts = per
      .select(expr("max(last_ms)").as("corpus_max"),
        expr("percentile(frequency, array(0.25D, 0.5D, 0.75D))").as("fq"),
        expr("percentile(monetary, array(0.25D, 0.5D, 0.75D))").as("mq"))
    val withRec = per.crossJoin(broadcast(cuts))
      .withColumn("recency_hours", expr("(corpus_max - last_ms) div 3600000"))
    // recency quartiles need the recency distribution itself
    val rcuts = withRec
      .select(expr("percentile(recency_hours, array(0.25D, 0.5D, 0.75D))").as("rq"))
    def bucket(m: Column, q: Column, reverse: Boolean): Column = {
      // quartile 1..4; recency reverses (LOW recency = best = 4).
      // Cutoffs rounded to 5 decimals on BOTH engines before the
      // comparison: the interpolation formulas may differ at the ulp
      // level, and a metric sitting exactly on a cutoff must not flip
      val b = lit(1) + when(m > round(element_at(q, 1), 5), 1).otherwise(0) +
        when(m > round(element_at(q, 2), 5), 1).otherwise(0) +
        when(m > round(element_at(q, 3), 5), 1).otherwise(0)
      if (reverse) lit(5) - b else b
    }
    withRec.crossJoin(broadcast(rcuts))
      .withColumn("r_score", bucket(col("recency_hours"), col("rq"), reverse = true))
      .withColumn("f_score", bucket(col("frequency"), col("fq"), reverse = false))
      .withColumn("m_score", bucket(col("monetary"), col("mq"), reverse = false))
      .select(col("user_id"), col("recency_hours"), col("frequency"), col("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")).as("segment"))
      .orderBy(col("user_id"))
  }

  /** Strict ORDERED funnel — unlike [[funnel]]'s per-stage totals,
    * each user advances a stage only if their FIRST occurrence of that
    * stage is strictly later than their first occurrence of the
    * previous one (view → click → purchase in that order). Emits one
    * row per stage with the surviving-user count and the conversion
    * fraction off the top of the funnel — exact integer counts and one
    * exact long/long division, so cross-engine parity is trivial.
    *
    * Scale: ONE groupBy(user) with conditional-min partial aggregation
    * (no pivot pre-job, no join), a single-row rollup, and a 3-row
    * stack — nothing global but the final 3-row reduce.
    */
  def funnelOrdered(spark: SparkSession, dir: String): DataFrame = {
    val firsts = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts_ms"))).as("v_ms"),
        min(when(col("event_type") === "click", col("ts_ms"))).as("c_ms"),
        min(when(col("event_type") === "purchase", col("ts_ms"))).as("p_ms"))
    val counts = firsts.select(
      count(when(col("v_ms").isNotNull, 1)).as("n1"),
      count(when(col("v_ms").isNotNull && col("c_ms") > col("v_ms"), 1)).as("n2"),
      count(when(col("v_ms").isNotNull && col("c_ms") > col("v_ms") &&
        col("p_ms") > col("c_ms"), 1)).as("n3"))
    counts.selectExpr(
      """stack(3,
        |  1L, 'view', n1,
        |  2L, 'view>click', n2,
        |  3L, 'view>click>purchase', n3) AS (step, stage, n_users)""".stripMargin,
      "n1")
      .select(col("step"), col("stage"), col("n_users"),
        round(col("n_users") / col("n1"), 5).as("conversion"))
      .orderBy(col("step"))
  }

  /** Top event-type paths — the "user flow" analysis: every
    * consecutive 3-step event-type sequence in a user's timeline,
    * counted corpus-wide, top-N most common. Exact integer counts,
    * ties broken on the path string.
    *
    * Scale: one shuffle keyed by user_id, the lead() pairs come from
    * the SAME sorted window pass (no self-join over consecutive rows —
    * the naive formulation), a map-side-combined count, and TakeOrdered
    * for the top-N. State per group is the 2-row lead buffer.
    */
  def commonPaths(spark: SparkSession, dir: String, topN: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
      .withColumn("t1", lead(col("event_type"), 1).over(w))
      .withColumn("t2", lead(col("event_type"), 2).over(w))
      .where(col("t1").isNotNull && col("t2").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t1"), col("t2")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("path"))
      .limit(topN)
  }

  /** Item-to-item co-occurrence recommendations ("users who engaged
    * with X also engaged with Y") — the collaborative-filtering
    * counterpart of the embedding recommender (reference app.py's
    * content-based similar-items panel; this is the behavioral twin a
    * production recommender blends with it). Items come from the
    * event payload (`props.$.k`, the engine's JSON-path extraction —
    * no UDF); counts are over DISTINCT (user, item) engagement so a
    * user clicking one item a hundred times votes once.
    *
    * Scale: the per-user self-join is the classic pair-explosion
    * shape — a user with B items emits B² pairs — so users above
    * `maxBasket` distinct items are dropped BEFORE the join (the
    * co-occurrence analog of the shingle df cap: power users and bots
    * carry near-zero signal per pair and all of the quadratic cost).
    * After the cap the join is bounded O(U·B²) keyed by user_id, the
    * pair counts partial-aggregate map-side, and the final ranking is
    * a WindowGroupLimit top-N per item — no global sort.
    */
  def itemCooccurrence(spark: SparkSession, dir: String, topN: Int = 5,
                       maxBasket: Int = 500): DataFrame = {
    // shared build-once engagement artifact (see Graph.engagementArtifacts)
    val capped = Graph.engagementArtifacts(spark, dir, maxBasket)._1
    val pairs = capped
      .join(capped.select(col("user_id"), col("item_id").as("rec_item_id")), Seq("user_id"))
      .where(col("item_id") =!= col("rec_item_id"))
      .groupBy(col("item_id"), col("rec_item_id"))
      .agg(count(lit(1)).as("n_users"))
    val w = Window.partitionBy(col("item_id"))
      .orderBy(col("n_users").desc, col("rec_item_id"))
    pairs.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= topN)
      .orderBy(col("item_id"), col("rk"))
  }

  /** SESSION-scoped item co-occurrence — the standard intent-sharpened
    * upgrade over [[itemCooccurrence]]'s whole-user baskets (two items
    * a user touched months apart share an account, not an intent;
    * items co-engaged within one 30-minute session share a shopping
    * mission — the signal "bought together" carousels actually want).
    * Sessions are the [[sessionize]] gap rule over the SAME
    * (ts_ms, event_id) order key; pairs form within (user, session)
    * distinct item sets, sessions longer than `maxSession` items are
    * dropped whole (the bot cap — a crawler session would emit
    * maxSession² pairs), counts are exact, top-N per item by
    * WindowGroupLimit.
    */
  def itemCoocSession(spark: SparkSession, dir: String, topN: Int = 5,
                      gapMs: Long = 1800000L, maxSession: Int = 100): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val si = Tables.events(spark, dir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        get_json_object(col("props"), "$.k").cast("long").as("item_id"))
      .where(col("item_id").isNotNull)
      .withColumn("new_sess",
        when(lag(col("ts_ms"), 1).over(w).isNull ||
          col("ts_ms") - lag(col("ts_ms"), 1).over(w) > gapMs, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(cum))
      .select(col("user_id"), col("sess_id"), col("item_id"))
      .distinct()
    val sz = si.groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_items"))
    // materialized: both self-join sides otherwise re-run the
    // two-window sessionizer + distinct + size-cap chain (guide §1.2)
    val capped = graft.sources.ScratchCache.materialize(
      si.join(sz.where(col("n_items") <= maxSession),
        Seq("user_id", "sess_id")))
    val pairs = capped
      .join(capped.select(col("user_id"), col("sess_id"),
        col("item_id").as("rec_item_id")), Seq("user_id", "sess_id"))
      .where(col("item_id") =!= col("rec_item_id"))
      .groupBy(col("item_id"), col("rec_item_id"))
      .agg(count(lit(1)).as("n_sessions"))
    val wr = Window.partitionBy(col("item_id"))
      .orderBy(col("n_sessions").desc, col("rec_item_id"))
    pairs.withColumn("rk", row_number().over(wr).cast("long"))
      .where(col("rk") <= topN)
      .orderBy(col("item_id"), col("rk"))
  }

  /** Population-stability-index drift report — the standard production
    * drift metric (PSI = Σ (p−q)·ln(p/q) over binned feature shares;
    * credit-scoring lineage, now the default "did the input
    * distribution move" gate before a model retrain is trusted):
    * the corpus splits at the midpoint of its event-time range
    * (a corpus fact — reproducible), the REFERENCE window's exact
    * interpolated deciles bin the numeric `value` feature (edges
    * rounded to 5 decimals on both engines so bin membership is
    * oracle-exact), `event_type` bins itself categorically, and both
    * windows' bin shares are Laplace-smoothed (+0.5 per bin) so an
    * empty bin can't blow up the log. One row per feature with the
    * usual reading: <0.1 stable, 0.1–0.25 drifting, >0.25 shifted.
    *
    * Scale shape: one events scan; the decile fit is one aggregate
    * over the reference window (exact percentile — the
    * events_quantiles contract; scale mode would swap t-digest);
    * binning is a map-side expression against the 9-edge broadcast;
    * the PSI fold runs over ≤ bins rows per feature.
    */
  def featurePsi(spark: SparkSession, dir: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 20, s"nBins must be in [2,20]: $nBins")
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value"), col("ts_ms"))
    val split = ev.agg(expr("(min(ts_ms) + max(ts_ms)) div 2").as("tsplit"))
    val marked = ev.crossJoin(broadcast(split))
      .withColumn("win", when(col("ts_ms") < col("tsplit"), lit("ref"))
        .otherwise(lit("cur")))
    val ps = (1 until nBins).map(i => i.toDouble / nBins)
    val edges = marked.where(col("win") === "ref")
      .agg(expr(s"transform(percentile(value, array(${ps.mkString(",")})), e -> round(e, 5))")
        .as("edges"))
    // NULL `value` rows carry no numeric observation — without the
    // filter the bin lambda's null comparison drops every edge and
    // the row lands in bin "0", silently inflating the lowest decile
    // on both windows (they still count in the categorical feature)
    val binned = marked.where(col("value").isNotNull)
      .crossJoin(broadcast(edges))
      .select(col("win"),
        lit("value").as("feature"),
        expr("cast(size(filter(edges, e -> value >= e)) as string)").as("bin"))
      .unionAll(marked.select(col("win"), lit("event_type").as("feature"),
        col("event_type").as("bin")))
    val counts = binned.groupBy(col("feature"), col("bin"))
      .agg(count(when(col("win") === "ref", 1)).as("c_ref"),
        count(when(col("win") === "cur", 1)).as("c_cur"))
    val tot = counts.groupBy(col("feature"))
      .agg(sum(col("c_ref")).as("n_ref"), sum(col("c_cur")).as("n_cur"),
        count(lit(1)).as("n_bins"))
    counts.join(tot, Seq("feature"))
      .select(col("feature"), col("n_bins"), col("n_ref"), col("n_cur"),
        ((col("c_ref") + 0.5) / (col("n_ref") + col("n_bins") * 0.5)).as("p"),
        ((col("c_cur") + 0.5) / (col("n_cur") + col("n_bins") * 0.5)).as("q"))
      .groupBy(col("feature"), col("n_bins"), col("n_ref"), col("n_cur"))
      .agg(round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 5).as("psi"))
      .orderBy(col("feature"))
  }

  /** Point-in-time-correct training-set assembly — the feature-store
    * staple (leakage-free by CONSTRUCTION, not by review): for every
    * click event (the spine), features come from the user's
    * STRICTLY-PAST `pastDays` window and the label from the
    * STRICTLY-FUTURE `futureDays` window, both as ts-range frames that
    * exclude the current instant — a simultaneous event can neither
    * leak into its own features nor label itself. Features: past
    * event count and past spend in exact integer cents (the
    * [[experimentTtest]] money convention — no float summation);
    * label: any purchase within the future window.
    *
    * Scale shape: ONE events scan; both frames are user-partitioned
    * RANGE windows (computed streaming per partition, never a
    * self-join per spine row — the naive point-in-time join is
    * spine×history); output ∝ spine rows with a unique
    * (user, ts, event_id) order key.
    */
  def pitTrainingSet(spark: SparkSession, dir: String, pastDays: Int = 7,
                     futureDays: Int = 7): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts_ms"),
        round(col("value") * 100).cast("long").as("cents"))
    val past = pastDays * 86400000L
    val fut = futureDays * 86400000L
    val wP = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
      .rangeBetween(-past, -1)
    val wF = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
      .rangeBetween(1, fut)
    ev
      .withColumn("past_events", count(lit(1)).over(wP))
      .withColumn("past_cents", coalesce(sum(col("cents")).over(wP), lit(0L)))
      .withColumn("fut_purch", coalesce(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).over(wF), lit(0L)))
      .where(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        col("past_events"), col("past_cents"),
        when(col("fut_purch") > 0, 1L).otherwise(0L).as("label"))
      .orderBy(col("user_id"), col("ts_ms"), col("event_id"))
  }

  /** Time-decayed item co-occurrence — [[itemCooccurrence]] with a
    * recency weight (every production co-visitation recommender decays
    * stale signal; a pair last co-engaged two quarters ago should not
    * outrank one from yesterday just because it is popular). A pair's
    * age is the STALER member's last engagement (a pair is only as
    * fresh as its older leg), and the weight is the exact integer
    * 2^(maxK − min(age div halfLife, maxK)) — halving per `halfLifeDays`
    * as a pure bit shift, so the decayed weights and their sums stay
    * exact BIGINTs end to end (the engine's no-float-summation rule;
    * an exp(−λ·age) formulation would drift by engine summation
    * order). The reference epoch is the corpus max event time — a
    * corpus fact, not wall-clock, so the result is reproducible.
    *
    * Scale shape: identical to [[itemCooccurrence]] — per-user baskets
    * capped at `maxBasket` before the pair join, a 1-row epoch
    * broadcast, per-item WindowGroupLimit top-N.
    */
  def itemCoocDecayed(spark: SparkSession, dir: String, topN: Int = 5,
                      maxBasket: Int = 500, halfLifeDays: Int = 7,
                      maxK: Int = 20): DataFrame = {
    val ev = Tables.events(spark, dir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item_id"),
        col("ts_ms"))
      .where(col("item_id").isNotNull)
    val ref = ev.agg(max(col("ts_ms")).as("ref_ms"))
    val ui = ev.groupBy(col("user_id"), col("item_id"))
      .agg(max(col("ts_ms")).as("last_ts"))
    val deg = ui.groupBy(col("user_id")).agg(count(lit(1)).as("basket"))
    val capped = ui.join(deg.where(col("basket") <= maxBasket), Seq("user_id"))
      .select(col("user_id"), col("item_id"), col("last_ts"))
    val halfMs = halfLifeDays * 86400000L
    val pairs = capped
      .join(capped.select(col("user_id"), col("item_id").as("rec_item_id"),
        col("last_ts").as("rec_ts")), Seq("user_id"))
      .where(col("item_id") =!= col("rec_item_id"))
      .crossJoin(broadcast(ref))
      .withColumn("k", expr(
        s"cast(least((ref_ms - least(last_ts, rec_ts)) div ${halfMs}L, ${maxK}L) as int)"))
      .select(col("item_id"), col("rec_item_id"),
        expr(s"shiftleft(cast(1 as bigint), $maxK - k)").as("w"))
      .groupBy(col("item_id"), col("rec_item_id"))
      .agg(sum(col("w")).as("weight"), count(lit(1)).as("n_users"))
    val w = Window.partitionBy(col("item_id"))
      .orderBy(col("weight").desc, col("rec_item_id"))
    pairs.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= topN)
      .orderBy(col("item_id"), col("rk"))
  }

  /** Association rules over the user-item engagement baskets — the
    * classic support/confidence/lift mining ([[itemCooccurrence]]
    * counts the co-occurrences; this turns them into scored rules
    * `a → b` a merchandiser can rank by lift). Confidence and lift are
    * exact integer ratios (supp_ab/supp_a and
    * supp_ab·N/(supp_a·supp_b)) rounded once at the end, so both
    * engines compute identical doubles from identical counts.
    *
    * Scale shape: the same basket-capped pair join as
    * [[itemCooccurrence]] (per-user baskets bounded by `maxBasket`, so
    * the pair explode is ≤ maxBasket² per user, never corpus-quadratic)
    * + two item-support joins whose build side is one row per item
    * (AQE/broadcast picks) + a 1-row basket-count broadcast. Output
    * bounded by TakeOrdered top-N.
    */
  def assocRules(spark: SparkSession, dir: String, minSupport: Long = 3L,
                 topN: Int = 25, maxBasket: Int = 500): DataFrame = {
    // shared build-once engagement artifact (see Graph.engagementArtifacts)
    val capped = Graph.engagementArtifacts(spark, dir, maxBasket)._1
    val total = capped.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val supp = capped.groupBy(col("item_id")).agg(count(lit(1)).as("supp"))
    val pairSupp = capped
      .join(capped.select(col("user_id"), col("item_id").as("conseq")), Seq("user_id"))
      .where(col("item_id") =!= col("conseq"))
      .groupBy(col("item_id").as("antecedent"), col("conseq").as("consequent"))
      .agg(count(lit(1)).as("supp_ab"))
      .where(col("supp_ab") >= minSupport)
    pairSupp
      .join(supp.select(col("item_id").as("antecedent"), col("supp").as("supp_a")), "antecedent")
      .join(supp.select(col("item_id").as("consequent"), col("supp").as("supp_b")), "consequent")
      .crossJoin(broadcast(total))
      .select(col("antecedent"), col("consequent"), col("supp_ab"),
        round(col("supp_ab") / col("supp_a"), 5).as("confidence"),
        round(col("supp_ab") * col("n_baskets") / (col("supp_a") * col("supp_b")), 5).as("lift"))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(topN)
  }

  /** Trending items — exponentially time-decayed engagement score per
    * item (the "popular right now" fallback every recommender serves
    * cold-start users): each engagement contributes
    * weight · 2^(−age_days), weight 4/2/1 for purchase/click/view.
    *
    * Determinism by EXACT arithmetic: a naive Σ w·2^(−age) sums doubles
    * whose exponents span the corpus age range — partial-aggregation
    * order then changes the rounded result between engines. Instead the
    * decay is computed scaled: w · (1 << (maxAgeDays − min(age, maxAge)))
    * is a BIGINT, the sum is exact integer arithmetic in any order, and
    * the one float op is the final division by 2^maxAgeDays — identical
    * on both engines for identical integer sums. Ages ≥ maxAgeDays
    * saturate at weight·1 (scaled), i.e. 2^(−maxAgeDays) — the long
    * tail keeps votes without dominating cost or precision.
    *
    * Scale: one narrow scan + broadcast of the 1-row corpus-max, one
    * item-keyed partial aggregate, TakeOrdered top-N. No window, no
    * join beyond the broadcast.
    */
  def itemTrending(spark: SparkSession, dir: String, topN: Int = 25,
                   maxAgeDays: Int = 40): DataFrame = {
    val ev = Tables.events(spark, dir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("event_type"), col("ts_ms"),
        get_json_object(col("props"), "$.k").cast("long").as("item_id"))
      .where(col("item_id").isNotNull)
    val mx = ev.agg(max(col("ts_ms")).as("t_max"))
    ev.crossJoin(broadcast(mx))
      .withColumn("age_days", expr("(t_max - ts_ms) div 86400000"))
      .withColumn("w",
        when(col("event_type") === "purchase", 4L)
          .when(col("event_type") === "click", 2L)
          .otherwise(1L))
      .withColumn("scaled", expr(
        s"w * shiftleft(CAST(1 AS BIGINT), $maxAgeDays - CAST(least(age_days, $maxAgeDays) AS INT))"))
      .groupBy(col("item_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("scaled")).as("scaled_sum"))
      .select(col("item_id"), col("n_events"),
        round(col("scaled_sum") / lit(math.pow(2.0, maxAgeDays)), 5).as("trend_score"))
      .orderBy(col("trend_score").desc, col("item_id"))
      .limit(topN)
  }

  /** Trailing-window z-score anomaly detection over the hourly event
    * stream — the ops-dashboard "this hour is weird" detector. Each
    * (event_type, hour) count is scored against the mean/std of that
    * type's previous `win` OBSERVED hours, and the `topN` most
    * anomalous hours are returned (top-N rather than a fixed z cutoff
    * so the surface is threshold-free and never empty).
    *
    * Oracle parity: mean and variance are derived from EXACT integer
    * window sums (Σx, Σx² over bigint counts) via the same expression
    * dag on both engines — no float accumulation crosses the engine
    * boundary, per the SQ8 precedent (SURVEY §4).
    *
    * Scale: one shuffle to the hourly rollup (map-side combined), one
    * window pass keyed by event_type (frame-bounded, sequential per
    * partition), then TakeOrdered for the global top-N. Nothing holds
    * more than `win` rows of state per group.
    */
  def anomalies(spark: SparkSession, dir: String, win: Int = 24,
                topN: Int = 10): DataFrame = {
    val hourMs = 3600000L
    val hourly = Tables.events(spark, dir)
      .select(col("event_type"), expr(s"ts_ms div $hourMs").as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n_events"))
    val wp = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(-win, -1)
    hourly
      .withColumn("n_prev", count(col("n_events")).over(wp))
      .withColumn("sum_prev", sum(col("n_events")).over(wp))
      .withColumn("sumsq_prev", sum(col("n_events") * col("n_events")).over(wp))
      .where(col("n_prev") === win)
      .withColumn("mean", col("sum_prev") / lit(win.toDouble))
      .withColumn("varp",
        (col("sumsq_prev") - col("sum_prev") * col("sum_prev") / lit(win.toDouble)) /
          lit((win - 1).toDouble))
      .where(col("varp") > 0)
      .withColumn("z", round((col("n_events") - col("mean")) / sqrt(col("varp")), 5))
      .select(col("event_type"), (col("hour") * hourMs).as("hour_ms"),
        col("n_events"), round(col("mean"), 5).as("mean_prev"), col("z"))
      .orderBy(abs(col("z")).desc, col("event_type"), col("hour_ms"))
      .limit(topN)
  }

  /** Growth accounting over the event stream: per UTC day, active
    * users, NEW users (first ever seen that day), returning = active −
    * new, and the cumulative user count — the DAU/new/returning split
    * every product dashboard leads with. Exact integer day arithmetic
    * (`ts_ms div 86400000`). Scale shape: one distinct (user, day)
    * shuffle, a per-user min for first-seen, then per-day aggregates;
    * the cumulative window runs over the |days|-row daily frame only —
    * never the event log.
    */
  def dailyActive(spark: SparkSession, dir: String): DataFrame = {
    val dayMs = 86400000L
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"ts_ms div $dayMs").as("day"))
      .distinct()
    val firstSeen = ud.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    val daily = ud.groupBy(col("day")).agg(count(lit(1)).as("n_active"))
    val news = firstSeen.groupBy(col("first_day").as("day")).agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    daily.join(news, Seq("day"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("n_returning", col("n_active") - col("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(w))
      .select((col("day") * dayMs).as("day_ms"), col("n_active"), col("n_new"),
        col("n_returning"), col("cum_users"))
      .orderBy(col("day_ms"))
  }

  /** TPC-H Q4-style order-priority check: orders in a date window with
    * at least one line shipped AFTER the order date (late shipment),
    * counted per priority. The existence test is a LEFT SEMI join — the
    * probe row is emitted at most once no matter how many lines match,
    * so the join never multiplies lineitem fan-out into the aggregate —
    * keyed on orderkey with the `l_shipdate > o_orderdate` correlation
    * as the residual join filter. The date window prunes the orders
    * scan (PushedFilters); the output is |priorities| rows.
    */
  def q4Priority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("o_orderkey") === col("l_orderkey") && col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q7-style cross-nation volume shipping: revenue flowing
    * between two specific nations (supplier nation ≠ customer nation)
    * per ship year. Both nation filters resolve to broadcast dims
    * joined to supplier/customer BEFORE the big fact join, so the
    * lineitem↔orders shuffle carries only rows from the two nations'
    * suppliers/customers (a 2/25 double cut at this schema's uniform
    * nation spread). Output is years × 2 directed pairs.
    */
  def q7NationVolume(spark: SparkSession, dir: String,
                     nationA: String = "NATION_18", nationB: String = "NATION_19"): DataFrame = {
    val n = Tables.nation(spark, dir)
      .where(col("n_name").isin(nationA, nationB))
    val s = Tables.supplier(spark, dir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val c = Tables.customer(spark, dir)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
  }

  /** TPC-H Q13-style customer order-count distribution: how many
    * customers placed k orders. Left outer join keeps zero-order
    * customers (count(o_orderkey) ignores the null-extended rows);
    * two cascaded aggregates, the second over at most |distinct k|
    * rows. The first agg shuffles on custkey — the natural key — and
    * the histogram agg is a near-no-op.
    */
  def q13CustDist(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(Tables.orders(spark, dir).select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_customers").desc, col("n_orders").desc)

  /** TPC-H Q18-style large-volume orders: orders whose total line
    * quantity exceeds a threshold, with customer attribution. The
    * HAVING filter runs on the lineitem aggregate BEFORE any join —
    * the orderkey→qty rollup is map-side combined and the survivors
    * (a ~1% tail) drive key-equi joins back to orders/customer that
    * AQE sizes (broadcast once the filtered side is small). Global
    * top-N via TakeOrdered.
    */
  def q18LargeOrders(spark: SparkSession, dir: String,
                     minQty: Double = 250.0, topN: Int = 100): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
      .where(col("total_qty") > minQty)
    big.join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        round(col("o_totalprice"), 2).as("totalprice"), col("total_qty"))
      .orderBy(col("totalprice").desc, col("o_orderkey"))
      .limit(topN)
  }

  /** TPC-H Q22-style dormant-rich-customer report: customers whose
    * balance exceeds the positive-balance average but who placed NO
    * order in the recent window, counted per market segment. The
    * scalar average is a one-row broadcast (cross join), the
    * inactivity test a LEFT ANTI join against the date-filtered
    * orders scan (pushed) — the classic "NOT EXISTS at scale" shape.
    */
  def q22DormantRich(spark: SparkSession, dir: String,
                     sinceDate: String = "2000-01-01"): DataFrame = {
    val c = Tables.customer(spark, dir)
    val avgBal = c.where(col("c_acctbal") > 0)
      .agg(avg(col("c_acctbal")).as("avg_bal"))
    val recent = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit(sinceDate))
      .select(col("o_custkey"))
    c.crossJoin(broadcast(avgBal))
      .where(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("total_acctbal"))
      .orderBy(col("c_mktsegment"))
  }

  /** Markov event-transition matrix: P(next event type | event type)
    * from each user's timeline — the behavioral flow model behind
    * next-action prediction and funnel-leak diagnosis. One lead()
    * window pass per user (the events_paths shape), then a
    * |types|²-row aggregate; the probability normalizes inside a
    * window over that bounded frame only. Counts are exact integers;
    * the one division rounds once.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val t = Tables.events(spark, dir)
      .select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
    t.withColumn("p_transition",
        round(col("n_transitions") /
          sum(col("n_transitions")).over(Window.partitionBy(col("from_type"))), 5))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Per-state transition entropy — how PREDICTABLE each event type's
    * successor is: Shannon entropy (nats) of every state's next-type
    * distribution from the [[eventTransitions]] matrix. H ≈ 0 means a
    * deterministic flow a rules engine can serve; H near ln(|types|)
    * means [[eventNextPred]]'s argmax is guessing and a richer model
    * is not optional. Computed with the [[TextAnalysis.charEntropy]]
    * identity H = ln(n) − Σ c·ln(c)/n over exact integer counts, so
    * the float expression is identical on both engines; one round per
    * cell. One lead() pass into a |types|²-bounded aggregate.
    */
  def transitionEntropy(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_transitions"),
        count(lit(1)).as("n_next_types"),
        round(log(sum(col("n"))) - sum(col("n") * log(col("n"))) / sum(col("n")), 5)
          .as("entropy_nats"))
      .withColumn("max_entropy", round(log(col("n_next_types")), 5))
      .orderBy(col("from_type"))
  }

  /** Burstiness index per event type (Goh & Barabási 2008):
    * B = (σ−μ)/(σ+μ) over the type's global inter-event gaps — −1 for
    * a metronome, 0 for a Poisson stream, →1 for heavy bursts. The
    * one number that says whether [[eventsPeakLoad]]'s p99 sizing can
    * trust exponential arrivals or must provision for bursts.
    *
    * Gaps are exact ms BIGINTs from one per-type lag() window; μ and
    * σ come from the exact integer sums (n, Σg, Σg²) via
    * σ = √(Σg²/n − μ²), so both engines build the identical float
    * expression and round once per cell. Degenerate streams (σ+μ = 0)
    * report 0 on both engines.
    */
  def eventsBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts_ms"), col("event_id"))
    val g = Tables.events(spark, dir)
      .select(col("event_type"), col("ts_ms"), col("event_id"))
      .withColumn("gap", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
      .where(col("gap").isNotNull)
    val mu = col("sg") / col("n")
    val sig = sqrt(col("sg2") / col("n") - mu * mu)
    g.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("gap")).as("sg"),
        sum(col("gap") * col("gap")).as("sg2"))
      .select(col("event_type"), col("n"),
        round(mu / 1000, 3).as("mean_gap_s"),
        round(sig / 1000, 3).as("std_gap_s"),
        when(sig + mu === 0, lit(0.0))
          .otherwise(round((sig - mu) / (sig + mu), 5)).as("burstiness"))
      .orderBy(col("event_type"))
  }

  /** Next-event prediction eval — [[eventTransitions]] turned into a
    * measured model: train the transition matrix on the temporally
    * FIRST 80% of days (the [[Curation.temporalSplitPrep]] boundary,
    * exact integer floor division on epoch days), predict each state's
    * most frequent successor (count DESC, type ASC — deterministic
    * argmax), and score it on eval-day transitions (a pair belongs to
    * the day of its SOURCE event). The hit-rate-per-state table is the
    * go/no-go for shipping a Markov next-action model: a state whose
    * baseline is unbeatable by the chain shows up as a low row here
    * before anyone builds the serving path.
    *
    * Determinism: counts are exact integers, the argmax ties
    * deterministically, and hit_rate is the single rounded division.
    * States never seen in training carry no prediction and are
    * excluded (inner join), documented behavior.
    *
    * Scale shape: ONE lead() window pass per user (the
    * [[eventTransitions]] shape) feeding two |types|²-bounded
    * aggregates; the train argmax window runs over that bounded frame
    * only. Output is |types| rows.
    */
  def eventNextPred(spark: SparkSession, dir: String): DataFrame = {
    val dayMs = 86400000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val pairs = graft.sources.ScratchCache.materialize(
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .where(col("to_type").isNotNull)
        .select(col("event_type").as("s"), col("to_type").as("t"),
          expr(s"ts_ms div $dayMs").as("day")))
    val t1 = pairs.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(expr("d0 + (d1 - d0 + 1) * 80 div 100").as("t1"))
    val split = pairs.crossJoin(broadcast(t1))
    val trainCnt = split.where(col("day") < col("t1"))
      .groupBy(col("s"), col("t")).agg(count(lit(1)).as("n"))
    val wArg = Window.partitionBy(col("s")).orderBy(col("n").desc, col("t"))
    val model = trainCnt.withColumn("rk", row_number().over(wArg))
      .where(col("rk") === 1).select(col("s"), col("t").as("pred"))
    split.where(col("day") >= col("t1"))
      .join(broadcast(model), Seq("s"))
      .groupBy(col("s").as("state"), col("pred"))
      .agg(count(lit(1)).as("n_eval"),
        count(when(col("t") === col("pred"), 1)).as("n_hit"))
      .withColumn("hit_rate", round(col("n_hit") / col("n_eval"), 5))
      .orderBy(col("state"))
  }

  /** Seasonal-naive forecast backtest over daily event counts — the
    * capacity-planning sanity check behind [[eventsSeasonality]]'s
    * load profile: on the LAST 7 days, compare the week-ago forecast
    * (count(d−7), seasonal-naive) against the yesterday forecast
    * (count(d−1), naive carry-forward) per event type, by MAE. If
    * seasonal doesn't beat naive here, the weekly profile is noise
    * and sizing from it over-provisions — the go/no-go read before
    * anyone trusts a seasonality table.
    *
    * Determinism: days are exact integer epoch-day division; the
    * dense (type × day) grid fills silent days with 0 so both
    * forecasts are defined everywhere; MAE is an exact BIGINT sum of
    * absolute differences with one rounded division. Output is
    * |types| rows; needs ≥15 days of data (7 backtest days each with
    * a d−7 lookback), else empty on both engines.
    *
    * Scale shape: ONE narrow count aggregate is the corpus-scale
    * work; the grid, joins and MAE fold run on the bounded
    * |types|·|days| frame.
    */
  def eventsForecast(spark: SparkSession, dir: String, horizon: Int = 7): DataFrame = {
    val dayMs = 86400000L
    val daily = graft.sources.ScratchCache.materialize(
      Tables.events(spark, dir)
        .select(col("event_type"), expr(s"ts_ms div $dayMs").as("day"))
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n")))
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .where(col("d1") - col("d0") >= 2 * horizon)
      .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("day"),
        col("d1"))
      .join(daily, Seq("event_type", "day"), "left_outer")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val c = grid.select(col("event_type"), col("day"), col("n"), col("d1"))
    c.where(col("day") > col("d1") - horizon)
      .join(c.select(col("event_type"), (col("day") + horizon).as("day"),
        col("n").as("f_seasonal")), Seq("event_type", "day"))
      .join(c.select(col("event_type"), (col("day") + 1).as("day"),
        col("n").as("f_naive")), Seq("event_type", "day"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        round(sum(abs(col("n") - col("f_seasonal"))) / count(lit(1)), 5).as("mae_seasonal"),
        round(sum(abs(col("n") - col("f_naive"))) / count(lit(1)), 5).as("mae_naive"))
      .withColumn("winner",
        when(col("mae_seasonal") <= col("mae_naive"), lit("seasonal"))
          .otherwise(lit("naive")))
      .orderBy(col("event_type"))
  }

  /** Time-to-convert profile by ENTRY event type: for each user whose
    * history contains a purchase, the lag from their first-ever event
    * to their first purchase, cohorted by what that first event WAS —
    * the table that says which front door converts fastest (and which
    * entry cohort a nurture campaign should target). Complements
    * [[eventsSurvival]] (purchase→repeat) and [[interEventGaps]]
    * (all-event cadence) with the acquisition-side latency.
    *
    * Determinism: the first event is the row_number=1 row under the
    * unique (ts_ms, event_id) order; lags are exact ms BIGINTs;
    * percentiles are Spark `percentile` ≡ DuckDB `quantile_cont`
    * (rank (n−1)·p linear interpolation, the [[userRfm]] parity) over
    * those integers, and every hour conversion is one rounded division
    * at the end. First-event-is-purchase users convert at lag 0 and
    * stay in their cohort.
    *
    * Scale shape: one per-user window pass (rank-1 row via
    * WindowGroupLimit) + one purchase min — both user-keyed map-side
    * shapes; percentiles aggregate the |converting users|-row lag
    * frame per cohort (|types| groups). At a distinct-lag cardinality
    * that outgrows executor memory the drop-in is `approx_percentile`
    * ([[lenDeciles]]' argument). Output is ≤|types| rows.
    */
  def conversionLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
    val first = ev.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("first_event_type"),
        col("ts_ms").as("t0"))
    val firstPurchase = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("tp"))
    first.join(firstPurchase, "user_id")
      .select(col("first_event_type"), (col("tp") - col("t0")).as("lag_ms"))
      .groupBy(col("first_event_type"))
      .agg(count(lit(1)).as("n_users"),
        round(sum(col("lag_ms")) / count(lit(1)) / lit(3600000.0), 5).as("mean_hours"),
        round(expr("percentile(lag_ms, 0.5D)") / lit(3600000.0), 5).as("p50_hours"),
        round(expr("percentile(lag_ms, 0.9D)") / lit(3600000.0), 5).as("p90_hours"))
      .orderBy(col("first_event_type"))
  }

  /** Engagement concentration (Gini coefficient) over per-user event
    * counts — the inequality number behind "10% of users generate 90%
    * of traffic" that sizes hot-key risk before it bites a shuffle.
    * NEVER ranks users globally: per-user counts collapse to a
    * (count value, multiplicity) histogram — at most |distinct
    * activity levels| rows — and the rank-weighted sum folds tie
    * blocks in closed form (Σ ranks of a tie block = m·before +
    * m(m+1)/2), so the only window runs over the bounded histogram.
    * All terms are exact BIGINT sums; the one division rounds once.
    */
  def engagementGini(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("cnt")).agg(count(lit(1)).as("m"))
    val w = Window.orderBy(col("cnt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("before", coalesce(sum(col("m")).over(w), lit(0L)))
      .agg(
        sum(col("m")).as("n_users"),
        sum(col("cnt") * col("m")).as("total_events"),
        sum(expr("cnt * (m * before + (m * (m + 1)) div 2)")).as("s2"))
      .select(col("n_users"), col("total_events"),
        round(lit(2.0) * col("s2") / (col("n_users") * col("total_events")) -
          (col("n_users") + lit(1.0)) / col("n_users"), 5).as("gini"))
  }

  /** Week-over-week stickiness: of each epoch-week's active users,
    * the fraction still active the following week — the retention
    * curve's operational cousin. Weeks are integer `ts_ms div 7d`
    * (cross-engine exact, no calendar surface); the distinct
    * (user, week) frame reduces once and both the active count and
    * the retained LEFT SEMI reuse it; output is |weeks| rows.
    */
  def userStickiness(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.ScratchCache.materialize(
      Tables.events(spark, dir)
        .select(col("user_id"), expr("ts_ms div 604800000").as("week"))
        .distinct())
    val active = d.groupBy(col("week")).agg(count(lit(1)).as("n_active"))
    val retained = d.alias("a")
      .join(d.alias("b"),
        col("a.user_id") === col("b.user_id") && col("b.week") === col("a.week") + 1,
        "left_semi")
      .groupBy(col("week")).agg(count(lit(1)).as("n_retained"))
    active.join(retained, Seq("week"), "left_outer")
      .withColumn("n_retained", coalesce(col("n_retained"), lit(0L)))
      .withColumn("stickiness", round(col("n_retained") / col("n_active").cast("double"), 5))
      .orderBy(col("week"))
  }

  /** Inter-event time profile per event type: gaps between a user's
    * consecutive events of the same type — the cadence distribution
    * that calibrates session gaps and streaming watermarks. One
    * (user,type)-partitioned lag() pass; mean from exact integer ms
    * sums, median/p90 via the exact interpolated percentile
    * (`approx_percentile` is the 100 TB drop-in, wired by
    * [[Scale.pct]] under `spark.graft.scale.approx=true`).
    */
  def intereventGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_ms"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
      .withColumn("gap_ms", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
      .where(col("gap_ms").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("gap_ms")).as("sum_gap_ms"),
        round(Scale.pct(spark, "gap_ms", "0.5D") / 1000.0, 3).as("median_gap_s"),
        round(Scale.pct(spark, "gap_ms", "0.9D") / 1000.0, 3).as("p90_gap_s"),
        (max(col("gap_ms")) / lit(1000.0)).as("max_gap_s"))
      .withColumn("mean_gap_s", round(col("sum_gap_ms") / col("n_gaps") / 1000.0, 3))
      .withColumn("max_gap_s", round(col("max_gap_s"), 3))
      .orderBy(col("event_type"))
  }

  /** Fixed-width value histogram per event type — the money-amount
    * distribution dashboards bin before plotting. The bin key is
    * `floor(value / width)` (one IEEE division + floor, bit-identical
    * cross-engine); one map-side-combined aggregate, |types|×|bins|
    * rows out, no data-row shuffle beyond it.
    */
  def valueHistogram(spark: SparkSession, dir: String, width: Double = 50.0): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        floor(col("value") / width).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .withColumn("bin_low", round(col("bin") * width, 2))
      .orderBy(col("event_type"), col("bin"))

  /** Order-to-first-ship latency profile per order priority — the
    * fulfilment SLA dashboard. The per-order min(shipdate) rolls up
    * map-side BEFORE the orders join (one row per orderkey crosses the
    * shuffle, not line fan-out); day latency is exact date arithmetic;
    * mean from exact integer sums, median/p90 via the exact
    * interpolated percentile (`approx_percentile` is the 100 TB
    * drop-in, wired by [[Scale.pct]] under
    * `spark.graft.scale.approx=true`).
    */
  def shipLatency(spark: SparkSession, dir: String): DataFrame = {
    val firstShip = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(min(col("l_shipdate")).as("first_ship"))
    firstShip
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("first_ship"), col("o_orderdate")).cast("long").as("days"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("days")).as("sum_days"),
        round(Scale.pct(spark, "days", "0.5D"), 3).as("median_days"),
        round(Scale.pct(spark, "days", "0.9D"), 3).as("p90_days"),
        max(col("days")).as("max_days"))
      .withColumn("mean_days", round(col("sum_days") / col("n_orders"), 3))
      .orderBy(col("o_orderpriority"))
  }

  /** Session-level conversion summary: of all gap-sessions, how many
    * contained a view, a purchase, or a view-then-purchase WITHIN the
    * session — the session-grade funnel (user-grade is
    * [[funnelOrdered]]). The island pass is [[sessionize]]'s window;
    * the per-session flags ride the SAME rollup (first-view/
    * first-purchase conditional mins), so no second scan; output is
    * one row of exact integers and one rounded rate.
    */
  def sessionConversion(spark: SparkSession, dir: String, gapMs: Long = 1800000L): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("event_type"))
      .withColumn("new_sess",
        when(lag(col("ts_ms"), 1).over(w).isNull ||
          col("ts_ms") - lag(col("ts_ms"), 1).over(w) > gapMs, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(cum))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts_ms"))).as("v_ms"),
        min(when(col("event_type") === "purchase", col("ts_ms"))).as("p_ms"))
    sess.agg(
      count(lit(1)).as("n_sessions"),
      count(col("v_ms")).as("n_with_view"),
      count(col("p_ms")).as("n_with_purchase"),
      count(when(col("p_ms") > col("v_ms"), 1)).as("n_converted"))
      .withColumn("session_cvr",
        round(col("n_converted") / col("n_with_view").cast("double"), 5))
  }

  /** Item engagement histogram — the catalog-side twin of
    * [[q13CustDist]]: how many items have k distinct engaged users,
    * the long-tail/cold-start inventory shape. Two cascaded
    * aggregates over the distinct (user,item) frame; the histogram
    * agg runs over |distinct k| rows.
    */
  def itemEngagementHist(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item_id"))
      .where(col("item_id").isNotNull)
      .distinct()
      .groupBy(col("item_id")).agg(count(lit(1)).as("n_users"))
      .groupBy(col("n_users")).agg(count(lit(1)).as("n_items"))
      .orderBy(col("n_users"))

  /** Revenue concentration (Pareto report): the share of total order
    * value held by the top 1/5/10% of customers — the "whales" number
    * next to [[engagementGini]]'s one-coefficient view. Cutoffs are
    * broadcast rounded percentiles over the |customers|-row rollup
    * (no global sort); shares are ratios of rounded sums.
    */
  def revenuePareto(spark: SparkSession, dir: String): DataFrame = {
    val per = graft.sources.ScratchCache.materialize(
      Tables.orders(spark, dir)
        .groupBy(col("o_custkey"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev")))
    val cuts = per.agg(
      expr("percentile(rev, array(0.99D, 0.95D, 0.90D))").as("pq"))
      .select(round(element_at(col("pq"), 1), 5).as("p99"),
        round(element_at(col("pq"), 2), 5).as("p95"),
        round(element_at(col("pq"), 3), 5).as("p90"))
    per.crossJoin(broadcast(cuts))
      .agg(
        count(lit(1)).as("n_customers"),
        round(sum(col("rev")), 2).as("total_rev"),
        round(sum(when(col("rev") > col("p99"), col("rev")).otherwise(0.0)), 2).as("rev_top1"),
        round(sum(when(col("rev") > col("p95"), col("rev")).otherwise(0.0)), 2).as("rev_top5"),
        round(sum(when(col("rev") > col("p90"), col("rev")).otherwise(0.0)), 2).as("rev_top10"))
      .select(col("n_customers"), col("total_rev"),
        round(col("rev_top1") / col("total_rev"), 5).as("share_top1"),
        round(col("rev_top5") / col("total_rev"), 5).as("share_top5"),
        round(col("rev_top10") / col("total_rev"), 5).as("share_top10"))
  }

  /** Robust (trimmed) value statistics per event type: mean recomputed
    * over the p05–p95 band — the outlier-resistant number dashboards
    * should trend instead of the raw mean a single fat-finger order
    * drags. Broadcast percentile cutoffs (the userRfm shape — no
    * global sort), cutoffs rounded to 5 on BOTH engines so a value
    * sitting exactly on one can't flip membership; one ScratchCache'd
    * (type,value) frame serves the cutoff and scoring passes.
    */
  def valueRobustStats(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.sources.ScratchCache.materialize(
      Tables.events(spark, dir).select(col("event_type"), col("value")))
    val cuts = e.groupBy(col("event_type"))
      .agg(expr("percentile(value, array(0.05D, 0.95D))").as("pq"))
      .select(col("event_type"),
        round(element_at(col("pq"), 1), 5).as("lo"),
        round(element_at(col("pq"), 2), 5).as("hi"))
    e.join(broadcast(cuts), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(avg(col("value")), 4).as("mean_value"),
        round(avg(when(col("value").between(col("lo"), col("hi")), col("value"))), 4)
          .as("trimmed_mean"),
        max(col("lo")).as("p05"), max(col("hi")).as("p95"))
      .orderBy(col("event_type"))
  }

  /** First-touch attribution: conversion rate by the event type that
    * FIRST brought each user in. The per-user first event resolves as
    * one `min(struct(ts, id, type))` aggregate — no window, no second
    * scan — and the purchase flag rides the same rollup; output is
    * |types| rows of exact integer counts and one rounded rate.
    */
  def firstTouchConversion(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        min(struct(col("ts_ms"), col("event_id"), col("event_type")))
          .getField("event_type").as("first_type"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
      .groupBy(col("first_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_converted"))
      .withColumn("conversion_rate",
        round(col("n_converted") / col("n_users").cast("double"), 5))
      .orderBy(col("first_type"))

  /** Hour-of-day × day-of-week activity heatmap — the canonical
    * engagement dashboard matrix. Keys are pure integer epoch
    * arithmetic on ts_ms (epoch day 0 was a Thursday, hence the +4
    * Monday shift) — no calendar/timezone surface to drift
    * cross-engine; one map-side-combined aggregate, ≤168 rows out.
    */
  def activityHeatmap(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(expr("(ts_ms div 86400000 + 4) % 7").as("dow"),
        expr("(ts_ms div 3600000) % 24").as("hour"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("dow"), col("hour"))

  /** Gap-based sessions via Spark's NATIVE session_window operator —
    * the declarative twin of [[sessionize]] (which hand-rolls the
    * island detection with lag/cumsum windows). Same 30-minute gap,
    * same aggregates; the session end is the exclusive
    * last-event + gap bound the built-in emits. At 100 TB the native
    * operator is the one that also runs under Structured Streaming
    * with state eviction, so both doors exercise identical semantics.
    */
  def sessionWindowAgg(spark: SparkSession, dir: String, gapMs: Long = 1800000L): DataFrame =
    Tables.events(spark, dir)
      .withColumn("tsx", timestamp_millis(col("ts_ms")))
      .groupBy(col("user_id"), session_window(col("tsx"), s"$gapMs milliseconds"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sess_value"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("start_ms"),
        unix_millis(col("session_window.end")).as("end_ms"),
        col("n_events"), col("sess_value"))
      .orderBy(col("user_id"), col("start_ms"))

  /** Range join as a bin-blocked equi-join: events classified into
    * value bands whose bounds do NOT align to any fixed grid — the
    * general interval-lookup shape (price tiers, SLA buckets, grade
    * bands). A naive `low <= v < high` join plans
    * BroadcastNestedLoopJoin (every row × every band); instead each
    * band pre-expands into the fixed-width bins it overlaps and the
    * join becomes a broadcast HASH join on the bin key with the range
    * test as residual — the standard blocking rewrite that stays
    * O(rows), plan-asserted. Band table expansion is driver-side and
    * tiny (|bands| × bins-per-band rows).
    */
  def bandJoin(spark: SparkSession, dir: String): DataFrame = {
    val bands = Seq((0.0, 45.0, "low"), (45.0, 120.0, "mid"),
      (120.0, 260.0, "high"), (260.0, 1000.0, "extreme"))
    val binW = 10.0
    val expanded = bands.flatMap { case (lo, hi, name) =>
      val b0 = math.floor(lo / binW).toLong
      val b1 = math.floor((hi - 1e-9) / binW).toLong
      (b0 to b1).map(b => (b, lo, hi, name))
    }
    val bandDf = spark.createDataFrame(expanded)
      .toDF("bin", "band_low", "band_high", "band")
    Tables.events(spark, dir)
      .withColumn("ebin", floor(col("value") / binW).cast("long"))
      .join(broadcast(bandDf),
        col("ebin") === col("bin") &&
          col("value") >= col("band_low") && col("value") < col("band_high"))
      .groupBy(col("band"), col("band_low"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("band_low"))
      .select(col("band"), col("n_events"), col("sum_value"), col("n_users"))
  }

  /** TPC-H Q2-style min-cost supplier: for each qualifying part, the
    * supplier with the lowest observed unit price (reference schema
    * has no partsupp, so the price book derives from lineitem
    * history: unit = extendedprice/quantity, an EXACT IEEE division
    * both engines reproduce bit-for-bit). The correlated-subquery
    * shape becomes one (part,supp) rollup + a per-part ranking window
    * with a suppkey tiebreak; part/supplier/nation dims broadcast.
    * Rounding happens ONLY on output — selection compares exact
    * doubles, so no boundary drift.
    */
  def q2MinPriceSupp(spark: SparkSession, dir: String, topN: Int = 100): DataFrame = {
    val perPS = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("unit_price")).as("ps_price"))
    val w = Window.partitionBy(col("l_partkey"))
      .orderBy(col("ps_price"), col("l_suppkey"))
    val p = Tables.part(spark, dir)
      .where(col("p_type") === "STANDARD" && col("p_size") <= 10)
    perPS.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
        round(col("ps_price"), 5).as("best_price"))
      .orderBy(col("best_price"), col("p_partkey"))
      .limit(topN)
  }

  /** TPC-H Q8-style market share: of all revenue sold to one region's
    * customers per order year, the fraction supplied by one nation.
    * Both nation attributions resolve through broadcast dims BEFORE
    * the fact join (the q7 trick: the region filter cuts the customer
    * side 1/5 ahead of the orderkey shuffle); the share is a ratio of
    * two same-ordered rounded sums, rounded once.
    */
  def q8MarketShare(spark: SparkSession, dir: String,
                    region: String = "EUROPE", nation: String = "NATION_7"): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir).where(col("r_name") === region)
    val c = Tables.customer(spark, dir)
      .join(broadcast(n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val s = Tables.supplier(spark, dir)
      .join(broadcast(n.select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === nation, rev).otherwise(lit(0.0))), 2)
          .as("nation_revenue"),
        round(sum(rev), 2).as("total_revenue"))
      .withColumn("mkt_share", round(col("nation_revenue") / col("total_revenue"), 5))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q9-style product-line profit by supplier nation and ship
    * year, restricted to parts whose name carries one token. Profit
    * uses a retail-cost proxy (no partsupp supplycost in this
    * schema): rev − 0.6·retailprice·quantity. The part filter cuts
    * the broadcast build side before the fact join; nation rides the
    * supplier broadcast.
    */
  def q9Profit(spark: SparkSession, dir: String, nameToken: String = "red"): DataFrame = {
    val p = Tables.part(spark, dir).where(col("p_name").contains(nameToken))
      .select(col("p_partkey"), col("p_retailprice"))
    val s = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val profit = col("l_extendedprice") * (lit(1) - col("l_discount")) -
      lit(0.6) * col("p_retailprice") * col("l_quantity")
    Tables.lineitem(spark, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"), year(col("l_shipdate")).cast("long").as("o_year"))
      .agg(round(sum(profit), 2).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q11-style important-part concentration: parts whose
    * revenue exceeds a fraction of the corpus total. The scalar total
    * is a one-row broadcast (the q22 shape); both sides of the
    * threshold compare ROUNDED sums so the cross-engine float-sum
    * epsilon cannot flip membership.
    */
  def q11ImportantParts(spark: SparkSession, dir: String,
                        fraction: Double = 0.00075): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val l = Tables.lineitem(spark, dir)
    val total = l.agg(round(sum(rev), 2).as("total_value"))
    l.groupBy(col("l_partkey"))
      .agg(round(sum(rev), 2).as("part_value"))
      .crossJoin(broadcast(total))
      .where(col("part_value") > col("total_value") * fraction)
      .select(col("l_partkey"), col("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  /** TPC-H Q12-style late-shipment priority audit: per returnflag,
    * how many lines shipped >30 days after the order date split by
    * high vs low order priority — the conditional-aggregate shape
    * (CASE inside SUM, one shuffle on the natural orderkey join).
    */
  def q12PriorityLate(spark: SparkSession, dir: String, lateDays: Int = 30): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .where(datediff(col("l_shipdate"), col("o_orderdate")) > lateDays)
      .groupBy(col("l_returnflag"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  /** TPC-H Q15-style top supplier: the supplier(s) whose revenue over
    * a ship-date window equals the maximum. The max is a one-row
    * broadcast over the per-supplier rollup (which is itself
    * |suppliers| rows); equality compares the SAME rounded values on
    * both engines, so ties surface identically.
    */
  def q15TopSupplier(spark: SparkSession, dir: String,
                     from: String = "1997-01-01", until: String = "1997-07-01"): DataFrame = {
    val perSupp = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(until))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("total_revenue"))
    val best = perSupp.agg(max(col("total_revenue")).as("max_revenue"))
    perSupp.crossJoin(broadcast(best))
      .where(col("total_revenue") === col("max_revenue"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_suppkey").as("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q16-style supplier-variety report: distinct suppliers able
    * to ship each (brand, type, size-bucket) part family, excluding
    * one brand and a "complaints" supplier denylist (negative account
    * balance here) via broadcast LEFT ANTI — NOT IN at scale. The
    * distinct agg shuffles once on the family key.
    */
  def q16SupplierVariety(spark: SparkSession, dir: String,
                         excludeBrand: String = "Brand#5"): DataFrame = {
    val bad = Tables.supplier(spark, dir).where(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    val p = Tables.part(spark, dir).where(col("p_brand") =!= excludeBrand)
      .select(col("p_partkey"), col("p_brand"), col("p_type"),
        (col("p_size").cast("long") / 10).cast("long").as("size_bucket"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("size_bucket"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("size_bucket"))
  }

  /** TPC-H Q17-style small-quantity revenue: lines of one brand
    * shipped at under 20% of that part's average quantity. The
    * correlated scalar subquery becomes a one-row-per-partkey
    * average join (AQE broadcasts the ~|parts/brand| build side).
    * l_quantity is integer-valued, so sum/count — and therefore the
    * 0.2·avg boundary — is EXACT and identical on both engines; no
    * rounding enters the filter.
    */
  def q17SmallQty(spark: SparkSession, dir: String, brand: String = "Brand#7"): DataFrame = {
    val p = Tables.part(spark, dir).where(col("p_brand") === brand)
      .select(col("p_partkey"))
    val l = Tables.lineitem(spark, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val avgQty = l.groupBy(col("l_partkey").as("a_partkey"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
    l.join(avgQty, col("l_partkey") === col("a_partkey"))
      .where(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
  }

  /** TPC-H Q19-style disjunctive-predicate revenue: three OR'd
    * (brand × size band × quantity band) branches evaluated in ONE
    * pass — the part attributes broadcast in, the disjunction stays a
    * single codegen'd predicate, no union of three scans.
    */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val branch1 = col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
      col("l_quantity").between(1, 11)
    val branch2 = col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
      col("l_quantity").between(10, 20)
    val branch3 = col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
      col("l_quantity").between(20, 30)
    Tables.lineitem(spark, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .where(branch1 || branch2 || branch3)
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
  }

  /** TPC-H Q20-style dominant-supplier detection: suppliers who in
    * one year shipped >1.5× the per-supplier average quantity of some
    * token-named part — the nested-aggregate + semi-join shape (no
    * partsupp availqty in this schema, so dominance is measured
    * against the part's own supplier field). The per-part average is
    * a window over the (part,supp) rollup — |parts| keys, no second
    * shuffle — and qualifying suppkeys drive a LEFT SEMI into the
    * supplier dim. Quantity sums are integer-exact, so the 1.5×
    * boundary cannot drift cross-engine.
    */
  def q20DominantSupp(spark: SparkSession, dir: String, nameToken: String = "red",
                      year_ : Int = 1997): DataFrame = {
    val p = Tables.part(spark, dir).where(col("p_name").contains(nameToken))
      .select(col("p_partkey"))
    val perPS = Tables.lineitem(spark, dir)
      .where(year(col("l_shipdate")) === year_)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("qty"))
    val w = Window.partitionBy(col("l_partkey"))
    val dominant = perPS
      .withColumn("part_avg", avg(col("qty")).over(w))
      .where(col("qty") > lit(1.5) * col("part_avg"))
      .select(col("l_suppkey")).distinct()
    Tables.supplier(spark, dir)
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q21-style sole-late-supplier audit: suppliers who were the
    * ONLY late shipper (>60 days after the order date) in a
    * multi-supplier order. The EXISTS/NOT-EXISTS pair becomes one
    * (order,supp) rollup + two order-partitioned window counts — a
    * single orderkey shuffle instead of three correlated self-joins;
    * the final per-supplier count is |suppliers| rows.
    */
  def q21SoleLate(spark: SparkSession, dir: String, lateDays: Int = 60,
                  topN: Int = 50): DataFrame = {
    val perOS = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(datediff(col("l_shipdate"), col("o_orderdate")) > lateDays, 1L)
        .otherwise(0L)).as("late"))
    val w = Window.partitionBy(col("l_orderkey"))
    perOS
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late", sum(col("late")).over(w))
      .where(col("late") === 1 && col("n_supp") > 1 && col("n_late") === 1)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(topN)
  }

  /** Per-type daily activity trend: closed-form least-squares slope of
    * events-per-day over integer day keys — the "is this event type
    * growing or dying" number the ops dashboard plots next to
    * [[dailyActive]]. All regression moments (Σx, Σy, Σxy, Σx²) are
    * EXACT BIGINT sums over the |types|×|days| daily rollup — day keys
    * are recentered to offsets from the corpus's first day so the
    * squared terms stay far from overflow at any horizon — and the one
    * float op is the final slope division, rounded once. Shape: one
    * map-side-combined (type, day) count, a 1-row min-day broadcast,
    * then a per-type fold over the bounded daily frame — the events
    * table is scanned once.
    */
  def eventsTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), expr("ts_ms div 86400000").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
    val d0 = daily.agg(min(col("day")).as("day0"))
    daily.crossJoin(broadcast(d0))
      .select(col("event_type"), (col("day") - col("day0")).as("x"), col("n").as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("y")).as("total"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n_days"), col("total"),
        // single-active-day degenerate case (n·Σx² = (Σx)²): Spark's
        // Divide yields NULL on /0 while DuckDB's IEEE double division
        // yields NaN — guard explicitly so both engines emit NULL
        when(col("n_days") * col("sxx") - col("sx") * col("sx") === 0,
          lit(null).cast("double"))
          .otherwise(round((col("n_days") * col("sxy") - col("sx") * col("sy")) /
            (col("n_days") * col("sxx") - col("sx") * col("sx")), 5))
          .as("slope_per_day"))
      .orderBy(col("event_type"))
  }

  /** CUSUM changepoint detection per event type — WHERE the daily
    * level shifted, complementing [[eventsTrend]]'s "is it drifting"
    * slope (Page 1954's cumulative-sum chart, the offline max-|CUSUM|
    * form): over each type's observed-day series, the cumulative sum
    * of deviations from the type's own mean peaks exactly at the
    * step-change day; report that day, the peak magnitude, and the
    * mean level on each side. The split-day audit a pipeline runs
    * when a source's volume jumps — "did the crawler change on the
    * 14th, and from what level to what".
    *
    * Determinism: the argmax is EXACT-INTEGER — |CUSUM_t| ∝
    * |prefix_t·D − t·T| with D = n_days, T = total (the common
    * denominator D never materializes until the final rounded
    * report), ties → earlier day. A type whose peak lands on its
    * last day has no "after" side → NULL mean_after on both engines.
    *
    * Scale shape: one events scan → |types|×|days| daily rollup;
    * both windows partition by event_type (never global); the totals
    * frame is |types| rows broadcast.
    */
  def eventsChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = graft.sources.ScratchCache.materialize(
      Tables.events(spark, dir)
        .select(col("event_type"), expr("ts_ms div 86400000").as("day"))
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n")))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val cum = daily
      .withColumn("t", row_number().over(w).cast("long"))
      .withColumn("prefix", sum(col("n")).over(w))
    val tot = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("total"))
    val scored = cum.join(broadcast(tot), "event_type")
      .withColumn("num", col("prefix") * col("n_days") - col("t") * col("total"))
    val pick = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("num")).desc, col("day"))
    scored.withColumn("rk", row_number().over(pick)).where(col("rk") === 1)
      .select(col("event_type"), col("n_days"), col("total"),
        (col("day") * 86400000L).as("cp_day_ms"),
        round(abs(col("num")) / col("n_days"), 5).as("max_abs_cusum"),
        round(col("prefix") / col("t"), 5).as("mean_before"),
        when(col("n_days") === col("t"), lit(null).cast("double"))
          .otherwise(round((col("total") - col("prefix")) /
            (col("n_days") - col("t")), 5)).as("mean_after"))
      .orderBy(col("event_type"))
  }

  /** Hourly-count autocorrelation at fixed lags (1 h and 24 h) per
    * event type — the seasonality detector that decides whether the
    * anomaly baseline ([[anomalyHours]]) needs a daily-period term.
    * Lagged pairs come from an EQUI-join of the hourly rollup to
    * itself on `hour = hour + lag` (integer keys — gaps in the series
    * simply produce no pair, never a misaligned one), and the Pearson
    * r folds from exact BIGINT moment sums with the float math
    * confined to the final round-5 expression. Shape: one events scan
    * → |types|×|hours| rollup, self-join on bounded integer keys, one
    * small agg per (type, lag); the raw stream is never self-joined.
    */
  def eventsAcf(spark: SparkSession, dir: String, lags: Seq[Int] = Seq(1, 24)): DataFrame = {
    // ScratchCache: both lag joins read the hourly rollup — one events
    // scan, bounded LRU lifecycle (never a bare persist)
    val hourly = graft.sources.ScratchCache.materialize(
      Tables.events(spark, dir)
        .select(col("event_type"), expr("ts_ms div 3600000").as("hour"))
        .groupBy(col("event_type"), col("hour")).agg(count(lit(1)).as("n")))
    val perLag = lags.map { l =>
      hourly.as("a")
        .join(hourly.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("b.hour") === col("a.hour") + lit(l.toLong))
        .select(col("a.event_type").as("event_type"), lit(l.toLong).as("lag"),
          col("a.n").as("x"), col("b.n").as("y"))
    }.reduce(_ unionAll _)
    perLag.groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        // each variance factor is an exact BIGINT < 2^53, so the
        // double×double product rounds the exact product — identical
        // to the oracle's HUGEINT-exact-then-cast value — while the
        // BIGINT×BIGINT product would overflow at ~sf1; a zero
        // variance factor (constant series) is guarded to NULL on
        // both engines (Spark /0 → NULL, DuckDB /0 → NaN otherwise)
        when(col("n_pairs") * col("sxx") - col("sx") * col("sx") === 0 ||
          col("n_pairs") * col("syy") - col("sy") * col("sy") === 0,
          lit(null).cast("double"))
          .otherwise(round((col("n_pairs") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n_pairs") * col("syy") - col("sy") * col("sy")).cast("double")), 5))
          .as("acf"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** Item-neighborhood Jaccard similarity — the set-overlap refinement
    * of [[itemCooccurrence]]: raw co-engagement counts favor popular
    * items (everything co-occurs with a bestseller), while
    * |A∩B| / |A∪B| normalizes by both items' audiences and surfaces
    * genuinely coupled items. Same basket-capped distinct (user, item)
    * frame and per-user pair join as the co-occurrence operator (the
    * cap bounds the pair explode at maxBasket² per user); item
    * supports join in with one row per item (AQE/broadcast); Jaccard
    * is the exact integer ratio co/(sa+sb−co) rounded once, and the
    * per-item top-N is a WindowGroupLimit ranking — no global sort.
    */
  def itemJaccard(spark: SparkSession, dir: String, topN: Int = 5,
                  minCo: Long = 2L, maxBasket: Int = 500): DataFrame = {
    // shared build-once engagement artifact (see Graph.engagementArtifacts)
    val capped = Graph.engagementArtifacts(spark, dir, maxBasket)._1
    val supp = capped.groupBy(col("item_id")).agg(count(lit(1)).as("supp"))
    val pairs = capped
      .join(capped.select(col("user_id"), col("item_id").as("rec_item_id")), Seq("user_id"))
      .where(col("item_id") =!= col("rec_item_id"))
      .groupBy(col("item_id"), col("rec_item_id"))
      .agg(count(lit(1)).as("co"))
      .where(col("co") >= minCo)
    val scored = pairs
      .join(supp.select(col("item_id"), col("supp").as("supp_a")), Seq("item_id"))
      .join(supp.select(col("item_id").as("rec_item_id"), col("supp").as("supp_b")), Seq("rec_item_id"))
      .select(col("item_id"), col("rec_item_id"), col("co"),
        round(col("co") / (col("supp_a") + col("supp_b") - col("co")), 5).as("jaccard"))
    val w = Window.partitionBy(col("item_id"))
      .orderBy(col("jaccard").desc, col("rec_item_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= topN)
      .orderBy(col("item_id"), col("rk"))
  }

  /** PMI item-association matrix — the word2vec-SGNS-factorized object
    * (Levy & Goldberg 2014: SGNS implicitly factorizes the shifted PMI
    * matrix), built from user co-engagement: PMI(a,b) =
    * ln(co·N / (sa·sb)) over the capped distinct (user, item) baskets,
    * where N is the number of capped users. Jaccard
    * ([[itemJaccard]]) normalizes by audience SIZE; PMI normalizes by
    * audience INDEPENDENCE — it surfaces pairs that co-occur more than
    * popularity alone predicts, the statistical footing for "bought
    * together". Every count is exact BIGINT from the same bounded pair
    * join as [[itemCooccurrence]] (maxBasket² cap per user); supports
    * and the 1-row N broadcast join in; ln is the single float op,
    * rounded once. Per-item top-N via WindowGroupLimit.
    */
  def itemPmi(spark: SparkSession, dir: String, topN: Int = 5,
              minCo: Long = 2L, maxBasket: Int = 500): DataFrame = {
    // shared build-once engagement artifact (see Graph.engagementArtifacts)
    val capped = graft.sources.ScratchCache.materialize(
      Graph.engagementArtifacts(spark, dir, maxBasket)._1)
    val nUsers = capped.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val supp = capped.groupBy(col("item_id")).agg(count(lit(1)).as("supp"))
    val pairs = capped
      .join(capped.select(col("user_id"), col("item_id").as("rec_item_id")), Seq("user_id"))
      .where(col("item_id") =!= col("rec_item_id"))
      .groupBy(col("item_id"), col("rec_item_id"))
      .agg(count(lit(1)).as("co"))
      .where(col("co") >= minCo)
    val scored = pairs
      .join(supp.select(col("item_id"), col("supp").as("supp_a")), Seq("item_id"))
      .join(supp.select(col("item_id").as("rec_item_id"), col("supp").as("supp_b")), Seq("rec_item_id"))
      .crossJoin(broadcast(nUsers))
      .select(col("item_id"), col("rec_item_id"), col("co"),
        round(log(col("co") * col("n_users") /
          (col("supp_a") * col("supp_b")).cast("double")), 5).as("pmi"))
    val w = Window.partitionBy(col("item_id"))
      .orderBy(col("pmi").desc, col("rec_item_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= topN)
      .orderBy(col("item_id"), col("rk"))
  }

  /** Weekly-seasonality load profile: events per (type, day-of-week,
    * hour-of-day) plus each cell's share of the type's total — the
    * 7×24 heat-grid that capacity planning and the anomaly baseline's
    * period term read. Calendar keys are pure integer arithmetic on
    * epoch ms (`dow = (day + 3) mod 7`, Monday = 0 — 1970-01-01 was a
    * Thursday; `hod = hour mod 24`) — no timezone/calendar surface to
    * drift cross-engine. One map-side-combined aggregate over a
    * |types|×168-cell key space; the share normalizes in a window over
    * that bounded frame, never the stream.
    */
  def eventsSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(col("event_type"),
        ((expr("ts_ms div 86400000") + 3) % 7).as("dow"),
        (expr("ts_ms div 3600000") % 24).as("hod"))
      .groupBy(col("event_type"), col("dow"), col("hod"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type"))
    cells
      .withColumn("share", round(col("n_events") / sum(col("n_events")).over(w), 5))
      .orderBy(col("event_type"), col("dow"), col("hod"))
  }

  /** User-lifecycle growth accounting (the Reforge/"growth accounting"
    * state machine): per epoch week, actives split into NEW (first
    * week ever), RETAINED (also active the prior week), RESURRECTED
    * (returning after a gap), plus CHURNED (active the prior week,
    * absent this one) — the four flows whose sum explains every DAU
    * delta; [[dailyActive]] gives levels, this gives the flows.
    * Everything derives from ONE distinct (user, week) frame
    * (ScratchCache'd): first-seen is a per-user min, prior-week
    * presence is a self-equi-join on (user, week−1) — integer keys,
    * gaps drop out — and churn is the anti-join counted into the week
    * the user went missing. Output is |weeks| rows; the event log is
    * scanned once.
    */
  def userLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val weekMs = 604800000L
    val d = graft.sources.ScratchCache.materialize(
      Tables.events(spark, dir)
        .select(col("user_id"), expr(s"ts_ms div $weekMs").as("week"))
        .distinct())
    val first = d.groupBy(col("user_id")).agg(min(col("week")).as("first_week"))
    val withPrev = d.join(first, Seq("user_id"))
      .join(d.select(col("user_id"), (col("week") + 1).as("week"), lit(1).as("had_prev")),
        Seq("user_id", "week"), "left_outer")
    val flows = withPrev.groupBy(col("week"))
      .agg(count(lit(1)).as("n_active"),
        count(when(col("week") === col("first_week"), 1)).as("n_new"),
        count(when(col("week") =!= col("first_week") && col("had_prev").isNotNull, 1))
          .as("n_retained"),
        count(when(col("week") =!= col("first_week") && col("had_prev").isNull, 1))
          .as("n_resurrected"))
    val churned = d.alias("a")
      .join(d.alias("b"),
        col("a.user_id") === col("b.user_id") && col("b.week") === col("a.week") + 1,
        "left_anti")
      .groupBy((col("week") + 1).as("week"))
      .agg(count(lit(1)).as("n_churned"))
    flows.join(churned, Seq("week"), "left_outer")
      .withColumn("n_churned", coalesce(col("n_churned"), lit(0L)))
      .select((col("week") * weekMs).as("week_ms"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"), col("n_churned"))
      .orderBy(col("week_ms"))
  }

  /** A/B experiment readout: Welch's unequal-variance t-test on
    * per-user purchase revenue between two deterministic variants
    * (`user_id mod 2` — the replayable stand-in for an assignment
    * column; swap the variant expression when the log carries one).
    * Money is summed in EXACT integer cents (`round(value·100)` per
    * event), so the per-variant moments (n, Σx, Σx²) are
    * order-independent BIGINTs and the whole stream reduces in one
    * map-side-combined pass; sample variance, t, and the
    * Welch–Satterthwaite df convert to double only in the final
    * 1-row expression (Σx² of cents² stays under 2^63 to ~10^8 users
    * at this value scale). Output: one row — the dashboard number.
    */
  def experimentTtest(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .where(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("variant", col("user_id") % 2)
    def m(v: Int, c: Column) = sum(when(col("variant") === v, c))
    val mom = perUser.agg(
      count(when(col("variant") === 0, 1)).as("n_a"),
      count(when(col("variant") === 1, 1)).as("n_b"),
      coalesce(m(0, col("cents")), lit(0L)).as("sx_a"),
      coalesce(m(1, col("cents")), lit(0L)).as("sx_b"),
      coalesce(m(0, col("cents") * col("cents")), lit(0L)).as("sxx_a"),
      coalesce(m(1, col("cents") * col("cents")), lit(0L)).as("sxx_b"))
    // sample variances in dollars²: var = (Σx² − (Σx)²/n) / (n−1) / 100²
    // ((Σx)² in double — the BIGINT square would overflow first)
    def va(sx: Column, sxx: Column, n: Column): Column =
      (sxx.cast("double") - sx.cast("double") * sx.cast("double") / n) /
        (n - 1) / lit(10000.0)
    mom.select(col("n_a"), col("n_b"),
        (col("sx_a") / lit(100.0) / col("n_a")).as("mu_a"),
        (col("sx_b") / lit(100.0) / col("n_b")).as("mu_b"),
        (va(col("sx_a"), col("sxx_a"), col("n_a")) / col("n_a")).as("se2_a"),
        (va(col("sx_b"), col("sxx_b"), col("n_b")) / col("n_b")).as("se2_b"))
      .select(col("n_a"), col("n_b"),
        round(col("mu_a"), 5).as("mean_a"), round(col("mu_b"), 5).as("mean_b"),
        round((col("mu_a") - col("mu_b")) / sqrt(col("se2_a") + col("se2_b")), 5)
          .as("t_stat"),
        round((col("se2_a") + col("se2_b")) * (col("se2_a") + col("se2_b")) /
          (col("se2_a") * col("se2_a") / (col("n_a") - 1) +
            col("se2_b") * col("se2_b") / (col("n_b") - 1)), 3).as("df"))
  }

  /** Cohort-LTV triangle: users grouped by their FIRST-seen epoch week
    * (the signup proxy), purchase revenue laid out by cohort age in
    * weeks, with the running revenue-per-cohort-user — the "how much
    * is a week-W user worth after A weeks" curve every growth model
    * fits, and the longitudinal refinement of [[userLtv]]'s flat
    * totals. Money sums in exact integer cents ([[experimentTtest]]'s
    * convention); the cumulative window runs per cohort over the
    * bounded |weeks|²/2 triangle, never the stream. One events scan:
    * first-seen is a per-user min over the distinct (user, week)
    * frame, revenue a (user, week) rollup, both joined user-keyed.
    */
  def userCohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val weekMs = 604800000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"ts_ms div $weekMs").as("week"),
        col("event_type"), col("value"))
    val first = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort"))
    val rev = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("week"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    val sizes = first.groupBy(col("cohort")).agg(count(lit(1)).as("n_users"))
    val tri = rev.join(first, Seq("user_id"))
      .groupBy(col("cohort"), (col("week") - col("cohort")).as("age_weeks"))
      .agg(sum(col("cents")).as("cents"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("age_weeks"))
      .rowsBetween(Window.unboundedPreceding, 0)
    tri.join(sizes, Seq("cohort"))
      .withColumn("cum_cents", sum(col("cents")).over(w))
      .select((col("cohort") * weekMs).as("cohort_week_ms"), col("age_weeks"),
        col("n_users"),
        round(col("cents") / lit(100.0), 2).as("revenue"),
        round(col("cum_cents") / lit(100.0) / col("n_users"), 5).as("cum_ltv_per_user"))
      .orderBy(col("cohort_week_ms"), col("age_weeks"))
  }

  /** Event-type audience overlap: user-set Jaccard for every ordered
    * type pair — "do the people who click also purchase", the
    * cross-sell / funnel-independence matrix. One distinct
    * (user, type) frame self-joined on user (|types|-bounded fan-out
    * per user — no cap needed), supports joined in one row per type;
    * the Jaccard is the exact integer ratio rounded once. Output is
    * |types|² rows.
    */
  def eventsTypeOverlap(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.ScratchCache.materialize(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_type")).distinct())
    val supp = d.groupBy(col("event_type")).agg(count(lit(1)).as("supp"))
    d.join(d.select(col("user_id"), col("event_type").as("type_b")), Seq("user_id"))
      .where(col("event_type") < col("type_b"))
      .groupBy(col("event_type").as("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(supp.select(col("event_type").as("type_a"), col("supp").as("supp_a")), Seq("type_a"))
      .join(supp.select(col("event_type").as("type_b"), col("supp").as("supp_b")), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("supp_a"), col("supp_b"), col("n_both"),
        round(col("n_both") / (col("supp_a") + col("supp_b") - col("n_both")), 5)
          .as("jaccard"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Discrete Kaplan–Meier survival for repeat purchase: per whole-day
    * gap d since a user's FIRST purchase, the risk set (users still
    * unconverted and uncensored entering day d), second-purchase
    * events at d, right-censoring at d (one-purchase users exit at
    * their last observed day — ignoring censoring would bias the
    * curve down), the hazard e/r, and the KM survivor
    * Π(1−hazard) — "how long until a customer repeats", the number
    * behind win-back timing. All counts are exact integers built from
    * two bounded day histograms with cumulative windows over the
    * |days| frame; the survivor product is exp(Σ ln(1−h)) over that
    * same frame — float only in the last two expressions. One events
    * scan.
    */
  def eventsSurvival(spark: SparkSession, dir: String): DataFrame = {
    val dayMs = 86400000L
    val p = Tables.events(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ms"))
    val maxTs = p.agg(max(col("ts_ms")).as("max_ts"))
    val byUser = p.groupBy(col("user_id"))
      .agg(min(col("ts_ms")).as("t1"), count(lit(1)).as("n"))
    val second = p.join(byUser.where(col("n") >= 2), Seq("user_id"))
      .where(col("ts_ms") > col("t1"))
      .groupBy(col("user_id"), col("t1")).agg(min(col("ts_ms")).as("t2"))
    val eventDays = second
      .select(expr(s"(t2 - t1) div $dayMs").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("e"))
    val censorDays = byUser.where(col("n") === 1)
      .crossJoin(broadcast(maxTs))
      .select(expr(s"(max_ts - t1) div $dayMs").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val total = byUser.agg(count(lit(1)).as("n_total"))
    val days = eventDays.join(censorDays, Seq("day"), "full_outer")
      .select(col("day"), coalesce(col("e"), lit(0L)).as("e"),
        coalesce(col("c"), lit(0L)).as("c"))
    val wPrev = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    days.crossJoin(broadcast(total))
      // risk set entering day d: everyone not yet converted/censored
      .withColumn("r", col("n_total") - coalesce(sum(col("e") + col("c")).over(wPrev), lit(0L)))
      .withColumn("hazard", round(col("e") / col("r"), 5))
      // an absorbing day (e = r: every remaining user converts) is
      // necessarily the LAST row — guard it explicitly, because
      // ln(0) errors in DuckDB and nulls (≠ −∞) in Spark
      .withColumn("term",
        when(col("e") < col("r"), log(lit(1.0) - col("e") / col("r"))))
      .withColumn("survival",
        when(col("e") === col("r"), lit(0.0))
          .otherwise(round(exp(sum(col("term")).over(wCum)), 5)))
      .select(col("day"), col("r").as("n_risk"), col("e").as("n_repeat"),
        col("c").as("n_censored"), col("hazard"), col("survival"))
      .orderBy(col("day"))
  }

  /** Linear multi-touch attribution: each purchase's revenue splits
    * EQUALLY across the items the user viewed in the preceding
    * `lookbackDays` — the fairness-baseline model between
    * [[firstTouchConversion]] (all credit to the first touch) and
    * last-touch; per item the attributed revenue is what merchandising
    * reads as "this item's influence". Money in exact cents; the
    * per-purchase touch count is a window over the matched touches
    * (never the stream). Each touch's share is floored to exact
    * integer MICRO-cents (`cents·10⁴ div n_touch`) so the per-item
    * sum is BIGINT — a double sum of the fractions is summation-
    * order-sensitive and a 19.205-style boundary value rounds
    * differently per engine (caught by the sf0.001 sweep); the
    * ≤10⁻⁴-cent-per-touch floor bias is far below the 2-decimal
    * output rounding.
    * Purchases with no qualifying view carry no attributable signal
    * and drop out (documented, standard for position-free models).
    * Scale shape: a user-keyed interval join (the
    * [[eventsAsOf]]/band-join family) whose per-user volume is
    * views(u)·purchases(u) — QUADRATIC in one user's activity, so
    * users above `maxViews` item-views OR `maxPurchases` purchases
    * are dropped before the join (the [[itemCooccurrence]] bot-cap
    * convention, applied to BOTH join sides: the zipf scale point
    * measured 7.3× skew cost with no cap, and its hot "users" carry
    * ~850 views AND ~750 purchases — bots pay all of the quadratic
    * cost and carry none of the signal). Then one window keyed by
    * purchase id, one item-keyed aggregate.
    */
  def attributionLinear(spark: SparkSession, dir: String, lookbackDays: Int = 7,
                        maxViews: Int = 1000, maxPurchases: Int = 100): DataFrame = {
    val lookMs = lookbackDays * 86400000L
    val v0 = Tables.events(spark, dir)
      .where(col("event_type") === "view")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item_id"),
        col("ts_ms").as("v_ts"))
      .where(col("item_id").isNotNull)
    val p0 = Tables.events(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts_ms").as("p_ts"),
        round(col("value") * 100).cast("long").as("cents"))
    val human = v0.groupBy(col("user_id")).agg(count(lit(1)).as("nv"))
      .join(p0.groupBy(col("user_id")).agg(count(lit(1)).as("np")), Seq("user_id"), "full_outer")
      .where(coalesce(col("nv"), lit(0L)) <= maxViews &&
        coalesce(col("np"), lit(0L)) <= maxPurchases)
      .select(col("user_id"))
    val v = v0.join(human, Seq("user_id"), "left_semi")
    val p = p0.join(human, Seq("user_id"), "left_semi")
    val matched = p.join(v, p("user_id") === v("user_id") &&
        col("v_ts") < col("p_ts") && col("v_ts") >= col("p_ts") - lookMs)
      .select(col("p_id"), col("item_id"), col("cents"))
    val wp = Window.partitionBy(col("p_id"))
    matched
      .withColumn("n_touch", count(lit(1)).over(wp))
      .groupBy(col("item_id"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("p_id")).as("n_purchases"),
        // each touch's share in exact integer MICRO-cents (floor) so
        // the sum is BIGINT, and the 2-decimal rounding is integer
        // half-up on that sum — Spark's round(double) goes through
        // the shortest-decimal string while DuckDB rounds the binary
        // value, so a x.xx5 boundary (exact here: micro-cents have 6
        // decimals) flips between engines (caught at sf0.001)
        (expr("(sum((cents * 10000) div n_touch) + 5000) div 10000") / 100.0)
          .as("attributed_revenue"))
      .orderBy(col("item_id"))
  }

  /** Markov removal-effect attribution (Anderl et al. 2014 — the
    * data-driven upgrade of [[attributionLinear]]'s position-free
    * split): model user journeys as a first-order Markov chain over
    * event-type states with `purchase` absorbing, and credit each
    * channel by its REMOVAL EFFECT — how much conversion probability
    * disappears when journeys through that channel are cut. Journeys
    * restart after each purchase; a user's final non-purchase event
    * absorbs into null (loss). Channel shares are the normalized
    * integer mass deltas, and attributed revenue splits the exact
    * purchase-cents total by integer floor division — every number
    * from transition count to attributed cents is BIGINT arithmetic
    * (2³⁰-scaled probabilities, `mass·p div SCALE` hops, `rounds`
    * fixed propagation rounds), so the oracle unrolls the identical
    * chain.
    *
    * Scale shape: the 100 TB work is ONE windowed pass extracting
    * transitions (user-keyed lag window, map-side-combined counts);
    * the chain itself is a |channels|²-cell matrix — a bounded driver
    * artifact by construction (event-type vocabularies are enums, not
    * data-scale) — solved exactly on the driver like the IVF
    * centroid probe ranking. Output is |channels| rows.
    */
  def attributionMarkov(spark: SparkSession, dir: String,
                        rounds: Int = 12): DataFrame = {
    import spark.implicits._
    val Scale = 1L << 30
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .withColumn("rn", row_number().over(w))
    // pair transitions (a purchase hands off to a fresh start),
    // plus start -> first event, plus last non-purchase -> null
    val trans = ev.where(col("to_type").isNotNull)
      .select(when(col("event_type") === "purchase", lit("start"))
        .otherwise(col("event_type")).as("s"), col("to_type").as("t"))
      .unionAll(ev.where(col("rn") === 1)
        .select(lit("start").as("s"), col("event_type").as("t")))
      .unionAll(ev.where(col("to_type").isNull && col("event_type") =!= "purchase")
        .select(col("event_type").as("s"), lit("null").as("t")))
      .groupBy(col("s"), col("t")).agg(count(lit(1)).as("n"))
    val cents = Tables.events(spark, dir)
      .where(col("event_type") === "purchase")
      .agg(coalesce(sum(round(col("value") * 100).cast("long")), lit(0L)))
      .head.getLong(0)
    val c = trans.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // channels = the observed non-absorbing states — hardcoding an
    // enum here would silently drop transition mass for any event
    // type outside it
    val channels = c.keysIterator
      .flatMap { case (s, t) => Iterator(s, t) }
      .filterNot(x => x == "start" || x == "purchase" || x == "null")
      .toSeq.distinct.sorted
    val rowTot = c.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    def p(s: String, t: String): Long = {
      val tot = rowTot.getOrElse(s, 0L)
      if (tot == 0) 0L else c.getOrElse((s, t), 0L) * Scale / tot
    }
    def convMass(removed: Option[String]): Long = {
      val live = channels.filterNot(removed.contains)
      var mass: Map[String, Long] = Map("start" -> Scale)
      var conv = 0L
      for (_ <- 1 to rounds) {
        conv += mass.map { case (s, m) => m * p(s, "purchase") / Scale }.sum
        mass = live.map { t =>
          t -> mass.map { case (s, m) => m * p(s, t) / Scale }.sum
        }.toMap.filter(_._2 > 0)
      }
      conv
    }
    val base = convMass(None)
    val effects = channels.map(ch => ch -> math.max(base - convMass(Some(ch)), 0L))
    val effTot = effects.map(_._2).sum
    effects.map { case (ch, eff) =>
      (ch, r5(base.toDouble / Scale), r5((base - eff).toDouble / Scale),
        if (base == 0) 0.0 else r5(eff.toDouble / base),
        (if (effTot == 0) 0L else cents * eff / effTot) / 100.0)
    }.toDF("channel", "p_conv", "p_conv_without", "removal_effect",
      "attributed_revenue")
      .orderBy(col("channel"))
  }

  /** Peak-load sizing table: the distribution of per-MINUTE event
    * rates per type (mean / p50 / p95 / p99 / max) — the number that
    * sizes stream executors and alert thresholds, where
    * [[hourlyRollup]] averages the bursts away. One map-side-combined
    * (type, minute) rollup; the percentiles run over that bounded
    * |types|×|minutes| frame with the exact interpolated `percentile`
    * (`approx_percentile` is the 100 TB drop-in, wired by
    * [[Scale.pct]] under `spark.graft.scale.approx=true`, same as
    * [[intereventGaps]]); mean is an exact-integer division rounded
    * once.
    */
  def eventsPeakLoad(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), expr("ts_ms div 60000").as("minute"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_minutes"),
        sum(col("n")).as("n_events"),
        round(Scale.pct(spark, "n", "0.5D"), 3).as("p50_per_min"),
        round(Scale.pct(spark, "n", "0.95D"), 3).as("p95_per_min"),
        round(Scale.pct(spark, "n", "0.99D"), 3).as("p99_per_min"),
        max(col("n")).as("max_per_min"))
      .withColumn("mean_per_min", round(col("n_events") / col("n_minutes"), 3))
      .orderBy(col("event_type"))

  /** Discount-lift table: average line quantity per discount level and
    * its lift over the zero-discount baseline — the first-order "does
    * discounting move volume" read a pricing team pulls from the
    * order history (TPC-H Q6 asks the revenue version; this asks the
    * behavioral one). Discount levels are the exact cent values
    * already in the data (`round(l_discount·100)` — no float keys);
    * quantities sum as exact integers; the averages and lift divide
    * once at the end. One lineitem scan, |discount levels| rows, the
    * 1-row baseline broadcast back.
    */
  def discountLift(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(round(col("l_discount") * 100).cast("long").as("discount_pct"),
        col("l_quantity"))
    val per = l.groupBy(col("discount_pct"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
    val base = per.where(col("discount_pct") === 0)
      .select((col("sum_qty") / col("n_lines")).as("base_avg"))
    per.crossJoin(broadcast(base))
      .select(col("discount_pct"), col("n_lines"),
        round(col("sum_qty") / col("n_lines"), 5).as("avg_qty"),
        round(col("sum_qty") / col("n_lines") / col("base_avg"), 5).as("lift_vs_no_discount"))
      .orderBy(col("discount_pct"))
  }
}
