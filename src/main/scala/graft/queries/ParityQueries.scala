package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** Reference-parity query surface over the driver's TESTDATA tables.
  *
  * One [[QuerySpec]] per operator family from SURVEY.md §2 (IDs in the
  * names). Each query carries the ANSI SQL oracle that DuckDB runs on
  * the same parquet — so every query follows the determinism policy:
  *   - explicit total-order `ORDER BY` in both engines,
  *   - aggregate doubles summed as exact decimals, rounded, cast double
  *     (see [[graft.operators.Summaries.exactSum]]),
  *   - integer outputs as long, timestamps emitted as formatted strings,
  *   - no `current_timestamp`/`now` — as-of dates are injected literals.
  */
object ParityQueries {

  private def q(sfDir: String)(name: String)(implicit s: SparkSession) =
    Tables.read(s, sfDir, name)

  // Shared decimal-exact helpers
  private val decSum = (c: String, sc: Int) =>
    s"CAST(round(sum(CAST($c AS DECIMAL(38,6))),$sc) AS DOUBLE)"

  /** Sink dir for the round-trip queries (s5/s9/s14/s15): FIXED per
    * (tag, data dir) — a fresh temp dir per invocation would leak one
    * full export per bench/verify run — but keyed on the sf dir so a
    * verify at sf0.01 and a bench at sf0.1 running concurrently on one
    * host can never overwrite each other's files mid-read (VERDICT r3
    * item 5). Single-writer per (tag, sfDir) remains the expectation. */
  private[queries] def sinkDir(tag: String, sfDir: String): String = {
    val key = java.lang.Integer.toHexString(
      java.nio.file.Paths.get(sfDir).toAbsolutePath.normalize.toString.hashCode)
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_sink_$key"
  }

  val specs: Seq[QuerySpec] = Seq(

    // S7 + P1 — parquet scan with pruned projection + pushed filter
    // (SURVEY.md S7/P1; reference scan+project data_loader.py:50,92-112).
    QuerySpec("s7_scan_pruned", (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    }, oracle = Some(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-01-01'
        |ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin)),

    // S3/S4 — JSON field extraction + epoch-ms conversion
    // (reference nested-JSON flatten data_loader.py:166-218).
    QuerySpec("s3_json_epoch", (s, d) => {
      Tables.events(s, d)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          unix_millis(col("ts")).as("ts_ms"))
        .orderBy(col("event_id"))
        .limit(200)
    }, oracle = Some(
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |epoch_ms(ts) AS ts_ms FROM events ORDER BY event_id LIMIT 200""".stripMargin)),

    // P2/P3/P4 — rename, bulk prefix, literal tag column
    // (data_loader.py:86; data_merger.py:100-111; data_cleaner.py:197).
    QuerySpec("p_rename_prefix_literal", (s, d) => {
      val pre = RowOps.prefixColumns(
        Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal"),
        "api_", keep = Set("c_custkey"))
      pre.withColumn("data_source", lit("customer_snapshot"))
        .orderBy(col("c_custkey"))
        .limit(500)
    }, oracle = Some(
      """SELECT c_custkey, c_name AS api_c_name, c_acctbal AS api_c_acctbal,
        |'customer_snapshot' AS data_source FROM customer
        |ORDER BY c_custkey LIMIT 500""".stripMargin)),

    // P5 — the §3.2 cached DASHBOARD SESSION, driver-visible (VERDICT
    // r13 item 7): the reference loads once, memoizes the frame
    // (@st.cache_data, streamlit_app.py:46) and serves every
    // interactive tab from the cache. Board form: the committed OWID
    // fixture through the s1 reader, persisted via
    // CovidPipeline.cachedDashboard, with ONE tab — latest row per
    // country above a case threshold (W3 over the cache) — as the
    // returned plan: everything above the cache boundary reads
    // InMemoryTableScan (fingerprint-pinned). The two-tab sharing
    // assertion (second tab scans the cache, not the sources) stays in
    // PipelineSpec; the oracle verifies this tab's VALUES off the same
    // fixture bytes.
    QuerySpec("p_dashboard_session", (s, _) => {
      // the session caches the dashboard's PROJECTED frame (the
      // reference's load_data returns a processed df, not raw bytes) —
      // deliberately not plan-equal to s1's full-schema read, so the
      // CacheManager never substitutes this cache into s1's plan
      val session = graft.pipeline.CovidPipeline.cachedDashboard(
        graft.sources.CovidSources.readOwidCsv(
            s, s"${graft.sources.CovidSources.fixturesDir}/owid_sample.csv")
          .select(col("country"), col("iso_code"), col("date"),
            col("total_cases"), col("total_deaths"), col("population")))
      graft.operators.WindowOps.latestPerGroup(session, "country",
          orderCols = Seq(col("date")), lastNonNullCols = Nil)
        .filter(col("total_cases") > 55000.0)
        .select(col("country"), col("iso_code"),
          date_format(col("date"), "yyyy-MM-dd").as("dt"),
          col("total_cases"), col("total_deaths"), col("population"))
        .orderBy(col("country"))
    }, oracle = Some(
      // Same fixture bytes as the Spark reader (the s1 contract); latest
      // row per country = row_number over date DESC (date is unique per
      // country in the fixture — the Spark side's total order).
      s"""WITH o AS (
        |  SELECT * FROM read_csv('${graft.sources.CovidSources.fixturesDir}/owid_sample.csv', header=true,
        |    columns={'iso_code':'VARCHAR','country':'VARCHAR','date':'DATE',
        |      'total_cases':'DOUBLE','new_cases':'DOUBLE','total_deaths':'DOUBLE',
        |      'new_deaths':'DOUBLE','total_tests':'DOUBLE','positive_rate':'DOUBLE',
        |      'tests_per_case':'DOUBLE','people_vaccinated':'DOUBLE',
        |      'people_fully_vaccinated':'DOUBLE','total_vaccinations':'DOUBLE',
        |      'population':'DOUBLE','new_tests':'DOUBLE'})
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY country ORDER BY "date" DESC) AS rn
        |  FROM o)
        |SELECT country, iso_code, strftime("date", '%Y-%m-%d') AS dt,
        |  total_cases, total_deaths, population
        |FROM r WHERE rn = 1 AND total_cases > 55000.0
        |ORDER BY country""".stripMargin)),

    // F1/F2 — NOT-IN literal exclusion lists (data_loader.py:114-116).
    QuerySpec("f_isin_exclude", (s, d) => {
      RowOps.excludeValues(Tables.nation(s, d), col("n_name"),
          Seq("NATION_1", "NATION_3", "NATION_5"))
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
        .orderBy(col("n_nationkey"))
    }, oracle = Some(
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name FROM nation
        |WHERE n_name NOT IN ('NATION_1','NATION_3','NATION_5')
        |ORDER BY n_nationkey""".stripMargin)),

    // F3 — negated case-insensitive regex, NULL-keeping (data_cleaner.py:73-77).
    QuerySpec("f_regex_exclude", (s, d) => {
      RowOps.excludeRegex(Tables.part(s, d), col("p_name"), "(?i)(cold|small)")
        .select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey"))
        .limit(500)
    }, oracle = Some(
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT COALESCE(regexp_matches(p_name, '(?i)(cold|small)'), false)
        |ORDER BY p_partkey LIMIT 500""".stripMargin)),

    // F4 — trailing-window date cutoff via broadcast scalar (data_merger.py:137-142).
    QuerySpec("f_date_cutoff", (s, d) => {
      RowOps.lastNDays(Tables.lineitem(s, d), "l_shipdate", 30)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"), Summaries.exactSum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }, oracle = Some(
      s"""SELECT l_returnflag, count(*) AS cnt, ${decSum("l_quantity", 2)} AS sum_qty
         |FROM lineitem
         |WHERE l_shipdate >= (SELECT max(l_shipdate) - INTERVAL 30 DAY FROM lineitem)
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // F6/F7/F8 — parameterized threshold + IN-list + substring search
    // (streamlit_app.py:521-531, :162, :637-639).
    QuerySpec("f_param_filters", (s, d) => {
      Tables.customer(s, d)
        .filter(col("c_acctbal") >= 5000 &&
          col("c_mktsegment").isin("FURNITURE", "BUILDING") &&
          RowOps.searchContains(col("c_name"), "001"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }, oracle = Some(
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        |WHERE c_acctbal >= 5000 AND c_mktsegment IN ('FURNITURE','BUILDING')
        |AND lower(c_name) LIKE '%001%' ORDER BY c_custkey""".stripMargin)),

    // F9/X11 — abs-threshold filter (visualizer.py:145-156).
    QuerySpec("f_abs_threshold", (s, d) => {
      Tables.lineitem(s, d)
        .filter(abs(col("l_quantity") - 25) > 20)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .limit(1000)
    }, oracle = Some(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity
        |FROM lineitem WHERE abs(l_quantity - 25) > 20
        |ORDER BY l_orderkey, l_linenumber LIMIT 1000""".stripMargin)),

    // X1/J4 — dictionary map with identity fallback as broadcast join
    // (data_cleaner.py:41-51).
    QuerySpec("x1_map_fallback", (s, d) => {
      Standardize.standardize(Tables.nation(s, d), "n_name",
          Map("NATION_0" -> "ALPHA", "NATION_1" -> "BETA", "NATION_2" -> "GAMMA"),
          "name_std")
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("name_std"))
        .orderBy(col("n_nationkey"))
    }, oracle = Some(
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |COALESCE(m.mapped, n_name) AS name_std
        |FROM nation LEFT JOIN (VALUES ('NATION_0','ALPHA'),('NATION_1','BETA'),
        |('NATION_2','GAMMA')) AS m(orig, mapped) ON n_name = m.orig
        |ORDER BY n_nationkey""".stripMargin)),

    // X2/X13 — date cast/format + display-string ops
    // (data_loader.py:89; streamlit_app.py:255).
    QuerySpec("x_date_string_ops", (s, d) => {
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM").as("order_month"),
          upper(regexp_replace(col("o_orderpriority"), "-", " ")).as("priority_disp"))
        .orderBy(col("o_orderkey"))
        .limit(1000)
    }, oracle = Some(
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS order_month,
        |upper(replace(o_orderpriority, '-', ' ')) AS priority_disp
        |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin)),

    // X3/X4/X10 — clip-at-zero preserving NULLs, null-fill, rounding
    // (data_cleaner.py:190,224-228; SURVEY.md §7.5.3).
    QuerySpec("x_clip_fill_round", (s, d) => {
      Tables.lineitem(s, d)
        .withColumn("dev",
          when(col("l_returnflag") === "N", lit(null).cast("double"))
            .otherwise(col("l_quantity") - 25))
        .withColumn("clipped", RowOps.clipNonNegative(col("dev")))
        .withColumn("filled", coalesce(col("clipped"), lit(-1.0)))
        .withColumn("rounded", round(col("l_extendedprice") / 7, 2))
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("clipped"), col("filled"), col("rounded"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .limit(1000)
    }, oracle = Some(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |CASE WHEN dev < 0 THEN 0 ELSE dev END AS clipped,
        |COALESCE(CASE WHEN dev < 0 THEN 0 ELSE dev END, -1.0) AS filled,
        |round(l_extendedprice / 7, 2) AS rounded
        |FROM (SELECT *, CASE WHEN l_returnflag = 'N' THEN NULL
        |ELSE l_quantity - 25 END AS dev FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber LIMIT 1000""".stripMargin)),

    // X14 — per-group winsorization (percentile clip): the robust-
    // statistics outlier treatment a feature pipeline applies before
    // aggregation. The clip bounds ride the SAME single hash exchange
    // as the final aggregate (Summaries.attachPercentiles — window-agg
    // form of the sortedPercentiles rank arithmetic; r14 opt round: the
    // old bounds-pass + broadcast-join-back shape scanned lineitem
    // TWICE and paid 3 exchanges where one suffices, guide §2.4), the
    // clip is a map pass, and the winsorized sum uses the decimal-exact
    // policy. `percentile` and DuckDB `quantile_cont` share the (n-1)·p
    // interpolation in double (proven by w20), so the clip bounds — and
    // therefore boundary comparisons — are identical.
    QuerySpec("x14_winsorize", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice").as("x"))
      Summaries.attachPercentiles(li, Seq("l_returnflag"),
          col("x"), Seq("p05" -> 0.05, "p95" -> 0.95))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          count(when(col("x") < col("p05"), 1)).as("n_clipped_low"),
          count(when(col("x") > col("p95"), 1)).as("n_clipped_high"),
          sum(greatest(col("p05"), least(col("p95"), col("x")))
            .cast("decimal(38,6)")).as("wsum"))
        .select(col("l_returnflag"), col("n"), col("n_clipped_low"),
          col("n_clipped_high"),
          round(col("wsum"), 2).cast("double").as("winsorized_sum"))
        .orderBy(col("l_returnflag"))
    }, oracle = Some(
      """WITH pct AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS p05,
        |    quantile_cont(l_extendedprice, 0.95) AS p95
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l.l_returnflag, count(*) AS n,
        |  count(CASE WHEN l_extendedprice < p05 THEN 1 END) AS n_clipped_low,
        |  count(CASE WHEN l_extendedprice > p95 THEN 1 END) AS n_clipped_high,
        |  CAST(round(sum(CAST(greatest(p05, least(p95, l_extendedprice))
        |    AS DECIMAL(38,6))), 2) AS DOUBLE) AS winsorized_sum
        |FROM lineitem l JOIN pct USING (l_returnflag)
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin)),

    // X16 — robust (median/MAD) outlier scoring: the scale- and
    // offset-free outlier treatment for heavy-tailed metrics
    // (Iglewicz–Hoaglin modified z-score 0.6745·(x−med)/MAD, flag
    // |z| > 3.5 — W11's fixed-threshold cousin that needs no tuned
    // cutoff). ONE exchange, ONE scan (r14 opt round): median and MAD
    // attach per row as window aggregates over the same group
    // partitioning (Summaries.robustOutliers — the MAD pass is a
    // re-sort of the same partitions, not a new exchange) and the flag
    // profile reuses the partitioning; the data never sorts globally.
    // `percentile` ≡ `quantile_cont` (proven by w20), so med/MAD — and
    // every comparison against them — are engine-identical doubles.
    QuerySpec("x16_robust_outliers", (s, d) => {
      Summaries.robustOutliers(
          Tables.lineitem(s, d)
            .select(col("l_returnflag"), col("l_extendedprice").as("x")),
          "l_returnflag", "x")
        .orderBy(col("l_returnflag"))
    }, oracle = Some(
      """WITH li AS (
        |  SELECT l_returnflag, l_extendedprice AS x FROM lineitem
        |), med AS (
        |  SELECT l_returnflag, quantile_cont(x, 0.5) AS med
        |  FROM li GROUP BY l_returnflag
        |), wm AS (
        |  SELECT li.l_returnflag, x, med FROM li JOIN med USING (l_returnflag)
        |), mad AS (
        |  SELECT l_returnflag, quantile_cont(abs(x - med), 0.5) AS mad
        |  FROM wm GROUP BY l_returnflag
        |)
        |SELECT wm.l_returnflag, count(*) AS n,
        |  count(CASE WHEN abs(0.6745 * (x - med) / mad) > 3.5 THEN 1 END)
        |    AS n_outliers,
        |  max(med) AS med, max(mad) AS mad
        |FROM wm JOIN mad USING (l_returnflag)
        |GROUP BY wm.l_returnflag ORDER BY wm.l_returnflag""".stripMargin)),

    // X5/X6/X7/X12 — derived ratio metrics with divide-by-zero guards
    // (data_cleaner.py:231-247; data_merger.py:315-348).
    QuerySpec("x_derived_ratios", (s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          Summaries.exactSum(col("l_extendedprice")).as("gross"),
          Summaries.exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("net"),
          Summaries.exactSum(col("l_tax")).as("sum_tax"),
          Summaries.exactSum(col("l_quantity")).as("sum_qty"))
        .withColumn("gap", round(col("gross") - col("net"), 2))
        .withColumn("gap_pct",
          when(col("gross") > 0, round((col("gross") - col("net")) / col("gross") * 100, 2))
            .otherwise(lit(0.0)))
        .withColumn("tax_per_qty",
          when(col("sum_qty") > 0, round(col("sum_tax") / col("sum_qty") * 100, 3))
            .otherwise(lit(0.0)))
        .orderBy(col("l_returnflag"))
    }, oracle = Some(
      s"""SELECT l_returnflag, gross, net, sum_tax, sum_qty,
         |round(gross - net, 2) AS gap,
         |CASE WHEN gross > 0 THEN round((gross - net) / gross * 100, 2)
         |ELSE 0.0 END AS gap_pct,
         |CASE WHEN sum_qty > 0 THEN round(sum_tax / sum_qty * 100, 3)
         |ELSE 0.0 END AS tax_per_qty
         |FROM (SELECT l_returnflag,
         |${decSum("l_extendedprice", 2)} AS gross,
         |CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))),2) AS DOUBLE) AS net,
         |${decSum("l_tax", 2)} AS sum_tax,
         |${decSum("l_quantity", 2)} AS sum_qty
         |FROM lineitem GROUP BY l_returnflag)
         |ORDER BY l_returnflag""".stripMargin)),

    // X8 — data-age-in-days against an injected as-of date
    // (data_merger.py:288-295; determinism per SURVEY.md §7.5.4).
    QuerySpec("x8_data_age", (s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
            .cast("long").as("age_days"))
        .orderBy(col("o_orderkey"))
        .limit(1000)
    }, oracle = Some(
      """SELECT o_orderkey,
        |date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS age_days
        |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin)),

    // W1 — forward-fill per group over an ordered window
    // (data_cleaner.py:174-185).
    QuerySpec("w1_ffill", (s, d) => {
      val withNulls = Tables.events(s, d)
        .withColumn("v",
          when(col("event_type") === "click", lit(null).cast("double"))
            .otherwise(col("value")))
      WindowOps.forwardFill(withNulls, "user_id", Seq("ts", "event_id"), Seq("v"))
        .select(col("event_id"), col("user_id"), round(col("v"), 2).as("v_filled"))
        .orderBy(col("event_id"))
        .limit(2000)
    }, oracle = Some(
      """SELECT event_id, user_id, round(last_value(v IGNORE NULLS) OVER (
        |PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS v_filled
        |FROM (SELECT *, CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
        |FROM events) ORDER BY event_id LIMIT 2000""".stripMargin)),

    // W2 — lag-diff per group (data_cleaner.py:188-194).
    QuerySpec("w2_lag_diff", (s, d) => {
      WindowOps.lagDiff(Tables.events(s, d), "user_id", Seq("ts", "event_id"),
          "value", "delta")
        .select(col("event_id"), col("user_id"), round(col("delta"), 2).as("delta"))
        .orderBy(col("event_id"))
        .limit(2000)
    }, oracle = Some(
      """SELECT event_id, user_id, round(value - lag(value) OVER (
        |PARTITION BY user_id ORDER BY epoch_us(ts), event_id), 2) AS delta
        |FROM events ORDER BY event_id LIMIT 2000""".stripMargin)),

    // W3 — latest-per-group temporal alignment (data_merger.py:67-119).
    QuerySpec("w3_latest_per_group", (s, d) => {
      WindowOps.latestPerGroup(Tables.orders(s, d), "o_custkey",
          orderCols = Seq(col("o_orderdate"), col("o_orderkey")),
          lastNonNullCols = Nil)
        .select(
          col("o_custkey"),
          col("o_orderkey").as("latest_orderkey"),
          col("o_totalprice").as("latest_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("latest_date"))
        .orderBy(col("o_custkey"))
    }, oracle = Some(
      """SELECT o_custkey, o_orderkey AS latest_orderkey,
        |o_totalprice AS latest_totalprice,
        |strftime(o_orderdate, '%Y-%m-%d') AS latest_date
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    // W4 — trailing-window trend metrics per group (data_merger.py:122-223).
    QuerySpec("w4_trend_metrics", (s, d) => {
      WindowOps.trendMetrics(Tables.orders(s, d),
          partCol = "o_custkey", dateCol = "o_orderdate",
          tieBreak = Seq(col("o_orderkey")),
          firstLastCols = Seq("o_totalprice"), avgCols = Seq("o_totalprice"),
          windowDays = 365)
        .select(
          col("o_custkey"),
          col("first_o_totalprice").as("first_totalprice"),
          col("last_o_totalprice").as("last_totalprice"),
          col("avg_o_totalprice").as("avg_totalprice"),
          RowOps.percentChange(col("first_o_totalprice"), col("last_o_totalprice"))
            .as("pct_change"),
          date_format(col("window_start"), "yyyy-MM-dd").as("window_start"),
          date_format(col("window_end"), "yyyy-MM-dd").as("window_end"),
          col("data_points_available"))
        .orderBy(col("o_custkey"))
    }, oracle = Some(
      s"""WITH windowed AS (
         |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
         |    first_value(o_totalprice) OVER (PARTITION BY o_custkey
         |      ORDER BY o_orderdate, o_orderkey) AS fp,
         |    last_value(o_totalprice) OVER (PARTITION BY o_custkey
         |      ORDER BY o_orderdate, o_orderkey
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lp
         |  FROM orders
         |  WHERE o_orderdate >= (SELECT max(o_orderdate) - INTERVAL 365 DAY FROM orders)
         |), g AS (
         |  SELECT o_custkey, COALESCE(min(fp), 0.0) AS first_totalprice,
         |    COALESCE(min(lp), 0.0) AS last_totalprice,
         |    COALESCE(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
         |      / count(o_totalprice), 0.0) AS avg_raw,
         |    strftime(min(o_orderdate), '%Y-%m-%d') AS window_start,
         |    strftime(max(o_orderdate), '%Y-%m-%d') AS window_end,
         |    count(*) AS data_points_available
         |  FROM windowed GROUP BY o_custkey HAVING count(*) >= 2
         |)
         |SELECT o_custkey, first_totalprice, last_totalprice,
         |  avg_raw AS avg_totalprice,
         |  CASE WHEN first_totalprice > 0 THEN
         |    round((last_totalprice - first_totalprice) / first_totalprice * 100, 2)
         |  ELSE 0.0 END AS pct_change,
         |  window_start, window_end, data_points_available
         |FROM g ORDER BY o_custkey""".stripMargin)),

    // W5 — global top-k via TakeOrderedAndProject (data_merger.py:406-411).
    QuerySpec("w5_topk", (s, d) => {
      WindowOps.topK(Tables.orders(s, d),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), 15)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }, oracle = Some(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin)),

    // W6 — grouped aggregate stats incl. exact median (SURVEY.md W6).
    // The builtin `median` is the RIGHT exact form here: its partial
    // state is O(distinct values) per group, and l_quantity has ~50
    // distinct integers — a fixed-size map, combinable, one pass with
    // the other aggregates. Unbounded-cardinality metrics use
    // Summaries.sortedPercentiles instead (see x14/x16/w15b).
    QuerySpec("w6_group_aggregates", (s, d) => {
      val li = Tables.lineitem(s, d)
      // countDistinct is SEPARATED from the exact median on purpose:
      // mixed in one agg, Spark's distinct rewrite keys the first-level
      // aggregate by (flag, status, partkey) and drags the percentile's
      // OBJECT buffer through every partkey group (~|parts| OpenHashMaps
      // merged pairwise — measured 2.2× the split form). Split, each
      // path is the plan you'd want: the median aggregates straight to
      // output grain, the distinct count is a codegen'd two-level
      // count, and they meet in a broadcast join of two 4-row frames.
      val base = li
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Summaries.exactSum(col("l_quantity")).as("sum_qty"),
          Summaries.exactSum(col("l_extendedprice")).as("sum_price"),
          Summaries.exactAvg(col("l_quantity")).as("avg_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          count(lit(1)).as("cnt"),
          median(col("l_quantity")).as("median_qty"))
      val dist = li
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(countDistinct(col("l_partkey")).as("distinct_parts"))
      base.join(broadcast(dist), Seq("l_returnflag", "l_linestatus"))
        .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
          col("sum_price"), col("avg_qty"), col("min_qty"),
          col("max_qty"), col("cnt"), col("distinct_parts"),
          col("median_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, oracle = Some(
      s"""SELECT l_returnflag, l_linestatus,
         |${decSum("l_quantity", 2)} AS sum_qty,
         |${decSum("l_extendedprice", 2)} AS sum_price,
         |CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
         |  / count(l_quantity) AS avg_qty,
         |min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
         |count(*) AS cnt, count(DISTINCT l_partkey) AS distinct_parts,
         |CAST(median(l_quantity) AS DOUBLE) AS median_qty
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // W7 — conditional counts (visualizer.py:279-315; data_merger.py:394-401).
    QuerySpec("w7_conditional_counts", (s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(when(col("l_quantity") > 45, lit(1))).as("high_qty"),
          count(when(col("l_quantity") < 5, lit(1))).as("low_qty"),
          count(when(col("l_discount") === 0, lit(1))).as("zero_discount"),
          count(when(col("l_extendedprice") > 50000, lit(1))).as("big_ticket"))
        .orderBy(col("l_returnflag"))
    }, oracle = Some(
      """SELECT l_returnflag,
        |count(CASE WHEN l_quantity > 45 THEN 1 END) AS high_qty,
        |count(CASE WHEN l_quantity < 5 THEN 1 END) AS low_qty,
        |count(CASE WHEN l_discount = 0 THEN 1 END) AS zero_discount,
        |count(CASE WHEN l_extendedprice > 50000 THEN 1 END) AS big_ticket
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // W8 — Pearson correlation via exact moments (visualizer.py:401-404;
    // order-stable form per SURVEY.md §7.5.5).
    QuerySpec("w8_correlation", (s, d) => {
      Summaries.pearson(Tables.lineitem(s, d), Seq(col("l_returnflag")),
          col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_returnflag"))
    }, oracle = Some(
      """SELECT l_returnflag,
        |round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |  AS corr_xy
        |FROM (SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
        |  CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) AS syy
        |FROM lineitem
        |WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin)),

    // W9/W10 — per-column missing-data profile in one pass
    // (data_cleaner.py:110-122; data_merger.py:378-392).
    QuerySpec("w9_missing_profile", (s, d) => {
      // the driver tables are fully dense, so profiling raw columns
      // yields all-zero null counts — the null-accounting logic would
      // be oracle-dead. Inject the missingness shapes the reference
      // actually profiles (sparse metadata, periodic gaps) with
      // deterministic rules both engines replay; `text`/`n_chars` stay
      // raw as the zero-null control rows.
      val docs = Tables.documents(s, d)
        .withColumn("opt_lang",
          when(col("lang") === "en", lit(null).cast("string"))
            .otherwise(col("lang")))
        .withColumn("sparse_chars",
          when(col("doc_id") % 7 === 0, lit(null).cast("long"))
            .otherwise(col("n_chars")))
      Summaries.missingProfile(docs,
          Seq("text", "opt_lang", "sparse_chars", "n_chars"))
        .orderBy(col("column_name"))
    }, oracle = Some(
      """WITH docs AS (
        |  SELECT text, n_chars,
        |    CASE WHEN lang = 'en' THEN NULL ELSE lang END AS opt_lang,
        |    CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END AS sparse_chars
        |  FROM documents
        |)
        |SELECT column_name, total_rows, null_count,
        |round(null_count * 100.0 / total_rows, 2) AS null_percent FROM (
        |SELECT 'text' AS column_name, count(*) AS total_rows,
        |  count(*) - count(text) AS null_count FROM docs
        |UNION ALL SELECT 'opt_lang', count(*), count(*) - count(opt_lang) FROM docs
        |UNION ALL SELECT 'sparse_chars', count(*), count(*) - count(sparse_chars)
        |  FROM docs
        |UNION ALL SELECT 'n_chars', count(*), count(*) - count(n_chars) FROM docs
        |) ORDER BY column_name""".stripMargin)),

    // W11 — outlier counts against fixed thresholds (data_cleaner.py:125-128).
    QuerySpec("w11_outlier_count", (s, d) => {
      Tables.customer(s, d).agg(
        count(when(col("c_acctbal") < 100, lit(1))).as("n_low"),
        count(when(col("c_acctbal") > 9900, lit(1))).as("n_high"),
        count(lit(1)).as("n_total"))
    }, oracle = Some(
      """SELECT count(CASE WHEN c_acctbal < 100 THEN 1 END) AS n_low,
        |count(CASE WHEN c_acctbal > 9900 THEN 1 END) AS n_high,
        |count(*) AS n_total FROM customer""".stripMargin)),

    // W12 — histogram binning as a relational groupBy (visualizer.py:266-272).
    QuerySpec("w12_histogram", (s, d) => {
      Summaries.histogram(Tables.lineitem(s, d), col("l_quantity"),
          minVal = 1.0, width = 5.0)
        .orderBy(col("bin"))
    }, oracle = Some(
      """SELECT CAST(floor((l_quantity - 1.0) / 5.0) AS BIGINT) AS bin,
        |count(*) AS count FROM lineitem WHERE l_quantity IS NOT NULL
        |GROUP BY 1 ORDER BY bin""".stripMargin)),

    // J1 — full-outer presence/mapping table (data_merger.py:29-64).
    QuerySpec("j1_presence_fullouter", (s, d) => {
      Joins.presenceTable(
          Tables.orders(s, d).filter(col("o_orderstatus") === "F"), "o_custkey",
          Tables.customer(s, d).filter(col("c_acctbal") > 5000), "c_custkey",
          "custkey")
        .orderBy(col("custkey"))
    }, oracle = Some(
      """SELECT COALESCE(l.k, r.k) AS custkey,
        |l.k IS NOT NULL AS in_left, r.k IS NOT NULL AS in_right,
        |(l.k IS NOT NULL AND r.k IS NOT NULL) AS can_merge
        |FROM (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F') l
        |FULL OUTER JOIN (SELECT DISTINCT c_custkey AS k FROM customer
        |WHERE c_acctbal > 5000) r ON l.k = r.k
        |ORDER BY custkey""".stripMargin)),

    // J2 — multi-way inner equi-join (merge J2 data_merger.py:256-262,
    // demonstrated at scale as the star join per SURVEY.md §2.F).
    QuerySpec("j2_multiway_join", (s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = broadcast(Tables.nation(s, d))
      val r = broadcast(Tables.region(s, d))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          Summaries.exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"),
          count(lit(1)).as("n_lineitems"))
        .orderBy(col("r_name"), col("n_name"))
    }, oracle = Some(
      """SELECT r_name, n_name,
        |CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))),2) AS DOUBLE) AS revenue,
        |count(*) AS n_lineitems
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    // J3 — left enrichment join (data_merger.py:266).
    QuerySpec("j3_left_join", (s, d) => {
      val stats = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("order_count"),
          Summaries.exactSum(col("o_totalprice")).as("total_spent"))
      Tables.customer(s, d)
        .join(stats, col("c_custkey") === col("o_custkey"), "left")
        .select(
          col("c_custkey"), col("c_name"),
          coalesce(col("order_count"), lit(0L)).as("order_count"),
          coalesce(col("total_spent"), lit(0.0)).as("total_spent"))
        .orderBy(col("c_custkey"))
    }, oracle = Some(
      s"""SELECT c_custkey, c_name, COALESCE(order_count, 0) AS order_count,
         |COALESCE(total_spent, 0.0) AS total_spent
         |FROM customer LEFT JOIN (SELECT o_custkey, count(*) AS order_count,
         |${decSum("o_totalprice", 2)} AS total_spent FROM orders GROUP BY o_custkey) s
         |ON c_custkey = s.o_custkey ORDER BY c_custkey""".stripMargin)),

    // J5 — key-set membership diagnostics (data_loader.py:221-256).
    QuerySpec("j5_set_membership", (s, d) => {
      Joins.keySetDiagnostics(
          Tables.customer(s, d), "c_custkey",
          Tables.orders(s, d).filter(col("o_orderstatus") === "O"), "o_custkey",
          "custkey")
        .orderBy(col("custkey"))
    }, oracle = Some(
      """SELECT COALESCE(l.k, r.k) AS custkey,
        |CASE WHEN l.k IS NOT NULL AND r.k IS NOT NULL THEN 'both'
        |WHEN l.k IS NOT NULL THEN 'left_only' ELSE 'right_only' END AS membership
        |FROM (SELECT DISTINCT c_custkey AS k FROM customer) l
        |FULL OUTER JOIN (SELECT DISTINCT o_custkey AS k FROM orders
        |WHERE o_orderstatus = 'O') r ON l.k = r.k
        |ORDER BY custkey""".stripMargin)),

    // O3 — distinct + multi-key sort (SURVEY.md §2.G).
    QuerySpec("o3_distinct_sort", (s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, oracle = Some(
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // J6 — as-of join (operator Spark lacks; composed as union +
    // ordered-window ffill per SURVEY §7.1 preference (a); oracled
    // against DuckDB's native ASOF JOIN).
    QuerySpec("j6_asof_join", (s, d) => {
      // dedupe right side to one row per (custkey, day) so the asof
      // match is deterministic
      val perDay = Tables.orders(s, d)
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("o_custkey"), col("o_orderdate"))
            .orderBy(col("o_orderkey").desc)))
        .filter(col("__rn") === 1).drop("__rn")
        .select(col("o_custkey").as("user_id"), col("o_orderdate"),
          col("o_orderkey"), col("o_totalprice"))
      val events = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"))
      Joins.asOfJoin(events, perDay, "user_id",
          leftTime = "ts", rightTime = "o_orderdate",
          payloadCols = Seq("o_orderkey", "o_totalprice"))
        .select(col("event_id"), col("user_id"),
          col("o_orderkey").as("matched_orderkey"),
          col("o_totalprice").as("matched_totalprice"))
        .orderBy(col("event_id"))
        .limit(2000)
    }, oracle = Some(
      """WITH per_day AS (
        |  SELECT o_custkey AS user_id, o_orderdate, o_orderkey, o_totalprice
        |  FROM (SELECT *, row_number() OVER (
        |    PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1
        |)
        |SELECT e.event_id, e.user_id, r.o_orderkey AS matched_orderkey,
        |  r.o_totalprice AS matched_totalprice
        |FROM events e ASOF JOIN per_day r
        |  ON e.user_id = r.user_id AND e.ts >= r.o_orderdate
        |ORDER BY e.event_id LIMIT 2000""".stripMargin)),

    // W16 — window ranking (rank per group, top-3).
    QuerySpec("w16_rank", (s, d) => {
      Tables.orders(s, d)
        .withColumn("rnk", rank().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("o_custkey"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("rnk").cast("long").as("rnk"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rnk"), col("o_orderkey"))
    }, oracle = Some(
      """SELECT o_custkey, CAST(rnk AS BIGINT) AS rnk, o_orderkey, o_totalprice
        |FROM (SELECT *, rank() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey) AS rnk FROM orders)
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk, o_orderkey""".stripMargin)),

    // W17 — custom heap-based top-k Aggregator: same semantics as the
    // rank form, but the partial aggregate carries <=k values per group
    // per partition (no per-group sort/spill on wide groups).
    QuerySpec("w17_topk_agg", (s, d) => {
      val topk = udaf(new graft.functions.TopKAggregator(3))
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(topk(col("l_extendedprice")).as("tk"))
        .select(col("l_returnflag"), posexplode(col("tk")))
        .select(col("l_returnflag"), (col("pos") + 1).cast("long").as("rnk"),
          col("col").as("value"))
        .orderBy(col("l_returnflag"), col("rnk"))
    }, oracle = Some(
      """SELECT l_returnflag, CAST(rn AS BIGINT) AS rnk, l_extendedprice AS value
        |FROM (SELECT l_returnflag, l_extendedprice, row_number() OVER (
        |  PARTITION BY l_returnflag ORDER BY l_extendedprice DESC) AS rn
        |FROM lineitem) WHERE rn <= 3
        |ORDER BY l_returnflag, rnk""".stripMargin)),

    // O5 — explicit set operators (intersect/except on key frames,
    // SURVEY §2.G; the relational form of the reference's Python-set
    // algebra, data_loader.py:236-242).
    QuerySpec("o5_intersect_except", (s, d) => {
      val fCusts = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey")).distinct()
      val oCusts = Tables.orders(s, d).filter(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("custkey")).distinct()
      fCusts.intersect(oCusts).withColumn("setop", lit("both_status"))
        .unionByName(
          fCusts.except(oCusts).withColumn("setop", lit("f_only")))
        .orderBy(col("custkey"), col("setop"))
    }, oracle = Some(
      """SELECT custkey, 'both_status' AS setop FROM (
        |  SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |  INTERSECT
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |UNION ALL
        |SELECT custkey, 'f_only' AS setop FROM (
        |  SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |  EXCEPT
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |ORDER BY custkey, setop""".stripMargin)),

    // W18 — running total over an ordered window (cumulative per key).
    QuerySpec("w18_running_total", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.orders(s, d)
        .withColumn("running_spend",
          round(sum(col("o_totalprice").cast("decimal(38,6)")).over(w), 2)
            .cast("double"))
        .select(col("o_orderkey"), col("o_custkey"), col("running_spend"))
        .orderBy(col("o_orderkey"))
        .limit(2000)
    }, oracle = Some(
      """SELECT o_orderkey, o_custkey,
        |CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
        |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
        |  AS running_spend
        |FROM orders ORDER BY o_orderkey LIMIT 2000""".stripMargin)),

    // J7 — semi/anti joins (EXISTS / NOT EXISTS surface).
    QuerySpec("j7_semi_anti", (s, d) => {
      val f = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"))
      val c = Tables.customer(s, d)
      val semi = c.join(f, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_f_order").as("tag"))
      val anti = c.join(f, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_f_order").as("tag"))
      semi.unionByName(anti).orderBy(col("c_custkey"), col("tag"))
    }, oracle = Some(
      """SELECT c_custkey, 'has_f_order' AS tag FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |UNION ALL
        |SELECT c_custkey, 'no_f_order' AS tag FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey, tag""".stripMargin)),

    // S1 — driver-checked CSV scan: parse the committed reference-shaped
    // OWID fixture with the declared schema (reference: HTTP fetch +
    // pd.read_csv, data_loader.py:32-69). The oracle parses the SAME
    // bytes with DuckDB read_csv, so header handling, NULL-as-empty and
    // double/date coercion are all verified, not just assumed.
    QuerySpec("s1_csv_scan", (s, _) => {
      graft.sources.CovidSources.readOwidCsv(
          s, s"${graft.sources.CovidSources.fixturesDir}/owid_sample.csv")
        .select(col("iso_code"), col("country"),
          date_format(col("date"), "yyyy-MM-dd").as("dt"),
          col("total_cases"), col("new_cases"), col("total_tests"),
          col("population"))
        .orderBy(col("country"), col("dt"))
    }, oracle = Some(
      // Parses the SAME committed fixture bytes as the Spark reader — the
      // path interpolates from CovidSources.fixturesDir so a
      // GRAFT_FIXTURES_DIR override moves BOTH engines together.
      s"""SELECT iso_code, country, strftime("date", '%Y-%m-%d') AS dt,
        |  total_cases, new_cases, total_tests, population
        |FROM read_csv('${graft.sources.CovidSources.fixturesDir}/owid_sample.csv', header=true,
        |  columns={'iso_code':'VARCHAR','country':'VARCHAR','date':'DATE',
        |    'total_cases':'DOUBLE','new_cases':'DOUBLE','total_deaths':'DOUBLE',
        |    'new_deaths':'DOUBLE','total_tests':'DOUBLE','positive_rate':'DOUBLE',
        |    'tests_per_case':'DOUBLE','people_vaccinated':'DOUBLE',
        |    'people_fully_vaccinated':'DOUBLE','total_vaccinations':'DOUBLE',
        |    'population':'DOUBLE','new_tests':'DOUBLE'})
        |ORDER BY country, dt""".stripMargin)),

    // S2 (+S3/S4 on a real file source) — multiline nested-JSON scan,
    // struct flatten, epoch-ms conversion against the committed
    // disease.sh-shaped array fixture (data_loader.py:124-218). Covers
    // NULL struct fields and a row with the struct entirely absent.
    QuerySpec("s2_json_scan", (s, _) => {
      graft.sources.CovidSources.flattenDiseaseSh(
          graft.sources.CovidSources.readDiseaseShJson(
            s, s"${graft.sources.CovidSources.fixturesDir}/disease_sh_sample.json"))
        .select(col("country"), col("iso_code"), col("iso2_code"),
          col("country_id"), col("latitude"), col("longitude"),
          col("population"), col("current_cases"), col("current_deaths"),
          col("current_recovered"), col("tests_total"), col("today_cases"),
          date_format(col("last_updated"), "yyyy-MM-dd HH:mm:ss")
            .as("last_updated"))
        .orderBy(col("country"))
    }, oracle = Some(
      s"""SELECT country, countryInfo.iso3 AS iso_code, countryInfo.iso2 AS iso2_code,
        |  countryInfo._id AS country_id, countryInfo.lat AS latitude,
        |  countryInfo."long" AS longitude, population, cases AS current_cases,
        |  deaths AS current_deaths, recovered AS current_recovered,
        |  tests AS tests_total, todayCases AS today_cases,
        |  strftime(epoch_ms(updated), '%Y-%m-%d %H:%M:%S') AS last_updated
        |FROM read_json('${graft.sources.CovidSources.fixturesDir}/disease_sh_sample.json', format='array',
        |  columns={'country':'VARCHAR',
        |    'countryInfo':'STRUCT(_id BIGINT, iso2 VARCHAR, iso3 VARCHAR, lat DOUBLE, "long" DOUBLE, flag VARCHAR)',
        |    'population':'BIGINT','cases':'BIGINT','deaths':'BIGINT',
        |    'recovered':'BIGINT','active':'BIGINT','critical':'BIGINT',
        |    'casesPerOneMillion':'DOUBLE','deathsPerOneMillion':'DOUBLE',
        |    'tests':'BIGINT','testsPerOneMillion':'DOUBLE','todayCases':'BIGINT',
        |    'todayDeaths':'BIGINT','todayRecovered':'BIGINT','updated':'BIGINT'})
        |ORDER BY country""".stripMargin)),

    // S5 — CSV sink round-trip: export customer as a header CSV
    // (reference df.to_csv download, streamlit_app.py:651-657), read the
    // WRITTEN BYTES back with the declared schema, verify against the
    // parquet source of truth via the oracle. Proves long/double/string
    // values survive the write+parse cycle bit-exactly.
    QuerySpec("s5_csv_roundtrip", (s, d) => {
      // fixed-per-sfDir path + overwrite mode (see sinkDir: no per-run
      // leak, no cross-run clobber)
      val out = sinkDir("s5", d)
      Tables.exportCsv(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment")), out)
      s.read.option("header", "true")
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("c_custkey",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("c_name",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("c_acctbal",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("c_mktsegment",
            org.apache.spark.sql.types.StringType))))
        .csv(out)
        .orderBy(col("c_custkey"))
        .limit(500)
    }, oracle = Some(
      // Round-trip check: the Spark side re-reads its own CSV export; the
      // oracle is the untouched parquet source of truth.
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        |ORDER BY c_custkey LIMIT 500""".stripMargin)),

    // S14 — ORC source/sink round-trip: the second columnar format in
    // Spark's builtin set (a lakehouse engine needs parquet AND ORC on
    // both sides of the fence). Write a supplier projection as ORC,
    // read the WRITTEN BYTES back; the oracle is the untouched parquet
    // source of truth, so long/double/string fidelity across the
    // write+read cycle is what gets hash-verified (the s5 CSV-sink
    // pattern, columnar edition).
    QuerySpec("s14_orc_roundtrip", (s, d) => {
      val out = sinkDir("s14", d)
      Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy(col("s_suppkey"))
    }, oracle = Some(
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |ORDER BY s_suppkey""".stripMargin)),

    // S16 — JSON-lines SINK round-trip (completes the sink matrix:
    // CSV s5, parquet s9, ORC s14, JSON here — the interchange format
    // of every labeling/annotation pipeline). Write a customer
    // projection as JSON lines, read the WRITTEN BYTES back with the
    // declared schema; the oracle is the untouched parquet source of
    // truth, so long/double/string fidelity through the JSON
    // serialize+parse cycle is what gets hash-verified (doubles ride
    // Jackson's shortest-round-trip representation — bit-exact back).
    QuerySpec("s16_json_roundtrip", (s, d) => {
      val out = sinkDir("s16", d)
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment"))
        .write.mode("overwrite").json(out)
      s.read.schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("c_custkey",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("c_name",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("c_acctbal",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("c_mktsegment",
            org.apache.spark.sql.types.StringType))))
        .json(out)
        .orderBy(col("c_custkey"))
    }, oracle = Some(
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        |ORDER BY c_custkey""".stripMargin)),

    // S17 — raw TEXT source/sink round-trip (the rawest corpus format —
    // one document per line, the classic web-scrape/LM-corpus layout).
    // Write the document text as text files, read the WRITTEN BYTES
    // back; the oracle is the untouched parquet source. Line order is
    // file-dependent, so both sides order by the line value — the
    // corpus is newline-free and fully distinct (verified at both SFs),
    // which makes the hash fully discriminating.
    QuerySpec("s17_text_roundtrip", (s, d) => {
      val out = sinkDir("s17", d)
      Tables.documents(s, d).select(col("text"))
        .write.mode("overwrite").text(out)
      s.read.text(out).orderBy(col("value"))
    }, oracle = Some(
      """SELECT text AS value FROM documents ORDER BY value""".stripMargin)),

    // S15 — small-files compaction round-trip (the driver-checked twin
    // of ScaleSpec's compaction test; VERDICT r3 item 8): fragment an
    // orders projection into 32 shard files (a micro-batch sink's
    // layout), Tables.compact it to 2 files (narrow coalesce, no
    // shuffle), read the COMPACTED BYTES back. Oracle = the untouched
    // parquet source of truth, so row fidelity across the
    // fragment→compact→read cycle is what gets hash-verified; the file
    // counts and the in-place/nested-path guards are asserted in
    // ScaleSpec (a value oracle can't see layout).
    QuerySpec("s15_compaction", (s, d) => {
      val frag = sinkDir("s15_frag", d)
      val out = sinkDir("s15", d)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .repartition(32)
        .write.mode("overwrite").parquet(frag)
      Tables.compact(s, frag, out, targetFiles = 2)
      Tables.parquet(s, out).orderBy(col("o_orderkey"))
    }, oracle = Some(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // S9 — partitioned parquet SINK round-trip: write events partitioned
    // by day (the 100 TB layout — partition pruning is the first-order
    // scale lever), read the written files back with a single-partition
    // filter, verify values against the untouched source via the oracle.
    // The read-back scan prunes to one directory (PartitionFilters;
    // shape asserted in PartitionPruningSpec).
    QuerySpec("s9_partitioned_sink", (s, d) => {
      // fixed-per-sfDir path + overwrite mode (see sinkDir)
      val out = sinkDir("s9", d)
      Tables.events(s, d)
        .withColumn("day", to_date(col("ts")))
        .write.partitionBy("day").mode("overwrite").parquet(out)
      Tables.parquet(s, out)
        .filter(col("day") === lit("2024-01-05").cast("date"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), date_format(col("day"), "yyyy-MM-dd").as("day"))
        .orderBy(col("event_id"))
    }, oracle = Some(
      """SELECT event_id, user_id, event_type, value,
        |  strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05'
        |ORDER BY event_id""".stripMargin)),

    // S12 — bucketed-table join: both sides written bucketBy(8, custkey)
    // + sortBy into the session catalog, then joined with ZERO exchange
    // (PlanSpec asserts no ShuffleExchange) — the write-time-shuffle
    // layout that amortizes a recurring join's shuffle across every
    // downstream consumer at 100 TB. Oracle = the plain join.
    QuerySpec("s12_bucketed_join", (s, d) => {
      graft.sources.Bucketing.bucketedCustomerOrders(s, d)
        .orderBy(col("c_custkey"), col("o_orderkey"))
    }, oracle = Some(
      """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin)),

    // W24 — the composed integration report
    // (generate_integration_summary, data_merger.py:368-419): source
    // match-rate completeness, quality-flag counts, decimal-exact average
    // gap, and the top-10 largest-gap name list, assembled into ONE
    // artifact row. Each ingredient is a previously-oracled operator
    // class (w9 counts, w7 conditional flags, w5 top-k); this verifies
    // their composition. The top-10 list is order-canonicalized via
    // array_sort over (−gap, key) structs so collect_list's partition
    // arrival order can never leak into the artifact.
    QuerySpec("w24_integration_report", (s, d) => {
      val spend = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(Summaries.exactSum(col("o_totalprice")).as("total_spend"),
          count(lit(1)).as("n_orders"))
      // both report branches (summary agg, top-10 gap list) read the
      // joined frame — materialize it once instead of running the
      // orders aggregate + customer join twice
      val merged = Tables.customer(s, d)
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .withColumn("spend_gap", col("total_spend") - col("c_acctbal"))
        .localCheckpoint(eager = false)
      val summary = merged.agg(
        count(lit(1)).as("total_customers"),
        count(col("n_orders")).as("matched_customers"),
        (lit(100.0) * count(col("n_orders")) / count(lit(1)))
          .as("match_rate_pct"),
        count(when(col("c_acctbal") < 0, lit(1)))
          .as("negative_balance_flags"),
        count(when(col("spend_gap") > 200000, lit(1)))
          .as("large_gap_flags"),
        Summaries.exactAvg(col("spend_gap")).as("avg_spend_gap"))
      val top10 = merged.filter(col("spend_gap").isNotNull)
        .orderBy(col("spend_gap").desc, col("c_custkey"))
        .limit(10)
        .agg(array_join(transform(
          array_sort(collect_list(struct(
            (-col("spend_gap")).as("g"), col("c_custkey").as("k"),
            col("c_name").as("nm")))),
          x => x.getField("nm")), "|").as("top10_gap_customers"))
      summary.crossJoin(top10)
    }, oracle = Some(
      """WITH merged AS (
        |  SELECT c.c_custkey, c.c_name, c.c_acctbal, s.n_orders,
        |    s.total_spend - c.c_acctbal AS spend_gap
        |  FROM customer c LEFT JOIN (
        |    SELECT o_custkey, count(*) AS n_orders,
        |      CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))),2) AS DOUBLE)
        |        AS total_spend
        |    FROM orders GROUP BY o_custkey) s ON c.c_custkey = s.o_custkey
        |), summary AS (
        |  SELECT count(*) AS total_customers,
        |    count(n_orders) AS matched_customers,
        |    100.0 * count(n_orders) / count(*) AS match_rate_pct,
        |    count(CASE WHEN c_acctbal < 0 THEN 1 END) AS negative_balance_flags,
        |    count(CASE WHEN spend_gap > 200000 THEN 1 END) AS large_gap_flags,
        |    CAST(sum(CAST(spend_gap AS DECIMAL(38,6))) AS DOUBLE)
        |      / count(spend_gap) AS avg_spend_gap
        |  FROM merged
        |), top10 AS (
        |  SELECT string_agg(c_name, '|' ORDER BY spend_gap DESC, c_custkey)
        |    AS top10_gap_customers
        |  FROM (SELECT c_name, spend_gap, c_custkey FROM merged
        |    WHERE spend_gap IS NOT NULL
        |    ORDER BY spend_gap DESC, c_custkey LIMIT 10)
        |)
        |SELECT * FROM summary, top10""".stripMargin))
  )
}
