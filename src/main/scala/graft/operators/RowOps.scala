package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row-level operators: projections/renames (SURVEY.md §2.B), filters
  * (§2.C) and scalar transforms (§2.D). All are single-pass,
  * codegen-friendly `Column` expressions — no UDFs, no shuffles.
  */
object RowOps {

  // ---- Projections / renames -------------------------------------------

  /** P3 — bulk prefix rename (reference data_merger.py:100-111): prefix
    * every non-key column; done as one deterministic `select` so the
    * output schema is disjoint by construction (avoids the reference's
    * `_owid_meta`/`_api_meta` suffix-collision workaround,
    * streamlit_app.py:384-399). */
  def prefixColumns(df: DataFrame, prefix: String, keep: Set[String]): DataFrame = {
    val cols = df.columns.map { c =>
      if (keep(c)) col(c) else col(c).as(prefix + c)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  // ---- Filters ---------------------------------------------------------

  /** F1/F2 — NOT-IN literal-list filter (reference data_loader.py:114-116,
    * data_cleaner.py:69). A literal `isin`, NOT a join: the exclude lists
    * are tiny constants, so this folds into the scan's pushed filters.
    * NULL handling matches pandas (NULL key rows are kept). */
  def excludeValues(df: DataFrame, c: Column, values: Seq[String]): DataFrame =
    df.filter(!coalesce(c.isin(values: _*), lit(false)))

  /** F3 — negated case-insensitive regex filter (data_cleaner.py:73-77).
    * pandas `str.contains(..., na=False)` keeps NULL names under the
    * negation; plain `!rlike` would drop them (NULL → !NULL → NULL →
    * filtered), so we coalesce the match to false first (SURVEY.md F3). */
  def excludeRegex(df: DataFrame, c: Column, pattern: String): DataFrame =
    df.filter(!coalesce(c.rlike(pattern), lit(false)))

  /** F4 — "last N days of the data" cutoff (data_merger.py:137-142).
    * Two jobs: a scalar max aggregate, then a pushed-down filter. The
    * scalar side is a 1-row broadcast cross join — no driver collect, no
    * single-partition window, scale-safe at 100 TB. */
  def lastNDays(df: DataFrame, dateCol: String, n: Int): DataFrame = {
    val maxDf = df.agg(max(col(dateCol)).as("__max_date"))
    // interval subtraction, NOT date_sub: date_sub truncates a timestamp
    // cutoff to midnight, silently widening the window by up to a day
    // for intraday data (and diverging from `max - INTERVAL n DAY` SQL)
    df.crossJoin(broadcast(maxDf))
      .filter(col(dateCol) >= col("__max_date") - expr(s"INTERVAL '$n' DAY"))
      .drop("__max_date")
  }

  /** F8 — case-insensitive substring search (streamlit_app.py:637-639). */
  def searchContains(c: Column, term: String): Column =
    lower(c).contains(term.toLowerCase)

  // ---- Scalar transforms ----------------------------------------------

  /** X3 — clip at zero PRESERVING NULLs (data_cleaner.py:190,224-228).
    * pandas `clip(lower=0)` keeps NaN; Spark `greatest(0, col)` would
    * swallow NULL → use a guard instead (SURVEY.md §7.5.3). */
  def clipNonNegative(c: Column): Column =
    when(c < 0, lit(0)).otherwise(c)

  /** X5 — per-100k rate, rounded 2 (data_cleaner.py:231-239). */
  def per100k(metric: Column, population: Column): Column =
    round(metric / population * 100000, 2)

  /** X6 — guarded ratio (CFR), rounded 3: divide-by-zero → 0
    * (data_cleaner.py:241-247). */
  def guardedRatio(num: Column, den: Column): Column =
    when(den > 0, round(num / den * 100, 3)).otherwise(lit(0.0))

  /** X7 — gap + guarded gap-percent (data_merger.py:315-329). */
  def gap(api: Column, owid: Column): Column = api - owid
  def gapPercent(api: Column, owid: Column): Column =
    when(owid > 0, round((api - owid) / owid * 100, 2)).otherwise(lit(0.0))

  /** X8 — data age in days vs an INJECTED as-of date (data_merger.py:288-295
    * uses `datetime.now()`; we take the clock as a parameter for
    * determinism — SURVEY.md §7.5.4). */
  def dataAgeDays(dateCol: Column, asOf: Column): Column =
    datediff(asOf, dateCol)

  /** X12 — guarded percent change over a window (data_merger.py:196-202). */
  def percentChange(first: Column, last: Column): Column =
    when(first > 0, round((last - first) / first * 100, 2)).otherwise(lit(0.0))
}
