"""Publication-date extraction from page text — the freshness signal
feeding recrawl scheduling, recovered from the page BODY (most hosts
at web scale advertise no sitemap lastmod).

Reference tie-in: the reference stores release dates/years parsed from
crawled text (src/extraction/schema.py date fields) via its LLM pass;
this is the deterministic engine-side analogue for page-level dates.

Three prioritized shapes, first kind wins (priority = decreasing
precision/reliability, the heuristic trafilatura/htmldate apply):

    iso      2023-07-19
    us_long  March 5, 2021
    slash    11/23/2019          (US month/day/year)

A matched date is VALIDATED (month 1-12; day within the month, Gregorian
leap rule); an invalid match yields NULL rather than falling through —
a page whose best date-shaped string is garbage should be treated as
undated, not re-scanned for weaker shapes (documented decision, shared
by the oracle).

Everything is narrow JVM regexp + integer arithmetic inside whole-stage
codegen — no UDF, no shuffle, and the output date is an ISO STRING
(lpad-built), never an engine DATE, so any SQL engine replays it
bit-for-bit with the same two primitives (regexp_extract, CASE).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: shared RE2/Java-safe patterns (no lookaround, no named groups)
ISO_RE = r"(\d{4})-(\d{2})-(\d{2})"
US_LONG_RE = (
    r"(January|February|March|April|May|June|July|August|September|"
    r"October|November|December) (\d{1,2}), (\d{4})"
)
SLASH_RE = r"(\d{1,2})/(\d{1,2})/(\d{4})"

_MONTHS = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]


def _month_num(name: Column) -> Column:
    out = None
    for i, m in enumerate(_MONTHS, 1):
        out = F.when(name == m, i) if out is None else out.when(name == m, i)
    return out.otherwise(F.lit(None)).cast("int")


def _valid_day(y: Column, m: Column, d: Column) -> Column:
    """Gregorian validity: 1 ≤ d ≤ days-in-month(m, y)."""
    leap = ((y % 4 == 0) & ((y % 100 != 0) | (y % 400 == 0))).cast("int")
    max_day = (
        F.when(m.isin(1, 3, 5, 7, 8, 10, 12), 31)
        .when(m.isin(4, 6, 9, 11), 30)
        .when(m == 2, 28 + leap)
        .otherwise(0)
    )
    return (d >= 1) & (d <= max_day) & (m >= 1) & (m <= 12) & (y >= 1)


def _iso(y: Column, m: Column, d: Column) -> Column:
    return F.concat(
        F.lpad(y.cast("string"), 4, "0"),
        F.lit("-"),
        F.lpad(m.cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad(d.cast("string"), 2, "0"),
    )


def with_pub_date(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``pub_date`` (ISO string or NULL) and ``date_kind``
    ('iso' | 'us_long' | 'slash' | NULL): the first match of the
    highest-priority shape, validated; invalid → NULL (kind kept NULL
    too, so consumers can't mistake a rejected match for a dated
    page). One narrow Project."""
    t = F.col(text_col)
    iso_y = F.regexp_extract(t, ISO_RE, 1).cast("int")
    iso_m = F.regexp_extract(t, ISO_RE, 2).cast("int")
    iso_d = F.regexp_extract(t, ISO_RE, 3).cast("int")
    ul_m = _month_num(F.regexp_extract(t, US_LONG_RE, 1))
    ul_d = F.regexp_extract(t, US_LONG_RE, 2).cast("int")
    ul_y = F.regexp_extract(t, US_LONG_RE, 3).cast("int")
    sl_m = F.regexp_extract(t, SLASH_RE, 1).cast("int")
    sl_d = F.regexp_extract(t, SLASH_RE, 2).cast("int")
    sl_y = F.regexp_extract(t, SLASH_RE, 3).cast("int")

    has_iso = F.regexp_extract(t, ISO_RE, 0) != ""
    has_ul = F.regexp_extract(t, US_LONG_RE, 0) != ""
    has_sl = F.regexp_extract(t, SLASH_RE, 0) != ""

    pub = (
        F.when(has_iso,
               F.when(_valid_day(iso_y, iso_m, iso_d),
                      _iso(iso_y, iso_m, iso_d)))
        .when(has_ul,
              F.when(_valid_day(ul_y, ul_m, ul_d), _iso(ul_y, ul_m, ul_d)))
        .when(has_sl,
              F.when(_valid_day(sl_y, sl_m, sl_d), _iso(sl_y, sl_m, sl_d)))
    )
    kind = (
        F.when(has_iso,
               F.when(_valid_day(iso_y, iso_m, iso_d), F.lit("iso")))
        .when(has_ul,
              F.when(_valid_day(ul_y, ul_m, ul_d), F.lit("us_long")))
        .when(has_sl,
              F.when(_valid_day(sl_y, sl_m, sl_d), F.lit("slash")))
    )
    return df.withColumn("pub_date", pub).withColumn("date_kind", kind)
