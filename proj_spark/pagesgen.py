"""Deterministic Common-Crawl-style `pages` fixture, derived from the
driver's `documents` table with pure integer arithmetic + string concat so
Spark SQL and DuckDB build *byte-identical* rows (the engine's
byte-identical-text-per-url invariant, BASELINE.json input_hint, is asserted
by hashing both sides' text).

Schema (FIXTURES.md §1 == BASELINE.json input_hint, exactly): url string,
warc_ts timestamp, html binary, text string, lang string.
A deterministic mix of coordinate embeddings:
  - doc_id % 97 == 13      -> poison row (|lat| > 90, must NaN out downstream)
  - doc_id % 10 in (0,1,2) -> geo.position meta tag, clustered into 20
                              hot cities (exercises skew/salting)
  - doc_id % 10 in (3,4,5) -> ICBM meta tag, uniform coordinates
  - doc_id % 10 == 6       -> plain "location: lat, lon" text
  - doc_id % 10 == 7       -> DMS text 48d51'24"N 2d21'3"E (reference
                              src/dmstor.cpp grammar: 'd' degree marker)
  - else                   -> no coordinates
"""

from __future__ import annotations

from .session import cached_view

# integer fixed-point coordinate strings: sign || whole || '.' || lpad(frac)
# (never float-to-string formatting — engine-dependent)
_LAT_I = "(CAST((doc_id * 2654435761 + 40503) % 17000000 AS BIGINT) - 8500000)"
_LON_I = "(CAST((doc_id * 2246822519 + 10369) % 36000000 AS BIGINT) - 18000000)"
# clustered (hot-city) variant: 20 bands + small jitter
_CLAT_I = ("(CAST((doc_id * 7919) % 20 AS BIGINT) * 700000 - 7000000"
           " + CAST((doc_id * 104729) % 20000 AS BIGINT) - 10000)")
_CLON_I = ("(CAST((doc_id * 6271) % 20 AS BIGINT) * 1700000 - 17000000"
           " + CAST((doc_id * 15485863) % 20000 AS BIGINT) - 10000)")


def _fixed(int_expr: str, alias: str) -> str:
    """SQL building a fixed-point 5-decimal string from an integer 1e-5 deg."""
    a = f"ABS({int_expr})"
    return (f"(CASE WHEN {int_expr} < 0 THEN '-' ELSE '' END || "
            f"CAST(CAST(({a} - ({a} % 100000)) / 100000.0 AS BIGINT) AS BIGINT) || '.' || "
            f"lpad('' || ({a} % 100000), 5, '0')) AS {alias}")


_PAGE_COORDS_SELECT = f"""SELECT doc_id, text AS body, lang,
         {_fixed(_LAT_I, 'ulat')},
         {_fixed(_LON_I, 'ulon')},
         {_fixed(_CLAT_I, 'clat')},
         {_fixed(_CLON_I, 'clon')},
         CAST((doc_id * 7) % 90 AS BIGINT) AS latd,
         CAST((doc_id * 11) % 60 AS BIGINT) AS latm,
         CAST((doc_id * 13) % 60 AS BIGINT) AS lats,
         CAST((doc_id * 17) % 180 AS BIGINT) AS lond,
         CAST((doc_id * 19) % 60 AS BIGINT) AS lonm,
         CAST((doc_id * 23) % 60 AS BIGINT) AS lons
  FROM documents"""

# crawl epoch: seconds since 1970, spanning calendar year 2024
WARC_EPOCH0 = 1704067200  # 2024-01-01T00:00:00Z
_EPOCH_I = f"CAST({WARC_EPOCH0} + (doc_id * 2654435761) % 31536000 AS BIGINT)"

_PAGE_TEXT_SELECT = """SELECT doc_id, lang,
         body || (CASE
           WHEN doc_id % 97 = 13 THEN ' <meta name="geo.position" content="95.12345;10.00000">'
           WHEN doc_id % 10 < 3 THEN ' <meta name="geo.position" content="' || clat || ';' || clon || '">'
           WHEN doc_id % 10 < 6 THEN ' <meta name="ICBM" content="' || ulat || ', ' || ulon || '">'
           WHEN doc_id % 10 = 6 THEN ' location: ' || ulat || ', ' || ulon
           WHEN doc_id % 10 = 7 THEN ' position: '
             || latd || 'd' || latm || '''' || lats || '"'
             || (CASE WHEN doc_id % 2 = 0 THEN 'N' ELSE 'S' END) || ' '
             || lond || 'd' || lonm || '''' || lons || '"'
             || (CASE WHEN doc_id % 3 = 0 THEN 'E' ELSE 'W' END)
           ELSE '' END) AS text
  FROM {src}"""

# final assembly — EXACTLY the input_hint shape (url:string,
# warc_ts:timestamp, html:binary, text:string, lang:string). Timestamp
# construction and string->binary encoding have no engine-neutral SQL
# spelling, so the two slots are formatted per engine; the *bytes* are
# identical (html is the UTF-8 of a deterministic wrapper of text, warc_ts
# is the same integer epoch).
_HTML_STR = "'<!DOCTYPE html><html><body>' || text || '</body></html>'"
_PAGES_SELECT_T = """SELECT
         'https://crawl.example/' || lang || '/' || doc_id AS url,
         {ts} AS warc_ts,
         {html} AS html,
         text,
         lang
  FROM {src}"""

_SPARK_TS = f"timestamp_seconds({_EPOCH_I})"
_SPARK_HTML = f"CAST(({_HTML_STR}) AS BINARY)"
_DUCK_TS = f"epoch_ms({_EPOCH_I} * 1000)"
_DUCK_HTML = f"encode({_HTML_STR})"


def _pages_select(engine: str, src: str) -> str:
    ts, html = (_SPARK_TS, _SPARK_HTML) if engine == "spark" else (_DUCK_TS, _DUCK_HTML)
    return _PAGES_SELECT_T.format(ts=ts, html=html, src=src)


def _pages_cte(engine: str) -> str:
    return f"""
page_coords AS (
  {_PAGE_COORDS_SELECT}
),
page_text AS (
  {_PAGE_TEXT_SELECT.format(src='page_coords')}
),
pages AS (
  {_pages_select(engine, 'page_text')}
)
"""


# oracle flavor: every module-level oracle SQL string embeds this and runs
# under DuckDB; Spark builds the same rows via build_pages/ensure_pages_view
PAGES_CTE = _pages_cte("duckdb")

# extraction: LIKE pre-filter + regex group pull (reference analogue: the
# scan-side coordinate extraction operator; regex kept backslash-free so the
# same literal parses identically in Spark SQL and DuckDB).
# Two-stage shape (pair string first, then lat/lon from the short pair):
# the long-text regexes run ONCE per row instead of once per coordinate,
# and because `pair` is a non-cheap expression referenced twice,
# CollapseProject keeps the stages separate — the single fused projection
# used to exceed janino's 64 KB method limit and silently disabled
# whole-stage codegen for the flagship query's scan stage.
# EXTRACT_BODY reads from whatever relation is named `pages` — the inline
# synthesis CTE (EXTRACT_CTE) or a materialized pages table
# (extract_from_table_cte).
EXTRACT_BODY = """
pair_match AS (
  SELECT url, lang, warc_ts,
         CASE
           WHEN text LIKE '%geo.position%'
             THEN regexp_extract(text, 'geo[.]position" content="(-?[0-9.]+;-?[0-9.]+)"', 1)
           WHEN text LIKE '%ICBM%'
             THEN regexp_extract(text, 'ICBM" content="(-?[0-9.]+, -?[0-9.]+)"', 1)
           WHEN text LIKE '%location: %'
             THEN regexp_extract(text, 'location: (-?[0-9.]+, -?[0-9.]+)', 1)
           WHEN text LIKE '%position: %'
             THEN regexp_extract(text, 'position: ([0-9]+d[0-9]+''[0-9]+"[NS] [0-9]+d[0-9]+''[0-9]+"[EW])', 1)
           END AS pair
  FROM pages
),
extracted AS (
  SELECT url, lang, warc_ts,
         CASE WHEN pair LIKE '%"N %' OR pair LIKE '%"S %' THEN
           (CAST(regexp_extract(pair, '([0-9]+)d([0-9]+)''([0-9]+)"([NS])', 1) AS DOUBLE)
            + CAST(regexp_extract(pair, '([0-9]+)d([0-9]+)''([0-9]+)"([NS])', 2) AS DOUBLE) / 60.0
            + CAST(regexp_extract(pair, '([0-9]+)d([0-9]+)''([0-9]+)"([NS])', 3) AS DOUBLE) / 3600.0)
           * (CASE WHEN regexp_extract(pair, '([0-9]+)d([0-9]+)''([0-9]+)"([NS])', 4) = 'S'
                   THEN -1.0 ELSE 1.0 END)
         ELSE
           CAST(regexp_extract(pair, '(-?[0-9]+[.][0-9]+)[;, ]+(-?[0-9]+[.][0-9]+)', 1) AS DOUBLE)
         END AS lat,
         CASE WHEN pair LIKE '%"N %' OR pair LIKE '%"S %' THEN
           (CAST(regexp_extract(pair, '([0-9]+)d([0-9]+)''([0-9]+)"([EW])', 1) AS DOUBLE)
            + CAST(regexp_extract(pair, '([0-9]+)d([0-9]+)''([0-9]+)"([EW])', 2) AS DOUBLE) / 60.0
            + CAST(regexp_extract(pair, '([0-9]+)d([0-9]+)''([0-9]+)"([EW])', 3) AS DOUBLE) / 3600.0)
           * (CASE WHEN regexp_extract(pair, '([0-9]+)d([0-9]+)''([0-9]+)"([EW])', 4) = 'W'
                   THEN -1.0 ELSE 1.0 END)
         ELSE
           CAST(regexp_extract(pair, '(-?[0-9]+[.][0-9]+)[;, ]+(-?[0-9]+[.][0-9]+)', 2) AS DOUBLE)
         END AS lon
  FROM pair_match
)
"""

EXTRACT_CTE = PAGES_CTE + "," + EXTRACT_BODY


def extract_from_table_cte(pages_table: str) -> str:
    """EXTRACT over a materialized pages table instead of the inline
    synthesis CTE."""
    return f"pages AS (SELECT * FROM {pages_table})," + EXTRACT_BODY


PAGES_VIEW = "pages_cached"
PAGES_FROM_VIEW_CTE = f"pages AS (SELECT * FROM {PAGES_VIEW})"


def ensure_pages_view(spark, sf_dir: str) -> str:
    """Materialize the synthetic pages fixture behind a cache barrier and
    return a `pages AS (...)` CTE reading from it.

    A real corpus reads `pages` from storage; only this sandbox synthesizes
    it inline. Fusing synthesis + extraction into one stage lets predicate
    pushdown substitute the whole synthesis chain into the extraction
    filter — a single expression past janino's 64 KB method limit, which
    silently disables whole-stage codegen for the flagship scan stage. The
    InMemoryRelation boundary keeps both sides small enough to compile,
    exactly like the parquet boundary a production pages table has. The
    DuckDB oracles keep the inline-synthesis SQL: same rows, one engine
    plan closer to production. Cached per sf_dir (session.cached_view)."""
    cached_view(spark, PAGES_VIEW, sf_dir,
                lambda: build_pages(spark, sf_dir, flat=True))
    return PAGES_FROM_VIEW_CTE


def materialize_pages(spark, sf_dir: str, out_dir: str, scale: int = 1,
                      view_name: str = "pages_tbl"):
    """Write the pages fixture to parquet once (input generation is not
    part of any measured pipeline) and register it as ``view_name``."""
    build_pages(spark, sf_dir, scale=scale).write.mode("overwrite").parquet(out_dir)
    spark.read.parquet(out_dir).createOrReplaceTempView(view_name)
    return spark.table(view_name)


def build_pages(spark, sf_dir: str, scale: int = 1, flat: bool = False):
    """Materialize the pages fixture as a DataFrame. ``scale`` > 1 replicates
    documents with distinct doc_ids (bench-scale amplification).

    ``flat=True`` builds the identical rows from nested flat subqueries
    instead of the WITH form: a plan containing WithCTE/CTERelationDef
    nodes never matches the cache manager's sameResult check once the
    consuming query renumbers the CTE ids, so the cached fixture would
    silently be re-synthesized per query (see ensure_pages_view)."""
    from .querylib import register_views
    register_views(spark, sf_dir)
    if scale > 1:
        # read the parquet directly (a view referencing `documents` would be
        # recursive once we replace the view name). Parallelism comes from
        # making RANGE(scale) the streaming side (Range splits across
        # defaultParallelism natively) with the small doc table broadcast —
        # no shuffle, no single-task explode serializing the fixture (a
        # real pages table arrives in many files)
        parts = min(scale, spark.sparkContext.defaultParallelism * 2)
        spark.sql(f"""
          CREATE OR REPLACE TEMP VIEW documents AS
          SELECT /*+ BROADCAST(d) */
                 d.doc_id * {scale} + r.id AS doc_id,
                 d.text, d.lang, d.source, d.n_chars
          FROM RANGE(0, {scale}, 1, {parts}) r
          JOIN parquet.`{sf_dir}/documents.parquet` d
        """)
    if flat:
        inner = _PAGE_TEXT_SELECT.format(src=f"({_PAGE_COORDS_SELECT})")
        return spark.sql(_pages_select("spark", f"({inner})"))
    return spark.sql(f"WITH {_pages_cte('spark')} SELECT * FROM pages")
