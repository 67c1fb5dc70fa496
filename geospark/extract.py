"""Geo-entity extraction over the pages table.

``pages(url, warc_ts, html, text, lang)`` -> ``points(url, point_id,
lat, lng)`` as pure Column algebra: two ``regexp_extract_all``
captures of one coordinate pattern, zipped and ``posexplode``d, so the
stage never leaves the JVM (no Arrow hop, no Python worker) and stays
a narrow map over whatever partitioning the pages scan produced — at
10^12 docs it parallelizes with the input splits and Catalyst prunes
``html`` out of the scan entirely (we only read ``url`` and ``text``).

The per-url invariant (BASELINE.json input_hint): ``text`` must be
byte-identical to the reference extractor's output for the same url —
enforced by `tests/test_pages.py` comparing against
`geospark.pages.extract_text_from_html`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# fixed mention format written by the synthesizer / reference
# extractor; ASCII digits only (Python's \d would also take e.g.
# Arabic-Indic digits, which float() parses)
COORD_PATTERN = r"coord: (-?[0-9]+\.[0-9]{6}), (-?[0-9]+\.[0-9]{6})"


def extract_points(pages: DataFrame,
                   carry_cols: list[str] | None = None) -> DataFrame:
    """points(url, *carry_cols, point_id, lat, lng); point_id is the
    0-based mention index within the page in text order (deterministic
    given the text bytes). ``carry_cols`` are passed through per
    mention — e.g. ``["warc_ts"]`` keeps the event-time column for
    streaming windows; batch and streaming extraction share this one
    plan. A null ``text`` yields no mentions."""
    carry = list(carry_cols or [])
    pat = F.lit(COORD_PATTERN)
    return (
        pages.select(
            "url", *carry,
            F.posexplode(F.arrays_zip(
                F.regexp_extract_all("text", pat, 1).alias("lat"),
                F.regexp_extract_all("text", pat, 2).alias("lng"),
            )).alias("point_id", "m"),
        )
        .select(
            "url", *carry,
            F.col("point_id").cast("long").alias("point_id"),
            F.col("m.lat").cast("double").alias("lat"),
            F.col("m.lng").cast("double").alias("lng"),
        )
    )
