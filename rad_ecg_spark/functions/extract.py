"""Vectorized html → text / outlinks extraction (Arrow-batched pandas UDFs).

This is the engine's analog of the reference's per-window kernel stage
(scipy.signal.find_peaks over a section batch,
/root/reference/src/rad_ecg/scripts/peak_detect_v4.py:1696-1701): the one
place Python touches row data, always a whole Arrow batch at a time —
never per-row Python (BASELINE.json input_hint).

``extract_text`` is a pure function of the html bytes with no
version-floating dependency (regex only), so the per-url byte-identical
invariant is checkable: extract_text(html) == text for every row of the
synthetic pages table.

At 100 TB these UDFs are the scan-side map stage: they pipeline with the
parquet/Iceberg scan, shuffle nothing, and emit only the (src,dst) pairs
downstream — column pruning means only `html` (+`url`) is ever read for
edge extraction.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TITLE_RE = r"<title>(.*?)</title>"
_PARA_RE = r"<p>(.*?)</p>"
_HREF_RE = r'href="([^"]*)"'


def _decode(s: pd.Series) -> pd.Series:
    return s.map(lambda b: b.decode("utf-8", errors="replace") if b is not None else None)


@F.pandas_udf(T.StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """title + "\\n" + first-paragraph text, byte-identical to the oracle."""
    doc = _decode(html)
    title = doc.str.extract(_TITLE_RE, expand=False)
    para = doc.str.extract(_PARA_RE, expand=False)
    return title.fillna("") + "\n" + para.fillna("")


@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_outlinks(html: pd.Series) -> pd.Series:
    """All href targets in document order (may contain duplicates)."""
    return _decode(html).str.findall(_HREF_RE)


def pages_to_edges(pages: DataFrame, dedupe: bool = True) -> DataFrame:
    """pages(url, html, ...) → edges(src_url, dst_url).

    explode_outer is NOT used: pages without links contribute no edge rows
    (they surface later as dangling vertices via the vertex table).
    Self-loops are dropped — none of the four algorithms wants them.
    """
    edges = (
        pages.select(
            F.col("url").alias("src_url"),
            F.explode(extract_outlinks(F.col("html"))).alias("dst_url"),
        )
        .filter(F.col("src_url") != F.col("dst_url"))
    )
    if dedupe:
        # ingestion-time dedup — analog of the reference's overlap dedup
        # (peak_detect_v4.py:1710-1731); downstream ops assume a set.
        edges = edges.dropDuplicates(["src_url", "dst_url"])
    return edges


def text_invariant_violations(pages: DataFrame) -> DataFrame:
    """Rows where extract_text(html) != stored text (should be empty)."""
    return pages.withColumn("extracted", extract_text(F.col("html"))).filter(
        F.col("extracted") != F.col("text")
    )
