"""Deterministic synthetic Common-Crawl-style ``pages`` table.

Schema (authoritative, BASELINE.json input_hint):
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

The whole table is a pure function of (seed, n_sites, pages_per_site) —
regenerating at any parallelism yields byte-identical rows, which is what
lets the `local[8]` vs `local[32]` scaling runs share one logical input
and lets tests check the byte-identical-text invariant. The reference
builds its fixtures the same way: seeded synthetic signals with
closed-form expected answers (/root/reference/tests/test_rad_ecg.py:31-52).

Planted link structure (FIXTURES.md F2) so graph algorithms have ground
truth:
  - chain within each site:   page p -> page p+1        (p < P-1)
  - K4 clique on pages 0..3 of each site                (4 triangles/site)
  - hub spokes: ~30% of pages link to site0/page0       (supernode skew)
  - one cross-site edge per page (hash-directed)        (giant component)
  - last page of each site has NO outlinks              (dangling mass)

Generation is distributed: ``spark.range`` drives ``mapInPandas`` so a
bench-scale table (millions of pages) is built in parallel without ever
materializing on the driver.
"""

from __future__ import annotations

import datetime as _dt
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from rad_ecg_spark.functions.hashing import hash64

EPOCH = _dt.datetime(2026, 1, 1, 0, 0, 0)

_VOCAB = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
    "victor", "whiskey", "xray", "yankee", "zulu", "amber", "basalt",
    "cobalt", "dune", "ember", "fjord", "garnet", "harbor",
]
_LANGS = ["en", "de", "fr", "es"]

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def url_of(site: int, page: int) -> str:
    return f"https://site{site:04d}.example/p/{page:05d}"


def outlinks_of(site: int, page: int, n_sites: int, pages_per_site: int) -> list[str]:
    """Pure function: planted outlinks for (site, page). Oracle-shared."""
    P, S = pages_per_site, n_sites
    if page == P - 1:  # dangling page: no outlinks at all
        return []
    links: list[str] = []
    if page < P - 1:
        links.append(url_of(site, page + 1))  # chain
    if page < 4 and P >= 5:
        links.extend(url_of(site, q) for q in range(4) if q != page)  # K4
    rid = site * pages_per_site + page
    if hash64(rid, 101) % 10 < 3 and (site, page) != (0, 0):
        links.append(url_of(0, 0))  # hub supernode
    cs = hash64(rid, 7) % S
    cp = hash64(rid, 11) % P
    if (cs, cp) != (site, page):
        links.append(url_of(cs, cp))  # cross-site
    # dedupe preserving order (a page may hit the hub twice etc.)
    seen: set[str] = set()
    out = []
    for u in links:
        if u not in seen:
            seen.add(u)
            out.append(u)
    return out


def text_of(site: int, page: int, pages_per_site: int) -> str:
    """Deterministic title + paragraph; THE byte-identical-text oracle."""
    rid = site * pages_per_site + page
    title = f"page {rid} of site{site:04d}"
    nwords = 8 + hash64(rid, 23) % 17
    words = [_VOCAB[hash64(rid, 1000 + k) % len(_VOCAB)] for k in range(nwords)]
    return title + "\n" + " ".join(words)


def html_of(site: int, page: int, n_sites: int, pages_per_site: int) -> bytes:
    txt = text_of(site, page, pages_per_site)
    title, para = txt.split("\n", 1)
    anchors = "".join(
        f'<a href="{u}">link</a>'
        for u in outlinks_of(site, page, n_sites, pages_per_site)
    )
    return (
        f"<html><head><title>{title}</title></head>"
        f"<body><p>{para}</p>{anchors}</body></html>"
    ).encode("utf-8")


def lang_of(site: int, page: int, pages_per_site: int) -> str:
    return _LANGS[hash64(site * pages_per_site + page, 3) % len(_LANGS)]


def expected_edges(n_sites: int, pages_per_site: int) -> list[tuple[str, str]]:
    """Driver-side full edge list (oracle for small graphs only)."""
    out = []
    for s in range(n_sites):
        for p in range(pages_per_site):
            src = url_of(s, p)
            out.extend((src, dst) for dst in outlinks_of(s, p, n_sites, pages_per_site))
    return out


def generate_pages(
    spark: SparkSession, n_sites: int, pages_per_site: int, partitions: int | None = None
) -> DataFrame:
    """Distributed, deterministic pages table."""
    n = n_sites * pages_per_site
    if partitions is None:
        partitions = max(2, min(256, n // 5000 + 1))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].to_numpy()
            rows = []
            for rid in ids:
                rid = int(rid)
                s, p = divmod(rid, pages_per_site)
                rows.append(
                    (
                        url_of(s, p),
                        EPOCH + _dt.timedelta(seconds=rid),
                        html_of(s, p, n_sites, pages_per_site),
                        text_of(s, p, pages_per_site),
                        lang_of(s, p, pages_per_site),
                    )
                )
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return spark.range(0, n, 1, partitions).mapInPandas(gen, PAGES_SCHEMA)
