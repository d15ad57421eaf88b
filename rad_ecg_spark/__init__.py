"""rad_ecg_spark — a PySpark-native link-graph analytics engine.

A from-scratch engine with the query/data-processing capabilities of the
reference repo METIS-MICOR/rad_ecg (see SURVEY.md), re-expressed Spark-first:

- ``sources``   : deterministic synthetic Common-Crawl-style ``pages`` table
                  (url, warc_ts, html, text, lang) + a JVM-side synthetic
                  edge generator.
- ``functions`` : vectorized Arrow/pandas UDFs — byte-exact text extraction,
                  outlink extraction, text quality/lang-id/token stats,
                  vector (embedding) math kept JVM-side where possible.
- ``operators`` : graph algorithms (PageRank with dangling-mass
                  redistribution, connected components via
                  large-star/small-star, synchronous label propagation,
                  degree-ordered triangle counting), dedup family (exact,
                  MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine),
                  similarity search, range/as-of joins, sessionization,
                  skew-handling (salting, hub split).
- ``plans``     : per-iteration checkpoint/lineage/resume (Iceberg-style
                  snapshot semantics over partitioned parquet + _meta table).

Everything is DataFrame-first: Catalyst handles pushdown/pruning/join
selection; Python appears only inside Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"
