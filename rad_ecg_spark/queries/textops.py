"""Text-analysis / dedup / similarity queries over documents+embeddings,
with exact DuckDB oracles (see queries/__init__.py for the
float-determinism policy; hash arithmetic is md5-derived integers so
both engines compute identical signatures).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rad_ecg_spark.functions.textstats import (
    LANG_MARKERS,
    STOPWORDS_EN,
    fingerprint,
    lang_id,
    n_tokens,
    punct_count,
    quality_score,
    stopword_count,
)
from rad_ecg_spark.operators.dedup import (
    MERSENNE31,
    MINHASH_PARAMS,
    WINNOW_MAX_BUCKET,
    jaccard_pairs,
    minhash_lsh_candidates,
    token_sets,
)
from rad_ecg_spark.operators.graph_core import shuffle_partitions
from rad_ecg_spark.operators.similarity import brute_force_topk

WORDS_SQL = "list_filter(regexp_split_to_array(lower({c}), '[^a-z0-9]+'), x -> x <> '')"


def _t(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df, *cols):
    """Scan-parallelism repair (guide §2.5 'input skew' / §6): the
    registry tables are single-file, single-ROW-GROUP parquet, so the
    scan is ONE task no matter what maxPartitionBytes says (a row group
    is the minimum split), and every narrow downstream stage (token
    explode + md5 hashing, cosine folds) runs on one core of 32.
    One cheap keyed exchange right after the read spreads the rows
    across the session's parallelism — measured 2-4x on the similarity
    and sketch queries at sf1.0. On a many-file table at 100 TB the
    scan is already parallel; this helper is for the known-single-file
    registry inputs."""
    n = shuffle_partitions(df.sparkSession)
    return df.repartition(n, *cols)


# --- doc stats: token counts, quality score, language ID ---------------

def q_doc_stats(spark, sf_dir):
    from rad_ecg_spark.functions.textstats import words

    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    # the word split is the expensive part of every word-level metric:
    # name it once as a column so the projection computes it once per
    # row (2.4x measured) instead of once per metric
    ws = F.col("_ws")
    return d.withColumn("_ws", words(t)).select(
        "doc_id",
        n_tokens(t, ws).alias("n_tokens"),
        punct_count(t).alias("n_punct"),
        stopword_count(t, ws).alias("n_stop"),
        quality_score(t, ws).alias("quality"),
        lang_id(t, ws).alias("lang_guess"),
    )


def _doc_stats_sql() -> str:
    w = WORDS_SQL.format(c="text")
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS_EN)
    marker_counts = {
        lg: f"len(list_filter({w}, x -> list_contains([{', '.join(repr(m) for m in ms)}], x)))"
        for lg, ms in LANG_MARKERS.items()
    }
    # tie-break = language code ascending (matches array_min struct order)
    langs = sorted(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"c_{lg}" for lg in langs) + ")"
    case = " ".join(f"WHEN c_{lg} = best THEN '{lg}'" for lg in langs)
    return f"""
WITH s AS (
  SELECT doc_id,
    CAST(len({w}) AS INT) AS n_tokens,
    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT) AS n_punct,
    CAST(len(list_filter({w}, x -> list_contains([{stop_list}], x))) AS INT) AS n_stop,
    CAST(length(text) AS INT) AS n_chars,
    {", ".join(f"CAST({expr} AS INT) AS c_{lg}" for lg, expr in marker_counts.items())}
  FROM documents
), s2 AS (SELECT *, {best} AS best FROM s)
SELECT doc_id, n_tokens, n_punct, n_stop,
  CAST(least(25, CAST(floor(n_tokens * 25 / 40.0) AS INT))
     + least(25, CAST(floor(n_chars * 25 / 300.0) AS INT))
     + least(25, CAST(floor(n_stop * 25 / 5.0) AS INT))
     + least(25, CAST(floor(n_punct * 25 / 3.0) AS INT)) AS INT) AS quality,
  CASE WHEN best = 0 THEN 'und' {case} END AS lang_guess
FROM s2"""


# --- exact dedup summary ------------------------------------------------

def q_exact_dedup_summary(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(fingerprint(F.col("text")).alias("fp")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_distinct"),
    )


ORACLE_EXACT_DEDUP = r"""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT md5(trim(regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g')))) AS BIGINT) AS n_distinct
FROM documents"""


# --- n-gram (word) Jaccard near-dup pairs -------------------------------

JACCARD_NUM, JACCARD_DEN = 9, 10


def q_jaccard_neardup(spark, sf_dir):
    d = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    return jaccard_pairs(
        d, threshold_num=JACCARD_NUM, threshold_den=JACCARD_DEN
    )


def _jaccard_sql() -> str:
    w = WORDS_SQL.format(c="text")
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(list_distinct({w})) AS w FROM documents
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id
), inter AS (
  SELECT l.doc_id AS a, r.doc_id AS b, CAST(count(*) AS BIGINT) AS inter
  FROM tok l JOIN tok r ON l.w = r.w AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT a, b, inter, CAST(sa.sz + sb.sz - inter AS BIGINT) AS uni
FROM inter JOIN sizes sa ON inter.a = sa.doc_id
           JOIN sizes sb ON inter.b = sb.doc_id
WHERE inter * {JACCARD_DEN} >= {JACCARD_NUM} * (sa.sz + sb.sz - inter)"""


# --- MinHash signatures + LSH candidates --------------------------------

def _minhash_sig_sql() -> str:
    w = WORDS_SQL.format(c="text")
    h = (
        "CAST(CAST(concat('0x', substring(md5(w), 1, 15)) AS UBIGINT) "
        f"% {MERSENNE31} AS BIGINT)"
    )
    sigs = ", ".join(
        f"CAST(min(({a} * h + {b}) % {MERSENNE31}) AS BIGINT) AS sig_{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    )
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(list_distinct({w})) AS w FROM documents
), th AS (SELECT doc_id, {h} AS h FROM tok)
SELECT doc_id, {sigs} FROM th GROUP BY doc_id"""


MINHASH_BANDS = 4


def q_minhash_lsh_candidates(spark, sf_dir):
    return minhash_lsh_candidates(
        token_sets(_spread(_t(spark, sf_dir, "documents"), "doc_id")),
        bands=MINHASH_BANDS,
    )


def _minhash_lsh_sql_union() -> str:
    k = len(MINHASH_PARAMS)
    rpb = k // MINHASH_BANDS
    sig_sql = _minhash_sig_sql()
    selects = []
    for b in range(MINHASH_BANDS):
        parts = ", ".join(f"CAST(sig_{b * rpb + r} AS VARCHAR)" for r in range(rpb))
        selects.append(
            f"SELECT doc_id AS id, {b} AS band_id, concat_ws('_', {parts}) AS band_key FROM sigs"
        )
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH sigs AS ({sig_sql.strip()}),
buckets AS (
{union}
)
SELECT DISTINCT l.id AS a, r.id AS b
FROM buckets l JOIN buckets r
  ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.id < r.id"""


# --- embedding centroid checksum (array processing, exact ints) ---------

def q_embedding_centroids(spark, sf_dir):
    e = _spread(_t(spark, sf_dir, "embeddings"), "vec_id")
    ex = e.select(
        "label", "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        "vec_id",
        "pos",
        F.round(F.col("x").cast("double") * 1e6).cast("long").alias("xe6"),
    )
    return ex.groupBy("label").agg(
        F.countDistinct("vec_id").alias("n_vecs"),
        F.sum((F.col("pos") + 1) * F.col("xe6")).alias("checksum"),
    )


ORACLE_CENTROIDS = """
WITH ex AS (
  SELECT label, vec_id,
         unnest(range(len(embedding))) AS pos,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS xe6
  FROM embeddings
)
SELECT label, CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
       CAST(sum((pos + 1) * xe6) AS BIGINT) AS checksum
FROM ex GROUP BY label"""


# --- brute-force cosine top-k (exact ANN baseline) -----------------------

TOPK_K = 3
N_QUERY_VECS = 5


def q_cosine_topk(spark, sf_dir):
    e = _spread(_t(spark, sf_dir, "embeddings"), "vec_id")
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    r = brute_force_topk(e, q, k=TOPK_K)
    return r.select(
        "qid", "rk", "vid", F.round(F.col("cos") * 1e6).cast("long").alias("cos_e6")
    )


def _cosine_topk_sql() -> str:
    # explicit left-assoc sums reproduce Spark's sequential aggregate fold
    dim = LSH_DIM  # the embeddings' width
    dot = " + ".join(
        f"CAST(q.embedding[{i}] AS DOUBLE) * v.embedding[{i}]" for i in range(1, dim + 1)
    )
    qn = " + ".join(
        f"CAST(q.embedding[{i}] AS DOUBLE) * q.embedding[{i}]" for i in range(1, dim + 1)
    )
    vn = " + ".join(
        f"CAST(v.embedding[{i}] AS DOUBLE) * v.embedding[{i}]" for i in range(1, dim + 1)
    )
    return f"""
WITH scored AS (
  SELECT q.vec_id AS qid, v.vec_id AS vid,
         ({dot}) / (sqrt({qn}) * sqrt({vn})) AS cos
  FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERY_VECS}
), ranked AS (
  SELECT qid, vid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS rk
  FROM scored
)
SELECT qid, CAST(rk AS INT) AS rk, vid,
       CAST(round(cos * 1e6) AS BIGINT) AS cos_e6
FROM ranked WHERE rk <= {TOPK_K}"""


# --- SimHash near-dup pairs (60-bit sketch, JVM-side) --------------------

SIMHASH_MAX_HAMMING = 3


def q_simhash_pairs(spark, sf_dir):
    from rad_ecg_spark.operators.dedup import simhash_pairs

    return simhash_pairs(
        _spread(_t(spark, sf_dir, "documents"), "doc_id"),
        max_hamming=SIMHASH_MAX_HAMMING,
    )


def _simhash_sql() -> str:
    from rad_ecg_spark.operators.dedup import _SIMHASH_BITS

    w = WORDS_SQL.format(c="text")
    n_chunks = SIMHASH_MAX_HAMMING + 1
    width = _SIMHASH_BITS // n_chunks
    chunk_rows = []
    for c in range(n_chunks):
        lo = c * width
        cw = _SIMHASH_BITS - lo if c == n_chunks - 1 else width
        chunk_rows.append(
            f"SELECT id, sh, {c} AS c, (CAST(sh AS UBIGINT) >> {lo}) & {(1 << cw) - 1} AS ck FROM sig"
        )
    chunks_union = "\nUNION ALL\n".join(chunk_rows)
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id AS id, unnest(list_distinct({w})) AS w FROM documents
), th AS (
  SELECT id, CAST(concat('0x', substring(md5(w), 1, 15)) AS UBIGINT) AS h FROM tok
), votes AS (
  SELECT id, bb.b AS b,
         sum(CASE WHEN ((h >> bb.b) & 1) = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN (SELECT unnest(range({_SIMHASH_BITS})) AS b) bb
  GROUP BY id, bb.b
), sig AS (
  SELECT id,
         CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS UBIGINT) << b) ELSE 0 END) AS BIGINT) AS sh
  FROM votes GROUP BY id
), buckets AS (
{chunks_union}
), cand AS (
  SELECT DISTINCT l.id AS a, r.id AS b, l.sh AS sha, r.sh AS shb
  FROM buckets l JOIN buckets r ON l.c = r.c AND l.ck = r.ck AND l.id < r.id
)
SELECT a, b,
       CAST(bit_count(xor(CAST(sha AS UBIGINT), CAST(shb AS UBIGINT))) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(CAST(sha AS UBIGINT), CAST(shb AS UBIGINT))) <= {SIMHASH_MAX_HAMMING}"""


# --- deterministic banded hyperplane LSH ANN (oracle-checkable) ----------

LSH_TABLES, LSH_BITS, LSH_SEED, LSH_DIM = 2, 8, 42, 64


def q_lsh_ann_topk(spark, sf_dir):
    from rad_ecg_spark.operators.similarity import lsh_ann_topk

    e = _spread(_t(spark, sf_dir, "embeddings"), "vec_id")
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    r = lsh_ann_topk(
        e, q, k=TOPK_K, n_tables=LSH_TABLES, bits=LSH_BITS, dim=LSH_DIM,
        seed=LSH_SEED,
    )
    return r.select(
        "qid", "rk", "vid", F.round(F.col("cos") * 1e6).cast("long").alias("cos_e6")
    )


def _lsh_ann_sql() -> str:
    """DuckDB twin: the seeded hyperplanes are embedded as double
    literals (repr round-trip = identical IEEE doubles in both engines);
    bucket bits and cosine use explicit left-assoc folds that match
    Spark's aggregate(zip_with(...)) sequentially."""
    from rad_ecg_spark.operators.similarity import hyperplanes

    planes = hyperplanes(LSH_DIM, LSH_TABLES, LSH_BITS, LSH_SEED)

    def dot(plane):
        return " + ".join(
            f"CAST(embedding[{j + 1}] AS DOUBLE) * {plane[j]!r}" for j in range(LSH_DIM)
        )

    bucket_cols = []
    for t in range(LSH_TABLES):
        bits = " + ".join(
            f"CASE WHEN ({dot(planes[t][i])}) >= 0 THEN {1 << i} ELSE 0 END"
            for i in range(LSH_BITS)
        )
        bucket_cols.append(f"CAST({bits} AS BIGINT) AS bk{t}")
    bucket_sel = ",\n    ".join(bucket_cols)
    same_bucket = " OR ".join(f"v.bk{t} = q.bk{t}" for t in range(LSH_TABLES))
    dim = LSH_DIM
    dotqv = " + ".join(
        f"CAST(q.embedding[{i}] AS DOUBLE) * v.embedding[{i}]" for i in range(1, dim + 1)
    )
    qn = " + ".join(
        f"CAST(q.embedding[{i}] AS DOUBLE) * q.embedding[{i}]" for i in range(1, dim + 1)
    )
    vn = " + ".join(
        f"CAST(v.embedding[{i}] AS DOUBLE) * v.embedding[{i}]" for i in range(1, dim + 1)
    )
    return f"""
WITH b AS (
  SELECT vec_id, embedding,
    {bucket_sel}
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS qid, v.vec_id AS vid,
         ({dotqv}) / (sqrt({qn}) * sqrt({vn})) AS cos
  FROM b q JOIN b v ON ({same_bucket}) AND v.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERY_VECS}
), ranked AS (
  SELECT qid, vid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS rk
  FROM scored
)
SELECT qid, CAST(rk AS INT) AS rk, vid,
       CAST(round(cos * 1e6) AS BIGINT) AS cos_e6
FROM ranked WHERE rk <= {TOPK_K}"""


# --- IVF ANN, fixed-centroid variant (full DuckDB oracle) -----------------
# The assignment/probe/join/topk plan with the centroid set as seeded
# double literals (a k-means fit isn't SQL-expressible), so every stage
# has an exact SQL mirror.

IVF_CELLS, IVF_NPROBE, IVF_SEED = 8, 2, 11


def q_ivf_fixed_topk(spark, sf_dir):
    from rad_ecg_spark.operators.similarity import ivf_centroids, ivf_fixed_topk

    e = _spread(_t(spark, sf_dir, "embeddings"), "vec_id")
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    cents = ivf_centroids(LSH_DIM, IVF_CELLS, IVF_SEED)
    r = ivf_fixed_topk(e, q, cents, k=TOPK_K, nprobe=IVF_NPROBE)
    return r.select(
        "qid", "rk", "vid", F.round(F.col("cos") * 1e6).cast("long").alias("cos_e6")
    )


def _ivf_fixed_sql() -> str:
    """DuckDB twin of q_ivf_fixed_topk: centroids as double literals,
    d2/cosine as explicit left-assoc folds (matching Spark's
    aggregate(zip_with) order), argmin assignment and nprobe probe via
    row_number with (d2, cell) tie-break."""
    from rad_ecg_spark.operators.similarity import ivf_centroids

    cents = ivf_centroids(LSH_DIM, IVF_CELLS, IVF_SEED)
    dim = LSH_DIM

    def d2(c):
        return " + ".join(
            f"(CAST(embedding[{j + 1}] AS DOUBLE) - {c[j]!r}) * "
            f"(CAST(embedding[{j + 1}] AS DOUBLE) - {c[j]!r})"
            for j in range(dim)
        )

    cells_union = "\nUNION ALL\n".join(
        f"SELECT vec_id, embedding, {ci} AS cell, ({d2(c)}) AS d2 FROM embeddings"
        for ci, c in enumerate(cents)
    )
    dotqv = " + ".join(
        f"CAST(q.qemb[{i}] AS DOUBLE) * v.embedding[{i}]" for i in range(1, dim + 1)
    )
    qn = " + ".join(
        f"CAST(q.qemb[{i}] AS DOUBLE) * q.qemb[{i}]" for i in range(1, dim + 1)
    )
    vn = " + ".join(
        f"CAST(v.embedding[{i}] AS DOUBLE) * v.embedding[{i}]" for i in range(1, dim + 1)
    )
    return f"""
WITH cells AS (
{cells_union}
), assign AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rk
    FROM cells
  ) WHERE rk = 1
), probe AS (
  SELECT vec_id AS qid, embedding AS qemb, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rk
    FROM cells WHERE vec_id < {N_QUERY_VECS}
  ) WHERE rk <= {IVF_NPROBE}
), scored AS (
  SELECT q.qid, v.vec_id AS vid,
         ({dotqv}) / (sqrt({qn}) * sqrt({vn})) AS cos
  FROM probe q JOIN assign v ON v.cell = q.cell AND v.vec_id <> q.qid
), ranked AS (
  SELECT qid, vid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS rk
  FROM scored
)
SELECT qid, CAST(rk AS INT) AS rk, vid,
       CAST(round(cos * 1e6) AS BIGINT) AS cos_e6
FROM ranked WHERE rk <= {TOPK_K}"""


# --- token counting: whitespace words + BPE-ish regex pieces ------------
# LLM-cost estimation surface; GPT-2 pre-tokenizer pattern (public),
# ASCII-restricted so Java regex (Spark) and RE2 (DuckDB) agree.

def q_token_counts(spark, sf_dir):
    from rad_ecg_spark.functions.textstats import n_tokens_bpe

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        n_tokens(F.col("text")).alias("n_words"),
        n_tokens_bpe(F.col("text")).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_text"),
    )


def _token_counts_sql() -> str:
    from rad_ecg_spark.functions.textstats import BPE_SPLIT_RE

    esc = BPE_SPLIT_RE.replace("'", "''")
    return f"""
SELECT doc_id,
       len({WORDS_SQL.format(c='text')}) AS n_words,
       len(list_filter(regexp_extract_all(lower(text), '{esc}'),
                       x -> NOT regexp_matches(x, '^[ \t\n\f\r]+$'))) AS n_bpe_tokens,
       length(text) AS n_chars_text
FROM documents"""


# --- winnowing (rolling-hash) fingerprints + partial-copy near-dups -----
# ref shape: content fingerprint + overlap detection peak_detect_v4.py:1710-1731

WINNOW_K, WINNOW_W, WINNOW_MIN_SHARED = 8, 4, 2


# Verification threshold for winnow candidates: exact word-Jaccard >=
# 9/10 (the corpus's near-dup definition). Measured precision of the raw
# winnow candidate stage at (k=8, w=4) on the sf0.01 synthetic corpus:
# 9,008 of 99,737 candidates survive (9.0%) — which is exactly why the
# candidates-only output must be chained into verification.
WINNOW_VER_NUM, WINNOW_VER_DEN = 9, 10


def q_winnow_verified(spark, sf_dir):
    from rad_ecg_spark.operators.dedup import winnow_verified_pairs

    return winnow_verified_pairs(
        _spread(_t(spark, sf_dir, "documents"), "doc_id"),
        k=WINNOW_K, w=WINNOW_W, min_shared=WINNOW_MIN_SHARED,
        threshold_num=WINNOW_VER_NUM, threshold_den=WINNOW_VER_DEN,
    )


def _winnow_base_sql() -> str:
    """Shared CTE text: per-doc winnowed fingerprint rows."""
    k, w = WINNOW_K, WINNOW_W
    gram = (
        f"CAST(concat('0x', substring(md5(substring(norm, i, {k})), 1, 15))"
        f" AS UBIGINT) % {MERSENNE31}"
    )
    return f"""
WITH d AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g')) AS norm
  FROM documents
), sized AS (
  SELECT doc_id, norm, length(norm) - {k - 1} AS n
  FROM d WHERE length(norm) >= {k}
), h AS (
  SELECT doc_id, n,
         list_transform(generate_series(1, n), i -> {gram}) AS hashes
  FROM sized
), sel AS (
  SELECT doc_id,
         CASE WHEN n >= {w} THEN list_distinct(
           list_transform(generate_series(1, n - {w - 1}),
                          j -> list_min(list_slice(hashes, j, j + {w - 1}))))
         ELSE [list_min(hashes)] END AS fps
  FROM h
), fp_rows AS (
  SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp FROM sel
)"""


def _winnow_verified_sql() -> str:
    w = WORDS_SQL.format(c="text")
    return _winnow_base_sql() + f""",
small AS (
  SELECT fp FROM fp_rows GROUP BY fp HAVING count(*) <= {WINNOW_MAX_BUCKET}
), capped AS (
  SELECT f.doc_id, f.fp FROM fp_rows f JOIN small USING (fp)
), cand AS (
  SELECT l.doc_id AS a, r.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
  FROM capped l JOIN capped r ON l.fp = r.fp AND l.doc_id < r.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
), tok AS (
  SELECT DISTINCT doc_id, unnest(list_distinct({w})) AS w FROM documents
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id
), inter AS (
  SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS inter
  FROM cand c JOIN tok ta ON ta.doc_id = c.a
              JOIN tok tb ON tb.doc_id = c.b AND tb.w = ta.w
  GROUP BY 1, 2
)
SELECT c.a, c.b, c.shared, i.inter,
       CAST(sa.sz + sb.sz - i.inter AS BIGINT) AS uni
FROM cand c JOIN inter i ON i.a = c.a AND i.b = c.b
JOIN sizes sa ON sa.doc_id = c.a JOIN sizes sb ON sb.doc_id = c.b
WHERE i.inter * {WINNOW_VER_DEN} >= {WINNOW_VER_NUM} * (sa.sz + sb.sz - i.inter)"""


# --- embedding-cosine near-dup pairs (banded hyperplane LSH self-join) ---
# wider buckets than the ANN path (4 bits -> 32 buckets/table) and a low
# threshold because the synthetic embeddings carry no planted near-dups
# (max pairwise cos = 0.513); the oracle mirrors buckets, cap and the
# left-assoc cosine fold exactly.

NEARDUP_TABLES, NEARDUP_BITS, NEARDUP_COS_NUM = 2, 4, 0.4
NEARDUP_MAX_BUCKET = 200


def q_embedding_neardup(spark, sf_dir):
    from rad_ecg_spark.operators.similarity import embedding_neardup_pairs

    e = _spread(_t(spark, sf_dir, "embeddings"), "vec_id")
    r = embedding_neardup_pairs(
        e,
        threshold=NEARDUP_COS_NUM,
        n_tables=NEARDUP_TABLES,
        bits=NEARDUP_BITS,
        dim=LSH_DIM,
        max_bucket=NEARDUP_MAX_BUCKET,
        seed=LSH_SEED,
    )
    return r.select(
        "a", "b", F.round(F.col("cos") * 1e6).cast("long").alias("cos_e6")
    )


def _embedding_neardup_sql() -> str:
    from rad_ecg_spark.operators.similarity import hyperplanes

    planes = hyperplanes(LSH_DIM, NEARDUP_TABLES, NEARDUP_BITS, LSH_SEED)

    def dot_plane(plane):
        return " + ".join(
            f"CAST(embedding[{j + 1}] AS DOUBLE) * {plane[j]!r}" for j in range(LSH_DIM)
        )

    bucket_cols = []
    for t in range(NEARDUP_TABLES):
        bits = " + ".join(
            f"CASE WHEN ({dot_plane(planes[t][i])}) >= 0 THEN {1 << i} ELSE 0 END"
            for i in range(NEARDUP_BITS)
        )
        bucket_cols.append(f"CAST({bits} AS BIGINT) AS bk{t}")
    bucket_sel = ",\n    ".join(bucket_cols)
    per_table = "\nUNION ALL\n".join(
        f"SELECT vec_id, {t} AS tid, bk{t} AS bucket FROM b"
        for t in range(NEARDUP_TABLES)
    )
    dim = LSH_DIM
    dotab = " + ".join(
        f"CAST(ea.embedding[{i}] AS DOUBLE) * eb.embedding[{i}]" for i in range(1, dim + 1)
    )
    na = " + ".join(
        f"CAST(ea.embedding[{i}] AS DOUBLE) * ea.embedding[{i}]" for i in range(1, dim + 1)
    )
    nb = " + ".join(
        f"CAST(eb.embedding[{i}] AS DOUBLE) * eb.embedding[{i}]" for i in range(1, dim + 1)
    )
    return f"""
WITH b AS (
  SELECT vec_id, embedding,
    {bucket_sel}
  FROM embeddings
), rows_t AS (
{per_table}
), keep AS (
  SELECT tid, bucket FROM rows_t GROUP BY tid, bucket
  HAVING count(*) <= {NEARDUP_MAX_BUCKET}
), capped AS (
  SELECT r.vec_id, r.tid, r.bucket FROM rows_t r JOIN keep USING (tid, bucket)
), cand AS (
  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
  FROM capped l JOIN capped r
    ON l.tid = r.tid AND l.bucket = r.bucket AND l.vec_id < r.vec_id
), scored AS (
  SELECT c.a, c.b, ({dotab}) / (sqrt({na}) * sqrt({nb})) AS cos
  FROM cand c JOIN embeddings ea ON ea.vec_id = c.a
              JOIN embeddings eb ON eb.vec_id = c.b
)
SELECT a, b, CAST(round(cos * 1e6) AS BIGINT) AS cos_e6
FROM scored WHERE cos >= {NEARDUP_COS_NUM}"""


# --- end-to-end dedup pipeline: candidates -> verify -> CC -> rep --------
# the actual corpus-dedup shape at 100 TB; the pair graph is DERIVED data
# and connected components run on the same engine as the link-graph
# queries. Oracle: recursive-CTE transitive closure + min-reachable rep.

def q_dup_clusters(spark, sf_dir):
    from rad_ecg_spark.operators.dedup import dup_clusters

    return dup_clusters(
        _spread(_t(spark, sf_dir, "documents"), "doc_id"),
        bands=MINHASH_BANDS,
        threshold_num=JACCARD_NUM,
        threshold_den=JACCARD_DEN,
    )


def _dup_clusters_sql() -> str:
    w = WORDS_SQL.format(c="text")
    lsh = _minhash_lsh_sql_union().strip()
    # the LSH SQL is itself a WITH ... SELECT; splice its CTEs into ours
    assert lsh.upper().startswith("WITH")
    lsh_ctes, lsh_select = lsh[4:].rsplit("SELECT", 1)
    return f"""
WITH RECURSIVE {lsh_ctes.rstrip().rstrip(",")},
cand AS (SELECT{lsh_select}),
tok AS (
  SELECT DISTINCT doc_id, unnest(list_distinct({w})) AS w FROM documents
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id
), inter AS (
  SELECT c.a, c.b, count(*) AS inter
  FROM cand c JOIN tok ta ON ta.doc_id = c.a
              JOIN tok tb ON tb.doc_id = c.b AND tb.w = ta.w
  GROUP BY 1, 2
), verified AS (
  SELECT i.a, i.b FROM inter i
  JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
  WHERE i.inter * {JACCARD_DEN} >= {JACCARD_NUM} * (sa.sz + sb.sz - i.inter)
), sym AS (
  SELECT a AS u, b AS v FROM verified UNION SELECT b, a FROM verified
), reach AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
), members AS (
  SELECT u AS doc_id, least(u, min(v)) AS rep FROM reach GROUP BY u
)
SELECT doc_id, rep,
       CAST(count(*) OVER (PARTITION BY rep) AS BIGINT) AS cluster_size
FROM members"""


# Registry consolidation (round 4): signature/candidate STAGE queries
# (minhash_signatures, winnow_fingerprints, winnow_neardup) are subsumed
# by their pair-stage consumers (minhash_lsh_candidates reruns the
# signature SQL inside its oracle; winnow_verified chains candidates ->
# exact-Jaccard verification). New: embedding_neardup (LSH self-join)
# and dup_clusters (candidates -> verify -> connected components -> rep,
# the end-to-end corpus dedup pipeline).
TEXT_QUERIES = {
    "doc_stats": q_doc_stats,
    "exact_dedup_summary": q_exact_dedup_summary,
    "jaccard_neardup": q_jaccard_neardup,
    "minhash_lsh_candidates": q_minhash_lsh_candidates,
    "embedding_centroids": q_embedding_centroids,
    "cosine_topk": q_cosine_topk,
    "simhash_pairs": q_simhash_pairs,
    "lsh_ann_topk": q_lsh_ann_topk,
    "ivf_fixed_topk": q_ivf_fixed_topk,
    "token_counts": q_token_counts,
    "winnow_verified": q_winnow_verified,
    "embedding_neardup": q_embedding_neardup,
    "dup_clusters": q_dup_clusters,
}

TEXT_ORACLES = {
    "doc_stats": _doc_stats_sql(),
    "exact_dedup_summary": ORACLE_EXACT_DEDUP,
    "jaccard_neardup": _jaccard_sql(),
    "minhash_lsh_candidates": _minhash_lsh_sql_union(),
    "embedding_centroids": ORACLE_CENTROIDS,
    "cosine_topk": _cosine_topk_sql(),
    "simhash_pairs": _simhash_sql(),
    "lsh_ann_topk": _lsh_ann_sql(),
    "ivf_fixed_topk": _ivf_fixed_sql(),
    "token_counts": _token_counts_sql(),
    "winnow_verified": _winnow_verified_sql(),
    "embedding_neardup": _embedding_neardup_sql(),
    "dup_clusters": _dup_clusters_sql(),
}
