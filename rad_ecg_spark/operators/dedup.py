"""Deduplication family for web-scale corpora.

- exact: hash-groupBy on a content fingerprint (md5 of normalized text,
  ``textstats.fingerprint``), keeping the min-id representative; the
  pipeline's exact stage (plans/pipeline.py ``dedup_pages``). One
  shuffle, partial-agg friendly.
- token sets: ``(id, toks)``, one row per document, toks = its
  distinct words (``token_sets`` projects ``(doc_id, toks)`` from the
  documents table; the pipeline projects ``(url, toks)`` with
  ``token_set``). The MinHash, LSH, verify and near-dup cluster stages
  read this frame, keyed by their ``id_col``, and never tokenize, so
  each entry point (jaccard_pairs, winnow_verified_pairs, dup_clusters,
  the pipeline) tokenizes a document once.
- n-gram Jaccard: word-level set overlap over candidate pairs generated
  by a shared-token join (never a blind cross join).
- MinHash + LSH: k permutation-style hashes min-folded over tokens; the
  signature is split into bands; pairs sharing any band bucket become
  candidates — THE scale path for near-dup at 10^12 docs (candidate
  generation is an equi-join on (band_id, band_key), not O(n²)).
- SimHash: 60-bit sign-aggregated token-hash sketch computed entirely
  JVM-side (per-bit vote sums in one groupBy); near-dups = small Hamming
  distance over banded candidates.
- embedding cosine: see operators/similarity.py.

All hash arithmetic is plain integer math on md5-derived values so the
DuckDB oracle can reproduce signatures bit-for-bit (policy: no engine-
private hash functions on the correctness path).

Reference capability donor: overlap dedup via set-intersection + rollback
(/root/reference/src/rad_ecg/scripts/peak_detect_v4.py:1710-1731).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rad_ecg_spark.functions.textstats import words

MERSENNE31 = (1 << 31) - 1
# fixed public-style LCG parameters for the k minhash functions
MINHASH_PARAMS = [(2 * i + 1, 7919 * (i + 1)) for i in range(8)]


def token_hash(col):
    """Word -> 60-bit int via md5 hex prefix (portable across engines),
    reduced mod 2^31-1 for overflow-free LCG arithmetic."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long") % MERSENNE31


def token_set(text: Column) -> Column:
    """A document's distinct word set (NULL text reads as empty)."""
    return F.array_distinct(words(F.coalesce(text, F.lit(""))))


def token_sets(df: DataFrame) -> DataFrame:
    """(doc_id, toks) of a ``documents(doc_id, text)`` frame: the
    token-set frame the near-dup stages read."""
    return df.select("doc_id", token_set(F.col("text")).alias("toks"))


def minhash_signatures(toks: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, sig_0..sig_{k-1}): min over tokens of (a*h + b) mod p."""
    tok = toks.select(id_col, F.explode("toks").alias("w")).withColumn(
        "h", token_hash(F.col("w"))
    )
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE31).alias(f"sig_{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return tok.groupBy(id_col).agg(*aggs)


def minhash_lsh_candidates(
    toks: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing at least one LSH band.

    Scale shape: signatures -> unpivot to (band_id, band_key, id) ->
    self-join on the band bucket. ``max_bucket`` drops buckets with more
    members than the cap BEFORE the self-join (a mega-bucket of boiler-
    plate docs would otherwise cost |bucket|^2 in one task); capped
    buckets are by definition huge duplicate clusters better handled by
    an exact fingerprint dedup first, so the recall tradeoff is explicit
    and bounded.
    """
    k = len(MINHASH_PARAMS)
    rows_per_band = k // bands
    sigs = minhash_signatures(toks, id_col)
    band_cols = []
    for b in range(bands):
        parts = [
            F.col(f"sig_{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_id"), F.concat_ws("_", *parts).alias("band_key")
            )
        )
    buckets = sigs.select(
        F.col(id_col).alias("id"), F.explode(F.array(*band_cols)).alias("bk")
    ).select("id", F.col("bk.band_id").alias("band_id"), F.col("bk.band_key").alias("band_key"))
    if max_bucket is not None:
        big = (
            buckets.groupBy("band_id", "band_key")
            .agg(F.count(F.lit(1)).alias("bsz"))
            .filter(F.col("bsz") > max_bucket)
        )
        buckets = buckets.join(F.broadcast(big), ["band_id", "band_key"], "left_anti")
    l = buckets.select("band_id", "band_key", F.col("id").alias("a"))
    r = buckets.select("band_id", "band_key", F.col("id").alias("b"))
    return (
        l.join(r, ["band_id", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def verify_jaccard_pairs(
    cand: DataFrame,
    toks: DataFrame,
    id_col: str = "doc_id",
    threshold_num: int = 8,
    threshold_den: int = 10,
) -> DataFrame:
    """Exact word-set Jaccard verification of candidate pairs (a, b):
    returns (a, b, inter, uni) for pairs with Jaccard >= num/den.

    Shape: each side of the pair joins its document's token set (one
    row per doc), and the intersection is a JVM ``array_intersect``
    per candidate row — NOT a token-explode equi-join. Measured at
    sf0.1 (10.4M candidates): 5.1 s vs 37.3 s for the explode join,
    identical output; the explode join materializes |cand| x avg-tokens
    skinny rows through a shuffle, the array form ships one array per
    pair side. Result is set-semantics-identical, so the DuckDB oracles
    (which compute the same intersection relationally) are unaffected.
    """
    pa = toks.select(F.col(id_col).alias("a"), F.col("toks").alias("_tsa"))
    pb = toks.select(F.col(id_col).alias("b"), F.col("toks").alias("_tsb"))
    return (
        cand.join(pa, "a")
        .join(pb, "b")
        .withColumn("inter", F.size(F.array_intersect("_tsa", "_tsb")).cast("long"))
        .withColumn(
            "uni",
            (F.size("_tsa") + F.size("_tsb")).cast("long") - F.col("inter"),
        )
        .filter(
            F.col("inter") * threshold_den >= F.lit(threshold_num) * F.col("uni")
        )
        .drop("_tsa", "_tsb")
    )


def jaccard_pairs(
    df: DataFrame, threshold_num: int = 8, threshold_den: int = 10
) -> DataFrame:
    """Near-dup pairs of ``documents(doc_id, text)`` by word-set Jaccard
    >= num/den, exact integer comparison (inter*den >= num*union).

    Candidate generation uses LOSSLESS prefix filtering (Bayardo et al.
    WWW'07 "Scaling Up All Pairs"; Xiao et al. WWW'08 PPJoin; the
    MapReduce formulation is Vernica et al. SIGMOD'10): order each doc's
    tokens by ascending global document frequency (ties by token), keep
    only the first ``sz - ceil(t*sz) + 1`` tokens as the join key. Any
    pair with Jaccard >= t MUST share a prefix token, so recall is exact,
    while the join fans out only on RARE tokens — the common-token
    ("the") quadratic blowup of a naive shared-token join never happens.
    Verification recomputes the true intersection for surviving
    candidates only.
    """
    toks = token_sets(df).persist()
    toks.count()  # materialize: the prefix self-join and verify read it 5 ways
    tok = toks.select("doc_id", F.explode("toks").alias("w"))
    sizes = toks.select("doc_id", F.size("toks").alias("sz"))
    cand = jaccard_candidates(tok, sizes, threshold_num, threshold_den).persist()
    cand.count()  # materialize before verify (plan-reuse barrier)
    # verify: exact intersection over candidate pairs only (array form —
    # see verify_jaccard_pairs for the measured 7x over an explode join).
    # Eager localCheckpoint: materializes the (small) verified pair set
    # ONCE and cuts its lineage off toks/cand, so both intermediate
    # caches can be freed HERE instead of leaking a pair of persisted
    # tables per call in a long-lived driver (the block-accumulation
    # slowdown operators/components.py documents). The checkpoint's own
    # blocks are RDD-backed, so the ContextCleaner reclaims them when
    # the returned DataFrame is garbage collected — unlike CacheManager
    # entries, which live until an explicit unpersist.
    out = (
        verify_jaccard_pairs(cand, toks, "doc_id", threshold_num, threshold_den)
        .select("a", "b", "inter", "uni")
        .localCheckpoint(eager=True)
    )
    cand.unpersist()
    toks.unpersist()
    return out


def jaccard_candidates(
    tok: DataFrame, sizes: DataFrame, threshold_num: int = 8, threshold_den: int = 10
) -> DataFrame:
    """Lossless prefix-filter candidate pairs (a < b) for Jaccard >=
    num/den over a distinct (doc_id, w) token table and its (doc_id, sz)
    set sizes. Exposed separately so the fan-out bound is testable: the
    join key is each doc's RARE-token prefix, so a universally shared
    token generates no candidates unless the threshold's prefix window
    reaches it."""
    dfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("dfreq"))
    # per-doc token position in the GLOBAL (dfreq asc, token asc) order
    pos_w = Window.partitionBy("doc_id").orderBy("dfreq", "w")
    ranked = (
        tok.join(dfreq, "w")
        .join(sizes, "doc_id")
        .withColumn("pos", F.row_number().over(pos_w))
    )
    # prefix length = sz - ceil(t*sz) + 1  (integer ceil via DIV)
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("sz")
        - F.expr(f"({threshold_num} * sz + {threshold_den} - 1) DIV {threshold_den}")
        + 1
    ).select("doc_id", "w")
    return (
        prefix.select(F.col("doc_id").alias("a"), "w")
        .join(prefix.select(F.col("doc_id").alias("b"), "w"), "w")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


_SIMHASH_BITS = 60  # md5-hex-prefix hash (the portable-hash policy) = 60 bits


def simhash_table(df: DataFrame) -> DataFrame:
    """(id, sh): 60-bit SimHash per doc of ``documents(doc_id, text)``,
    entirely JVM-side codegen.

    Shape: explode distinct word tokens, hash each token with the same
    md5-prefix policy as ``token_hash`` (engine-portable), then ONE
    groupBy(id) whose 60 aggregate expressions are the per-bit ±1 vote
    sums ``sum(when(bit_set, 1).otherwise(-1))``; the signature packs the
    vote signs. No Python in the path — partial aggregation makes a
    billion-token doc reduce map-side, and the DuckDB oracle reproduces
    the sketch bit-for-bit.

    Docs with no alphanumeric tokens produce no signature row (excluded
    from near-dup pairing by definition).
    """
    tok = (
        df.select(
            F.col("doc_id").alias("id"), F.explode(words(F.col("text"))).alias("w")
        )
        .distinct()
        .withColumn("h", F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long"))
    )
    votes = [
        F.sum(
            F.when(
                F.shiftrightunsigned(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(_SIMHASH_BITS)
    ]
    sig = None
    for b in range(_SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return tok.groupBy("id").agg(*votes).select("id", sig.cast("long").alias("sh"))


def simhash_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs of ``documents(doc_id, text)`` with
    Hamming(simhash) <= max_hamming.

    Candidate generation bands the 60-bit sketch into (max_hamming + 1)
    chunks (pigeonhole: <= max_hamming differing bits => at least one
    identical chunk), so the join is an equi-join on (chunk_id, chunk),
    never all-pairs.
    """
    n_chunks = max_hamming + 1
    width = _SIMHASH_BITS // n_chunks
    # materialize the signature table once: the banded self-join below
    # references it on BOTH sides, and without a barrier the whole
    # explode+distinct+60-agg sketch subtree executes twice (measured
    # ~0.8 s/side at sf1.0). Eager localCheckpoint (not persist) so the
    # blocks are reclaimed by the ContextCleaner when the result is
    # garbage collected — same discipline as jaccard_pairs.
    s = simhash_table(df).localCheckpoint(eager=True)
    chunks = []
    for c in range(n_chunks):
        lo = c * width
        w = _SIMHASH_BITS - lo if c == n_chunks - 1 else width
        chunks.append(
            F.struct(
                F.lit(c).alias("cid"),
                F.shiftrightunsigned(F.col("sh"), lo)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("ck"),
            )
        )
    buckets = s.select("id", "sh", F.explode(F.array(*chunks)).alias("c")).select(
        "id", "sh", F.col("c.cid").alias("cid"), F.col("c.ck").alias("ck")
    )
    l = buckets.select(F.col("id").alias("a"), F.col("sh").alias("sha"), "cid", "ck")
    r = buckets.select(F.col("id").alias("b"), F.col("sh").alias("shb"), "cid", "ck")
    # A pair sharing k chunks came out of the join k times; the old plan
    # removed the duplicates with a DISTINCT — at sf1.0 that shuffled
    # 63M candidate rows to keep 27M (the corpus has a 15.7k-doc
    # near-identical cluster). Instead emit each pair from its FIRST
    # matching chunk only: keep the row iff every earlier chunk of
    # sha^shb is non-zero. Pure per-row bit math, exactly one emission
    # per qualifying pair — the dedup shuffle disappears entirely
    # (guide §2.4: remove shuffles outright).
    x = F.col("sha").bitwiseXOR(F.col("shb"))
    first_match = F.lit(True)
    prior_differs = F.lit(True)
    for c in range(1, n_chunks):
        lo = (c - 1) * width
        w = _SIMHASH_BITS - lo if c - 1 == n_chunks - 1 else width
        prior_differs = prior_differs & (
            F.shiftrightunsigned(x, lo).bitwiseAND(F.lit((1 << w) - 1)) != 0
        )
        first_match = F.when(F.col("cid") == c, prior_differs).otherwise(first_match)
    # (A salted variant — probe-side salt + build-side explode g ways to
    # split the mega-bucket key — was A/B'd at sf1.0 and LOST: warm 4.0 s
    # plain vs 5.7-6.1 s salted. The cluster's 4 chunk keys already land
    # in 4 parallel sort-merge tasks that stream sorted runs, and the
    # x8 build-side row explosion costs more than the tail it shaves.)
    return (
        l.join(r, ["cid", "ck"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("hamming", F.bit_count(x))
        .filter((F.col("hamming") <= max_hamming) & first_match)
        .select("a", "b", "hamming")
    )


# --- winnowing (rolling-hash) document fingerprints ---------------------

# fingerprints shared by more documents than this are boilerplate,
# dropped before the candidate self-join (``winnow_neardup``)
WINNOW_MAX_BUCKET = 200


def winnow_fingerprints(df: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """MOSS winnowing fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003): hash every character k-gram of the whitespace-normalized
    lowered text, then keep the minimum hash of every w-window of
    consecutive k-gram hashes; the distinct selected hashes are the
    document's fingerprint set. Guarantees: any shared substring of
    length >= w + k - 1 contributes at least one SHARED fingerprint, so
    fingerprint overlap finds partial-copy near-dups that word-level
    Jaccard/MinHash (operators above) miss on reordered documents.

    Plan shape at 10^12 docs: everything happens INSIDE one row — the
    k-gram hash array and the window-min selection are JVM array
    expressions (transform/slice/array_min), so the operator is
    embarrassingly parallel with NO shuffle at all; only consumers
    (grouping by fp) shuffle, and they see the winnowed ~2/(w+1)
    density, not the raw gram stream. Per-row cost is O(len * w); docs
    shorter than k characters carry no fingerprint and are dropped
    (documented contract; n in [1, w) selects the single global min).

    Reads ``documents(doc_id, text)``; returns (doc_id, fp) rows,
    distinct per document.

    Reference capability donor: content fingerprint + overlap detection
    (/root/reference/src/rad_ecg/scripts/peak_detect_v4.py:1710-1731);
    rolling/windowed scan shape (utils.py:54-76).
    """
    gram_hash = (
        f"CAST(conv(substring(md5(substring(_norm, i, {k})), 1, 15), 16, 10)"
        f" AS BIGINT) % {MERSENNE31}"
    )
    win_min = f"array_min(slice(_hashes, j, {w}))"
    sel = (
        f"CASE WHEN _n >= {w} THEN array_distinct("
        f"transform(sequence(1, _n - {w - 1}), j -> {win_min}))"
        f" ELSE array(array_min(_hashes)) END"
    )
    # explicit whitespace class (textstats.WS_CLASS): Java \s and RE2 \s
    # disagree on U+000B, and the DuckDB oracle must normalize identically
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), r"[ \t\n\f\r]+", " ")
    )
    return (
        df.select("doc_id", norm.alias("_norm"))
        .withColumn("_n", F.length("_norm") - F.lit(k - 1))
        .filter(F.col("_n") >= 1)
        .withColumn("_hashes", F.expr(f"transform(sequence(1, _n), i -> {gram_hash})"))
        .select("doc_id", F.explode(F.expr(sel)).alias("fp"))
    )


def winnow_neardup(
    df: DataFrame, k: int = 8, w: int = 4, min_shared: int = 2
) -> DataFrame:
    """Near-dup candidate pairs of ``documents(doc_id, text)`` by shared
    winnowing fingerprints: (a, b, shared) for pairs sharing >=
    min_shared selected hashes.

    Scale shape: the pair generator is an equi-join on fp (never
    all-pairs), and fingerprints shared by more than
    ``WINNOW_MAX_BUCKET`` documents (site boilerplate: headers, cookie
    banners) are dropped BEFORE the join — the same mega-bucket cap as
    the LSH candidate paths, bounding any single join task at
    WINNOW_MAX_BUCKET^2 pairs.

    Candidate density is governed by (k, w): small k on templated
    corpora makes k-grams collide heavily and the pair count balloon
    (the sf0.1 synthetic docs yield ~1.2M candidates at k=8). For real
    web corpora use plagiarism-detection-scale parameters (k ~ 25,
    w ~ 25) and treat the output as CANDIDATES to verify (e.g. exact
    Jaccard on the pair list), as with the other LSH paths.
    """
    fps = winnow_fingerprints(df, k, w)
    small = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_sz"))
        .filter(F.col("_sz") <= WINNOW_MAX_BUCKET)
        .select("fp")
    )
    capped = fps.join(small, "fp")
    l = capped.select(F.col("fp"), F.col("doc_id").alias("a"))
    r = capped.select(F.col("fp"), F.col("doc_id").alias("b"))
    return (
        l.join(r, "fp")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def winnow_verified_pairs(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """The full winnow dedup pipeline over ``documents(doc_id, text)``:
    candidate pairs by shared winnowing fingerprints
    (``winnow_neardup``), VERIFIED by the exact word-set Jaccard >=
    num/den — the composition its candidates-only stage documents as
    required (k-gram collisions make raw winnow pairs low-precision at
    small k).

    Scale shape: verification touches ONLY the candidate pair list (an
    equi-join of candidates against the distinct token table, grouped to
    intersection counts — Vernica et al. SIGMOD'10 verify step), never
    all pairs. Candidates with zero word overlap drop out of the inner
    intersection join; they cannot pass any positive threshold.

    Returns (a, b, shared, inter, uni): fingerprint-share count plus the
    exact intersection/union backing the Jaccard decision.
    """
    cand = winnow_neardup(df, k, w, min_shared)
    return verify_jaccard_pairs(
        cand, token_sets(df), "doc_id", threshold_num, threshold_den
    ).select("a", "b", "shared", "inter", "uni")


def near_dup_components(
    toks: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    threshold_num: int = 9,
    threshold_den: int = 10,
    max_bucket: int | None = None,
) -> DataFrame:
    """(id, component = min id) for every document in a verified
    near-dup cluster of size >= 2: MinHash-LSH candidate pairs (an
    equi-join, never O(n²)), exact word-Jaccard verification of the
    candidates only, then connected components over the verified pairs
    (the link-graph engine, here on DERIVED edges)."""
    from rad_ecg_spark.operators.components import connected_components

    cand = minhash_lsh_candidates(toks, id_col, bands, max_bucket)
    # connected_components reads verified exactly once, into its input
    # cut (graph_core.edge_set)
    verified = verify_jaccard_pairs(
        cand, toks, id_col, threshold_num, threshold_den
    ).select(F.col("a").alias("src"), F.col("b").alias("dst"))
    # hybrid = capped hashmin then star-on-contraction: measured 3.7x
    # faster than pure star on the sf0.01 pair graph (7.6 vs 28.3 s)
    # and it keeps star's worst-case round bound on chain-shaped
    # clusters — same default rationale as the registry CC query.
    return connected_components(verified)


def dup_clusters(
    df: DataFrame,
    bands: int = 4,
    threshold_num: int = 9,
    threshold_den: int = 10,
) -> DataFrame:
    """End-to-end corpus dedup of ``documents(doc_id, text)`` — the
    actual 100 TB pipeline shape: (doc_id, rep, cluster_size) for every
    document in a verified
    near-dup cluster of size >= 2 (``near_dup_components``); singletons
    are their own representative and are omitted.

    Reference capability donor: overlap dedup via set-intersection +
    rollback (peak_detect_v4.py:1710-1731); grouping shape
    (porcine/pig_extract.py:1007).
    """
    cc = near_dup_components(
        token_sets(df), "doc_id", bands, threshold_num, threshold_den
    )
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("rep"),
        F.count(F.lit(1)).over(Window.partitionBy("component")).alias("cluster_size"),
    )
