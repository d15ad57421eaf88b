"""Dedup family + similarity search on planted fixtures with known
answers (reference style: deterministic inputs, closed-form oracles)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from rad_ecg_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    simhash_pairs,
    token_sets,
)
from rad_ecg_spark.operators.similarity import (
    brute_force_topk,
    embedding_neardup_pairs,
    lsh_ann_topk,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "The  quick BROWN fox jumps over the lazy dog"),  # normalized dup of 1
    (4, "the quick brown fox leaps over the lazy dog"),   # near dup (1 word)
    (5, "completely different content about spark engines"),
    (6, "zzz qqq xxx yyy www vvv"),
]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


class TestJaccard:
    def test_near_dup_pair_found(self, spark):
        pairs = {
            (r["a"], r["b"]): (r["inter"], r["uni"])
            for r in jaccard_pairs(
                _docs_df(spark), threshold_num=7, threshold_den=10
            ).collect()
        }
        # docs 1/2/3 identical word sets (8 words); doc 4 shares 7 of 9
        assert pairs[(1, 2)] == (8, 8)
        assert pairs[(1, 3)] == (8, 8)
        assert (1, 4) in pairs
        inter, uni = pairs[(1, 4)]
        assert inter == 7 and uni == 9
        assert all(5 not in p and 6 not in p for p in pairs)


class TestMinHash:
    def test_identical_docs_identical_signatures(self, spark):
        sigs = {r["doc_id"]: tuple(r[f"sig_{i}"] for i in range(8))
                for r in minhash_signatures(token_sets(_docs_df(spark))).collect()}
        assert sigs[1] == sigs[2] == sigs[3]
        assert sigs[1] != sigs[5]

    def test_lsh_candidates_contain_dups_not_disjoint(self, spark):
        cands = {(r["a"], r["b"]) for r in
                 minhash_lsh_candidates(token_sets(_docs_df(spark))).collect()}
        assert (1, 2) in cands and (1, 3) in cands and (2, 3) in cands
        assert (5, 6) not in cands  # zero shared tokens


class TestSimHash:
    def test_exact_dups_zero_hamming(self, spark):
        pairs = {(r["a"], r["b"]): r["hamming"] for r in
                 simhash_pairs(_docs_df(spark), max_hamming=10).collect()}
        assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0
        assert (5, 6) not in pairs


class TestSimilarity:
    def _vec_df(self, spark):
        rng = np.random.default_rng(42)
        base = rng.standard_normal((4, 8))
        rows = []
        vid = 0
        for b in base:
            for j in range(5):  # 5 jittered copies per cluster
                v = b + 0.01 * rng.standard_normal(8)
                rows.append((vid, [float(x) for x in v]))
                vid += 1
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_brute_force_topk_finds_cluster_mates(self, spark):
        vecs = self._vec_df(spark)
        q = vecs.filter(F.col("vec_id") == 0)
        top = brute_force_topk(vecs, q, k=4).collect()
        got = {r["vid"] for r in top}
        assert got == {1, 2, 3, 4}  # same-cluster jittered copies
        assert all(r["cos"] > 0.99 for r in top)

    def test_lsh_ann_matches_brute_force_on_clustered_data(self, spark):
        vecs = self._vec_df(spark)
        q = vecs.filter(F.col("vec_id").isin(0, 5, 10))
        bf = {(r["qid"], r["rk"]): r["vid"]
              for r in brute_force_topk(vecs, q, k=2).collect()}
        # tight clusters + multiple tables: ANN must recover the exact
        # top-2 (multi-table banding makes a same-cluster miss ~(1-p)^b)
        ann = {(r["qid"], r["rk"]): r["vid"]
               for r in lsh_ann_topk(vecs, q, k=2, n_tables=8, bits=4).collect()}
        assert ann == bf

    def test_lsh_recall_vs_brute_force(self, spark):
        """Recall@4 of the banded LSH vs the exact baseline on all 20
        clustered vectors — must be 1.0 here (each cluster's 4 mates are
        at cos ~0.9999; any real neighbor landing in no shared bucket
        across 8 tables would be a construction bug, not noise)."""
        vecs = self._vec_df(spark)
        bf = {(r["qid"], r["vid"]) for r in brute_force_topk(vecs, vecs, k=4).collect()}
        ann = {(r["qid"], r["vid"])
               for r in lsh_ann_topk(vecs, vecs, k=4, n_tables=8, bits=4).collect()}
        recall = len(bf & ann) / len(bf)
        assert recall == 1.0

    def test_lsh_mega_bucket_cap_bounds_join(self, spark):
        """max_bucket drops pathological buckets: 50 IDENTICAL vectors all
        share every bucket; with max_bucket=10 the self-join must emit no
        pair from that bucket (bounded task), while distinct clusters
        still pair up."""
        rows = [(i, [1.0] * 8) for i in range(50)]
        rows += [(100, [1.0, -1.0] * 4), (101, [1.0, -1.0] * 4)]
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        pairs = {(r["a"], r["b"]) for r in
                 embedding_neardup_pairs(vecs, threshold=0.99, max_bucket=10).collect()}
        assert (100, 101) in pairs
        assert not any(a < 50 and b < 50 for a, b in pairs)

    def test_lsh_empty_vectors_clear_error(self, spark):
        import pytest

        empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="cannot infer embedding dim"):
            lsh_ann_topk(empty, empty, k=1)

    def test_ivf_fixed_topk_exact_within_probed_cells(self, spark):
        """ivf_fixed_topk with ALL cells probed degenerates to exact
        brute force (same ranking tail) -> sanity for the fixed path."""
        from rad_ecg_spark.operators.similarity import (
            brute_force_topk,
            ivf_centroids,
            ivf_fixed_topk,
        )

        vecs = self._vec_df(spark)
        q = vecs.filter(F.col("vec_id") == 0)
        cents = ivf_centroids(dim=8, n_cells=4, seed=11)
        got = {
            (r["qid"], r["rk"], r["vid"])
            for r in ivf_fixed_topk(vecs, q, cents, k=4, nprobe=4).collect()
        }
        want = {
            (r["qid"], r["rk"], r["vid"])
            for r in brute_force_topk(vecs, q, k=4).collect()
        }
        assert got == want

    def test_embedding_neardup_pairs(self, spark):
        vecs = self._vec_df(spark)
        pairs = {(r["a"], r["b"]) for r in
                 embedding_neardup_pairs(vecs, threshold=0.99).collect()}
        assert (0, 1) in pairs
        # no cross-cluster pair survives the threshold
        assert all((a // 5) == (b // 5) for a, b in pairs)


class TestWinnowing:
    K, W = 8, 4

    def _fps(self, spark, docs):
        from rad_ecg_spark.operators.dedup import winnow_fingerprints

        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {}
        for r in winnow_fingerprints(df, k=self.K, w=self.W).collect():
            out.setdefault(r["doc_id"], set()).add(r["fp"])
        return out

    def test_layout_insensitive(self, spark):
        """Whitespace layout and case must not change the fingerprint set."""
        base = "The quick brown fox jumps over the lazy dog near the bank"
        messy = "  the   QUICK brown\tfox jumps  over the LAZY dog near the bank "
        fps = self._fps(spark, [(1, base), (2, messy)])
        assert fps[1] == fps[2]

    def test_shared_substring_guarantee(self, spark):
        """Winnowing guarantee (SIGMOD'03): documents sharing a substring
        of length >= w + k - 1 share at least one fingerprint — even when
        the surrounding text is completely different."""
        shared = "zebra quantum fjord waltz"  # 25 chars > W + K - 1 = 11
        a = "completely unrelated preamble " + shared + " and then some tail"
        b = shared + " with a different continuation entirely here"
        fps = self._fps(spark, [(1, a), (2, b)])
        assert fps[1] & fps[2]

    def test_disjoint_docs_share_nothing(self, spark):
        fps = self._fps(
            spark,
            [(1, "aaaa bbbb cccc dddd eeee ffff"),
             (2, "gggg hhhh iiii jjjj kkkk llll")],
        )
        assert not (fps[1] & fps[2])

    def test_short_doc_single_fingerprint(self, spark):
        # length k <= len < k + w - 1: exactly one selected hash
        fps = self._fps(spark, [(1, "abcdefghi")])  # 9 chars, n=2 < w
        assert len(fps[1]) == 1

    def test_neardup_partial_copy_found(self, spark):
        from rad_ecg_spark.operators.dedup import winnow_neardup

        copied = "this exact paragraph was lifted verbatim from the source"
        docs = [
            (1, "original article text " + copied + " with original ending"),
            (2, "a plagiarized piece: " + copied),
            (3, "fully unrelated content about maritime navigation charts"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        pairs = {(r["a"], r["b"]) for r in
                 winnow_neardup(df, k=self.K, w=self.W, min_shared=2).collect()}
        assert (1, 2) in pairs
        assert all(3 not in p for p in pairs)

    def test_plagiarism_scale_parameters(self, spark):
        """The docstring's real-world parameterization claim (k~25,
        w~25), measured: on a 200-doc random-word corpus with 20
        planted ~200-char lifted passages, plagiarism-scale parameters
        find EXACTLY the planted pairs (precision 1.0, recall 1.0),
        while the registry's collision-happy k=8,w=4 drowns them in
        thousands of gram-collision candidates (~0.5% precision here,
        ~9% on the sf0.1 synthetic docs). A ~35-word passage carries
        >= floor((L-k+1)/w) ~ 7 disjoint winnow windows, so the
        min_shared=2 gate is met with margin (SIGMOD'03 guarantee)."""
        import string

        from rad_ecg_spark.operators.dedup import winnow_neardup

        rng = np.random.default_rng(1234)
        letters = np.array(list(string.ascii_lowercase))
        vocab = ["".join(rng.choice(letters, rng.integers(3, 10)))
                 for _ in range(4000)]

        def doc(n):
            return " ".join(rng.choice(vocab, n))

        texts = [doc(80) for _ in range(200)]
        planted = set()
        for i in range(20):
            src, dst = i, 100 + i
            words = texts[src].split()
            start = int(rng.integers(0, 40))
            passage = " ".join(words[start:start + 35])
            texts[dst] = doc(10) + " " + passage + " " + doc(40)
            planted.add((src, dst))
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {(r["a"], r["b"]) for r in
               winnow_neardup(df, k=25, w=25, min_shared=2).collect()}
        tp = len(got & planted)
        assert tp == len(planted), "recall must be 1.0 (winnow guarantee)"
        assert tp / len(got) >= 0.95, f"precision {tp/len(got):.3f} < 0.95"
        # same corpus, registry-scale k=8,w=4: recall holds but the
        # candidate list balloons — the documented precision tradeoff
        loose = {(r["a"], r["b"]) for r in
                 winnow_neardup(df, k=8, w=4, min_shared=2).collect()}
        assert planted <= loose
        assert len(loose) > 20 * len(got)

    def test_verified_pairs_drop_gram_collisions(self, spark):
        """winnow_verified_pairs = winnow candidates -> exact Jaccard.
        A pair sharing only a short substring (winnow candidate) but few
        words must NOT survive a high word-Jaccard threshold, while a
        real near-dup must."""
        from rad_ecg_spark.operators.dedup import (
            winnow_neardup,
            winnow_verified_pairs,
        )

        shared = "zebra quantum fjord waltz"
        docs = [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "unrelated preamble " + shared + " with some tail text"),
            (4, shared + " followed by an entirely different continuation"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        cand = {(r["a"], r["b"]) for r in
                winnow_neardup(df, k=self.K, w=self.W, min_shared=2).collect()}
        assert (3, 4) in cand, "substring-sharing pair must be a candidate"
        got = {
            (r["a"], r["b"]): (r["inter"], r["uni"])
            for r in winnow_verified_pairs(
                df, k=self.K, w=self.W, min_shared=2,
                threshold_num=7, threshold_den=10,
            ).collect()
        }
        assert (1, 2) in got
        inter, uni = got[(1, 2)]  # 9 distinct words each, 8 shared
        assert inter == 8 and uni == 10
        assert (3, 4) not in got, "verification must kill the collision pair"


class TestDupClusters:
    def test_clusters_min_rep_and_size(self, spark):
        """candidates -> verify -> CC -> min-id rep: two planted clusters
        {1,2,3} (transitively: 1~2, 2~3) and {10,11}; singletons absent."""
        from rad_ecg_spark.operators.dedup import dup_clusters

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        docs = [
            (1, base),
            (2, base),                       # exact dup of 1
            (3, base + " lambda"),           # near dup of 1/2 (10/11)
            (10, "one two three four five six seven eight nine ten"),
            (11, "one two three four five six seven eight nine ten"),
            (20, "completely unrelated content about maritime charts"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        rows = {
            r["doc_id"]: (r["rep"], r["cluster_size"])
            for r in dup_clusters(
                df, bands=4, threshold_num=9, threshold_den=10
            ).collect()
        }
        assert rows[1] == (1, 3) and rows[2] == (1, 3) and rows[3] == (1, 3)
        assert rows[10] == (10, 2) and rows[11] == (10, 2)
        assert 20 not in rows


class TestBpeTokens:
    def test_counts(self, spark):
        from rad_ecg_spark.functions.textstats import n_tokens_bpe

        df = spark.createDataFrame(
            [(1, "It's a well-known fact: GPT-2 uses 50,257 tokens!"),
             (2, "   leading  spaces "), (3, ""), (4, None)],
            "id long, text string",
        )
        got = {r["id"]: r["n"] for r in
               df.select("id", n_tokens_bpe(F.col("text")).alias("n")).collect()}
        # "it" "'s" " a" " well" "-" "known" " fact" ":" " gpt" "-" "2"
        # " uses" " 50" "," "257" " tokens" "!" = 17
        assert got[1] == 17
        # whitespace RUNS are their own (dropped) pieces, so the words
        # survive as plain "leading" / "spaces" -> 2 counted tokens
        assert got[2] == 2
        assert got[3] == 0

    def test_whitespace_attachment(self, spark):
        from rad_ecg_spark.functions.textstats import n_tokens_bpe

        df = spark.createDataFrame([(1, "a b"), (2, "a  b"), (3, " a b ")],
                                   "id long, text string")
        got = {r["id"]: r["n"] for r in
               df.select("id", n_tokens_bpe(F.col("text")).alias("n")).collect()}
        # one space attaches to the next token; extra runs are dropped
        assert got == {1: 2, 2: 2, 3: 2}


class TestArrowFoldEquivalence:
    """The vectorized Arrow passes behind lsh_ann_topk/ivf_fixed_topk
    (_with_band_buckets / _with_cells) must be BIT-identical to the JVM
    expression path (band_buckets / _cell_structs + array_sort) — the
    declared queries carry exact DuckDB oracles mirroring the expression
    fold order, so any drift here is a correctness regression, not just
    a perf bug. Edge rows cover the probed JVM semantics: null array and
    null element -> bucket 0 / cell 0; NaN dot -> bit set (Spark's
    NaN >= 0 is true); all-Inf d2 ties -> cell 0; ragged lengths ->
    null fold -> bucket 0 / cell 0."""

    DIM = 8

    def _edge_df(self, spark):
        from pyspark.sql.types import (
            ArrayType, DoubleType, LongType, StructField, StructType,
        )

        d = self.DIM
        rows = [
            (0, [float(i) - 3.0 for i in range(d)]),
            (1, None),
            (2, [0.0] * 3 + [None] + [0.0] * (d - 4)),
            (3, [float("nan")] + [0.0] * (d - 1)),
            (4, [float("inf")] + [0.0] * (d - 1)),
            (5, [-0.0] * d),
            (6, [0.5] * d),
            (7, [1.0, 2.0]),                    # ragged: too short
            (8, [float(i) for i in range(d + 4)]),  # ragged: too long
        ]
        schema = StructType([
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType(), True), True),
        ])
        return spark.createDataFrame(rows, schema)

    def test_band_buckets_bit_identical(self, spark):
        from rad_ecg_spark.operators import similarity as S

        planes = S.hyperplanes(self.DIM, 3, 5, 42)
        df = self._edge_df(spark)
        jvm = sorted(
            tuple(r)
            for r in df.select(
                "vec_id", F.explode(S.band_buckets(F.col("embedding"), planes)).alias("tb")
            ).select("vec_id", "tb.tid", "tb.bucket").collect()
        )
        arrow = sorted(
            tuple(r)
            for r in S._with_band_buckets(
                df.select("vec_id", "embedding"), "embedding", planes
            ).select("vec_id", F.posexplode("buckets").alias("tid", "bucket")).collect()
        )
        assert arrow == jvm

    def test_ivf_cells_and_probe_bit_identical(self, spark):
        from rad_ecg_spark.operators import similarity as S

        cents = S.ivf_centroids(self.DIM, 4, 11)
        df = self._edge_df(spark)
        jvm_cell = sorted(
            tuple(r)
            for r in df.select(
                "vec_id",
                F.coalesce(
                    F.array_sort(
                        F.array(*S._cell_structs(F.col("embedding"), cents))
                    )[0]["cell"],
                    F.lit(-1),
                ).alias("cell"),
            ).collect()
        )
        arrow_cell = sorted(
            tuple(r)
            for r in S._with_cells(
                df.select("vec_id", "embedding"), "embedding", cents, nprobe=None
            ).select("vec_id", "cell").collect()
        )
        assert arrow_cell == jvm_cell

        jvm_probe = sorted(
            tuple(r)
            for r in df.select(
                "vec_id",
                F.explode(
                    F.slice(
                        F.array_sort(F.array(*S._cell_structs(F.col("embedding"), cents))),
                        1, 2,
                    )
                ).alias("pc"),
            ).select("vec_id", F.col("pc.cell").alias("cell")).collect()
        )
        arrow_probe = sorted(
            tuple(r)
            for r in S._with_cells(
                df.select("vec_id", "embedding"), "embedding", cents, nprobe=2
            ).select("vec_id", F.explode("cells").alias("cell")).collect()
        )
        assert arrow_probe == jvm_probe

    def test_float32_data_bit_identical(self, spark):
        """Registry embeddings are float32; the Arrow path's
        float32 -> float64 conversion must land on the same doubles as
        the JVM's cast(float as double) before the fold."""
        from pyspark.sql.types import (
            ArrayType, FloatType, LongType, StructField, StructType,
        )

        from rad_ecg_spark.operators import similarity as S

        rng = np.random.default_rng(7)
        rows = [
            (i, [float(np.float32(x)) for x in rng.standard_normal(self.DIM)])
            for i in range(64)
        ]
        schema = StructType([
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType(), True), True),
        ])
        df = spark.createDataFrame(rows, schema)
        planes = S.hyperplanes(self.DIM, 2, 6, 42)
        jvm = sorted(
            tuple(r)
            for r in df.select(
                "vec_id", F.explode(S.band_buckets(F.col("embedding"), planes)).alias("tb")
            ).select("vec_id", "tb.tid", "tb.bucket").collect()
        )
        arrow = sorted(
            tuple(r)
            for r in S._with_band_buckets(
                df.select("vec_id", "embedding"), "embedding", planes
            ).select("vec_id", F.posexplode("buckets").alias("tid", "bucket")).collect()
        )
        assert arrow == jvm
