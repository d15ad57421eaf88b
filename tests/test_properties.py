"""Property-based tests (hypothesis) — the reference's fixture-oracle
test style (SURVEY.md §5) generalized to generated inputs."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


class TestJaccardPrefixFilter:
    def test_common_token_generates_no_candidates(self, spark):
        """60 docs all sharing 'the' but otherwise disjoint: a naive
        shared-token join fans out to C(60,2)=1770 candidate pairs; the
        prefix filter (t=0.8 => prefix = single rarest token) yields 0."""
        from rad_ecg_spark.operators.dedup import jaccard_candidates

        docs = [(i, f"the uniq{i:03d}") for i in range(60)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        from rad_ecg_spark.functions.textstats import words

        tok = df.select("doc_id", F.explode(words(F.col("text"))).alias("w")).distinct()
        sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
        cand = jaccard_candidates(tok, sizes, threshold_num=8, threshold_den=10)
        assert cand.count() == 0
        # and the full operator still finds REAL near-dups in the same mix
        from rad_ecg_spark.operators.dedup import jaccard_pairs

        docs2 = docs + [(100, "alpha beta gamma delta epsilon"),
                        (101, "alpha beta gamma delta epsilon")]
        pairs = jaccard_pairs(
            spark.createDataFrame(docs2, "doc_id long, text string"),
            threshold_num=8, threshold_den=10,
        ).collect()
        assert {(r["a"], r["b"]) for r in pairs} == {(100, 101)}


def _episodes_reference(rows, threshold_cents):
    """Pure-Python oracle: rows = [(ts_ms, event_id, cents)] one user."""
    rows = sorted(rows)
    out, cur = [], None
    for ts_ms, _eid, cents in rows:
        if cents is not None and cents > threshold_cents:
            if cur is None:
                cur = [0, ts_ms, ts_ms, 0, 0]
            cur[0] += 1
            cur[2] = ts_ms
            cur[3] += cents
            cur[4] = max(cur[4], cents)
        else:
            if cur is not None:
                out.append(tuple(cur))
                cur = None
    if cur is not None:
        out.append(tuple(cur))
    return out


class TestEpisodesProperty:
    @SLOW
    @given(
        values=st.lists(
            st.integers(min_value=0, max_value=500), min_size=1, max_size=40
        )
    )
    def test_kernel_matches_pure_python(self, spark, values):
        from rad_ecg_spark.operators.episodes import detect_episodes

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (i, t0 + dt.timedelta(minutes=i), 7, "c", float(v), "")
            for i, v in enumerate(values)
        ]
        ev = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        )
        got = sorted(
            (r["n_events"], r["start_ms"], r["end_ms"], r["sum_cents"], r["peak_cents"])
            for r in detect_episodes(ev, threshold=250.0).collect()
        )
        ref_rows = [
            (int((t0 + dt.timedelta(minutes=i)).timestamp() * 1000), i, v * 100)
            for i, v in enumerate(values)
        ]
        exp = sorted(_episodes_reference(ref_rows, 25000))
        assert got == exp


class TestSimHashBandingComplete:
    def test_banding_finds_every_close_pair(self, spark):
        """Pigeonhole guarantee: every pair with Hamming <= max_hamming
        must be produced by the banded join — check against brute force
        over the collected sketches."""
        from rad_ecg_spark.operators.dedup import simhash_pairs, simhash_table

        base = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
        docs = [(i, base + f" extra{i % 7}") for i in range(30)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        sk = {r["id"]: r["sh"] for r in simhash_table(df).collect()}
        brute = set()
        ids = sorted(sk)
        for i in ids:
            for j in ids:
                if i < j and bin(sk[i] ^ sk[j]).count("1") <= 3:
                    brute.add((i, j))
        banded = {(r["a"], r["b"]) for r in simhash_pairs(df, max_hamming=3).collect()}
        assert banded == brute and len(brute) > 0


class TestY4MCodecProperty:
    """Round-trip property for the dependency-free Y4M video codec: any
    frame stack encodes to a stream that decodes back bit-exactly with
    the original dims, and any fps written into its header decodes back
    (no Spark needed — pure codec)."""

    @given(
        n=st.integers(min_value=0, max_value=6),
        h=st.integers(min_value=1, max_value=12),
        w=st.integers(min_value=1, max_value=12),
        num=st.integers(min_value=1, max_value=120),
        den=st.integers(min_value=1, max_value=4),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    @settings(max_examples=40, deadline=None)
    def test_roundtrip(self, n, h, w, num, den, seed):
        import numpy as np

        from rad_ecg_spark.functions.multimodal import y4m_decode, y4m_encode

        rng = np.random.default_rng(seed)
        frames = rng.integers(0, 256, size=(n, h, w), dtype=np.uint8)
        payload = y4m_encode(frames).replace(b" F25:1 ", f" F{num}:{den} ".encode(), 1)
        gw, gh, fps, got = y4m_decode(payload)
        assert (gw, gh, fps) == (w, h, (num, den))
        assert got.shape == frames.shape
        assert np.array_equal(got, frames)
