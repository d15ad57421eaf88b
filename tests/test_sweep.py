"""The keyed partition sweep (operators/sweep.py): the run splitter
yields complete key runs in order, one batch plus one run at a time."""

from __future__ import annotations

import numpy as np
import pandas as pd

from rad_ecg_spark.operators.sweep import key_runs


def _batches(rng):
    """A random key-sorted stream cut into random batches, empty ones
    included, with one run long enough to span several batches."""
    sizes = rng.integers(1, 6, size=rng.integers(1, 30))
    sizes[rng.integers(len(sizes))] = rng.integers(20, 40)  # a long run
    keys = np.repeat(np.arange(len(sizes)), sizes)
    frame = pd.DataFrame({"k": keys, "pos": np.arange(len(keys))})
    cuts = np.sort(rng.integers(0, len(keys) + 1, size=rng.integers(0, 20)))
    edges = np.r_[0, cuts, len(keys)]
    return frame, [frame.iloc[a:b] for a, b in zip(edges[:-1], edges[1:])], int(sizes.max())


def test_key_runs_hold_one_batch_plus_one_run():
    rng = np.random.default_rng(11)
    spanned = empties = 0
    for _ in range(1000):
        frame, batches, longest = _batches(rng)
        batch_rows = max(len(b) for b in batches)
        out = list(key_runs(iter(batches), "k"))
        assert all(len(f) for f in out)
        # order preserved, nothing lost or duplicated
        assert pd.concat(out)["pos"].tolist() == frame["pos"].tolist()
        # every run lands whole in exactly one frame
        seen = [set(f["k"]) for f in out]
        assert sum(len(s) for s in seen) == frame["k"].nunique()
        assert all(len(f) <= longest + batch_rows for f in out)
        empties += any(not len(b) for b in batches)
        run_batches = {}
        for i, b in enumerate(batches):
            for key in set(b["k"]):
                run_batches.setdefault(key, set()).add(i)
        spanned += any(len(v) >= 3 for v in run_batches.values())
    # the streams really exercised empty batches and long carried runs
    assert empties > 100 and spanned > 100

