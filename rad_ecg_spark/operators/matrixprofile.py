"""Matrix-profile discord detection as a grouped-map kernel.

Reference capability: stumpy matrix-profile discord search per section
(/root/reference/src/rad_ecg/scripts/ml/anomaly/stump_anom.py:60-110,
porcine/stumpy_discord.py) — for every length-w window of a series, the
z-normalized distance to its nearest non-trivial neighbor; the window
whose nearest neighbor is FARTHEST is the discord (anomaly).

Spark-first shape: series are swept by key (user) through the one keyed
sweep (operators/sweep.py), which holds one Arrow batch plus one user's
run at a time; each group's kernel is vectorized numpy — the pairwise
z-distance is computed as a LEFT-FOLD over the w lag terms so the
DuckDB oracle (explicit 8-term sum chain) reproduces every double
bit-for-bit. Window means/variances come from exact integer (cents)
sums. Exclusion zone |i-j| < w, zero-variance windows dropped on both
sides (identically in the oracle).

Memory: the distance matrix is never materialized whole. ``_blocked_nn``
streams row-blocks of the (m x m) matrix through two REUSED fixed-size
buffers (~64 MB in total regardless of m), keeping a running
per-row nearest neighbor — a 100k-window group peaks at the buffer cap,
not at the 80 GB an (m x m) float64 allocation would need. Each pair's
d2 is still the identical k-ordered scalar chain, so blocking changes
no double (tests/test_kernels_and_io.py asserts hash-stability and the
memory bound).

At 100 TB: groups are bounded per-key series (the reference's
per-section contract); for one giant series the same kernel runs per
chunk-with-halo — operators/halo.py is the partition layout, this
module is the algorithm.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from rad_ecg_spark.operators.sweep import per_run, sweep, user_series

MP_SCHEMA = (
    "user_id long, discord_idx int, nn_idx int, mp_e6 long, n_windows int"
)

# ~64 MB of float64 across the two reused (block x m) buffers
_MAX_BLOCK_ELEMS = 4_000_000


def znorm_windows(x: np.ndarray, w: int):
    """(idx, z): positions (0-based) and z-normalized rows of all
    positive-variance length-w windows of int series x. Means/variances
    from exact integer sums — the same doubles as the SQL oracle."""
    n = len(x)
    nw = n - w + 1
    if nw < 2:
        return None
    win = np.lib.stride_tricks.sliding_window_view(x, w)  # (nw, w) ints
    s1 = win.sum(axis=1, dtype=np.int64)
    s2 = (win * win).sum(axis=1, dtype=np.int64)
    wf = float(w)
    mu = s1 / wf
    var = (s2 - (s1 / wf) * s1) / wf  # mirrored verbatim in the oracle
    idx = np.nonzero(var > 0)[0]
    if len(idx) < 2:
        return None
    sig = np.sqrt(var[idx])
    z = (win[idx].astype(np.float64) - mu[idx][:, None]) / sig[:, None]
    return idx, z


def _blocked_nn(idx: np.ndarray, z: np.ndarray, w: int):
    """Per-window nearest non-trivial neighbor (nn_pos, d2, has_nn),
    streaming row-blocks of the pairwise matrix through two reused
    buffers of at most ``_MAX_BLOCK_ELEMS`` doubles each (read at call
    time, so tests can shrink it).

    Exactness contract: each pair's d2 is the left-assoc k-ordered
    chain ((0 + d_1^2) + d_2^2) + ... — blocking over rows i never
    touches a pair's own accumulation chain, so every double is
    bit-identical to the full-matrix computation (and to the SQL
    oracle's explicit sum chain). Ties: first (smallest-j) argmin.
    """
    m = len(idx)
    block = max(1, min(m, _MAX_BLOCK_ELEMS // m))
    zT = np.ascontiguousarray(z.T)  # (w, m): contiguous per-lag rows
    nn_pos = np.empty(m, dtype=np.int64)
    mp = np.empty(m, dtype=np.float64)
    has_nn = np.empty(m, dtype=bool)
    acc = np.empty((block, m))
    d = np.empty_like(acc)
    for lo in range(0, m, block):
        hi = min(lo + block, m)
        a, dd = acc[: hi - lo], d[: hi - lo]
        a.fill(0.0)
        for k in range(w):
            np.subtract(zT[k, lo:hi, None], zT[k, None, :], out=dd)
            np.multiply(dd, dd, out=dd)
            np.add(a, dd, out=a)
        a[np.abs(idx[lo:hi, None] - idx[None, :]) < w] = np.inf
        has_nn[lo:hi] = ~np.isinf(a).all(axis=1)
        nn = np.argmin(a, axis=1)  # first min = smallest j
        nn_pos[lo:hi] = nn
        mp[lo:hi] = a[np.arange(hi - lo), nn]
    return nn_pos, mp, has_nn


def mp_discord_kernel(pdf: pd.DataFrame, w: int) -> pd.DataFrame:
    """Per-group discord kernel (module-level so tests and the halo
    layout can drive it directly). Expects columns uid, ts_ms, cents,
    oid; returns one MP_SCHEMA row (or none)."""
    empty = pd.DataFrame(
        {
            "user_id": pd.Series([], dtype="int64"),
            "discord_idx": pd.Series([], dtype="int32"),
            "nn_idx": pd.Series([], dtype="int32"),
            "mp_e6": pd.Series([], dtype="int64"),
            "n_windows": pd.Series([], dtype="int32"),
        }
    )
    pdf = pdf.sort_values(["ts_ms", "oid"], kind="mergesort")
    x = pdf["cents"].to_numpy(dtype=np.int64)
    zw = znorm_windows(x, w)
    if zw is None:
        return empty
    idx, z = zw
    m = len(idx)
    nn_pos, mp, has_nn = _blocked_nn(idx, z, w)
    if not has_nn.any():
        return empty
    mp[~has_nn] = -np.inf
    best = int(np.argmax(mp))  # first max = smallest i
    return pd.DataFrame(
        {
            "user_id": [int(pdf["uid"].iloc[0])],
            "discord_idx": np.array([idx[best] + 1], dtype=np.int32),
            "nn_idx": np.array([idx[nn_pos[best]] + 1], dtype=np.int32),
            "mp_e6": np.array(
                [int(np.floor(mp[best] * 1e6 + 0.5))], dtype=np.int64
            ),
            "n_windows": np.array([m], dtype=np.int32),
        }
    )


def matrix_profile_discord(events: DataFrame, w: int = 8) -> DataFrame:
    """Per user of ``events(user_id, ts, value, event_id)``: the discord
    window (1-based index), its nearest neighbor and z-distance^2
    (x1e6), over length-``w`` windows of the cents series in
    (ts, event_id) order."""
    series = user_series(events)
    kernel = per_run(lambda pdf: mp_discord_kernel(pdf, w), "uid")
    return sweep(series, "uid", ["ts_ms", "oid"], kernel, MP_SCHEMA)


def matrix_profile_oracle_sql(w: int = 8) -> str:
    """DuckDB twin. Window stats from exact integer sums; the z-distance
    is the same explicit left-assoc 8-term chain as the kernel's fold."""
    terms = " + ".join(
        f"((a.arr[{k}] - a.mu) / a.sig - (b.arr[{k}] - b.mu) / b.sig) * "
        f"((a.arr[{k}] - a.mu) / a.sig - (b.arr[{k}] - b.mu) / b.sig)"
        for k in range(1, w + 1)
    )
    return f"""
WITH o AS (
  SELECT user_id, CAST(round(value*100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
), win AS (
  SELECT user_id, rn AS i,
         list(cents) OVER (PARTITION BY user_id ORDER BY rn
                           ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS arr,
         CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY rn
                           ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS BIGINT) AS s1,
         CAST(sum(cents*cents) OVER (PARTITION BY user_id ORDER BY rn
                           ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS BIGINT) AS s2,
         n
  FROM o
), stats AS (
  SELECT user_id, CAST(i AS BIGINT) AS i, arr,
         s1 / {w}.0 AS mu,
         sqrt((s2 - (s1 / {w}.0) * s1) / {w}.0) AS sig,
         (s2 - (s1 / {w}.0) * s1) / {w}.0 AS var
  FROM win WHERE i <= n - {w} + 1
), zwin AS (
  SELECT * FROM stats WHERE var > 0
), pair AS (
  SELECT a.user_id, a.i AS i, b.i AS j, ({terms}) AS d2
  FROM zwin a JOIN zwin b
    ON a.user_id = b.user_id AND abs(a.i - b.i) >= {w}
), mp AS (
  SELECT user_id, i, j AS nn, d2 AS mpv FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, i ORDER BY d2, j) AS rk
    FROM pair
  ) WHERE rk = 1
), cnt AS (
  SELECT user_id, CAST(count(*) AS INT) AS n_windows FROM zwin GROUP BY user_id
), discord AS (
  SELECT user_id, i, nn, mpv,
         row_number() OVER (PARTITION BY user_id ORDER BY mpv DESC, i ASC) AS rk
  FROM mp
)
SELECT d.user_id, CAST(i AS INT) AS discord_idx, CAST(nn AS INT) AS nn_idx,
       CAST(floor(mpv * 1e6 + 0.5) AS BIGINT) AS mp_e6, c.n_windows
FROM discord d JOIN cnt c USING (user_id)
WHERE rk = 1"""


FLUSS_SCHEMA = "user_id long, boundary_idx int, cac_e6 long, n_arcs int"


def fluss_kernel(pdf: pd.DataFrame, w: int) -> pd.DataFrame:
    """Per-group FLUSS kernel (module-level, same contract as
    mp_discord_kernel). Nearest neighbors via the blocked O(buffer)
    streaming pass — identical doubles to the full-matrix layout."""
    empty = pd.DataFrame(
        {
            "user_id": pd.Series([], dtype="int64"),
            "boundary_idx": pd.Series([], dtype="int32"),
            "cac_e6": pd.Series([], dtype="int64"),
            "n_arcs": pd.Series([], dtype="int32"),
        }
    )
    pdf = pdf.sort_values(["ts_ms", "oid"], kind="mergesort")
    x = pdf["cents"].to_numpy(dtype=np.int64)
    nw = len(x) - w + 1
    zw = znorm_windows(x, w)
    if zw is None:
        return empty
    idx, z = zw
    nn_pos, _, has_nn = _blocked_nn(idx, z, w)
    if not has_nn.any():
        return empty
    # arcs in ORIGINAL 1-based window coordinates, only rows with a nn
    i1 = idx[has_nn] + 1
    j1 = idx[nn_pos[has_nn]] + 1
    a = np.minimum(i1, j1)
    b = np.maximum(i1, j1)
    diff = np.zeros(nw + 2, dtype=np.int64)
    np.add.at(diff, a, 1)
    np.add.at(diff, b, -1)
    crossings = np.cumsum(diff)  # crossings[p] = arcs covering [p, p+1)
    lo, hi = w + 1, nw - 1 - w
    if lo > hi:
        return empty
    p = np.arange(lo, hi + 1)
    ideal = 2.0 * p * (nw - p) / nw
    cac = np.minimum(crossings[p] / ideal, 1.0)
    best = int(np.argmin(cac))  # first min = smallest p
    return pd.DataFrame(
        {
            "user_id": [int(pdf["uid"].iloc[0])],
            "boundary_idx": np.array([p[best]], dtype=np.int32),
            "cac_e6": np.array(
                [int(np.floor(cac[best] * 1e6 + 0.5))], dtype=np.int64
            ),
            "n_arcs": np.array([len(a)], dtype=np.int32),
        }
    )


def fluss_regime(events: DataFrame, w: int = 8) -> DataFrame:
    """FLUSS-style regime boundary per user of ``events(user_id, ts,
    value, event_id)`` (Gharghabi et al., ICDM'17 — public): every
    window draws an arc to its 1-NN; positions crossed by few arcs are
    semantic regime boundaries. The corrected arc curve
    CAC(p) = min(crossings(p) / ideal(p), 1) with the random-arc
    parabola ideal(p) = 2 p (nw - p) / nw; the boundary is the argmin
    over p in [w+1, nw-1-w] (edge exclusion), ties to the smallest p.

    Same grouped-map kernel + exact-arithmetic contract as
    matrix_profile_discord: arc endpoints and crossing counts are exact
    integers; the CAC formula is mirrored verbatim in the oracle.
    """
    series = user_series(events)
    kernel = per_run(lambda pdf: fluss_kernel(pdf, w), "uid")
    return sweep(series, "uid", ["ts_ms", "oid"], kernel, FLUSS_SCHEMA)


def fluss_oracle_sql(w: int = 8) -> str:
    """DuckDB twin of fluss_regime, built on the same zwin/pair/mp CTEs
    as the matrix-profile oracle."""
    terms = " + ".join(
        f"((a.arr[{k}] - a.mu) / a.sig - (b.arr[{k}] - b.mu) / b.sig) * "
        f"((a.arr[{k}] - a.mu) / a.sig - (b.arr[{k}] - b.mu) / b.sig)"
        for k in range(1, w + 1)
    )
    return f"""
WITH o AS (
  SELECT user_id, CAST(round(value*100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
), win AS (
  SELECT user_id, rn AS i,
         list(cents) OVER (PARTITION BY user_id ORDER BY rn
                           ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS arr,
         CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY rn
                           ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS BIGINT) AS s1,
         CAST(sum(cents*cents) OVER (PARTITION BY user_id ORDER BY rn
                           ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS BIGINT) AS s2,
         n
  FROM o
), stats AS (
  SELECT user_id, CAST(i AS BIGINT) AS i, arr, CAST(n - {w} + 1 AS BIGINT) AS nw,
         s1 / {w}.0 AS mu,
         sqrt((s2 - (s1 / {w}.0) * s1) / {w}.0) AS sig,
         (s2 - (s1 / {w}.0) * s1) / {w}.0 AS var
  FROM win WHERE i <= n - {w} + 1
), zwin AS (
  SELECT * FROM stats WHERE var > 0
), pair AS (
  SELECT a.user_id, a.i AS i, b.i AS j, a.nw AS nw, ({terms}) AS d2
  FROM zwin a JOIN zwin b
    ON a.user_id = b.user_id AND abs(a.i - b.i) >= {w}
), mp AS (
  SELECT user_id, i, j AS nn, nw FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, i ORDER BY d2, j) AS rk
    FROM pair
  ) WHERE rk = 1
), arcs AS (
  SELECT user_id, least(i, nn) AS a, greatest(i, nn) AS b, nw FROM mp
), pos AS (
  SELECT DISTINCT user_id, nw, unnest(range({w} + 1, nw - {w})) AS p FROM arcs
), cross_cnt AS (
  SELECT pos.user_id, pos.p, pos.nw,
         CAST(count(arcs.a) AS BIGINT) AS crossings
  FROM pos LEFT JOIN arcs
    ON arcs.user_id = pos.user_id AND arcs.a <= pos.p AND pos.p < arcs.b
  GROUP BY pos.user_id, pos.p, pos.nw
), cac AS (
  SELECT user_id, p,
         least(crossings / (2.0 * p * (nw - p) / nw), 1.0) AS cac,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY least(crossings / (2.0 * p * (nw - p) / nw), 1.0) ASC, p ASC
         ) AS rk
  FROM cross_cnt
), n_arcs AS (
  SELECT user_id, CAST(count(*) AS INT) AS n_arcs FROM arcs GROUP BY user_id
)
SELECT c.user_id, CAST(p AS INT) AS boundary_idx,
       CAST(floor(cac * 1e6 + 0.5) AS BIGINT) AS cac_e6, a.n_arcs
FROM cac c JOIN n_arcs a USING (user_id)
WHERE rk = 1"""
