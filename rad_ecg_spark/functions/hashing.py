"""Deterministic 64-bit mixing hash.

Used by the synthetic pages generator (link targets, word choice, lang
choice). A pure integer function of its inputs so the same fixture can be generated on the driver
(oracle) and on executors (distributed generation) with identical bytes —
the reference pins seeds the same way (tests/test_rad_ecg.py:45,51 in
/root/reference).

splitmix64 finalizer (public-domain constant set, Steele et al.).
"""

from __future__ import annotations

_MASK = (1 << 64) - 1


def hash64(*parts: int) -> int:
    """Scalar splitmix64-style mix of one or more non-negative ints."""
    h = 0x9E3779B97F4A7C15
    for p in parts:
        h = (h ^ (p & _MASK)) & _MASK
        h = (h * 0xBF58476D1CE4E5B9) & _MASK
        h ^= h >> 31
        h = (h * 0x94D049BB133111EB) & _MASK
        h ^= h >> 27
    return h
