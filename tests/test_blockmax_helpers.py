"""The block-max kernel's vectorised helpers against their reference
forms: window selection against the per-window list comprehension, and the
np.bincount accumulations against np.add.at, bit for bit."""

import numpy as np

from lucene_7_x_9_x_spark.operators import search as search_ops


def _select_ranges_ref(d, lo, hi):
    """The per-window list-comprehension form _select_ranges replaced."""
    a = np.searchsorted(d, lo)
    b = np.searchsorted(d, hi, side="right")
    segs = [np.arange(x, y) for x, y in zip(a, b) if y > x]
    return np.concatenate(segs) if segs else np.zeros(0, np.int64)


def test_select_ranges_matches_reference():
    rng = np.random.default_rng(5)
    cases = [(np.zeros(0, np.int64), np.array([0, 10]), np.array([5, 20])),
             (np.arange(5, dtype=np.int64), np.zeros(0, np.int64),
              np.zeros(0, np.int64))]
    for _ in range(300):
        d = np.unique(rng.integers(0, 400, rng.integers(0, 120)))
        # disjoint sorted windows [lo_i, hi_i]; some hold no docid
        cuts = np.unique(rng.integers(0, 420, 2 * rng.integers(0, 15)))
        if len(cuts) % 2:
            cuts = cuts[:-1]
        lo, hi = cuts[0::2], cuts[1::2]
        cases.append((d, lo, hi))
    cases.append((np.array([3, 7, 9]), np.array([4, 8]), np.array([6, 8])))
    for d, lo, hi in cases:
        got = search_ops._select_ranges(d, lo, hi)
        want = _select_ranges_ref(d, lo, hi)
        assert got.dtype == want.dtype
        assert np.array_equal(got, want), (d, lo, hi)


def test_bincount_accumulation_is_add_at_bit_for_bit():
    rng = np.random.default_rng(9)
    for n in (0, 1, 7, 500, 5000):
        inv = rng.integers(0, max(n // 3, 1), n)
        # float32 scores widened to float64, with magnitudes that make the
        # summation order visible in the last bits
        vals = (rng.random(n, dtype=np.float32)
                * np.float32(10.0) ** rng.integers(-3, 4, n)
                ).astype(np.float32).astype(np.float64)
        is_must = rng.random(n) < 0.4
        m = int(inv.max()) + 1 if n else 0
        want = np.zeros(m, np.float64)
        np.add.at(want, inv, vals)
        got = np.bincount(inv, weights=vals, minlength=m)
        assert got.tobytes() == want.tobytes()
        for mask in (is_must, ~is_must):
            cnt = np.zeros(m, np.int64)
            np.add.at(cnt, inv, mask.astype(np.int64))
            assert np.array_equal(np.bincount(inv[mask], minlength=m), cnt)
