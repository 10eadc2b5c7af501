"""postings_cosine (operators/cooccur.py) on a hand-built postings frame,
checked against a dense numpy cosine."""

from __future__ import annotations

import itertools
import math

import numpy as np
import pytest

from holochatstats_spark.operators.cooccur import postings_cosine

# one list per shared dimension; "z" has only zero weights, "d" appears
# in a single list
LISTS = [
    [("a", 1.0), ("b", 2.0), ("z", 0.0)],
    [("a", 3.0), ("b", 1.0), ("c", 4.0)],
    [("b", 5.0), ("z", 0.0)],
    [("a", 2.0), ("d", 7.0)],
]
KEYS = sorted({k for ms in LISTS for k, _ in ms})


def _dense_cosine() -> dict[tuple[str, str], float | None]:
    m = np.zeros((len(KEYS), len(LISTS)))
    for j, ms in enumerate(LISTS):
        for k, w in ms:
            m[KEYS.index(k), j] = w
    norms = np.sqrt((m * m).sum(axis=1))
    out = {}
    for ms in LISTS:  # only keys sharing a list form a pair
        for (ka, _), (kb, _) in itertools.product(ms, ms):
            ia, ib = KEYS.index(ka), KEYS.index(kb)
            den = norms[ia] * norms[ib]
            out[(ka, kb)] = None if den == 0 else float(m[ia] @ m[ib] / den)
    return out


@pytest.fixture(scope="module")
def postings(spark):
    return spark.createDataFrame(
        [(ms,) for ms in LISTS], "ms array<struct<k: string, w: double>>"
    )


def _sims(df) -> dict[tuple[str, str], float | None]:
    rows = df.collect()
    assert df.columns == ["key_a", "key_b", "sim"]
    sims = {(r["key_a"], r["key_b"]): r["sim"] for r in rows}
    assert len(sims) == len(rows)
    return sims


def _assert_close(got, want):
    assert got.keys() == want.keys()
    for pair, w in want.items():
        if w is None:
            assert got[pair] is None, pair
        else:
            assert got[pair] == pytest.approx(w, abs=1e-12), pair


def test_upper_triangle_matches_numpy_cosine(postings):
    want = {p: v for p, v in _dense_cosine().items() if p[0] < p[1]}
    _assert_close(_sims(postings_cosine(postings, "k", "w")), want)


def test_full_matrix_is_symmetric_with_unit_diagonal(postings):
    sims = _sims(postings_cosine(postings, "k", "w", upper=False))
    _assert_close(sims, _dense_cosine())
    for (a, b), v in sims.items():
        if v is not None:
            assert sims[(b, a)] == pytest.approx(v, abs=1e-12)
    for k in KEYS:
        if k != "z":
            assert sims[(k, k)] == pytest.approx(1.0, abs=1e-12)


def test_all_zero_key_gets_null_not_nan(postings):
    sims = _sims(postings_cosine(postings, "k", "w", upper=False))
    zero_pairs = {p: v for p, v in sims.items() if "z" in p}
    assert {("a", "z"), ("b", "z"), ("z", "z")} <= zero_pairs.keys()
    # a NaN (0/0) or a division error would surface here instead
    assert all(v is None for v in zero_pairs.values()), zero_pairs


def test_key_in_a_single_list_is_still_paired(postings):
    sims = _sims(postings_cosine(postings, "k", "w"))
    # "d" only co-occurs with "a" (fourth list); "c" only in the second
    assert sims[("a", "d")] == pytest.approx(2.0 * 7.0 / (math.sqrt(14.0) * 7.0))
    assert {p for p in sims if "d" in p} == {("a", "d")}
    assert {p for p in sims if "c" in p} == {("a", "c"), ("b", "c")}
