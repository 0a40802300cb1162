"""Property-based tests (hypothesis) for the sketch-kernel algebra.

The crick contract is that every sketch is a *mergeable summary*: merge
must commute/associate (up to approximation tolerance) and never violate
the operator's error guarantees, for ANY input — not just the fixed
distribution sweep in test_sketch_kernels.py.  Hypothesis searches the
input space for counterexamples (the reference's own policy is fixed
oracles, crick/tests/*; property search is strictly stronger).
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from crick_spark.sketches.moments import Moments
from crick_spark.sketches import codec
from crick_spark.sketches.spacesaving import SpaceSaving, _ord
from crick_spark.sketches.tdigest import TDigest

finite = st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False, width=64)


def _values(min_size=1, max_size=400):
    return arrays(np.float64, st.integers(min_size, max_size), elements=finite)


# ---------------------------------------------------------------------------
# Moments: merge must equal whole-data computation exactly (Pébay closure)
# ---------------------------------------------------------------------------
@settings(max_examples=60, deadline=None)
@given(_values(), _values())
def test_moments_merge_equals_whole(a, b):
    whole = Moments.from_values(np.concatenate([a, b]))
    merged = Moments.from_values(a).merge(Moments.from_values(b))
    assert merged.n == whole.n
    rel = 1e-6 * max(1.0, abs(whole.mean))
    assert abs(merged.mean - whole.mean) <= rel
    assert np.isclose(merged.var(), whole.var(), rtol=1e-6, atol=1e-9)
    assert merged.mn == whole.mn and merged.mx == whole.mx


@settings(max_examples=30, deadline=None)
@given(_values(), _values(), _values())
def test_moments_merge_associative(a, b, c):
    m1 = Moments.from_values(a).merge(Moments.from_values(b).merge(Moments.from_values(c)))
    m2 = Moments.from_values(a).merge(Moments.from_values(b)).merge(Moments.from_values(c))
    assert m1.n == m2.n
    assert np.isclose(m1.mean, m2.mean, rtol=1e-9, atol=1e-9)
    assert np.isclose(m1.var(), m2.var(), rtol=1e-6, atol=1e-9)


# ---------------------------------------------------------------------------
# TDigest: invariants hold for any input and any merge split
# ---------------------------------------------------------------------------
@settings(max_examples=40, deadline=None)
@given(_values(min_size=2, max_size=600), st.integers(1, 599))
def test_tdigest_invariants_any_split(vals, cut):
    cut = min(cut, len(vals) - 1) or 1
    d = TDigest.from_values(vals[:cut]).merge(TDigest.from_values(vals[cut:]))
    qs = np.array([0.0, 0.1, 0.5, 0.9, 1.0])
    est = np.array([d.quantile(q) for q in qs])
    # within data range, exact at the extremes, monotone in q
    assert est[0] == vals.min() and est[-1] == vals.max()
    assert np.all(np.diff(est) >= -1e-9)
    assert d.size() == pytest.approx(len(vals))
    # cdf in [0, 1] and monotone over sorted probe points
    probes = np.linspace(vals.min(), vals.max(), 7)
    cdfs = np.array([d.cdf(p) for p in probes])
    assert np.all(cdfs >= -1e-12) and np.all(cdfs <= 1 + 1e-12)
    assert np.all(np.diff(cdfs) >= -1e-9)


@settings(max_examples=25, deadline=None)
@given(_values(min_size=50, max_size=600))
def test_tdigest_quantile_accuracy_any_input(vals):
    d = TDigest.from_values(vals)
    n = len(vals)
    s = np.sort(vals)
    for q in (0.1, 0.5, 0.9):
        est = d.quantile(q)
        # rank-space error bound: estimate sits within 0.05*n ranks
        lo = s[max(0, int(np.floor((q - 0.05) * (n - 1))))]
        hi = s[min(n - 1, int(np.ceil((q + 0.05) * (n - 1))))]
        tol = 1e-9 * max(abs(lo), abs(hi), 1.0)  # interpolation ulp slack
        assert lo - tol <= est <= hi + tol


# ---------------------------------------------------------------------------
# SpaceSaving: the overestimate count - error <= actual <= count
# guarantee (C eviction semantics), any stream
# ---------------------------------------------------------------------------
@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(0, 30), min_size=1, max_size=500),
    st.integers(5, 20),
)
def test_spacesaving_bounds_any_stream(items, capacity):
    arr = np.array(items, dtype=np.int64)
    ss = SpaceSaving.from_batch(arr, capacity=capacity)
    true = {}
    for it in items:
        true[it] = true.get(it, 0) + 1
    for item, count, err in ss.topk(capacity):
        actual = true.get(item, 0)
        assert count - err <= actual <= count
    assert ss.size() <= capacity


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(0, 15), min_size=1, max_size=300),
    st.lists(st.integers(0, 15), min_size=1, max_size=300),
)
def test_spacesaving_merge_bounds(a, b):
    cap = 8
    sa = SpaceSaving.from_batch(np.array(a, dtype=np.int64), capacity=cap)
    sb = SpaceSaving.from_batch(np.array(b, dtype=np.int64), capacity=cap)
    merged = sa.merge(sb)
    true = {}
    for it in a + b:
        true[it] = true.get(it, 0) + 1
    for item, count, err in merged.topk(cap):
        actual = true.get(item, 0)
        assert count - err <= actual <= count
    assert merged.size() <= cap


# ---------------------------------------------------------------------------
# SpaceSaving: the heap fold in add_batch is byte-identical to the
# sequential per-item fold (one min() scan per eviction), the reference
# ---------------------------------------------------------------------------
def _reference_add_batch(sk, items, counts=None):
    """unique → stable descending sort → crick ``add(item, count)`` one
    distinct item at a time, evicting the (count, _ord) minimum."""
    items = np.asarray(items)
    if counts is None:
        uniq, cnt = np.unique(items, return_counts=True)
    else:
        counts = np.asarray(counts, dtype=np.int64)
        uniq, inv = np.unique(items, return_inverse=True)
        cnt = np.bincount(inv, weights=counts).astype(np.int64)
    order = np.argsort(-cnt, kind="stable")
    counters = {}
    for item, c in zip(uniq[order].tolist(), cnt[order].tolist()):
        cur = counters.get(item)
        if cur is not None:
            counters[item] = (cur[0] + c, cur[1])
        elif len(counters) < sk.capacity:
            counters[item] = (c, 0)
        else:
            evict, (m, _) = min(
                counters.items(), key=lambda kv: (kv[1][0], _ord(kv[0]))
            )
            del counters[evict]
            counters[item] = (m + c, m)
    sk.counters = sk.merge(SpaceSaving(sk.capacity, counters)).counters


NAN = float("nan")
_POOLS = {
    "int64": list(range(-8, 56)),
    "float": [i / 4 for i in range(-8, 56)] + [NAN, -0.0],
    "str": [f"k{i}" for i in range(64)],
}


@st.composite
def _weighted_batch(draw, pool):
    items = draw(st.lists(st.sampled_from(pool), min_size=1, max_size=300))
    if draw(st.booleans()):
        return items, None
    n = len(items)
    weights = draw(st.lists(st.integers(0, 5), min_size=n, max_size=n))
    return items, np.array(weights, dtype=np.int64)


@st.composite
def _fold_case(draw):
    kind = draw(st.sampled_from(sorted(_POOLS)))
    pool = _POOLS[kind]
    return kind, draw(_weighted_batch(pool)), draw(_weighted_batch(pool))


def _arr(kind, items):
    return np.array(items, dtype=np.int64 if kind == "int64" else None)


def _true_counts(*batches):
    """Exact weighted counts with every NaN one item (Spark GROUP BY)."""
    true: dict = {}
    for items, counts in batches:
        for i, it in enumerate(items):
            key = "NaN" if it != it else it
            true[key] = true.get(key, 0) + (1 if counts is None else int(counts[i]))
    return lambda it: true.get("NaN" if it != it else it, 0)


# NaN tied with 0.75 at the eviction minimum: with a float key that is
# not a total order (nan < x and x < nan both false) heap and scan pick
# different victims
@example(("float", ([0.75, NAN, 0.75, 0.0, NAN], None), ([NAN], None)), 2)
# NaN in both summaries of a merge, and re-added onto a summary holding
# it: each NaN is a distinct float object, so a plain dict lookup misses
@example(("float", ([NAN, NAN, 1.0], None), ([NAN, 2.0], None)), 20)
@example(("float", ([NAN, 0.5], None), ([NAN, NAN, 0.5], None)), 3)
@settings(max_examples=150, deadline=None)
@given(_fold_case(), st.integers(1, 40))
def test_spacesaving_heap_fold_matches_sequential_fold(case, capacity):
    kind, (items, counts), (items2, counts2) = case
    got = SpaceSaving.from_batch(_arr(kind, items), counts, capacity=capacity)
    want = SpaceSaving(capacity)
    _reference_add_batch(want, _arr(kind, items), counts)
    assert codec.dumps(got) == codec.dumps(want)
    # a second batch onto a FULL summary: every distinct pool prefix item
    # is resident before it lands
    first = _arr(kind, _POOLS[kind][:capacity] + items)
    got = SpaceSaving.from_batch(first, capacity=capacity)
    want = SpaceSaving(capacity)
    _reference_add_batch(want, first)
    assert got.size() == capacity
    got.add_batch(_arr(kind, items2), counts2)
    _reference_add_batch(want, _arr(kind, items2), counts2)
    assert codec.dumps(got) == codec.dumps(want)
    # every NaN is one item: one counter within the bound after the
    # re-add above, a merge, and a merge of decoded blobs
    a = SpaceSaving.from_batch(_arr(kind, items), counts, capacity=capacity)
    b = SpaceSaving.from_batch(_arr(kind, items2), counts2, capacity=capacity)
    decoded = codec.loads(codec.dumps(a)).merge(codec.loads(codec.dumps(b)))
    for sk, actual in (
        (got, _true_counts((first, None), (items2, counts2))),
        (a.merge(b), _true_counts((items, counts), (items2, counts2))),
        (decoded, _true_counts((items, counts), (items2, counts2))),
    ):
        assert sum(1 for it in sk.counters if it != it) <= 1
        for it, c, e in sk.topk(capacity):
            assert c - e <= actual(it) <= c, (it, c, e, actual(it))


def test_spacesaving_heap_fold_matches_sequential_fold_on_zipf_batch():
    """One batch of the shape a many-row scan hands each group build:
    ~1,250 Zipf(1.3) int64 items, far more distinct items than counters."""
    rng = np.random.default_rng(7)
    items = np.minimum(rng.zipf(1.3, 1_250), 1 << 40).astype(np.int64)
    assert np.unique(items).size > 10 * 20
    want = SpaceSaving(20)
    _reference_add_batch(want, items)
    assert codec.dumps(SpaceSaving.from_batch(items, capacity=20)) == codec.dumps(
        want
    )


@given(
    keys=arrays(np.int64, st.integers(1, 400),
                elements=st.integers(-(2**62), 2**62)),
    splits=st.integers(2, 6),
)
@settings(max_examples=60, deadline=None)
def test_cms_merge_exact_and_never_underestimates(keys, splits):
    """CMS: (1) any-way merge is bit-identical to the whole-stream sketch
    (table addition is exact); (2) estimates never underestimate."""
    from crick_spark.sketches import CountMinSketch

    whole = CountMinSketch.from_batch(keys, width=256, depth=3)
    parts = [
        CountMinSketch.from_batch(c, width=256, depth=3)
        for c in np.array_split(keys, splits)
        if c.size
    ]
    merged = parts[0].merge(*parts[1:])
    assert (merged.table == whole.table).all()
    uniq, true = np.unique(keys, return_counts=True)
    assert (whole.query(uniq) >= true).all()


@given(
    a_keys=arrays(np.int64, st.integers(1, 300),
                  elements=st.integers(-1000, 1000)),
    b_keys=arrays(np.int64, st.integers(1, 300),
                  elements=st.integers(-1000, 1000)),
)
@settings(max_examples=60, deadline=None)
def test_cms_inner_product_never_underestimates(a_keys, b_keys):
    """Join-size estimate: exact ≤ estimate holds UNIVERSALLY (collisions
    only add).  The (e/w)·Na·Nb ceiling is probabilistic (w.p. ≥ 1−e^−d
    per sketch pair) — adversarial duplicate-heavy streams inside this
    domain CAN exceed it, so the bound is asserted on representative
    fixed inputs in test_sketch_kernels, not property-tested here."""
    from collections import Counter

    from crick_spark.sketches import CountMinSketch

    A = CountMinSketch.from_batch(a_keys, width=256, depth=3)
    B = CountMinSketch.from_batch(b_keys, width=256, depth=3)
    ca, cb = Counter(a_keys.tolist()), Counter(b_keys.tolist())
    exact = sum(ca[k] * cb.get(k, 0) for k in ca)
    assert A.inner_product(B) >= exact


@given(
    words=st.lists(
        st.text(
            alphabet=st.characters(
                min_codepoint=1,
                max_codepoint=0x10FFFF,
                blacklist_categories=("Cs",),
            ),
            min_size=0,
            max_size=14,
        ),
        min_size=1,
        max_size=40,
    ),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_viterbi_batch_property_equals_scalar(words, seed):
    """Property: the vectorized trellis is byte-identical to the scalar
    kernel on ARBITRARY unicode batches (mixed lengths incl. empty
    words, astral-plane codepoints, random vocabularies with every
    char seeded — the trainer's coverage guarantee).  Pieces AND
    bit-equal scores; counts path cross-checked via _estep_batch."""
    import math
    import random

    from crick_spark.pipeline.text import (
        _estep_batch,
        _viterbi,
        _viterbi_batch,
    )

    rng = random.Random(seed)
    chars = {c for w in words for c in w}
    logp_raw = {c: rng.uniform(0.001, 0.2) for c in chars}
    for w in words:
        if len(w) >= 2 and rng.random() < 0.5:
            i = rng.randrange(len(w) - 1)
            l = rng.randint(2, min(6, len(w) - i))
            logp_raw.setdefault(w[i : i + l], rng.uniform(0.001, 0.1))
    total = sum(logp_raw.values()) or 1.0
    logp = {p: math.log(v / total) for p, v in logp_raw.items()}

    got = _viterbi_batch(words, logp, 6)
    exp_counts: dict = {}
    for w, g in zip(words, got):
        e = _viterbi(w, logp, 6) if w else ([], 0.0)
        assert g[0] == e[0] and g[1] == e[1], (w, g, e)
        for p in e[0]:
            exp_counts[p] = exp_counts.get(p, 0) + 1
    counts, _ = _estep_batch(words, [1] * len(words), logp, 6)
    assert counts == exp_counts
