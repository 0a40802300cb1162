"""Space-Saving top-k sketch — crick SpaceSaving parity, batch-first.

Reference semantics: ``crick/space_saving.pyx`` — bounded summary of at most
``capacity`` counters, each reporting (item, count, error) with the
OVERESTIMATE guarantee ``count − error ≤ actual ≤ count`` (the
Metwally et al. algorithm's actual bound, implemented by the reference's
eviction path ``crick/space_saving_stubs.c.in:226-237``; the reference's
own docstring ``space_saving.pyx:107-109`` states the inverted
``count ≤ actual ≤ count+error`` — an adjudicated documentation bug, see
r13 fix and SURVEY §7.3); merge per Cafaro, Pulimeno, Tempesta,
*A parallel space saving algorithm for frequent items*
(``crick/space_saving_stubs.c.in:289-364``): each side's minimum count (if
full) becomes the offset added to items missing from it.

NOT a port: the C processes one item at a time through a khash + intrusive
count-sorted linked list.  Here a batch is first *exactly* counted
(vectorized ``np.unique``), then the grouped counts are folded in
descending order — equivalent to ``add(item, count)`` of the grouped stream
— so per-batch work is one sort over the d *distinct* items plus an
O(d log capacity) min-heap fold, and state stays a plain dict of
≤ capacity entries.  The weighted-eviction quirk the survey
flags (full summary ignores the increment's count,
``space_saving_stubs.c.in:229-231``) is NOT replicated: eviction inserts
with ``evicted + count`` per the documented "count observations" semantics.

Dtype parity: the reference specializes over i8/f8/arbitrary-Python-object
items (``space_saving.pyx:183-195``; object refcounting
``space_saving_stubs.c.in:146-203``).  Here items are whatever scalars the
batch carries — int64/float64/str cover every Spark column type an engine
query can group on (``numpy.unique`` handles all three); the reference's
arbitrary-*unhashable-rejecting* Python-object path has no Spark-SQL
analog (SQL values are always hashable scalars) and is intentionally not
replicated.  Float keys group by value (numpy semantics), not by bit
pattern — so unlike crick, ``-0.0 == 0.0`` and NaNs do not self-group;
this matches Spark GROUP BY's normalization and is the documented delta
(SURVEY §1.2).  All NaNs are ONE item, as in a Spark GROUP BY: every merge
maps NaN keys to one canonical key (``_one_nan``).
"""

from __future__ import annotations

import heapq
import math
from dataclasses import dataclass, field
from itertools import islice

import numpy as np


@dataclass
class SpaceSaving:
    capacity: int = 20
    # item -> (count, error); items are python scalars (str/int/float)
    counters: dict = field(default_factory=dict)

    def __post_init__(self):
        if self.capacity <= 0:
            raise ValueError("capacity must be positive")

    # -- build -------------------------------------------------------------
    @classmethod
    def from_batch(
        cls, items: np.ndarray, counts: np.ndarray | None = None, capacity: int = 20
    ) -> "SpaceSaving":
        """Summarize one batch: exact vectorized grouping, then descending
        fold (≡ sequential ``add`` of the grouped stream)."""
        sk = cls(capacity=capacity)
        sk.add_batch(items, counts)
        return sk

    def add_batch(self, items: np.ndarray, counts: np.ndarray | None = None) -> None:
        items = np.asarray(items)
        if counts is None:
            uniq, cnt = np.unique(items, return_counts=True)
        else:
            counts = np.asarray(counts, dtype=np.int64)
            uniq, inv = np.unique(items, return_inverse=True)
            cnt = np.bincount(inv, weights=counts).astype(np.int64)
        order = np.argsort(-cnt, kind="stable")
        # descending fold of the grouped stream (crick's ``add(item,
        # count)``, space_saving_stubs.c.in:213-250): the first
        # ``capacity`` distinct items fill the summary, every later one
        # evicts the (count, _ord) minimum and enters with
        # ``evicted + count`` / error ``evicted``.  One min-heap of
        # (count, _ord(item), step, item, error) finds each victim in
        # O(log capacity); ascending ``step`` is the dict order a
        # sequential add leaves (the evicted item deleted, the new one
        # appended).
        pairs = zip(uniq[order].tolist(), cnt[order].tolist())
        heap = [
            (c, _ord(it), j, it, 0)
            for j, (it, c) in enumerate(islice(pairs, self.capacity))
        ]
        heapq.heapify(heap)
        for j, (it, c) in enumerate(pairs, start=len(heap)):
            m = heap[0][0]
            heapq.heapreplace(heap, (m + c, _ord(it), j, it, m))
        batch = SpaceSaving(capacity=self.capacity)
        batch.counters = {
            it: (c, e) for c, _, _, it, e in sorted(heap, key=lambda h: h[2])
        }
        self.counters = self.merge(batch).counters

    # -- merge (Cafaro et al., space_saving_stubs.c.in:289-364) ------------
    def merge(self, *others: "SpaceSaving") -> "SpaceSaving":
        out = SpaceSaving(capacity=self.capacity)
        out.counters = dict(self.counters)
        for o in others:
            out.counters = _merge2(out.counters, o.counters, self.capacity)
        return out

    # -- queries -----------------------------------------------------------
    def topk(self, k: int) -> list[tuple[object, int, int]]:
        """Top-k (item, count, error), count DESC / item ASC
        (crick/space_saving.pyx:304-341; deterministic tie order ours)."""
        rows = sorted(
            self.counters.items(), key=lambda kv: (-kv[1][0], _ord(kv[0]))
        )[:k]
        return [(item, c, e) for item, (c, e) in rows]

    def size(self) -> int:
        return len(self.counters)

    # -- decay (family extension: the SpaceSaving analog of
    # crick TDigest.scale, tdigest.pyx:326-340 'exponential decay of
    # windows'; crick's SpaceSaving has no scale — ours completes the
    # symmetry so decayed heavy hitters compose with the two-phase
    # distributed merge exactly like decayed quantiles) -----------------
    def scale(self, factor: float) -> "SpaceSaving":
        """New sketch with every count AND error multiplied by
        ``factor`` (0 < factor ≤ 1).  Counts become floats; the
        overestimate invariant actual ≤ count ≤ actual + error is
        preserved because both sides of each bound scale linearly, and
        scaling before a Cafaro merge equals scaling the merged result
        (the merge is linear in counts/errors)."""
        f = float(factor)
        if not 0.0 < f <= 1.0:
            raise ValueError("scale factor must be in (0, 1]")
        out = SpaceSaving(capacity=self.capacity)
        out.counters = {
            item: (c * f, e * f) for item, (c, e) in self.counters.items()
        }
        return out


def _ord(item):
    """Deterministic tie-break key across item types: a total order, NaN
    after every other float (``nan < x`` and ``x < nan`` are both false,
    so a bare float key would leave min/sort/heap order to scan order)."""
    nan = item != item
    return (type(item).__name__, nan, 0.0 if nan else item)


def _one_nan(d: dict) -> dict:
    """``d`` with every NaN key replaced by the one object ``math.nan``
    (counts and errors of several NaN keys summed, kept at the first
    one's position); ``d`` itself when it has no other NaN key.  Every
    NaN float is its own object and unequal to itself, so a dict finds
    a NaN key only by identity: two summaries' NaNs (or a summary's and
    a new batch's) would otherwise stay separate counters."""
    if all(k == k or k is math.nan for k in d):
        return d
    out: dict = {}
    for k, (c, e) in d.items():
        if k != k:
            k = math.nan
            if k in out:
                c, e = out[k][0] + c, out[k][1] + e
        out[k] = (c, e)
    return out


def _merge2(a: dict, b: dict, capacity: int) -> dict:
    a, b = _one_nan(a), _one_nan(b)
    ma = min((c for c, _ in a.values()), default=0) if len(a) >= capacity else 0
    mb = min((c for c, _ in b.values()), default=0) if len(b) >= capacity else 0
    out = {}
    for item, (c, e) in a.items():
        if item in b:
            cb, eb = b[item]
            out[item] = (c + cb, e + eb)
        else:
            out[item] = (c + mb, e + mb)
    for item, (c, e) in b.items():
        if item not in a:
            out[item] = (c + ma, e + ma)
    if len(out) > capacity:
        kept = heapq.nsmallest(
            capacity, out.items(), key=lambda kv: (-kv[1][0], _ord(kv[0]))
        )
        out = dict(kept)
    return out
