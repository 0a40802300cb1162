"""The workloads: inputs, the closed-loop cycle of calls, and the checks.

Every workload runs the same cycle of five operations, one at a time
from one client (the next call is submitted once the previous result is
on the driver):

    quantile  operators.tdigest_quantiles over the scan table
    topk      operators.spacesaving_topk over the scan table
    moments   operators.moments_agg over the scan table
    fold      streaming SketchStore.fold of the next day's micro-batch
    read      SketchStore.digests + SketchStore.hll_estimates

so every metric exists on every workload.  The near-duplicate pipeline
(pipeline.jaccard_ngram_pairs, then pipeline.connected_components) runs
in the traced run only, where its layers are timed and its clusters
checked.  The workloads differ in the input properties that decide which
layer dominates (README.md).  Results are kept and checked after the
timed window, off the clock.
"""

from __future__ import annotations

import functools
import math
import os
import pickle
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from gen import ZIPF_A, DocSpec, FactSpec, doc_columns, fact_columns, streams, write_parquet

#: quantiles asked of tdigest_quantiles: enough values (groups ×
#: quantiles) that the mean rank error is steady per seed, few enough per
#: group that finalizing stays a small share of the call
QS_FEW_GROUPS = tuple(round(0.01 + 0.02 * i, 2) for i in range(50))
QS_MANY_GROUPS = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
TOPK = 10
#: a quantile answer whose exact rank is further than this from q fails
RANK_TOL = 0.03
MOMENTS_RTOL = 1e-9
#: HyperLogLog at lg_k=14 has a 0.8 % standard error
HLL_RTOL = 0.05
#: the cycle's cheapest possible length, used only to size the pool of
#: fold batches so a window never runs out of days
MIN_CYCLE_S = 5.0
#: SpaceSaving counters: far below the distinct items, so eviction and
#: the merge's offsets run on every batch
CAPACITY = 20
#: days of per-day partials the store keeps
RETENTION_DAYS = 2
#: the corpus of the traced run's near-duplicate pipeline, and the
#: pipeline's word n-gram size and Jaccard threshold
DOCS = DocSpec(docs=5_000, dup_rate=0.2)
NGRAM = 3
JACCARD_MIN = 0.5
#: the in-process kernel rates: values per build (an Arrow batch), and
#: the least time each rate is measured over
KERNEL_CHUNK = 10_000
KERNEL_MIN_S = 0.2


@dataclass(frozen=True)
class Workload:
    """The scan table of the three sketch operators and one day's fold
    micro-batch; BENCHMARK.json and README.md say why each exists."""

    scan: FactSpec
    batch: FactSpec
    qs: tuple[float, ...]


WORKLOADS = {
    "sketch_scan": Workload(
        scan=FactSpec(rows=1_200_000, groups=8),
        batch=FactSpec(rows=150_000, groups=8),
        qs=QS_FEW_GROUPS,
    ),
    "sketch_groups": Workload(
        scan=FactSpec(rows=120_000, groups=300),
        batch=FactSpec(rows=12_000, groups=300),
        qs=QS_MANY_GROUPS,
    ),
}


class Inputs:
    """Generated inputs, written as parquet under ``in_dir``; the numpy
    columns stay in memory for the exact references."""

    def __init__(
        self, wl: Workload, seed: int, in_dir: str, n_batches: int, docs: DocSpec = DOCS
    ):
        rng_scan, rng_docs, *rng_batches = streams(seed, 2 + n_batches)
        self.in_dir = in_dir
        self.scan = fact_columns(rng_scan, wl.scan)
        write_parquet(self.scan, os.path.join(in_dir, "scan.parquet"))
        self.docs = doc_columns(rng_docs, docs)
        write_parquet(self.docs, os.path.join(in_dir, "docs.parquet"))
        self.batches = []
        for b, rng in enumerate(rng_batches):
            cols = fact_columns(rng, wl.batch, day=b)
            write_parquet(cols, os.path.join(in_dir, f"batch{b:03d}.parquet"))
            self.batches.append({"grp": cols["grp"], "user_id": cols["user_id"]})

    def properties(self, wl: Workload) -> dict:
        """What the workload's behaviour depends on, for the artifact."""
        return {
            "scan_rows": wl.scan.rows,
            "scan_groups": wl.scan.groups,
            "scan_distinct_items": int(np.unique(self.scan["item"]).size),
            "zipf_a": ZIPF_A,
            "quantiles": len(wl.qs),
            "spacesaving_capacity": CAPACITY,
            "batch_rows": wl.batch.rows,
            "batch_groups": wl.batch.groups,
            "batches": len(self.batches),
            "retention_days": RETENTION_DAYS,
            "docs": self.docs["doc_id"].size,
            "doc_langs": len(set(self.docs["lang"])),
            "planted_dup_rate": DOCS.dup_rate,
            "planted_dups": int(self.docs["is_dup"].sum()),
        }


def n_batches(seconds: float) -> int:
    """Fold batches needed: one per warm-up fold and window cycle."""
    return RETENTION_DAYS + math.ceil(seconds / MIN_CYCLE_S)


class Engine:
    """The calls into the engine, each wrapped in a tracer span."""

    def __init__(self, spark, wl: Workload, inputs: Inputs, store_dir: str, tracer):
        from crick_spark.sources.tables import load_table
        from crick_spark.streaming.sketch_store import SketchStore

        self.spark, self.wl, self.inputs, self.tr = spark, wl, inputs, tracer
        self._load = lambda name: load_table(spark, inputs.in_dir, name)
        self.scan = self._load("scan")
        self.docs = self._load("docs")
        self.store = SketchStore(
            store_dir,
            value_col="value",
            key_col="user_id",
            by=["grp"],
            retention_days=RETENTION_DAYS,
            ts_col="ts",
        )
        self.next_batch = 0

    def quantile(self):
        from crick_spark.operators import tdigest_quantiles

        with self.tr.span("operators.tdigest_quantiles"):
            return tdigest_quantiles(self.scan, "value", list(self.wl.qs), by=["grp"]).collect()

    def topk(self):
        from crick_spark.operators import spacesaving_topk

        with self.tr.span("operators.spacesaving_topk"):
            return spacesaving_topk(
                self.scan, "item", TOPK, by=["grp"], capacity=CAPACITY
            ).collect()

    def moments(self):
        from crick_spark.operators import moments_agg

        with self.tr.span("operators.moments_agg"):
            return moments_agg(self.scan, "value", by=["grp"]).collect()

    def fold(self) -> int:
        b = self.next_batch
        batch = self._load(f"batch{b:03d}")
        with self.tr.span("streaming.fold"):
            if not self.store.fold(batch, b):
                raise RuntimeError(f"fold of fresh batch {b} was fenced")
        self.next_batch += 1
        return b

    def read(self):
        from pyspark.sql.types import DoubleType, StructField, StructType

        schema = StructType([StructField("n", DoubleType()), StructField("p50", DoubleType())])

        def finalize(sk):
            return pd.DataFrame([{"n": sk.size(), "p50": float(sk.quantile(0.5))}])

        with self.tr.span("streaming.digests"):
            dig = self.store.digests(self.spark, finalize, schema).collect()
        with self.tr.span("streaming.hll_estimates"):
            hll = self.store.hll_estimates(self.spark).collect()
        return dig, hll

    def state_bytes(self) -> int:
        _, td, hll = self.store.read_meta()
        total = 0
        for path in (td, hll):
            for root, _, files in os.walk(path):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total


def qcol(q: float) -> str:
    """tdigest_quantiles' output column for ``q``."""
    return "p" + str(q).replace(".", "_")


# ---------------------------------------------------------------------------
# exact references and checks (all run after the timed window)
# ---------------------------------------------------------------------------
class Checker:
    """Exact answers for every operation, and the checks against them.
    ``failures`` lists one line per failed check."""

    def __init__(self, wl: Workload, inputs: Inputs, scan_df):
        self.wl, self.inputs = wl, inputs
        self.failures: list[str] = []
        scan = inputs.scan
        order = np.lexsort((scan["value"], scan["grp"]))
        self.sorted_values = scan["value"][order]
        self.group_bounds = np.searchsorted(
            scan["grp"][order], np.arange(wl.scan.groups + 1)
        )
        key = scan["grp"].astype(np.int64) << 41 | scan["item"]
        uk, cnt = np.unique(key, return_counts=True)
        self.item_counts = dict(zip(uk.tolist(), cnt.tolist()))
        # per group: the k-th largest item count, and the rows top-k returns
        grp_of = uk >> 41
        order = np.lexsort((-cnt, grp_of))
        bounds = np.searchsorted(grp_of[order], np.arange(wl.scan.groups + 1))
        distinct = np.diff(bounds)
        idx = np.clip(bounds[:-1] + np.minimum(TOPK, distinct) - 1, 0, cnt.size - 1)
        self.kth_count = dict(enumerate(np.where(distinct > 0, cnt[order][idx], 0).tolist()))
        self.topk_rows = int(np.minimum(TOPK, distinct).sum())
        self.exact_moments = _spark_moments(scan_df)

    @functools.cached_property
    def clusters(self) -> set:
        """The exact closure; only traced runs run the pipeline."""
        return exact_clusters(self.inputs.docs)

    def fail(self, msg: str) -> None:
        self.failures.append(msg)

    def quantile(self, rows) -> tuple[float, float]:
        """Mean and largest |F_exact(q̂) − q| over groups and quantiles."""
        errs = []
        if len(rows) != self.wl.scan.groups:
            self.fail(f"quantile: {len(rows)} groups, expected {self.wl.scan.groups}")
        for r in rows:
            g = r["grp"]
            vals = self.sorted_values[self.group_bounds[g] : self.group_bounds[g + 1]]
            for q in self.wl.qs:
                rank = np.searchsorted(vals, r[qcol(q)], side="right") / vals.size
                errs.append(abs(rank - q))
        worst = max(errs, default=0.0)
        if worst > RANK_TOL:
            self.fail(f"quantile: rank error {worst:.4g} > {RANK_TOL}")
        return float(np.mean(errs)), worst

    def topk(self, rows) -> float:
        """Checks ``cnt − error ≤ actual ≤ cnt`` on every row; returns the
        share of returned items that belong to the exact top-k (ties at
        the k-th count included)."""
        per_group: dict[int, int] = {}
        hits = 0
        for r in rows:
            g, item = r["grp"], r["item"]
            actual = self.item_counts.get(int(g) << 41 | int(item), 0)
            if not r["cnt"] - r["error"] <= actual <= r["cnt"]:
                self.fail(
                    f"topk: group {g} item {item} actual {actual} outside "
                    f"[{r['cnt'] - r['error']}, {r['cnt']}]"
                )
            per_group[g] = per_group.get(g, 0) + 1
            hits += actual >= self.kth_count[g]
        if sum(per_group.values()) != self.topk_rows:
            self.fail(f"topk: {sum(per_group.values())} rows, expected {self.topk_rows}")
        return hits / max(self.topk_rows, 1)

    def moments(self, rows) -> None:
        if len(rows) != len(self.exact_moments):
            self.fail(f"moments: {len(rows)} groups, expected {len(self.exact_moments)}")
        for r in rows:
            ref = self.exact_moments.get(r["grp"])
            if ref is None:
                self.fail(f"moments: unexpected group {r['grp']}")
                continue
            for k, want in ref.items():
                got = r[k]
                if not math.isclose(got, want, rel_tol=MOMENTS_RTOL, abs_tol=1e-12):
                    self.fail(f"moments: group {r['grp']} {k} {got!r} != {want!r}")

    def read(self, res) -> None:
        """Mass conservation and distinct counts of the store after the
        fold of ``last_batch``, against the retained batches."""
        last_batch, dig, hll = res
        first = max(0, last_batch - RETENTION_DAYS + 1)
        grp = np.concatenate([self.inputs.batches[b]["grp"] for b in range(first, last_batch + 1)])
        user = np.concatenate([self.inputs.batches[b]["user_id"] for b in range(first, last_batch + 1)])
        mass = np.bincount(grp, minlength=self.wl.batch.groups)
        got = {r["grp"]: r["n"] for r in dig}
        for g in np.flatnonzero(mass):
            if got.get(int(g)) != float(mass[g]):
                self.fail(f"read: group {g} mass {got.get(int(g))} != {mass[g]}")
        if len(got) != np.count_nonzero(mass):
            self.fail(f"read: {len(got)} groups, expected {np.count_nonzero(mass)}")
        pairs = np.unique(grp.astype(np.int64) << 40 | user)
        distinct = np.bincount(pairs >> 40, minlength=self.wl.batch.groups)
        for r in hll:
            want = distinct[r["grp"]]
            if abs(r["est_stream"] - want) > HLL_RTOL * want + 2:
                self.fail(f"read: group {r['grp']} hll {r['est_stream']} vs {want}")

    def dedup(self, rows) -> None:
        got = {(r["node"], r["component"]) for r in rows}
        if got != self.clusters:
            self.fail(
                f"dedup: {len(got ^ self.clusters)} (node, component) rows "
                f"differ from the exact closure"
            )


def _spark_moments(scan_df) -> dict[int, dict]:
    """Spark's built-in exact aggregates, named like moments_agg's output."""
    from pyspark.sql import functions as F

    v = F.col("value")
    rows = (
        scan_df.groupBy("grp")
        .agg(
            F.count(v).alias("cnt"),
            F.sum(v).alias("sum_x"),
            F.min(v).alias("min_x"),
            F.max(v).alias("max_x"),
            F.avg(v).alias("mean_x"),
            F.var_pop(v).alias("var_pop_x"),
            F.var_samp(v).alias("var_samp_x"),
            F.stddev_pop(v).alias("std_pop_x"),
            F.stddev_samp(v).alias("std_samp_x"),
            F.skewness(v).alias("skew_x"),
            F.kurtosis(v).alias("kurt_x"),
        )
        .collect()
    )
    return {r["grp"]: {k: v for k, v in r.asDict().items() if k != "grp"} for r in rows}


def shingles(text: str) -> set:
    words = text.split()
    if len(words) < NGRAM:
        return {" ".join(words)}
    return {tuple(words[i : i + NGRAM]) for i in range(len(words) - NGRAM + 1)}


def exact_clusters(docs: dict) -> set:
    """(node, component) of every doc in a pair with exact ``NGRAM``-gram
    Jaccard ≥ ``JACCARD_MIN`` in the same language; component = least
    reachable id."""
    sets = [shingles(t) for t in docs["text"]]
    index: dict = {}
    for d, (lang, sh) in enumerate(zip(docs["lang"], sets)):
        for s in sh:
            index.setdefault((lang, s), []).append(d)
    shared: dict = {}
    for ids in index.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                shared[(a, b)] = shared.get((a, b), 0) + 1
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    nodes = set()
    for (a, b), inter in shared.items():
        if inter / (len(sets[a]) + len(sets[b]) - inter) >= JACCARD_MIN:
            ia, ib = int(docs["doc_id"][a]), int(docs["doc_id"][b])
            nodes.update((ia, ib))
            ra, rb = find(ia), find(ib)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {(v, find(v)) for v in nodes}


# ---------------------------------------------------------------------------
# per-layer probes for the traced run
# ---------------------------------------------------------------------------
def kernel_metrics(inputs: Inputs) -> dict:
    """In-process rates of the sketch kernels on the generated arrays, in
    Arrow-batch-sized chunks; blobs are the operators' pickle encoding."""
    from crick_spark.sketches import Moments, SpaceSaving, TDigest

    values = inputs.scan["value"][:1_000_000]
    items = inputs.scan["item"][:100_000]
    out = {}

    def rate(n, fn):
        """``n`` per second of ``fn``, repeated for at least ``KERNEL_MIN_S``."""
        reps, t = 0, time.perf_counter()
        while True:
            res = fn()
            reps += 1
            elapsed = time.perf_counter() - t
            if elapsed >= KERNEL_MIN_S:
                return n * reps / elapsed, res

    vchunks = [values[i : i + KERNEL_CHUNK] for i in range(0, values.size, KERNEL_CHUNK)]
    ichunks = [items[i : i + KERNEL_CHUNK] for i in range(0, items.size, KERNEL_CHUNK)]
    out["sketches.tdigest.build_vps"], digests = rate(
        values.size, lambda: [TDigest.from_values(c) for c in vchunks]
    )
    out["sketches.spacesaving.build_vps"], summaries = rate(
        items.size, lambda: [SpaceSaving.from_batch(c, capacity=CAPACITY) for c in ichunks]
    )
    out["sketches.moments.build_vps"], _ = rate(
        values.size, lambda: [Moments.from_values(c) for c in vchunks]
    )

    def fold(sks):
        acc = sks[0]
        for s in sks[1:]:
            acc = acc.merge(s)
        return acc

    out["sketches.tdigest.merge_ps"], digest = rate(len(digests) - 1, lambda: fold(digests))
    out["sketches.spacesaving.merge_ps"], summary = rate(
        len(summaries) - 1, lambda: fold(summaries)
    )
    qs = np.linspace(0.001, 0.999, 2000)
    out["sketches.tdigest.quantile_ps"], _ = rate(
        qs.size, lambda: [digest.quantile(float(q)) for q in qs]
    )
    blob = pickle.dumps(digest)
    out["sketches.tdigest.blob_bytes"] = len(blob)
    out["sketches.spacesaving.blob_bytes"] = len(pickle.dumps(summary))
    out["sketches.tdigest.decode_ps"], _ = rate(
        2000, lambda: [pickle.loads(blob) for _ in range(2000)]
    )
    return out

