"""Seeded input generators for the benchmark.

Every input is a pure function of ``(seed, workload spec)``: numpy's
PCG64 streams are split per table with ``SeedSequence.spawn`` so adding a
table never shifts another table's draws, and parquet is written by
pyarrow with fixed row-group sizes, so the same seed gives byte-identical
files (``test_perfbench.py`` pins this).  The program under test only
ever sees the files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: midnight 2024-01-01 UTC in microseconds; fold batch ``b`` lands on day b
DAY0_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000
#: parquet files per table: Spark packs them into about one scan split
#: per core, so hosts of up to 8 cores get one task per core
FILES_PER_TABLE = 8
_ITEM_CAP = 1 << 40
#: Zipf exponent of the fact tables' items
ZIPF_A = 1.3
#: distinct users the fact tables draw from
USERS = 200_000
#: the corpus: languages, vocabulary size, words per original document
LANGS = 4
VOCAB = 20_000
MIN_WORDS, MAX_WORDS = 30, 80


@dataclass(frozen=True)
class FactSpec:
    """A fact table: ``rows`` rows over ``groups`` groups, Zipf items."""

    rows: int
    groups: int


@dataclass(frozen=True)
class DocSpec:
    """A corpus with planted near-duplicate clusters."""

    docs: int
    dup_rate: float


def fact_columns(rng: np.random.Generator, spec: FactSpec, day: int = 0) -> dict:
    """Columns of one fact table (numpy arrays), all rows on ``day``."""
    n = spec.rows
    grp = rng.integers(0, spec.groups, n, dtype=np.int32)
    # per-group location and spread so every group has its own quantiles
    mu = rng.uniform(0.0, 3.0, spec.groups)
    sigma = rng.uniform(0.5, 1.5, spec.groups)
    value = np.exp(mu[grp] + sigma[grp] * rng.standard_normal(n))
    item = np.minimum(rng.zipf(ZIPF_A, n), _ITEM_CAP).astype(np.int64)
    user = rng.integers(0, USERS, n, dtype=np.int64)
    ts = DAY0_US + day * DAY_US + rng.integers(0, DAY_US, n, dtype=np.int64)
    return {"grp": grp, "item": item, "value": value, "user_id": user, "ts": ts}


def doc_columns(rng: np.random.Generator, spec: DocSpec) -> dict:
    """Documents where a ``dup_rate`` share are edited copies of an
    earlier document (1-3 word substitutions, same language), so copies of
    copies form clusters wider than one hop."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    lens = rng.integers(4, 10, VOCAB)
    codes = rng.choice(letters, int(lens.sum()))
    cut = np.concatenate([[0], np.cumsum(lens)])
    vocab = [codes[cut[i] : cut[i + 1]].tobytes().decode() for i in range(VOCAB)]
    words: list[np.ndarray] = []
    lang = np.empty(spec.docs, dtype=np.int64)
    is_dup = rng.random(spec.docs) < spec.dup_rate
    for d in range(spec.docs):
        if d and is_dup[d]:
            src = int(rng.integers(0, d))
            w = words[src].copy()
            pos = rng.integers(0, w.size, int(rng.integers(1, 4)))
            w[pos] = rng.integers(0, VOCAB, pos.size)
            lang[d] = lang[src]
        else:
            w = rng.integers(0, VOCAB, int(rng.integers(MIN_WORDS, MAX_WORDS + 1)))
            lang[d] = rng.integers(0, LANGS)
        words.append(w)
    text = [" ".join(vocab[i] for i in w) for w in words]
    return {
        "doc_id": np.arange(spec.docs, dtype=np.int64),
        "lang": np.array([f"l{i}" for i in lang], dtype=object),
        "text": np.array(text, dtype=object),
        "is_dup": is_dup,
    }


def _arrow(cols: dict) -> pa.Table:
    """The columns as an Arrow table; ``is_dup`` is the generator's ground
    truth and never reaches the program."""
    arrays = {}
    for k, v in cols.items():
        if k == "ts":
            arrays[k] = pa.array(v, pa.timestamp("us", tz="UTC"))
        elif k != "is_dup":
            arrays[k] = pa.array(v)
    return pa.table(arrays)


def write_parquet(cols: dict, path: str) -> None:
    """Write ``cols`` as ``FILES_PER_TABLE`` parquet files under ``path``."""
    table = _arrow(cols)
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // FILES_PER_TABLE)
    for i in range(FILES_PER_TABLE):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def streams(seed: int, n: int) -> list[np.random.Generator]:
    """``n`` independent generators derived from ``seed``."""
    return [np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(n)]
