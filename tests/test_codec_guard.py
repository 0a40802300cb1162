"""Static guards on the sketch aggregation layering.

Every sketch ⇄ bytes crossing goes through ``crick_spark.sketches.codec``,
so the wire format is decided in one file; the two-phase path lives only
in ``operators.sketch_agg`` and calls the kernels' ``.merge`` directly.
These checks read the source (AST, so docstrings and comments that
mention pickle are fine) and fail if either decision starts spreading."""

from __future__ import annotations

import ast
from pathlib import Path

import numpy as np

PKG = Path(__file__).resolve().parent.parent / "crick_spark"
CODEC = PKG / "sketches" / "codec.py"
RETIRED = {"SketchOps", "GROUP_KEY"}


def _offences(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mods = [node.module or ""]
        else:
            mods = []
        found += [f"imports {m}" for m in mods if m.split(".")[0] == "pickle"]
        name = None
        if isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            name = node.name
        elif isinstance(node, ast.alias):
            name = node.asname or node.name
        if name == "pickle" or name in RETIRED:
            found.append(f"uses {name} (line {node.lineno})")
    return found


def test_pickle_and_retired_names_stay_out_of_the_package():
    bad = {}
    for path in sorted(PKG.rglob("*.py")):
        if path == CODEC:
            continue
        offences = _offences(path)
        if offences:
            bad[str(path.relative_to(PKG))] = offences
    assert not bad, f"pickle outside sketches/codec.py or retired names: {bad}"


def test_guard_catches_offences(tmp_path):
    src = tmp_path / "m.py"
    src.write_text('"""mentions pickle in a docstring"""\nimport pickle as p\nGROUP_KEY = 1\n')
    assert _offences(src) == ["imports pickle", "uses GROUP_KEY (line 3)"]


def test_codec_round_trips_every_kernel():
    from crick_spark.sketches import (
        BloomFilter,
        CountMinSketch,
        Moments,
        SpaceSaving,
        TDigest,
        codec,
    )

    x = np.random.default_rng(3).exponential(10.0, 2000)
    keys = np.arange(500, dtype=np.int64)
    sketches = [
        TDigest.from_values(x),
        SpaceSaving.from_batch(keys % 37, None, capacity=16),
        Moments.from_values(x),
        CountMinSketch.from_batch(keys, None, width=64, depth=3),
        BloomFilter.from_batch(keys, n_bits=1 << 12, n_hashes=3),
    ]
    for sk in sketches:
        blob = codec.dumps(sk)
        assert isinstance(blob, bytes)
        back = codec.loads(bytearray(blob))
        assert type(back) is type(sk)
        assert codec.dumps(back) == blob
