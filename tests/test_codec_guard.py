"""Static guards on the package's single-path decisions.

Every sketch ⇄ bytes crossing goes through ``crick_spark.sketches.codec``,
so the wire format is decided in one file; the two-phase path lives only
in ``operators.sketch_agg`` and calls the kernels' ``.merge`` directly.
Every bounded driver collect goes through ``crick_spark.driver_close``,
and connected components has one union-find (``min_root_labels``) and
one distributed algorithm.  Streaming sketch state has one state API
(``applyInPandasWithState``) and ``ClusterStore`` two fold tiers.
SummaryStats has one expression list (``functions.stats``), and the
operators reach it without the ``Moments`` kernel.  These checks read the
source (AST, so docstrings and comments are fine) and fail if a decision
starts spreading again."""

from __future__ import annotations

import ast
from pathlib import Path

import numpy as np

PKG = Path(__file__).resolve().parent.parent / "crick_spark"
CODEC = PKG / "sketches" / "codec.py"
RETIRED = {"SketchOps", "GROUP_KEY"}
RETIRED_CC = {"dup_clusters", "connected_components_contract", "_close"}
RETIRED_TIERS = {
    "transformWithStateInPandas",
    "tws_available",
    "_fold_driver",
    "_fold_initial",
}
RETIRED_MODULES = ("streaming/tws_state.py",)
STATS = Path("functions") / "stats.py"


def _name(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
        return node.name
    if isinstance(node, ast.alias):
        return node.asname or node.name
    return None


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
        name = _name(node)
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


def _limit_collect(node) -> bool:
    """``<df>.limit(<expr> + 1).collect()`` or ``.limit(10_001).collect()``
    — a bounded decide-and-use collect that bypasses driver_close."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "collect"
        and isinstance(node.func.value, ast.Call)
        and isinstance(node.func.value.func, ast.Attribute)
        and node.func.value.func.attr == "limit"
        and node.func.value.args
    ):
        return False
    arg = node.func.value.args[0]
    if isinstance(arg, ast.Constant):
        return arg.value == 10_001
    return (
        isinstance(arg, ast.BinOp)
        and isinstance(arg.op, ast.Add)
        and any(
            isinstance(x, ast.Constant) and x.value == 1
            for x in (arg.left, arg.right)
        )
    )


def _driver_close_offences(root: Path) -> list[str]:
    found = []
    finds = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if _limit_collect(node):
                found.append(f"{rel}:{node.lineno} limit-collect")
            if _name(node) in RETIRED_CC:
                found.append(f"{rel}:{node.lineno} uses {_name(node)}")
            if isinstance(node, ast.FunctionDef) and node.name == "find":
                finds.append(f"{rel}:{node.lineno}")
    if len(finds) > 1:
        found.append(f"{len(finds)} union-find copies: {finds}")
    return found


def test_one_driver_close_and_one_connected_components():
    bad = _driver_close_offences(PKG)
    assert not bad, f"hand-written driver closes or CC copies: {bad}"


def test_driver_close_guard_catches_offences(tmp_path):
    (tmp_path / "a.py").write_text(
        "def find(x):\n    return x\n"
        "rows = df.limit(cap + 1).collect()\n"
        "ids = df.limit(10_001).collect()\n"
        "ok = df.limit(cap).collect()\n"
    )
    (tmp_path / "b.py").write_text(
        "from m import dup_clusters\n"
        "def find(y):\n    return y\n"
        "store._close(e)\n"
    )
    assert _driver_close_offences(tmp_path) == [
        "a.py:3 limit-collect",
        "a.py:4 limit-collect",
        "b.py:1 uses dup_clusters",
        "b.py:4 uses _close",
        "2 union-find copies: ['a.py:1', 'b.py:2']",
    ]


def _retired_tier_offences(root: Path) -> list[str]:
    """Exact-name uses of the deleted paths (``_fold_driver_local``, the
    local fold tier, is not ``_fold_driver``) and the deleted modules."""
    found = [f"module {m}" for m in RETIRED_MODULES if (root / m).exists()]
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        tree = ast.parse(path.read_text(), filename=str(path))
        uses = sorted(
            (node.lineno, _name(node))
            for node in ast.walk(tree)
            if _name(node) in RETIRED_TIERS
        )
        found += [f"{rel}:{line} uses {name}" for line, name in uses]
    return found


def test_one_streaming_state_api_and_two_cluster_store_tiers():
    bad = _retired_tier_offences(PKG)
    assert not bad, f"deleted state API ports or fold tiers are back: {bad}"


def test_retired_tier_guard_catches_offences(tmp_path):
    (tmp_path / "streaming").mkdir()
    (tmp_path / "streaming" / "tws_state.py").write_text(
        '"""transformWithStateInPandas in a docstring is fine"""\n'
    )
    (tmp_path / "a.py").write_text(
        "from m import tws_available\n"
        "df.groupBy(k).transformWithStateInPandas(p)\n"
        "def _fold_initial(self):\n    pass\n"
        "store._fold_driver(s)\n"
        "store._fold_driver_local(s)\n"
    )
    assert _retired_tier_offences(tmp_path) == [
        "module streaming/tws_state.py",
        "a.py:1 uses tws_available",
        "a.py:2 uses transformWithStateInPandas",
        "a.py:3 uses _fold_initial",
        "a.py:5 uses _fold_driver",
    ]


def _summary_stats_offences(root: Path) -> list[str]:
    """``skewness``/``kurtosis`` calls outside ``functions/stats.py`` (a
    hand-copied SummaryStats list) and any ``Moments`` name under
    ``operators/`` (SummaryStats through the kernel instead of the JVM
    aggregate)."""
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if (
                rel != STATS
                and isinstance(node, ast.Call)
                and _name(node.func) in ("skewness", "kurtosis")
            ):
                found.append(f"{rel}:{node.lineno} calls {_name(node.func)}")
            if rel.parts[0] == "operators" and _name(node) == "Moments":
                found.append(f"{rel}:{node.lineno} uses Moments")
    return found


def test_one_summary_stats_implementation():
    bad = _summary_stats_offences(PKG)
    assert not bad, f"SummaryStats computed outside functions/stats.py: {bad}"


def test_summary_stats_guard_catches_offences(tmp_path):
    (tmp_path / "functions").mkdir()
    (tmp_path / "functions" / "stats.py").write_text("k = F.kurtosis(c)\n")
    (tmp_path / "operators").mkdir()
    (tmp_path / "operators" / "ops.py").write_text(
        '"""Moments in a docstring is fine"""\n'
        "from crick_spark.sketches import Moments\n"
        "m = Moments.from_values(x)\n"
    )
    (tmp_path / "plans.py").write_text(
        "from crick_spark.sketches import Moments\n"
        "g = F.skewness(x)\n"
        "k = kurtosis(x)\n"
    )
    assert _summary_stats_offences(tmp_path) == [
        "operators/ops.py:2 uses Moments",
        "operators/ops.py:3 uses Moments",
        "plans.py:2 calls skewness",
        "plans.py:3 calls kurtosis",
    ]


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
