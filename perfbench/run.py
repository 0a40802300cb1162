#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload sketch_scan --seed 1 --seconds 33 --trace 0

Run from the repository root.  It generates the workload's inputs from
the seed, starts one Spark session on ``local[nproc]``, warms up, then
runs the workload's cycle of calls closed-loop for ``--seconds`` (every
cycle that starts before the deadline finishes), checks every answer
against an exact reference, and prints two JSON lines on stdout: the
artifact (host stamp, input properties, samples, failures, and with
``--trace 1`` the spans), then the result
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones.  Everything the
run writes goes under a temporary directory in the repository root,
removed at exit.  The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
from spans import Tracer  # noqa: E402
from workload import (  # noqa: E402
    JACCARD_MIN,
    NGRAM,
    RETENTION_DAYS,
    WORKLOADS,
    Checker,
    Engine,
    Inputs,
    kernel_metrics,
    n_batches,
)

OPS = ("quantile", "topk", "moments", "fold", "read")
#: times each traced-run probe is called; its metrics are the medians
PROBE_REPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(tmp: str) -> None:
    """Point every temp, spill and worker path of this process, the JVM
    and the Python workers at ``tmp``, and let the workers import the
    engine from the checkout."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # spark-submit's launcher JVM takes no Spark conf, only these options
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def start_session(tmp: str, heap_mb: int):
    from crick_spark.session import get_session

    n = host.nproc()
    spark = get_session(
        "perfbench",
        cpus=n,
        shuffle_partitions=2 * n,
        extra_conf={
            "spark.driver.memory": f"{heap_mb}m",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=512m "
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Run:
    """One run: the engine calls, their results, and the tallies."""

    def __init__(self, engine: Engine, tracer: Tracer):
        self.engine, self.tr = engine, tracer
        self.results: list[tuple[str, object]] = []
        self.errors: list[str] = []

    def call(self, op: str) -> None:
        try:
            if op == "read":
                res = (self.engine.next_batch - 1, *self.engine.read())
            else:
                res = getattr(self.engine, op)()
        except Exception as e:  # a failed call counts and the run goes on
            self.errors.append(f"{op}: {type(e).__name__}: {e}")
            res = None
        self.results.append((op, res))

    def warm_up(self) -> None:
        """One cycle, whose calls pay worker start-up and code generation,
        then folds and reads until the store holds ``RETENTION_DAYS`` days,
        so the timed folds see the steady state size."""
        for op in OPS:
            self.call(op)
        for _ in range(RETENTION_DAYS - 1):
            self.call("fold")
            self.call("read")

    def window(self, seconds: float) -> list[dict]:
        """Whole cycles until the next one would end past ``seconds``
        (judged by the last cycle's length); at least one."""
        cycles: list[dict] = []
        deadline = time.perf_counter() + seconds
        last_batch = len(self.engine.inputs.batches) - 1
        while self.engine.next_batch <= last_batch and (
            not cycles
            or time.perf_counter() + cycles[-1]["end"] - cycles[-1]["start"] <= deadline
        ):
            cpu0 = host.tree_cpu_s()
            with self.tr.span("cycle", call=False) as rec:
                for op in OPS:
                    self.call(op)
            rec["cpu_s"] = host.tree_cpu_s() - cpu0
            cycles.append(rec)
        return cycles


def check(run: Run, checker: Checker, first: int) -> dict:
    """Check every result; returns per-op quality figures of the results
    from index ``first`` on (the window)."""
    failed = 0
    quality = {"rank_err": [], "rank_err_max": [], "topk_recall": []}
    for i, (op, res) in enumerate(run.results):
        before = len(checker.failures)
        if res is None:
            failed += 1
            continue
        q = getattr(checker, op)(res) if op != "fold" else None
        failed += len(checker.failures) > before
        if i < first:
            continue
        if op == "quantile":
            quality["rank_err"].append(q[0])
            quality["rank_err_max"].append(q[1])
        elif op == "topk":
            quality["topk_recall"].append(q)
    return {"failed": failed, **quality}


def by_name(spans: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for s in spans:
        out.setdefault(s["name"], []).append(s)
    return out


def samples(spans: list[dict]) -> dict[str, list[float]]:
    """Every duration in ``spans``, by span name."""
    return {k: [s["end"] - s["start"] for s in v] for k, v in by_name(spans).items()}


def tail(durations: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(durations)
    if n < 11:
        return {"n": n, "pct": None, "value": None}
    xs = sorted(durations)
    pct = 100.0 * (n - 10) / n
    return {"n": n, "pct": pct, "value": xs[n - 11]}


def end_to_end(wl, cycles, w: dict[str, list[float]], setup_s, quality) -> dict[str, float]:
    """The end-to-end metrics from the window's cycles and its call
    durations ``w`` (by span name)."""
    med = statistics.median
    wall = med(w["cycle"])
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "rows_per_s": (3 * wl.scan.rows + wl.batch.rows) / wall,
        "cpu_s": med(c["cpu_s"] for c in cycles),
        "quantile_s": med(w["operators.tdigest_quantiles"]),
        "topk_s": med(w["operators.spacesaving_topk"]),
        "moments_s": med(w["operators.moments_agg"]),
        "fold_p50_s": med(w["streaming.fold"]),
        "rank_err": statistics.mean(quality["rank_err"]),
        "topk_recall": med(quality["topk_recall"]),
    }


def probes(engine: Engine, checker: Checker, tr: Tracer) -> dict:
    """Calls that split an end-to-end operation into its layers; traced
    runs only, after the window."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, StructField, StructType

    from crick_spark.operators.crick_ops import tdigest_agg, tdigest_merge_finalize
    from crick_spark.pipeline.dedup import jaccard_ngram_pairs
    from crick_spark.pipeline.graph import connected_components

    scan = engine.scan
    schema = StructType([StructField("n", DoubleType())])

    def finalize(sk):
        return pd.DataFrame([{"n": sk.size()}])

    for _ in range(PROBE_REPS):
        with tr.span("sources.scan"):
            scan.select("value").mapInPandas(lambda it: it, "value double").write.format(
                "noop"
            ).mode("overwrite").save()
    for _ in range(PROBE_REPS):
        with tr.span("operators.partial_sketches"):
            partials = tdigest_agg(scan, "value", by=["grp"]).localCheckpoint(eager=True)
        with tr.span("operators.merge_sketches"):
            merged = tdigest_merge_finalize(partials, ["grp"], finalize, schema).collect()
        if sum(r["n"] for r in merged) != engine.wl.scan.rows:
            checker.fail("merge_sketches: merged mass differs from the scan's rows")
    sizes = partials.select(F.count("*").alias("n"), F.sum(F.length("sketch")).alias("b")).first()
    for _ in range(PROBE_REPS):
        with tr.span("pipeline.jaccard_ngram_pairs"):
            pairs = jaccard_ngram_pairs(
                engine.docs, "doc_id", "text", "lang", JACCARD_MIN, NGRAM
            )
            pairs = pairs.localCheckpoint(eager=True)
        with tr.span("pipeline.connected_components"):
            cc = connected_components(pairs, "id_a", "id_b").collect()
        checker.dedup(cc)
    return {
        "operators.partial_rows": sizes["n"],
        "operators.buffer_mb": sizes["b"] / 1e6,
        "pipeline.pairs_n": pairs.count(),
        "streaming.state_bytes": engine.state_bytes(),
    }


LAYER_CALLS = (
    "sources.scan",
    "operators.tdigest_quantiles",
    "operators.spacesaving_topk",
    "operators.moments_agg",
    "operators.partial_sketches",
    "operators.merge_sketches",
    "streaming.fold",
    "streaming.digests",
    "streaming.hll_estimates",
    "pipeline.jaccard_ngram_pairs",
    "pipeline.connected_components",
)


def bench(args, tmp: str) -> tuple[dict, dict]:
    wl = WORKLOADS[args.workload]
    heap_mb = host.driver_heap_mb(host.mem_total_bytes())
    ticks0 = host.cpu_ticks()
    calib0 = host.calib_s()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"

    t_setup = time.perf_counter()
    spark = start_session(tmp, heap_mb)
    try:
        session_s = time.perf_counter() - t_setup
        t = time.perf_counter()
        inputs = Inputs(wl, args.seed, os.path.join(tmp, "in"), n_batches(args.seconds))
        inputs_s = time.perf_counter() - t
        tr = Tracer(spark, run_id, enabled=bool(args.trace))
        engine = Engine(spark, wl, inputs, os.path.join(tmp, "store"), tr)
        run = Run(engine, tr)
        t = time.perf_counter()
        run.warm_up()
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup

        first_result, first_span = len(run.results), len(tr.spans)
        bookkeeping0 = tr.bookkeeping_s
        cycles = run.window(args.seconds)
        window_spans = tr.spans[first_span:]
        w = samples(window_spans)
        bookkeeping_s = tr.bookkeeping_s - bookkeeping0

        checker = Checker(wl, inputs, engine.scan)
        tally = check(run, checker, first_result)
        attempted = len(run.results)
        layer = {}
        if args.trace:
            before = len(checker.failures)
            layer.update(probes(engine, checker, tr))
            layer.update(kernel_metrics(inputs))
            attempted += 1
            tally["failed"] += len(checker.failures) > before
        props = inputs.properties(wl)
        spark_version = spark.version
    finally:
        stop_session(spark)

    calib1 = host.calib_s()
    steal = host.steal_pct(ticks0, host.cpu_ticks())
    failures = run.errors + checker.failures
    ok = not failures and bool(cycles)
    artifact = {
        "run": {"id": run_id, "workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": args.trace},
        "stamp": {**host.stamp(heap_mb, spark_version), "steal_pct": steal,
                  "calib_s": [calib0, calib1]},
        "inputs": props,
        "setup": {"session_s": session_s, "inputs_s": inputs_s, "warmup_s": warmup_s},
        "warmup_samples": samples(tr.spans[:first_span]),
        "window": {
            "cycles": len(cycles),
            "samples": w,
            "fold_tail": tail(w.get("streaming.fold", [])),
        },
        "fail_rate": tally["failed"] / max(attempted, 1),
        "rank_err_max": max(tally["rank_err_max"], default=None),
        "failures": failures[:50],
    }
    if not cycles:
        metrics = {}
    elif args.trace:
        named = by_name(tr.spans[first_span:])
        for name in LAYER_CALLS:
            layer.update(Tracer.layer_metrics(name, named.get(name, [])))
        layer.update({
            "host.steal_pct": steal,
            "host.calib_s": statistics.median([calib0, calib1]),
            "trace.wall_s": statistics.median(w["cycle"]),
            "trace.overhead_s": bookkeeping_s / len(cycles),
        })
        metrics = as_metrics(layer, args.trace)
        artifact["spans"] = tr.spans
    else:
        e2e = end_to_end(wl, cycles, w, setup_s, tally)
        metrics = as_metrics(e2e, args.trace)
    result = {
        "correct": ok,
        "attempted": attempted,
        "failed": tally["failed"] + (0 if cycles else 1),
        "metrics": metrics,
    }
    return artifact, result


def declared(trace: int) -> dict[str, str]:
    """Metric name → unit, as BENCHMARK.json declares them for the mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def as_metrics(values: dict[str, float], trace: int) -> dict:
    units = declared(trace)
    if values.keys() != units.keys():
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: {sorted(values.keys() ^ units.keys())}"
        )
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "crick_spark", "__init__.py")):
        print(f"perfbench: no crick_spark package in {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    try:
        isolate(tmp)
        artifact, result = bench(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"artifact": artifact}, default=str))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
