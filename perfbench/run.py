#!/usr/bin/env python3
"""KG-construction benchmark: seeded workloads over ``kgcompass_spark``.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads are defined in ``workloads.py``:
``build`` and ``stream`` are the ones ``BENCHMARK.json`` lists; ``export``
and ``canonicalize`` run the same way but do not fit its time budget.
``--workload all`` runs each in its own process.

One run: start a Spark session sized to the host (``local[nproc]``, a heap
of a quarter of physical RAM up to 4 GB, pinned), generate the seeded
inputs three times and keep the median time, load them, run one warm-up
op, then run ops back to back for ``--seconds`` and check every op's
written output against generator truth. The first op in a fresh JVM takes
about twice as long as the next (JIT, code generation, Python workers);
from the second op on, op times stay within run-to-run noise. Set-up time
(``setup_s``) counts session start, input generation, load and warm-up.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` additionally
runs one traced op (a span around each public layer call) and prints the
per-layer metrics instead, writing the spans as JSON lines under
``.perfbench/traces/``. Human-readable lines come first; the last line of
standard output is one JSON object. The exit code is non-zero when a gated
check fails or an op raises.

Everything the run writes stays under ``.perfbench/`` in the repository
root, and the per-run work directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WARMUP_OPS = 1
INPUT_REPS = 3


def host_sizing() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_gb = max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    return {
        "cpus": cpus,
        "heap_gb": heap_gb,
        "shuffle_partitions": max(2 * cpus, 8),
        "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
    }


def start_session(work: str, size: dict):
    """Session through ``get_spark``'s own env knobs (cores, heap, pinned
    heap with G1), with every scratch path (JVM and Python temp files,
    shuffle, warehouse, stream checkpoints) inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    heap = f"{size['heap_gb']}g"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(size["cpus"]),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_GRAFT_PIN_HEAP": "1",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher's too: no hsperfdata in /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    from kgcompass_spark.session import get_spark

    return get_spark(
        "perfbench",
        shuffle_partitions=size["shuffle_partitions"],
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin (the gateway exits on EOF)
    and wait for the process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def tail_percentile(xs: list[float]) -> str:
    """The highest of p99/p95/p90/p75 with at least 10 samples beyond it."""
    n = len(xs)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            q = statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
            return f"p{p}={q:.4f}"
    return f"no percentile has 10 samples beyond it at n={n}"


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from inputs import SIZES
    from spans import EXTRA_METRICS, Tracer, per_layer_names
    from workloads import WORKLOADS

    size = host_sizing()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, size)
        session_s = time.perf_counter() - t0

        wl = WORKLOADS[args.workload](spark, work, args.seed)
        gen = []
        for k in range(INPUT_REPS):
            d = os.path.join(work, f"in{k}")
            t = time.perf_counter()
            wl.generate(d)
            gen.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.load(d)
        load_s = time.perf_counter() - t

        warm = []
        for _ in range(WARMUP_OPS):
            t = time.perf_counter()
            wl.warm_op()
            warm.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(gen) + load_s + sum(warm)

        walls, lat, precision, recall, failed, side = [], [], [], [], 0, {}
        t_end = time.perf_counter() + args.seconds
        i = 0
        while i == 0 or time.perf_counter() < t_end:
            ok = False
            try:
                t = time.perf_counter()
                wl.op(i)
                walls.append(time.perf_counter() - t)
                lat += wl.op_samples(walls[-1])
                res = wl.check(i)
                precision.append(res["precision"])
                recall.append(res["recall"])
                for k, v in wl.extra.items():
                    side.setdefault(k, []).append(v)
                ok = res["ok"]
                if not ok:
                    print(f"op {i}: gated check failed: {res}", file=sys.stderr)
            except Exception:  # noqa: BLE001 — an op that raises counts as failed
                traceback.print_exc()
            failed += not ok
            i += 1
        attempted = i

        trace_out = None
        if args.trace:
            tr = Tracer(spark)
            wl.extra = {}
            wl.traced_op(tr, "traced")
            attempted += 1
            if not wl.traced_check():
                print(f"traced op: gated check failed: {wl.extra}", file=sys.stderr)
                failed += 1
            layer = tr.layer_metrics()
            traced_wall = tr.op_wall("traced")
            layer_self = sum(
                s.end - s.start - sum(c.end - c.start for c in s.children)
                for s in tr.spans if s.op == "traced" and s.name != "op"
            )
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            trace_out = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            tr.dump(trace_out)
            extra = {name: float(wl.extra.get(name, 0.0)) for name, _ in EXTRA_METRICS}
            layer.update(extra)

        rss = jvm_peak_rss_mb(spark)
    except Exception:  # noqa: BLE001 — set-up failure: no result line
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    op_p50 = statistics.median(lat) if lat else 0.0
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (op_p50, "s"),
        "precision": (statistics.median(precision) if precision else 0.0, "ratio"),
        "recall": (statistics.median(recall) if recall else 0.0, "ratio"),
        "peak_rss_mb": (rss, "MB"),
    }
    print(f"workload {args.workload}  seed {args.seed}  master local[{size['cpus']}]  "
          f"heap {size['heap_gb']}g pinned  shuffle.partitions {size['shuffle_partitions']}  "
          f"host RAM {size['mem_total_gb']} GB")
    print(f"sizes: {json.dumps(SIZES)}")
    print(f"set-up: session {session_s:.3f} s, inputs {statistics.median(gen):.3f} s "
          f"(median of {INPUT_REPS}), load {load_s:.3f} s, warm-up {sum(warm):.3f} s "
          f"({len(warm)} ops: {', '.join(f'{w:.3f}' for w in warm)})")
    print(f"op walls (s): {', '.join(f'{w:.3f}' for w in walls)}")
    if lat != walls:
        print(f"op_p50_s samples (s): {', '.join(f'{w:.3f}' for w in lat)}")
    print(f"{'metric':<14}{'value':>12}  unit     n")
    for name, (v, unit) in e2e.items():
        n = {"setup_s": 1, "op_p50_s": len(lat)}.get(name, len(walls))
        note = tail_percentile(lat) if name == "op_p50_s" else ""
        print(f"{name:<14}{v:>12.4f}  {unit:<7}{n:>3}  {note}")
    if wl.items and walls:
        print(f"{'pages_per_s':<14}{wl.items / statistics.median(walls):>12.2f}  pages/s{len(walls):>3}")
    print(f"{'error_rate':<14}{failed / attempted:>12.4f}  ratio  {attempted:>3}")
    for k, vs in sorted(side.items()):
        print(f"  {k}: median {statistics.median(vs):.4f} over {len(vs)} ops")

    if args.trace:
        print(f"traced op wall {traced_wall:.3f} s; layer self times sum {layer_self:.3f} s "
              f"({layer_self / traced_wall:.1%} of it); tracing overhead "
              f"{traced_wall - statistics.median(walls):+.3f} s against the untraced op wall; "
              f"spans: {trace_out}")
        units = dict(per_layer_names())
        checks = {k: round(v, 4) for k, v in wl.extra.items() if k not in units}
        if checks:
            print(f"traced run checks: {checks}")
        for name, v in layer.items():
            if v:
                print(f"  {name:<34}{v:>16.4f}  {units[name]}")
        metrics = {name: {"value": layer[name], "unit": unit} for name, unit in per_layer_names()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Each workload in its own process; the last line merges them."""
    from workloads import WORKLOADS

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines.pop()) if lines and lines[-1].startswith("{") else None
        print("\n".join(lines))
        code = code or p.returncode
        if res is None:
            merged["correct"] = False
            continue
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged))
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kgcompass_spark", "__init__.py")):
        print(f"kgcompass_spark/ not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)} or all")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
