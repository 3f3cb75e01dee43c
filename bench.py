#!/usr/bin/env python3
"""Bench harness — headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "triples_per_sec": ..., ...}

Usage:
  python3 bench.py                                  # the full bench
  python3 bench.py --only g8_connected_components,lsh_canonical_map \
      [--plans DIR]                                 # just these queries

``--only`` times the named declared queries with the same warm-up and
min-of-N protocol as the full run and prints their ``queries``/``reps``;
``--plans`` also writes each one's formatted explain to DIR/<query>.txt.

Env knobs:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     cores for local[N] (default 32)
  BENCH_PAGES          synthetic page count for the KG pipeline (default 48000)
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_PAGES = int(os.environ.get("BENCH_PAGES", "48000"))

# the declared queries the default run times
BENCH_QUERIES = [
    "a6_pricing_summary",
    "j6_interval_join",
    "j7_timewindow_join",
    "t2_pertype_rank",
    "p8_token_extract",
    "p11_cosine_topk",
    "dedup_exact_docs",
    "minhash_near_dups",
    "simhash_docs",
    "g8_connected_components",
    "g2_bfs_hops",
    "a8_eval_summary",
    # the batched evidence export: 25 roots, multi-path seeded support,
    # per-root capping + rank windows over the supplier/lineitem KG
    "evidence_export_batched",
    # fuzzy canonicalization end-to-end: 20k spelling-variant entities
    # through char-gram MinHash-LSH blocking, exact-Jaccard edges, and
    # the CC union-find closure
    "lsh_canonical_map",
]


def cache_path(name: str) -> str:
    """Temp-dir path for a generated bench input, keyed on the datagen
    source and N_PAGES: a generator change never reuses stale inputs."""
    with open(os.path.join(ROOT, "kgcompass_spark", "sources", "datagen.py"), "rb") as f:
        key = hashlib.sha256(f.read() + str(N_PAGES).encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"bench_{key}", name)


def _commit() -> str:
    import subprocess
    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, cwd=ROOT,
        ).stdout.strip()
    except Exception:
        return "unknown"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--only", help="comma-separated declared query names; "
                    "time just these")
    ap.add_argument("--plans", help="with --only: write each query's "
                    "formatted explain to PLANS/<query>.txt")
    args = ap.parse_args()
    if args.plans and not args.only:
        ap.error("--plans needs --only")

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from kgcompass_spark.pipeline import build_kg
    from kgcompass_spark.session import get_spark
    from kgcompass_spark.sources.datagen import (
        corpus_dataframes,
        pages_dataframe_distributed,
    )

    # bench JVMs pin -Xms to the heap ceiling (heap-ergonomics variance
    # killer, round-4 verdict); library/test sessions stay unpinned
    os.environ.setdefault("SPARK_GRAFT_PIN_HEAP", "1")
    spark = get_spark("bench", cores=CPUS, shuffle_partitions=max(CPUS, 8))

    timings: dict[str, float] = {}
    reps: dict[str, list[float]] = {}

    def bench(name: str, run, n: int) -> float:
        """One warm-up call (JIT + codegen + python workers), then ``n``
        timed calls, each after ``clearCache``; records the walls and
        their minimum, and returns it. The minimum is the reproducible
        number: single runs on a shared VM vary up to 3× from GC/IO noise
        and hypervisor steal, and rep sequences decrease as C2 keeps
        promoting generated code."""
        run()
        walls = []
        for _ in range(n):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            run()
            walls.append(time.perf_counter() - t0)
        reps[name] = [round(w, 3) for w in walls]
        timings[name] = round(min(walls), 3)
        return min(walls)

    qs = entrymod.queries()

    def bench_queries(names: list[str]) -> None:
        # warm-up + best-of-2: a cold single shot mixes JIT/codegen/GC
        # noise into the reading (g8 once read 34 s cold vs 8.6 s warm)
        for name in names:
            bench(name, lambda: qs[name](spark, SF_DIR).count(), 2)

    if args.only:
        names = args.only.split(",")
        unknown = [q for q in names if q not in qs]
        if unknown:
            ap.error(f"not declared queries: {', '.join(unknown)}")
        bench_queries(names)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            for name in names:
                df = qs[name](spark, SF_DIR)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
                with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                    f.write(plan)
        print(json.dumps({
            "queries": timings, "reps": reps, "commit": _commit(),
            "sf": SF_DIR.rstrip("/").split("sf")[-1], "cpus": CPUS,
        }))
        return

    # --- headline: the KG construction pipeline on synthetic pages --------
    # entities also read back from parquet (same Python-RDD argument as the
    # commit/doc artifacts below — the alias dictionary feeds several
    # broadcast builds; interleaved A/B: kg_full 10.99 s vs 12.45 s best-of-3)
    _, entities_gen, _, _ = corpus_dataframes(spark, n_pages=1)
    entities_path = cache_path("entities.parquet")
    if not os.path.exists(entities_path):
        entities_gen.write.parquet(entities_path)
    entities = spark.read.parquet(entities_path)
    pages_path = cache_path(f"pages_{N_PAGES}.parquet")
    if not os.path.exists(pages_path):
        # generation excluded from timing; reused across bench runs
        pages_dataframe_distributed(spark, N_PAGES, partitions=max(CPUS * 2, 8)).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    n_pages_actual = pages.count()

    triple_count = {}

    def kg_run():
        out = build_kg(pages, entities, cutoff=None, persist=True)
        triple_count["n"] = out["triples"].count()
        out["prepared"].unpersist()
        out["mentions"].unpersist()

    # best-of-4: ~1.5k rows/task stays under the C2 invocation threshold
    # per rep, so rep sequences keep decreasing past rep 2
    kg_sec = bench("kg_pipeline", kg_run, 4)

    # --- full pipeline incl. commit/experience/documentation context -------
    from kgcompass_spark.sources.datagen import _mk_commits, _mk_docs
    from kgcompass_spark.sources.datagen import COMMITS_SCHEMA, DOCS_SCHEMA

    # artifacts read from parquet, not createDataFrame: a Python-RDD-backed
    # input re-runs a Python worker job for EVERY context-branch broadcast
    # rebuild (eligible-commit filters, span explode, doc scoring), which a
    # real pipeline — whose artifacts live in storage — never pays.
    # Interleaved A/B at 48k pages: 14.84 s parquet vs 15.64 s RDD best-of-3.
    commits_path = cache_path("commits_48.parquet")
    docs_path = cache_path("docs.parquet")
    if not os.path.exists(commits_path):
        spark.createDataFrame(_mk_commits(48), schema=COMMITS_SCHEMA).write.parquet(
            commits_path
        )
    if not os.path.exists(docs_path):
        spark.createDataFrame(_mk_docs(), schema=DOCS_SCHEMA).write.parquet(docs_path)
    commits_df = spark.read.parquet(commits_path)
    docs_df = spark.read.parquet(docs_path)

    def kg_full_run():
        out = build_kg(pages, entities, cutoff=None, persist=True,
                       commits=commits_df, docs=docs_df)
        out["triples"].count()
        out["prepared"].unpersist()
        out["mentions"].unpersist()

    # best-of-4 (vs 2): hypervisor steal once inflated a run 2× (29.3 vs
    # 13.9 s for the SAME plan in one process), and rep sequences were
    # still decreasing at rep 3 — extra reps raise the odds of the floor
    bench("kg_full_pipeline", kg_full_run, 4)

    # --- bucketed-table read-back vs plain parquet ------------------------
    # The sources/bucketed.py contract (joins/aggs on the bucket key read
    # back with ZERO exchanges) carried only a plan assertion until now;
    # this times it on the real bench-scale KG (~2.4M triples at 48k pages).
    # Broadcast is disabled for BOTH variants: at 100 TB the node table is
    # not broadcastable, so the honest comparison is SMJ-with-shuffle vs
    # bucketed SMJ-without — exactly the decision a cluster planner faces.
    from kgcompass_spark.sources.bucketed import materialize_graph_tables

    kg_out = build_kg(pages, entities, cutoff=None, persist=True)
    bkt_base = cache_path(f"bkt_{N_PAGES}")
    bt = materialize_graph_tables(
        spark, kg_out["triples"], bkt_base, prefix="bench_kg"
    )  # one-time materialization, untimed (amortized across reads at scale)
    plain_edges_path = os.path.join(bkt_base, "edges_plain")
    plain_nodes_path = os.path.join(bkt_base, "nodes_plain")
    bt["edges"].write.mode("overwrite").parquet(plain_edges_path)
    bt["nodes"].write.mode("overwrite").parquet(plain_nodes_path)
    kg_out["prepared"].unpersist()
    kg_out["mentions"].unpersist()
    kg_out["triples"].unpersist()

    def graph_join(edges, nodes):
        # node-enrichment + degree-weighted rollup keyed on the entity —
        # the shape of every edges⋈nodes pass in the KG pipeline
        return (
            edges.join(nodes, edges.subj == nodes.node)
            .filter(F.col("node_type") != "issue")
            .groupBy("subj")
            .agg(F.sum("weight").alias("w_total"), F.max("out_degree").alias("deg"))
        )

    exchange_counts = {}
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for variant, (e_df, n_df) in {
            "graph_join_bucketed": (bt["edges"], bt["nodes"]),
            "graph_join_plain": (
                spark.read.parquet(plain_edges_path),
                spark.read.parquet(plain_nodes_path),
            ),
        }.items():
            q = graph_join(e_df, n_df)
            plan = q._jdf.queryExecution().executedPlan().toString()
            exchange_counts[variant] = sum(
                1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
            )
            bench(variant, q.count, 2)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)

    # --- operator benches over driver testdata ----------------------------
    bench_queries(BENCH_QUERIES)

    # --- streaming micro-batch throughput ---------------------------------
    # run_triples_stream is pinned output-equal to the batch battery
    # (tests/test_streaming.py) but carried no timed number: drop the bench
    # pages as parquet files and drain them through the state-backed dedup +
    # foreachBatch link battery once (single shot — a drain is itself
    # multi-batch, so per-batch JIT noise averages out inside the run).
    # State-store size: one (url, ts) entry per in-watermark url — bounded
    # by the watermark horizon (2h of drops), NOT corpus size.
    import shutil

    from kgcompass_spark.streaming.ingest import run_triples_stream

    stream_in = cache_path(f"stream_in_{N_PAGES}")
    if not os.path.exists(stream_in):
        # 32 drop files → one trigger at the default max_files=64
        pages.repartition(32).write.parquet(stream_in)
    stream_out = os.path.join(tempfile.gettempdir(), "bench_stream_out")
    shutil.rmtree(stream_out, ignore_errors=True)
    t0 = time.perf_counter()
    run_triples_stream(spark, stream_in, entities, stream_out)
    stream_sec = round(time.perf_counter() - t0, 3)
    timings["triples_stream"] = stream_sec
    reps["triples_stream"] = [stream_sec]

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "kg_construct_bench_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "reps": reps,
        "commit": _commit(),
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "cpus": CPUS,
        "n_pages": n_pages_actual,
        "n_triples": triple_count.get("n", 0),
        "graph_join_exchanges": exchange_counts,
        "triples_per_sec": round(triple_count.get("n", 0) / kg_sec, 1) if kg_sec else 0,
        "pages_per_sec": round(n_pages_actual / kg_sec, 1) if kg_sec else 0,
        "stream_pages_per_sec": round(n_pages_actual / stream_sec, 1) if stream_sec else 0,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
