"""Harness-side spans and per-layer Spark metrics.

A span wraps one public call into a ``kgcompass_spark`` layer. It records
name, start, end, parent and op id, and the range of Spark job and stage
ids the call created. Job and stage ids only grow and the harness is the
only client of its session, so the stages a span created are exactly the
ids in its range that none of its child spans created. Their metrics come
from the driver's status store, which is filled with the UI disabled.

Spans are kept in memory and written as JSON lines by ``Tracer.dump``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# layer name -> the package modules it stands for
LAYERS = {
    "prepare": "pipeline.prepare_pages (functions.html, functions.cleaning)",
    "mentions": "pipeline.extract_mentions / extract_frames (functions.mentions)",
    "link": "pipeline.link_all (operators.linking)",
    "triples": "operators.triples, including the MERGE group-by",
    "context": "operators.context.context_triples_parts",
    "canonicalize": "operators.canonicalize",
    "materialize": "sources.bucketed.materialize_graph_tables",
    "graph": "operators.graph (seeded_support, connected_components)",
    "export": "plans.evidence.evidence_export_all + operators.ranking",
    "stream": "streaming.ingest.run_triples_stream",
}

# (suffix, unit) of the metrics every layer reports
LAYER_METRICS = [
    ("wall_s", "s"),
    ("self_s", "s"),
    ("rows_out", "count"),
    ("jobs", "count"),
    ("cpu_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("peak_mem_bytes", "bytes"),
    ("skew", "ratio"),
    ("failed_tasks", "count"),
]

# ratios and counts measured where the work happens, (name, unit)
EXTRA_METRICS = [
    ("prepare.kept_ratio", "ratio"),
    ("link.links_per_mention", "ratio"),
    ("triples.merge_ratio", "ratio"),
    ("materialize.bytes_written", "bytes"),
    ("export.kept_ratio", "ratio"),
    ("canonicalize.accept_ratio", "ratio"),
    ("stream.batches", "count"),
    ("stream.plan_s", "s"),
    ("stream.late_rows", "count"),
]


def per_layer_names() -> list[tuple[str, str]]:
    names = [(f"{layer}.{m}", unit) for layer in LAYERS for m, unit in LAYER_METRICS]
    return names + EXTRA_METRICS


class _Span:
    def __init__(self, sid, name, parent, op, jobs0, stages0):
        self.id, self.name, self.parent, self.op = sid, name, parent, op
        self.start = time.perf_counter()
        self.end = None
        self.jobs = [jobs0, None]
        self.stages = [stages0, None]
        self.rows = 0
        self.children: list[_Span] = []


class Tracer:
    """Spans around layer calls, with Spark job/stage attribution."""

    def __init__(self, spark):
        self.spans: list[_Span] = []
        self._stack: list[_Span] = []
        self._t0 = time.perf_counter()
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._gw = spark.sparkContext._gateway

    def _ids(self) -> tuple[int, int]:
        # the scheduler's AtomicInteger counters; py4j hands back their value
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    @contextmanager
    def span(self, name: str, op: str):
        parent = self._stack[-1] if self._stack else None
        jobs0, stages0 = self._ids()
        s = _Span(len(self.spans), name, parent, op, jobs0, stages0)
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            s.jobs[1], s.stages[1] = self._ids()

    # ---- status-store reads -------------------------------------------

    def _stage_metrics(self, sid: int) -> dict | None:
        try:
            st = self._store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — py4j wraps NoSuchElementException
            return None
        status = st.status().toString()
        if status not in ("COMPLETE", "FAILED"):
            return None
        q = self._gw.new_array(self._gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        skew, peak = 1.0, 0
        dist = self._store.taskSummary(sid, st.attemptId(), q)
        if dist.isDefined():
            d = dist.get()
            rt = d.executorRunTime()
            med, mx = rt.apply(0), rt.apply(1)
            if st.numTasks() >= 2 and med > 0:
                skew = mx / med
            peak = int(d.peakExecutionMemory().apply(1))
        return {
            "cpu_s": st.executorCpuTime() / 1e9,
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "spill_bytes": st.diskBytesSpilled() + st.memoryBytesSpilled(),
            "peak_mem_bytes": peak,
            "skew": skew,
            "failed_tasks": st.numFailedTasks(),
        }

    def _self_ids(self, s: _Span, idx: int) -> set[int]:
        rng = getattr(s, ("jobs", "stages")[idx])
        own = set(range(rng[0], rng[1]))
        for c in s.children:
            crng = getattr(c, ("jobs", "stages")[idx])
            own -= set(range(crng[0], crng[1]))
        return own

    def layer_metrics(self) -> dict[str, float]:
        """Aggregate the spans of each layer: wall = sum of span walls,
        self = wall minus child spans, Spark metrics over self stages.
        Layers without spans report 0."""
        self._bus.waitUntilEmpty()
        out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m, _ in LAYER_METRICS}
        for s in self.spans:
            if s.name not in LAYERS:
                continue
            wall = s.end - s.start
            child = sum(c.end - c.start for c in s.children)
            p = s.name + "."
            out[p + "wall_s"] += wall
            out[p + "self_s"] += wall - child
            out[p + "rows_out"] += s.rows
            out[p + "jobs"] += len(self._self_ids(s, 0))
            for sid in sorted(self._self_ids(s, 1)):
                m = self._stage_metrics(sid)
                if m is None:
                    continue
                for k in ("cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
                          "spill_bytes", "failed_tasks"):
                    out[p + k] += m[k]
                out[p + "peak_mem_bytes"] = max(out[p + "peak_mem_bytes"], m["peak_mem_bytes"])
                out[p + "skew"] = max(out[p + "skew"], m["skew"])
        return out

    def op_wall(self, op: str) -> float:
        roots = [s for s in self.spans if s.op == op and s.parent is None]
        return sum(s.end - s.start for s in roots)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id,
                    "name": s.name,
                    "parent": None if s.parent is None else s.parent.id,
                    "op": s.op,
                    "start_s": round(s.start - self._t0, 6),
                    "end_s": round(s.end - self._t0, 6),
                    "rows_out": s.rows,
                    "jobs": s.jobs,
                    "stages": s.stages,
                }) + "\n")
