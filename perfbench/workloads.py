"""The benchmark's workloads. Each drives ``kgcompass_spark`` only through
its public functions and is a closed loop with one client: an op starts
when the previous one has finished.

A workload has four parts:
  - ``generate(dir)``: write the seeded inputs (repeated, timed, in set-up);
  - ``load(dir)``: read them and build the state the ops need (set-up);
  - ``op(i)``: one timed operation that ends in a written result;
  - ``check(i)``: read the result back and score it against generator
    truth; ``ok`` is False when a gated check fails.
``traced_op(tracer)`` runs the same work as ``op`` with a span around each
public layer call, materializing each layer's output before the next.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
from collections import Counter

from pyspark.sql import functions as F

from inputs import SIZES, Corpus, name_table, write_names

GATE = 0.95  # fixture precision/recall floor (tests/test_pipeline.py)


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _triple_set(df) -> set:
    return {(r.subj, r.predicate, r.obj) for r in df.select("subj", "predicate", "obj").collect()}


def _pr(got: set, want: set) -> tuple[float, float]:
    tp = len(got & want)
    return tp / max(len(got), 1), tp / max(len(want), 1)


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.extra: dict[str, float] = {}   # per-op side measurements
        self.items = 0                      # input pages per op

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def warm_op(self) -> None:
        self.op("warm")

    def op_samples(self, wall: float) -> list[float]:
        """The latencies one op contributes to ``op_p50_s``."""
        return [wall]

    def traced_check(self) -> bool:
        """Gated checks that only the traced run makes."""
        return True

    def _entities(self, base: str):
        return self.spark.read.parquet(os.path.join(base, "entities"))


class Build(Workload):
    """``build_kg`` with context and canonicalization, then
    ``materialize_graph_tables``: the system's main job, a repository KG
    built from issue pages. The traced run then sends one 2-hop evidence
    request, read from the written tables, so that ``graph`` and
    ``export`` are measured too. It is not part of the timed op, so that
    the benchmark's time budget has room for the warm-up ``stream``
    needs."""

    name = "build"

    def generate(self, d: str) -> None:
        self.corpus = Corpus(self.seed)
        self.corpus.write_pages(os.path.join(d, "pages"), SIZES["build_files"])
        self.corpus.write_artifacts(d)
        self.want = self.corpus.golden | self.corpus.context_golden()

    def load(self, d: str) -> None:
        rd = self.spark.read.parquet
        self.pages = rd(os.path.join(d, "pages"))
        self.entities = self._entities(d)
        self.commits = rd(os.path.join(d, "commits"))
        self.docs = rd(os.path.join(d, "docs"))
        self.items = len(self.corpus.pages)
        self.evidence = Evidence(self, max_hops=2)

    def op(self, i: int) -> None:
        from kgcompass_spark.pipeline import build_kg
        from kgcompass_spark.sources.bucketed import materialize_graph_tables
        from kgcompass_spark.sources.datagen import CUTOFF

        out = build_kg(
            self.pages, self.entities, cutoff=CUTOFF, persist=True,
            commits=self.commits, docs=self.docs, canonicalize=True,
        )
        materialize_graph_tables(self.spark, out["triples"], self.path("kg"), prefix="kg")
        out["prepared"].unpersist()
        out["mentions"].unpersist()

    def check(self, i: int) -> dict:
        p, r = _pr(_triple_set(self.spark.table("kg_edges")), self.want)
        return {"precision": p, "recall": r, "ok": p >= GATE and r >= GATE}

    def traced_check(self) -> bool:
        ev = self.evidence.score()
        self.extra.update({"evidence_recall": ev["recall"], "evidence_precision": ev["precision"]})
        return ev["recall"] >= GATE

    def traced_op(self, tr, op: str) -> None:
        """``build_kg``'s stages called in its order, each persisted and
        counted before the next. The CC inside ``canonical_mapping`` is
        reported inside ``canonicalize``. After the op, the evidence
        request runs as ``export`` and the ``seeded_support`` inside it is
        timed on its own as ``graph``."""
        from kgcompass_spark.operators.canonicalize import canonical_mapping, canonicalize_triples
        from kgcompass_spark.operators.context import context_triples_parts
        from kgcompass_spark.operators.triples import links_to_triples, structural_triples
        from kgcompass_spark.pipeline import (
            extract_frames, extract_mentions, link_all, pages_meta_from, prepare_pages,
        )
        from kgcompass_spark.sources.bucketed import materialize_graph_tables
        from kgcompass_spark.sources.datagen import CUTOFF

        cols = ("subj", "predicate", "obj", "weight", "src_url")
        held = []

        def keep(df):
            df = df.persist()
            held.append(df)
            return df, df.count()

        with tr.span("op", op):
            with tr.span("prepare", op) as s:
                prepared, s.rows = keep(prepare_pages(self.pages, CUTOFF))
            with tr.span("mentions", op) as s:
                mentions, n_m = keep(extract_mentions(prepared))
                frames, n_f = keep(extract_frames(prepared))
                s.rows = n_m + n_f
            with tr.span("link", op) as s:
                links, s.rows = keep(link_all(mentions, frames, self.entities, pages_meta_from(prepared)))
            with tr.span("triples", op) as s:
                linked, n_lt = keep(links_to_triples(links))
                structural, n_st = keep(structural_triples(self.entities).select(*cols))
                core, s.rows = linked.unionByName(structural), n_lt + n_st
            with tr.span("context", op) as s:
                ctx_pass, ctx_merge = context_triples_parts(
                    prepared.select("url", "warc_ts", "clean_text"), self.entities,
                    commits=self.commits, docs=self.docs)
                ctx_pass, n_p = keep(ctx_pass)
                ctx_merge, n_c = keep(ctx_merge)
                s.rows = n_p + n_c
            with tr.span("triples", op) as s:
                merged = core.unionByName(ctx_merge).groupBy("subj", "predicate", "obj").agg(
                    F.min("weight").alias("weight"), F.min("src_url").alias("src_url"))
                triples, s.rows = keep(merged.unionByName(ctx_pass))
            with tr.span("canonicalize", op) as s:
                canon, s.rows = keep(canonicalize_triples(triples, canonical_mapping(self.entities)))
                canon_rows = s.rows
            with tr.span("materialize", op) as s:
                materialize_graph_tables(self.spark, canon, self.path("kg"), prefix="kg")
                s.rows = canon_rows
        for df in held:
            df.unpersist()
        kg = self.spark.table("kg_edges")
        self.evidence.run(kg, "warm")  # the timed ops never ran it
        self.evidence.traced(tr, kg, "aux")
        self.evidence.graph_alone(tr, kg)
        n_links = next(x.rows for x in tr.spans if x.name == "link" and x.op == op)
        n_prep = next(x.rows for x in tr.spans if x.name == "prepare" and x.op == op)
        self.extra.update({
            "prepare.kept_ratio": n_prep / self.items,
            "link.links_per_mention": n_links / max(n_m + n_f, 1),
            "triples.merge_ratio": n_lt / max(n_links, 1),
            "materialize.bytes_written": float(_du(self.path("kg"))),
        })


class Stream(Workload):
    """One drain of ``run_triples_stream`` over drop files in generator
    page order, several triggers per drain. The latency a stream user sees
    is the micro-batch, so an op contributes the ``triggerExecution`` of
    each batch that had input; whether an extra no-data batch runs before
    the drain returns is a race, which makes drain walls noisy. The
    warm-up is a drain of the first trigger's files and then a whole
    drain: after the first alone, the next drain's batches still ran at
    twice their level and spread a quarter of the median between runs."""

    name = "stream"

    def generate(self, d: str) -> None:
        self.corpus = Corpus(self.seed)
        drops = os.path.join(d, "drops")
        self.corpus.write_pages(drops, SIZES["stream_files"], ordered=True)
        os.makedirs(os.path.join(d, "warm"))
        for f in sorted(os.listdir(drops))[: SIZES["max_files"]]:
            os.link(os.path.join(drops, f), os.path.join(d, "warm", f))
        self.corpus.write_artifacts(d)
        self.want = self.corpus.golden

    def load(self, d: str) -> None:
        self.drops = os.path.join(d, "drops")
        self.warm = os.path.join(d, "warm")
        self.entities = self._entities(d)
        self.items = len(self.corpus.pages)

    def _out(self, i) -> str:
        return self.path("stream_out", str(i))

    def op(self, i, drops: str | None = None) -> None:
        from kgcompass_spark.streaming.ingest import run_triples_stream

        q = run_triples_stream(
            self.spark, drops or self.drops, self.entities, self._out(i),
            max_files=SIZES["max_files"],
        )
        self._progress(q)

    def warm_op(self) -> None:
        for i, drops in (("warm0", self.warm), ("warm1", self.drops)):
            self.op(i, drops)
            shutil.rmtree(self._out(i), ignore_errors=True)

    def op_samples(self, wall: float) -> list[float]:
        return self.batch_s

    def _progress(self, q) -> None:
        prog = [json.loads(p.json) for p in q.recentProgress]
        self.batch_s = [
            p["durationMs"].get("triggerExecution", 0) / 1e3 for p in prog if p["numInputRows"] > 0
        ]
        plan = [
            (p["durationMs"].get("queryPlanning", 0) + p["durationMs"].get("getBatch", 0)) / 1e3
            for p in prog
        ]
        late = sum(
            op.get("numRowsDroppedByWatermark", 0) for p in prog for op in p.get("stateOperators", [])
        )
        self.extra = {
            "stream.batches": float(len(prog)),
            "stream.plan_s": statistics.median(plan) if plan else 0.0,
            "stream.late_rows": float(late),
        }

    def check(self, i) -> dict:
        got = _triple_set(self.spark.read.parquet(self._out(i))) | self.corpus.structural
        shutil.rmtree(self._out(i), ignore_errors=True)
        p, r = _pr(got, self.want)
        self.extra["rows_out"] = float(len(got))
        # recall is a known defect (watermark drops, see BENCHMARK.json);
        # it is reported, not gated
        return {"precision": p, "recall": r, "ok": p >= GATE}

    def traced_op(self, tr, op: str) -> None:
        """The drain is one public call; the per-batch prepare..triples
        stages run inside it and are reported inside ``stream``."""
        from kgcompass_spark.streaming.ingest import run_triples_stream

        with tr.span("op", op):
            with tr.span("stream", op) as s:
                q = run_triples_stream(
                    self.spark, self.drops, self.entities, self._out(op),
                    max_files=SIZES["max_files"],
                )
        s.rows = self.spark.read.parquet(self._out(op)).count()
        self._progress(q)
        shutil.rmtree(self._out(op), ignore_errors=True)


class Evidence:
    """Seeded batches of issue roots sent to ``evidence_export_all`` with
    the rerank inputs (entities and the roots' issue texts), written to
    parquet and scored against the planted (root, target) pairs."""

    def __init__(self, wl: Workload, max_hops: int):
        self.wl, self.max_hops = wl, max_hops
        self.planted = wl.corpus.planted_targets()
        self.roots = sorted(self.planted)
        self.out = wl.path("export_out")

    def _request(self, i):
        spark = self.wl.spark
        rs = random.Random(f"roots:{self.wl.seed}:{i}").sample(
            self.roots, SIZES["roots_per_request"])
        roots = spark.createDataFrame([(r,) for r in rs], "root string")
        texts = spark.createDataFrame(
            [(r[len("issue:"):], self.wl.corpus.text[r[len("issue:"):]]) for r in rs],
            "url string, text string",
        )
        return rs, roots, texts

    def run(self, kg, i) -> None:
        from kgcompass_spark.plans.evidence import evidence_export_all

        self.batch, self.roots_df, texts = self._request(i)
        evidence_export_all(
            kg, self.roots_df, max_hops=self.max_hops,
            entities=self.wl.entities, issue_texts=texts,
        ).write.mode("overwrite").parquet(self.out)

    def score(self) -> dict:
        """recall: planted pairs found in their root's export; precision:
        R-precision, the planted share of each root's top |planted| rows."""
        rows = self.wl.spark.read.parquet(self.out).select("root", "node", "rank").collect()
        by_root: dict[str, list] = {}
        for r in rows:
            by_root.setdefault(r.root, []).append((r.rank, r.node))
        planted = found = top = 0
        for root in self.batch:
            want = self.planted[root]
            ranked = [n for _, n in sorted(by_root.get(root, []))]
            planted += len(want)
            found += len(want & set(ranked))
            top += len(want & set(ranked[: len(want)]))
        return {"rows": len(rows), "recall": found / planted, "precision": top / planted}

    def traced(self, tr, kg, op: str) -> None:
        with tr.span("export", op) as s:
            self.run(kg, op)
        s.rows = self.wl.spark.read.parquet(self.out).count()
        self.exported = s.rows

    def graph_alone(self, tr, kg) -> None:
        """``seeded_support`` runs inside ``evidence_export_all``. After
        the traced op it is called on its own with the inputs the export
        gives it, so ``graph`` is timed and ``export.kept_ratio`` has its
        base."""
        from kgcompass_spark.operators.graph import seeded_support
        from kgcompass_spark.operators.triples import with_reverse_edges

        # the edge set evidence_export_all builds (plans/evidence.py)
        edges = with_reverse_edges(kg).filter(
            ~F.col("subj").startswith("directory:") & ~F.col("obj").startswith("directory:"))
        with tr.span("graph", "aux") as g:
            cand = seeded_support(
                edges, self.roots_df, max_hops=self.max_hops, path_k=1,
                hop1_expand_excludes=("method",),
            ).filter(F.col("node") != F.col("root")).persist()
            g.rows = cand.count()
        cand.unpersist()
        self.wl.extra["export.kept_ratio"] = self.exported / max(g.rows, 1)


class _KGWorkload(Workload):
    """Set-up writes a KG to the bucketed graph tables with
    ``materialize_graph_tables``; ops read it back from there. The KG is
    the generator's golden core KG (structural + link triples), which is
    what ``build`` writes for its core predicates (gated at P/R >= 0.95)."""

    def generate(self, d: str, extra: list[dict] = ()) -> None:
        self.corpus = Corpus(self.seed)
        self.corpus.write_artifacts(d)
        self.corpus.write_golden_kg(os.path.join(d, "kg_src"), extra)

    def load(self, d: str) -> None:
        from kgcompass_spark.sources.bucketed import materialize_graph_tables

        self.entities = self._entities(d)
        materialize_graph_tables(
            self.spark, self.spark.read.parquet(os.path.join(d, "kg_src")),
            self.path("kg"), prefix="kg",
        )
        self.kg = self.spark.table("kg_edges")


class Export(_KGWorkload):
    """Batched 4-hop evidence export over the golden core KG: ``graph``
    (the ``seeded_support`` rounds), ``export`` and the read side of
    ``materialize`` do all the work."""

    name = "export"

    def load(self, d: str) -> None:
        super().load(d)
        self.evidence = Evidence(self, max_hops=4)

    def op(self, i) -> None:
        self.evidence.run(self.kg, i)

    def check(self, i) -> dict:
        res = self.evidence.score()
        self.extra["rows_out"] = float(res["rows"])
        return {"precision": res["precision"], "recall": res["recall"],
                "ok": res["recall"] >= EXPORT_RECALL_GATE}

    def traced_op(self, tr, op: str) -> None:
        with tr.span("op", op):
            self.evidence.traced(tr, self.kg, op)
        self.evidence.graph_alone(tr, self.kg)


# 4-hop requests lose a few planted targets to the per-type cap
EXPORT_RECALL_GATE = 0.85


class Canonicalize(_KGWorkload):
    """``fuzzy_canonical_mapping`` over a seeded name table with known
    spelling-variant groups, then ``canonicalize_triples`` over the set-up
    KG, which also holds an issue link to every name."""

    name = "canonicalize"

    def generate(self, d: str) -> None:
        from kgcompass_spark.sources.datagen import _page_url

        self.names, self.groups = name_table(self.seed)
        n = SIZES["pages"]
        # every spelling of a group is linked from the same issue, so the
        # rewrite's MERGE collapses the links the mapping unifies
        self.mention_triples = [
            {"subj": f"issue:{_page_url(g % n)}", "predicate": "points to method",
             "obj": row["entity_id"], "weight": 0.5, "src_url": _page_url(g % n)}
            for row, g in zip(self.names, self.groups)
        ]
        super().generate(d, self.mention_triples)
        write_names(self.names, os.path.join(d, "names"))

    def load(self, d: str) -> None:
        super().load(d)
        self.names_df = self.spark.read.parquet(os.path.join(d, "names"))

    def op(self, i) -> None:
        from kgcompass_spark.operators.canonicalize import (
            canonicalize_triples, fuzzy_canonical_mapping,
        )

        fuzzy_canonical_mapping(self.names_df).write.mode("overwrite").parquet(self.path("mapping"))
        mapping = self.spark.read.parquet(self.path("mapping"))
        canonicalize_triples(self.kg, mapping).write.mode("overwrite").parquet(self.path("canon_kg"))

    def check(self, i) -> dict:
        canon = {r.entity_id: r.canonical_id for r in self.spark.read.parquet(self.path("mapping")).collect()}
        n_out = self.spark.read.parquet(self.path("canon_kg")).count()
        # same-id pairs against same-group pairs
        ids = [canon.get(row["entity_id"]) for row in self.names]

        def pairs(keys) -> int:
            return sum(k * (k - 1) // 2 for k in Counter(keys).values())

        tp = pairs(zip(ids, self.groups))
        p, r = tp / max(pairs(ids), 1), tp / max(pairs(self.groups), 1)
        # the rewrite merges each name's link into its canonical id
        rewritten = {(t["subj"], t["predicate"], canon.get(t["obj"], t["obj"]))
                     for t in self.mention_triples}
        want_out = len(self.corpus.golden) + len(rewritten)
        self.extra["rows_out"] = float(n_out)
        ok = len(canon) == len(self.names) and n_out == want_out
        return {"precision": p, "recall": r,
                "ok": ok and p >= CANON_PRECISION_GATE and r >= CANON_RECALL_GATE}

    def traced_op(self, tr, op: str) -> None:
        """``connected_components`` runs inside ``fuzzy_canonical_mapping``
        (reported there). After the op, the harness rebuilds the mapping's
        LSH candidates and accepted pairs from the public dedup functions,
        for ``canonicalize.accept_ratio``, and times CC on its own over the
        accepted pairs as ``graph``."""
        from kgcompass_spark.operators.canonicalize import (
            canonicalize_triples, fuzzy_canonical_mapping,
        )
        from kgcompass_spark.operators.dedup import (
            char_shingles, minhash_lsh_candidates, minhash_signatures,
        )
        from kgcompass_spark.operators.graph import connected_components

        with tr.span("op", op):
            with tr.span("canonicalize", op) as s:
                fuzzy_canonical_mapping(self.names_df).write.mode("overwrite").parquet(self.path("mapping"))
            mapping = self.spark.read.parquet(self.path("mapping"))
            with tr.span("canonicalize", op) as s2:
                canonicalize_triples(self.kg, mapping).write.mode("overwrite").parquet(self.path("canon_kg"))
        s.rows = mapping.count()
        s2.rows = self.spark.read.parquet(self.path("canon_kg")).count()
        # fuzzy_canonical_mapping's defaults: 3-grams, 16 hashes, 4 bands, 0.6
        with tr.span("aux:lsh", "aux"):
            base = self.names_df.select(
                F.col("entity_id").alias("doc_id"),
                F.trim(F.regexp_replace(F.lower("name"), r"[^a-z0-9]+", " ")).alias("_nm"))
            grams = base.select("doc_id", F.array_distinct(char_shingles(F.col("_nm"), 3)).alias("g"))
            sigs = minhash_signatures(base, id_col="doc_id", text_col="_nm", num_hashes=16,
                                      shingle_col=char_shingles(F.col("_nm"), 3))
            cand = minhash_lsh_candidates(sigs, bands=4, num_hashes=16).persist()
            n_cand = cand.count()
            acc = (
                cand.join(grams.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("g", "g1"), "doc_a")
                .join(grams.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("g", "g2"), "doc_b")
                .filter(F.size(F.array_intersect("g1", "g2")) / F.size(F.array_union("g1", "g2")) >= 0.6)
                .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
                .persist()
            )
            n_acc = acc.count()
        with tr.span("graph", "aux") as g:
            cc = connected_components(acc).persist()
            g.rows = cc.count()
        for df in (cand, acc, cc):
            df.unpersist()
        self.extra["canonicalize.accept_ratio"] = n_acc / max(n_cand, 1)


# banding recall of 16 hashes in 4 bands on one-edit spellings, closed by CC
CANON_PRECISION_GATE = 0.95
CANON_RECALL_GATE = 0.60

WORKLOADS = {w.name: w for w in (Build, Stream, Export, Canonicalize)}
