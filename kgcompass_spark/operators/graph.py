"""Graph operators (SURVEY.md §2.10) — iterative DataFrame joins.

  G2/G3 bounded_sssp      — ≤max_hops rounds of frontier ⋈ edges with
                            min-cost agg and path-struct accumulation
                            (knowledge_graph.py:1054-1138 semantics)
  G6    pagerank          — root-seeded power iteration (α=0.85)
                            (knowledge_graph.py:1288-1345)
  G8    connected_components — delta-frontier min-label propagation with
                            stale pointer jumping, the canonicalization CC
                            required at web scale (north_rule)

Iteration hygiene (SURVEY.md §4.2): every loop runs through ``_fixpoint``,
which materializes the round state to cut lineage — without it the plan
doubles per iteration and the driver OOMs planning, not executing. The
frontier loops materialize every round and stop on an empty delta; the two
power iterations run a fixed round count and materialize every 6th round.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import SIMILARITY_CANDIDATE_CAP

#: connected_components replaces every 4th round's checkpoint with a parquet
#: round trip that resets Catalyst's size estimate (see there). Graphs that
#: converge in fewer rounds never pay it.
_SPILL_EVERY = 4


def _checkpoint(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def _fixpoint(
    step,
    state: DataFrame,
    frontier: DataFrame | None,
    rounds: int,
    *,
    every: int = 1,
    count: bool = False,
    lazy_delta: bool = False,
    probe_from: int = 0,
    strict: bool = False,
    spill: bool = False,
    spill_dir: str | None = None,
) -> DataFrame:
    """The one loop behind every iterative operator in this module.

    ``step(state, frontier, n, r)`` builds round ``r`` and returns
    ``(state, delta)``: the next state as a lazy plan, and either None (a
    fixed-round power iteration) or a function from the materialized state to
    the rows that changed this round, the next ``frontier``. ``n`` is the
    last probe's result: the frontier's row count with ``count``, else True;
    None before the first probe.

    Frontier loops materialize the state every round, checkpoint the delta
    (unless ``lazy_delta``: it is a cheap filter of the state), probe it from
    round ``probe_from`` on and stop when it is empty. Their final round skips
    the delta nothing would read and returns the state unmaterialized. With
    ``strict`` the final round is probed instead, and rows still changing
    raise RuntimeError rather than passing partial results as a fixpoint.
    Power iterations materialize every ``every``-th round.

    ``spill``: every ``_SPILL_EVERY``-th round's state is a parquet round
    trip through ``spill_dir``_0/_1 (default: two temp slots, deleted on
    exit).
    """
    spark = state.sparkSession
    if spill and spill_dir is None and not spark.sparkContext.master.startswith("local"):
        # a driver-local tempdir is invisible to executors on a real cluster:
        # the parquet read-back would silently return partial data. Fall back
        # to localCheckpoint — slower on deep graphs, never wrong.
        spill = False
    base = spill_dir or os.path.join(tempfile.gettempdir(), f"cc_spill_{uuid.uuid4().hex}")
    slots = set()

    def materialize(df: DataFrame, r: int) -> DataFrame:
        if not (spill and (r + 1) % _SPILL_EVERY == 0):
            return _checkpoint(df)
        # alternate two slots so the overwrite never clobbers the file a
        # live plan still reads
        slot = f"{base}_{(r // _SPILL_EVERY) % 2}"
        df.write.mode("overwrite").parquet(slot)
        slots.add(slot)
        return spark.read.parquet(slot)

    try:
        n = None
        for r in range(rounds):
            state, delta = step(state, frontier, n, r)
            last = r == rounds - 1
            if delta is None:
                if (r + 1) % every == 0:
                    state = materialize(state, r)
                continue
            if last and not strict:
                break
            state = materialize(state, r)
            frontier = delta(state) if lazy_delta else _checkpoint(delta(state))
            if r >= probe_from or last:
                n = frontier.count() if count else not frontier.isEmpty()
                if not n:
                    break
        else:
            if strict:
                raise RuntimeError(
                    f"no fixpoint after {rounds} rounds: rows still changing"
                )
        if slots and spill_dir is None:
            # the state may still read a slot: cut that before deleting it
            state = _checkpoint(state)
        return state
    finally:
        if spill_dir is None:
            for slot in slots:
                shutil.rmtree(slot, ignore_errors=True)


def _improved(new: DataFrame, old: DataFrame, keys: list[str], col: str) -> DataFrame:
    """Rows of ``new`` whose ``col`` is absent from or strictly below ``old``'s
    — the next frontier of a min-fixpoint. A semi-join against the round's
    candidates would re-propagate rows merely re-reached at a worse value."""
    return (
        new.join(old.select(*keys, F.col(col).alias("_old")), keys, "left")
        .filter(F.col("_old").isNull() | (F.col(col) < F.col("_old")))
        .drop("_old")
    )


def _cap(frontier: DataFrame, n, cap: int | None, by: list[str], order: list) -> DataFrame:
    """At most ``cap`` rows per ``by`` group, first in ``order``. The window
    sorts the whole frontier, so it runs only when the frontier's row count
    ``n`` exceeds the cap; on most rounds it is far below. ``n`` is None for
    the seed frontier, which has one row per group."""
    if cap is None or n is None or n <= cap:
        return frontier
    w = Window.partitionBy(*by).orderBy(*order)
    return frontier.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= cap).drop("_rn")


def bounded_sssp(
    edges: DataFrame,
    root: str,
    max_hops: int = 4,
    max_cost: float | None = None,
    frontier_cap: int = SIMILARITY_CANDIDATE_CAP,
) -> DataFrame:
    """Single-source shortest weighted paths from ``root``, ≤ ``max_hops``.

    ``edges``: (subj, predicate, obj, weight). Returns
    (node, cost, hops, path) where path is the predicate sequence
    (G3's path_details analog, array<struct<predicate,node>>).

    Per round: frontier ⋈ edges (shuffle on subj) → groupBy(node) min cost.
    Path width is bounded by ``frontier_cap`` per round, mirroring the
    reference's 10000-candidate cap (knowledge_graph.py:1177) so the
    collect_list structs can't explode at scale.
    """
    # materialize once: every round joins it, and an unmaterialized edge list
    # re-runs its full upstream lineage (e.g. the whole KG pipeline) per round
    e = _checkpoint(edges.select(
        F.col("subj").alias("src"),
        F.col("obj").alias("dst"),
        F.col("predicate"),
        F.col("weight").cast("double"),
    ))
    start = e.sparkSession.createDataFrame(
        [(root, 0.0, 0)], "node string, cost double, hops int"
    ).withColumn(
        "path",
        F.array().cast("array<struct<predicate:string,node:string>>"),
    )
    w = Window.partitionBy("node").orderBy(
        F.asc("cost"), F.asc("hops"), F.asc(F.col("path").cast("string"))
    )

    def step(best, frontier, n, r):
        nxt = frontier.join(e, frontier["node"] == e["src"]).select(
            F.col("dst").alias("node"),
            (F.col("cost") + F.col("weight")).alias("cost"),
            (F.col("hops") + 1).alias("hops"),
            F.concat(
                "path",
                F.array(
                    F.struct(
                        F.col("predicate").alias("predicate"),
                        F.col("dst").alias("node"),
                    )
                ),
            ).alias("path"),
        )
        if max_cost is not None:
            nxt = nxt.filter(F.col("cost") <= max_cost)
        reached = nxt.select("node").distinct()
        new = (
            best.unionByName(nxt)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # new frontier = nodes reached this round, width-capped deterministically
        return new, lambda b: (
            b.join(reached, "node").orderBy(F.asc("cost"), F.asc("node")).limit(frontier_cap)
        )

    return _fixpoint(step, start, start, max_hops)


def bounded_sssp_multi(
    edges: DataFrame,
    roots: DataFrame,
    max_hops: int = 4,
    max_cost: float | None = None,
    frontier_cap: int = SIMILARITY_CANDIDATE_CAP,
) -> DataFrame:
    """Multi-root bounded SSSP: shortest weighted paths from EVERY root in
    one job — the batch generalization the per-instance reference never
    needed (it ranks one issue per process; a 10^12-page engine ranks every
    issue in one pass). State is keyed by (root, node); the per-round
    frontier cap applies PER ROOT (row_number over root), mirroring the
    single-root cap.

    ``roots``: one column ``root``. Returns (root, node, cost, hops).
    Per round one shuffle: frontier ⋈ edges on the node, then a
    (root, node) min window. Path structs are omitted (they multiply state
    by path width × roots; use bounded_sssp for per-root path details).
    """
    e = _checkpoint(edges.select(
        F.col("subj").alias("src"),
        F.col("obj").alias("dst"),
        F.col("weight").cast("double"),
    ))
    start = _checkpoint(roots.select(
        F.col("root"),
        F.col("root").alias("node"),
        F.lit(0.0).alias("cost"),
        F.lit(0).alias("hops"),
    ))

    def step(best, frontier, n, r):
        fr = _cap(frontier, n, frontier_cap, ["root"], [F.asc("cost"), F.asc("node")])
        nxt = fr.join(e, fr["node"] == e["src"]).select(
            "root",
            F.col("dst").alias("node"),
            (F.col("cost") + F.col("weight")).alias("cost"),
            (F.col("hops") + 1).alias("hops"),
        )
        if max_cost is not None:
            nxt = nxt.filter(F.col("cost") <= max_cost)
        # min(struct) hash-agg, NOT a row_number window: the partial
        # aggregate combines map-side, so the shuffle carries one candidate
        # per (partition, root, node) instead of sorting every generated
        # path row (state here is |roots| × |reachable| — millions)
        new = (
            best.unionByName(nxt)
            .groupBy("root", "node")
            .agg(F.min(F.struct("cost", "hops")).alias("_b"))
            .select("root", "node", F.col("_b.cost").alias("cost"), F.col("_b.hops").alias("hops"))
        )
        return new, lambda nb: _improved(nb, best, ["root", "node"], "cost")

    return _fixpoint(step, start, start, max_hops, count=True)


# low separator byte: joining node ids with it makes string comparison of
# the keys equal element-wise comparison of the node sequences (the Cypher
# orders candidate paths by the node list, export_kg_evidence_graph.py:244)
_PATH_SEP = "\x01"


def seeded_support(
    edges: DataFrame,
    roots: DataFrame,
    max_hops: int = 4,
    path_k: int | None = None,
    frontier_cap: int | None = SIMILARITY_CANDIDATE_CAP,
    hop1_expand_excludes: tuple[str, ...] = (),
    edges_collapsed: bool = False,
) -> DataFrame:
    """Evidence support over ALL shortest paths (export Cypher semantics,
    export_kg_evidence_graph.py:230-241): per (root, target) — the min HOP
    distance, and support = number of DISTINCT FIRST-HOP SEEDS that reach
    the target at that distance. A single-best-path SSSP cannot compute
    this (it keeps one path, so support degenerates to 1); here BFS state
    is keyed by (root, seed, node) with min-hops semantics, then the seeds
    are counted at the per-(root, node) min distance.

    ``path_k``: when set, each (root, seed, node) row additionally carries
    up to ``path_k`` lexicographically-smallest min-hop paths (by node
    sequence — the Cypher's best-path ordering), and the output gains a
    ``paths`` column: the ``path_k`` smallest min-hop paths ACROSS seeds,
    array<array<struct<predicate,node>>>. Because every prefix of a
    shortest path is itself a shortest path to its intermediate (BFS
    property), the global lexicographic-min path is exact for any
    ``path_k`` >= 1; entries beyond the per-seed cap are best-effort.
    Parallel edges between a node pair are collapsed to the min predicate.

    ``frontier_cap``: per-(root, seed) per-round width cap (row_number,
    deterministic by node id) — the same bound ``bounded_sssp`` applies,
    mirroring the reference's 10,000-candidate cap
    (knowledge_graph.py:1177). Without it, state is
    |roots| × |seeds| × |reachable| with no brake on a dense KG.

    ``hop1_expand_excludes``: node kinds that may be 1-hop TARGETS but
    never expand to hop 2 — the export Cypher's first-intermediate
    constraint (position ``a`` in export_kg_evidence_graph.py:205-226
    admits File/Class/Issue/Commit/Experience/Documentation but NOT
    Method). The per-seed keying makes this position-exact: a method
    reached at hop >= 2 under another seed still expands (positions ``b``
    and ``c`` admit Method).

    Returns (root, node, distance, support[, paths]).
    """
    carry = path_k is not None
    # ``edges_collapsed=True``: the caller asserts (subj, obj) pairs are
    # already unique (no parallel edges), so the min-predicate collapse /
    # distinct is an IDENTITY — but the exchange it rides on is not free to
    # drop: round 6 measured that skipping it outright is ~1.5 s SLOWER at
    # sf0.1 (6.78 vs 5.18 best) because the collapse shuffle leaves the
    # checkpoint AQE-coalesced and hash-compacted for the per-round BFS
    # joins. Round 7 splits the two effects: the collapsed branch keeps the
    # compaction shuffle but as a keyed repartition — hash exchange with
    # AQE coalescing, NO aggregate on top. That matters for the carry case,
    # where min(predicate) over a string is a SortAggregate (immutable
    # buffer type): both sides of a 12M-row exchange pay a sort to compute
    # an identity. Measured at sf1 (evidence KG, 12M-row closure): the
    # collapse alone costs ~3 s of the ~6 s edge-materialization phase.
    e = edges.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst"), *(["predicate"] if carry else [])
    )
    if edges_collapsed:
        e = e.repartition("src", "dst")
    elif carry:
        e = e.groupBy("src", "dst").agg(F.min("predicate").alias("predicate"))
    else:
        e = e.distinct()
    e = _checkpoint(e)
    hop1 = roots.join(e, roots["root"] == e["src"])
    if carry:
        # (root, dst) is unique after the (src, dst) predicate collapse
        hop1 = hop1.select(
            "root",
            F.col("dst").alias("seed"),
            F.col("dst").alias("node"),
            F.lit(1).alias("hops"),
            F.array(
                F.struct(
                    F.col("dst").alias("k"),
                    F.array(
                        F.struct(
                            F.col("predicate").alias("predicate"),
                            F.col("dst").alias("node"),
                        )
                    ).alias("p"),
                )
            ).alias("paths"),
        )
    else:
        hop1 = (
            hop1.select("root", F.col("dst").alias("seed"))
            .distinct()
            .select(
                "root", "seed", F.col("seed").alias("node"), F.lit(1).alias("hops")
            )
        )
    best = _checkpoint(hop1)
    frontier = best
    if hop1_expand_excludes:
        frontier = frontier.filter(
            ~F.split(F.col("node"), ":", 2)[0].isin(*hop1_expand_excludes)
        )

    # path_k > 1: a key's rows gathered in ``_l``, reduced to the path_k
    # smallest distinct paths among its min-hop rows
    min_hops = F.array_min(F.transform(F.col("_l"), lambda x: x["hops"]))
    at_min = F.filter(F.col("_l"), lambda x: x["hops"] == F.col("_minh"))

    def _smallest_paths(at_min):
        paths = F.array_distinct(F.flatten(F.transform(at_min, lambda x: x["paths"])))
        return F.slice(F.array_sort(paths), 1, path_k)

    def step(best, frontier, n, r):
        h = r + 2
        fr = _cap(frontier, n, frontier_cap, ["root", "seed"], [F.asc("node")])
        nxt_cols = [
            "root",
            "seed",
            F.col("dst").alias("node"),
            F.lit(h).alias("hops"),
        ]
        if carry:
            nxt_cols.append(
                F.transform(
                    F.col("paths"),
                    lambda pr: F.struct(
                        F.concat(pr["k"], F.lit(_PATH_SEP), F.col("dst")).alias("k"),
                        F.concat(
                            pr["p"],
                            F.array(
                                F.struct(
                                    F.col("predicate").alias("predicate"),
                                    F.col("dst").alias("node"),
                                )
                            ),
                        ).alias("p"),
                    ),
                ).alias("paths")
            )
        nxt = fr.join(e, fr["node"] == e["src"]).select(*nxt_cols)
        merged = best.unionByName(nxt)
        if h == max_hops == 2 and (path_k == 1 or not carry):
            # 2-hop fast path (round 7): skip the last-round merge
            # aggregation — a full sort + exchange + sort of the whole BFS
            # state that the final reduction immediately re-aggregates.
            # Safe ONLY here: at h == 2 the frontier has exactly one row
            # per (root, seed) (its own seed node), so the discovery join
            # cannot emit two rows with the same (root, seed, node) — at
            # h >= 3 two distinct hop-(h-1) nodes of one seed can reach
            # the same target and WOULD duplicate the key. The final
            # reduction then sees at most one row per (key, hop level),
            # which keeps its count-at-min-distance == distinct seeds and
            # its min(struct) == best path (duplicates at different hop
            # levels collapse under min/CASE exactly as the merge did).
            new = merged
        elif carry and path_k == 1:
            # path_k=1 fast path (round 7): every row's ``paths`` is a
            # singleton array, and struct comparison is (hops, then the
            # path's (k, p)) — exactly the min-hop-then-lexicographic rule
            # the collect_list + filter + sort + slice chain computes. A
            # plain min() is a declarative aggregate: it partial-aggregates
            # map-side (HashAggregate), where collect_list ships every row
            # through an ObjectHashAggregate with no combine.
            new = (
                merged.groupBy("root", "seed", "node")
                .agg(F.min(F.struct("hops", "paths")).alias("_b"))
                .select(
                    "root", "seed", "node",
                    F.col("_b.hops").alias("hops"),
                    F.col("_b.paths").alias("paths"),
                )
            )
        elif carry:
            # one shuffle: gather this key's (hops, paths) rows, then keep
            # the min-hop ones and the path_k smallest paths — unit-hop BFS
            # discovers ALL min-hop paths in the discovery round, so the
            # per-round merge is the complete min-hop set
            g = merged.groupBy("root", "seed", "node").agg(
                F.collect_list(F.struct("hops", "paths")).alias("_l")
            )
            new = g.withColumn("_minh", min_hops).select(
                "root",
                "seed",
                "node",
                F.col("_minh").alias("hops"),
                _smallest_paths(at_min).alias("paths"),
            )
        else:
            new = merged.groupBy("root", "seed", "node").agg(
                F.min("hops").alias("hops")
            )
        return new, lambda nb: _improved(nb, best, ["root", "seed", "node"], "hops")

    # the final round's state flows un-materialized into the reduction below
    best = _fixpoint(step, best, frontier, max_hops - 1, count=True)
    # --- final per-(root, node) reduction: ONE hash-agg ---------------------
    # (root, seed, node) is unique in ``best`` (hop1 is per-key unique and
    # every merge is a groupBy on the key), so "distinct seeds at the min
    # distance" is simply the ROW COUNT at the min distance — and hops only
    # takes values 1..max_hops, so per-hop conditional sums + a CASE on the
    # min replace the former collect_list gather entirely. Every aggregate
    # here is declarative (min/sum), so the reduction partial-aggregates
    # map-side where the ObjectHashAggregate collect_list shipped every BFS
    # state row through the exchange (guide §2.3). The collect_list shape
    # survives only for path_k > 1 (multi-path diversity export).
    hop_sums = [
        F.sum(F.when(F.col("hops") == h, 1).otherwise(0)).alias(f"_s{h}")
        for h in range(1, max_hops + 1)
    ]

    def _support(minh):
        expr = F.lit(None).cast("long")
        for h in range(max_hops, 0, -1):
            expr = F.when(minh == h, F.col(f"_s{h}")).otherwise(expr)
        return expr.cast("int")

    if not carry:
        g = best.groupBy("root", "node").agg(
            F.min("hops").alias("_minh"), *hop_sums
        )
        return g.select(
            "root",
            "node",
            F.col("_minh").alias("distance"),
            _support(F.col("_minh")).alias("support"),
        )
    if path_k == 1:
        # min over (hops, paths) = min-hop row with the lexicographically
        # smallest singleton path — identical to the sort + slice(1,1)
        g = best.groupBy("root", "node").agg(
            F.min(F.struct("hops", "paths")).alias("_b"), *hop_sums
        )
        return g.select(
            "root",
            "node",
            F.col("_b.hops").alias("distance"),
            _support(F.col("_b.hops")).alias("support"),
            F.transform(F.col("_b.paths"), lambda s: s["p"]).alias("paths"),
        )
    g = best.groupBy("root", "node").agg(
        F.collect_list(F.struct("hops", "seed", "paths")).alias("_l")
    )
    g = g.withColumn("_minh", min_hops)
    support = F.size(
        F.array_distinct(F.transform(at_min, lambda x: x["seed"]))
    )
    paths = F.transform(_smallest_paths(at_min), lambda s: s["p"])
    return g.select(
        "root",
        "node",
        F.col("_minh").alias("distance"),
        support.alias("support"),
        paths.alias("paths"),
    )


#: Broadcast the per-round lookup tables only while the materialized
#: symmetric edge list is at most this many rows. What actually broadcasts
#: is NODE-keyed (frontier / jump LUT, ≤ 2|E| rows of (id, id)), so the
#: worst-case build at the gate is ~2 × 8M × 16 B ≈ 256 MB for bigint ids —
#: inside guide §3.1's "a few hundred MB is usually fine" envelope, and the
#: post-round-1 LUT is far smaller after the non-root filter. Gate placement
#: is measured, not guessed: the round-6 2M gate left the sf1 bench graph
#: (2.7M edges) on the plain-join branch, and a round-7 interleaved A/B at
#: sf1 showed forced broadcast beating plain joins on every pair
#: (7.6/13.3/7.0 s vs 10.3/20.9/7.6 s). Above the gate the identical plan
#: runs with plain joins and AQE picks the strategy; the equivalence test
#: forces the gate to 0 and pins identical output.
_CC_BROADCAST_MAX_EDGES = 8_000_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    broadcast_max_edges: int = _CC_BROADCAST_MAX_EDGES,
    dedup_edges: bool = True,
    spill_dir: str | None = None,
) -> DataFrame:
    """G8: connected components — min-label propagation with pointer
    jumping over a DELTA frontier (the canonicalization CC of the
    north_rule, GraphFrames-style iterative joins).

    Each round is ONE aggregation: neighbor contributions (edge list ⋈
    changed rows) and root hooks union'd with each node's own row,
    ``groupBy(node).agg(min)``, then 4 pointer jumps. Every label is the id
    of a node in the same component, so hooks and jumps keep labels inside
    their component. The jumps look up the PREVIOUS round's materialized
    parent table ("stale" jumps), which is safe because labels only ever
    decrease and the propagation-only fixpoint is already correct (at a
    fixpoint adjacent nodes share a label): hooks and jumps only accelerate it.

    Every 4th round's state goes through a parquet round trip instead of a
    ``localCheckpoint``: Catalyst's size-only stats MULTIPLY child sizes at
    every join and checkpoints carry them forward, so a round that reads its
    prior table k times compounds the estimate into a power tower whose
    BigInt arithmetic alone costs ~100 s per round past ~8 rounds; the
    read-back resets it to the real file size. The spill goes to a temp dir
    only under a local master, where executors share the driver's
    filesystem; on a cluster pass ``spill_dir`` on shared storage, or deep
    graphs fall back to checkpoints and pay the stats tower (slow, still
    correct).

    Node ids may be any orderable type. Raises RuntimeError when rows still
    change after ``max_iter`` rounds. Returns (node, component) with
    component = min node id in the component (canonical entity id per
    SURVEY.md §7.6).
    """
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    ).unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    if dedup_edges:
        # min-aggregation is duplicate-tolerant, so the dedup shuffle is an
        # OPTIMIZATION (smaller per-round contrib volume), not a correctness
        # requirement; callers whose edges are distinct by construction pass
        # dedup_edges=False and the symmetrize step becomes fully narrow.
        sym = sym.distinct()
    sym = _checkpoint(sym)  # materialize: reused every round
    id_type = sym.schema["u"].dataType  # node ids: any orderable type
    # one cheap count on the materialized edges decides the join strategy;
    # it also bounds the node count, since every node appears as ``u``
    n_edges = sym.count()
    small = n_edges <= broadcast_max_edges
    B = F.broadcast if small else (lambda df: df)
    # parent pointers: node → min(neighbor ∪ self); every node starts dirty
    parent = _checkpoint(
        sym.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("p"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("p"), F.col("node")).alias("comp"),
            F.col("u").alias("_old"),
        )
    )

    def step(parent, changed, n, r):
        # propagate newly-lowered labels (delta frontier) + carry the old
        # label, in a single aggregation: contribution rows have old=null,
        # each node's self row has old=comp, min() ignores nulls.
        contrib = sym.join(
            B(changed.select(F.col("node").alias("v"), F.col("comp").alias("vcomp"))),
            "v",
        ).select(
            F.col("u").alias("node"),
            F.col("vcomp").alias("cand"),
            F.lit(None).cast(id_type).alias("old"),
        )
        self_rows = parent.select(
            "node", F.col("comp").alias("cand"), F.col("comp").alias("old")
        )
        # root hooks: a changed row offers its new label to the node named by
        # its old label, so next round's jumps move that label's whole region
        # at once instead of one hop per round (Shiloach–Vishkin hooking)
        hooks = changed.filter(F.col("_old") != F.col("node")).select(
            F.col("_old").alias("node"),
            F.col("comp").alias("cand"),
            F.lit(None).cast(id_type).alias("old"),
        )
        jumped = (
            contrib.unionByName(self_rows).unionByName(hooks)
            .groupBy("node")
            .agg(F.min("cand").alias("comp"), F.min("old").alias("_old"))
        )
        # stale pointer jumps: all levels look up the SAME materialized
        # previous-round parent (comp ← parent⁴(comp)); identical broadcast
        # plans are built once and reused. Self-pointers (node == comp) are
        # left out of the LUT — under the left join + coalesce they resolve
        # to the same value, and dropping them shrinks the build side to the
        # not-yet-settled nodes (AQE then broadcasts it even above the gate).
        lut = B(
            parent.filter(F.col("node") != F.col("comp")).select(
                F.col("node").alias("comp"), F.col("comp").alias("comp2")
            )
        )
        for _j in range(4):
            jumped = jumped.join(lut, "comp", "left").select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("comp2"), F.col("comp"))).alias("comp"),
                "_old",
            )
        return jumped, lambda j: j.filter(F.col("comp") != F.col("_old"))

    # the probe reads a filter of the materialized state, and isEmpty stops
    # at the first changed row; round 0 changes essentially every node, so
    # probing it is a guaranteed-wasted job (measured A/B: 5.06 vs 5.54 s
    # best on the g8 entry)
    out = _fixpoint(
        step, parent, parent, max_iter,
        lazy_delta=True, probe_from=1, strict=True, spill=True, spill_dir=spill_dir,
    ).select(F.col("node"), F.col("comp").alias("component"))
    # the checkpointed result has UNKNOWN stats downstream (ExistingRDD), so
    # consumers joining the component table back against their node tables
    # never get an auto-broadcast even when it is tiny. Hint it explicitly
    # while it is small enough: the in-loop gate already commits to
    # broadcasting node-keyed tables of this size every round, so the hint
    # adds no new memory envelope. Measured (round 7, sf1 g8): the singleton
    # left join against all 1.5M orders drops its shuffle, ~1.5 s.
    if small and n_edges <= 4_000_000:
        out = F.broadcast(out)
    return out


def _power_iteration(e: DataFrame, rank0, teleport, alpha: float, iters: int) -> DataFrame:
    """Power iteration over the materialized edge list ``e`` (src, dst):
    rank₀ = ``rank0``, then per round rank = ``teleport`` + α·Σ
    rank(src)/outdeg(src); the state is checkpointed every 6th round.
    ``rank0`` and ``teleport`` are Columns over ``node``. Returns
    (node, score) normalized by max."""
    nodes = _checkpoint(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    base = nodes.select("node", rank0.alias("rank"), teleport.alias("_tele"))

    def step(ranks, frontier, n, r):
        contribs = (
            ranks.join(e, ranks["node"] == e["src"])
            .join(out_deg, "src")
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        new = base.join(contribs, "node", "left").select(
            "node",
            (F.col("_tele") + alpha * F.coalesce(F.col("inflow"), F.lit(0.0))).alias("rank"),
        )
        return new, None

    ranks = _fixpoint(step, base.select("node", "rank"), None, iters, every=6)
    mx = ranks.agg(F.max("rank")).first()[0] or 1.0
    return ranks.select("node", (F.col("rank") / F.lit(mx)).alias("score"))


def candidate_graph_rank(
    edges: DataFrame,
    root: str,
    alpha: float = 0.85,
    iters: int = 24,
) -> DataFrame:
    """The reference's unsupervised graph-rank blend
    (knowledge_graph.py:1289-1345 ``_compute_unsupervised_graph_rank_scores``):
    power iteration over the CANDIDATE-PATH subgraph (directed consecutive
    pairs of every candidate's path node sequence), rank₀ = 1 at root else
    0, per iteration rank = (1-α) + α·Σ rank(src)/outdeg(src), normalized
    by max (A7). The input is bounded by the candidate cap (≤ cap ×
    max_hops edges), so the per-iteration shuffles are small.

    Returns (node, score) with score in [0, 1].
    """
    e = _checkpoint(edges.select("src", "dst").distinct())
    is_root = F.when(F.col("node") == root, F.lit(1.0)).otherwise(F.lit(0.0))
    return _power_iteration(e, is_root, F.lit(1.0 - alpha), alpha, iters)


def pagerank(
    edges: DataFrame,
    alpha: float = 0.85,
    iters: int = 24,
    personalized_root: str | None = None,
) -> DataFrame:
    """G6: (personalized) PageRank by power iteration, normalized by max
    (knowledge_graph.py:1288-1345: α=0.85, 24 iterations, root-seeded).

    Returns (node, score). Per iteration one shuffle (groupBy dst); ranks
    checkpointed every 6 rounds to cut lineage. The edge list is
    localCheckpoint-ed once up front (mirroring candidate_graph_rank /
    bounded_sssp / connected_components): the loop body joins `e` every
    iteration, and without the checkpoint each of the 24 iterations would
    re-evaluate the full upstream triple pipeline.
    """
    e = _checkpoint(edges.select(F.col("subj").alias("src"), F.col("obj").alias("dst")))
    if personalized_root is None:
        base = F.lit(1.0)  # scores are max-normalized: no 1/|V| needed
    else:
        base = F.when(F.col("node") == personalized_root, F.lit(1.0)).otherwise(F.lit(0.0))
    return _power_iteration(e, base, (1.0 - alpha) * base, alpha, iters)
