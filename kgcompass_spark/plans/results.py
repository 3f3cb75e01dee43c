"""Per-instance result-document export — the reference's consumable output.

One document per root issue, shaped like the reference's ``{instance_id}.json``
(fl.py:465-468: ``related_entities`` + ``artifact_stats``; fl.py:2719-2733:
``kg_params`` + ``run_meta``; knowledge_graph.py:1179-1262: the per-entity
dict fields, the per-type keep-one dedup, and the root issue inserted at the
head of ``issues`` with similarity 2.0 / distance 0).

Spark restatement: the reference assembles one Python dict per process and
json.dumps it to a file. Here the documents are a DataFrame — one nested
struct row per root — built with conditional collect_list aggregates in ONE
pass over the batched ranking output, and written as a partitioned JSON-lines
dataset (``write_result_documents``). A file-per-instance sink is a small-N
pattern; at 10^12 pages the Spark-native equivalent is JSONL keyed by
``instance_id``, each line byte-compatible with the reference document.

Divergence, documented: the reference's keep-one dedup is a Python dict
comprehension over a similarity-DESC list, so the surviving duplicate is the
LAST (lowest-scoring) occurrence — an artifact of dict insertion order. We
keep the FIRST (best-ranked) occurrence, which is the T3 semantics used
everywhere else in this repo. ``source_code`` is null: the entity inventory
carries signatures + docstrings, not bodies (SURVEY §2.4 adaptation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import DECAY_FACTOR, VECTOR_SIMILARITY_WEIGHT


def result_documents(
    ranked: DataFrame,
    entities: DataFrame,
    issue_meta: DataFrame,
    artifact_stats: DataFrame | None = None,
    repo_name: str = "",
    benchmark_name: str = "",
    saved_at: str = "",
) -> DataFrame:
    """Assemble one reference-shaped result document per root.

    ``ranked``: (root, node, entity_type, similarity, distance, hops,
    type_rank) — the ``ranked_related_all`` output. ``entities``: the
    inventory (entity_id, name, signature, file_path, start_line, end_line,
    doc_string). ``issue_meta``: (url, title, content) covering issue nodes
    AND roots. ``artifact_stats``: optional (root, skipped_due_to_time,
    valid_related_items) from the A1 time-validity counters; missing roots
    default to 0. ``saved_at`` is caller-supplied so output stays
    deterministic (the reference stamps datetime.now; pass the run's
    timestamp once, driver-side).

    Returns (instance_id, related_entities, artifact_stats, kg_params,
    run_meta). One hash-agg shuffle on root; entity/issue metadata joins are
    broadcast.
    """
    meta = entities.select(
        F.col("entity_id").alias("node"),
        F.col("name").alias("_name"),
        F.col("signature").alias("_sig"),
        F.col("file_path").alias("_fp"),
        F.col("start_line").alias("_sl"),
        F.col("end_line").alias("_el"),
        F.col("doc_string").alias("_doc"),
    )
    imeta = issue_meta.select(
        F.concat(F.lit("issue:"), F.col("url")).alias("node"),
        F.col("url").alias("_iid"),
        F.col("title").alias("_ititle"),
        F.col("content").alias("_icontent"),
    )
    df = (
        ranked.join(F.broadcast(meta), "node", "left")
        .join(F.broadcast(imeta), "node", "left")
    )

    is_code = F.col("entity_type").isin("method", "class")
    is_issue = F.col("entity_type") == "issue"
    null_s = F.lit(None).cast("string")
    null_i = F.lit(None).cast("int")
    ent = F.struct(
        F.col("entity_type").alias("type"),
        F.when(is_issue, F.coalesce(F.col("_ititle"), null_s))
        .otherwise(F.col("_name")).alias("name"),
        F.when(F.col("entity_type") == "method", F.col("_sig"))
        .otherwise(null_s).alias("signature"),
        F.when(is_code, F.col("_fp")).otherwise(null_s).alias("file_path"),
        F.when(is_code, F.col("_doc")).otherwise(null_s).alias("documentation"),
        null_s.alias("source_code"),
        F.when(is_code, F.col("_sl")).otherwise(null_i).alias("start_line"),
        F.when(is_code, F.col("_el")).otherwise(null_i).alias("end_line"),
        F.when(is_issue, F.col("_iid")).otherwise(null_s).alias("issue_id"),
        F.when(is_issue, F.col("_ititle")).otherwise(null_s).alias("title"),
        F.when(is_issue, F.col("_icontent")).otherwise(null_s).alias("content"),
        F.col("similarity").cast("double").alias("similarity"),
        F.col("distance").cast("double").alias("distance"),
        F.col("node").alias("graph_node_id"),
    )

    # keep-one dedup per reference keys: methods (name, signature, file_path),
    # classes (name, file_path), issues (issue_id) — best-ranked survives
    dedup_key = F.when(
        F.col("entity_type") == "method",
        F.concat_ws("\x00", F.col("_name"), F.col("_sig"), F.col("_fp")),
    ).when(
        F.col("entity_type") == "class",
        F.concat_ws("\x00", F.col("_name"), F.col("_fp")),
    ).otherwise(F.coalesce(F.col("_iid"), F.col("node")))
    wdedup = Window.partitionBy("root", "entity_type", dedup_key).orderBy(
        F.asc("type_rank")
    )
    df = (
        df.withColumn("_dd", F.row_number().over(wdedup))
        .filter(F.col("_dd") == 1)
        .drop("_dd")
    )

    def typed_array(t: str):
        collected = F.collect_list(
            F.when(
                F.col("entity_type") == t,
                F.struct(F.col("type_rank").alias("_r"), ent.alias("e")),
            )
        )
        return F.transform(F.sort_array(collected), lambda x: x["e"])

    grouped = df.groupBy("root").agg(
        typed_array("method").alias("_methods"),
        typed_array("class").alias("_classes"),
        typed_array("issue").alias("_issues"),
    )

    # root issue at the head of `issues`: similarity 2.0, distance 0
    root_rows = imeta.select(
        F.col("node").alias("root"),
        F.struct(
            F.lit("issue").alias("type"),
            F.col("_ititle").alias("name"),
            null_s.alias("signature"),
            null_s.alias("file_path"),
            null_s.alias("documentation"),
            null_s.alias("source_code"),
            null_i.alias("start_line"),
            null_i.alias("end_line"),
            F.col("_iid").alias("issue_id"),
            F.col("_ititle").alias("title"),
            F.col("_icontent").alias("content"),
            F.lit(2.0).alias("similarity"),
            F.lit(0.0).alias("distance"),
            F.col("node").alias("graph_node_id"),
        ).alias("_root_ent"),
        F.col("_iid").alias("instance_id"),
    )
    grouped = grouped.join(F.broadcast(root_rows), "root", "left")

    if artifact_stats is not None:
        grouped = grouped.join(F.broadcast(artifact_stats), "root", "left")
        stats = F.struct(
            F.coalesce(F.col("skipped_due_to_time"), F.lit(0))
            .cast("long").alias("skipped_due_to_time"),
            F.coalesce(F.col("valid_related_items"), F.lit(0))
            .cast("long").alias("valid_related_items"),
        )
    else:
        stats = F.struct(
            F.lit(0).cast("long").alias("skipped_due_to_time"),
            F.lit(0).cast("long").alias("valid_related_items"),
        )

    return grouped.select(
        F.coalesce(
            F.col("instance_id"),
            F.regexp_replace(F.col("root"), "^issue:", ""),
        ).alias("instance_id"),
        F.struct(
            F.col("_methods").alias("methods"),
            F.col("_classes").alias("classes"),
            F.when(
                F.col("_root_ent").isNotNull(),
                F.concat(F.array(F.col("_root_ent")), F.col("_issues")),
            ).otherwise(F.col("_issues")).alias("issues"),
        ).alias("related_entities"),
        stats.alias("artifact_stats"),
        F.struct(
            F.lit(float(DECAY_FACTOR)).alias("decay_factor"),
            F.lit(float(VECTOR_SIMILARITY_WEIGHT)).alias("vector_similarity_weight"),
        ).alias("kg_params"),
        F.struct(
            F.regexp_replace(F.col("root"), "^issue:", "").alias("instance_id"),
            F.lit(repo_name).alias("repo_name"),
            F.lit(benchmark_name).alias("benchmark_name"),
            F.lit(saved_at).alias("saved_at"),
        ).alias("run_meta"),
    )


def write_result_documents(
    docs: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Write the documents as a JSON-lines dataset — each line is one
    reference-shaped result document. Repartition by instance_id hash so a
    downstream consumer can locate an instance without listing every file
    (the scale analog of the reference's one-file-per-instance layout).
    ``ignoreNullFields=false``: the reference's json.dump writes explicit
    nulls (signature/source_code/issue_id…), and consumers key on their
    presence — Spark's default of dropping null fields would change the
    document shape per entity type."""
    docs.repartition(F.col("instance_id")).write.mode(mode).option(
        "ignoreNullFields", "false"
    ).json(path)
