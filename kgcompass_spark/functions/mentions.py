"""Mention detection — the "NER" stage (SURVEY.md §2.3, M1–M11).

Each detector emits typed ``(mention_type, mention_text)`` candidates from
document text as an ``array<struct<mtype,string text:string>>`` column, built
entirely from JVM-side ``regexp_extract_all`` — no Python per row.

Reference semantics (studied, not copied):
  M1 file-path mentions        utils.py:71-92
  M2 issue-number mentions     utils.py:63, fl.py:1789
  M3 closing-ref mentions      utils.py:808-821
  M4 inline identifiers        utils.py:584-659 (patterns at 612-628)
  M5 class-name fallback       utils.py:650-655
  M7 traceback frames          utils.py:661-726
  M8 doc-symbol mentions       fl.py:124-131
  M9 ranking/truncation        utils.py:659, config.py:24 (SEARCH_SPACE)
  M10 noise filter             fl.py:294-358 (tables fl.py:66-100)
  M11 anchor terms             export_kg_evidence_graph.py:94-116
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import (
    COMMON_WORD_REFERENCES,
    GENERIC_BASENAME_REFERENCES,
    MENTION_EXCLUDE_PATTERNS,
    NOISY_DUNDER_REFERENCES,
    SEARCH_SPACE,
)

# ---------------------------------------------------------------------------
# Patterns (Java regex). Group 0 extraction everywhere; typing via struct.
# ---------------------------------------------------------------------------

# M1 — python file paths; one alternation combining the reference's 4 patterns
# (utils.py:84-89). Order matters only for dedup; we extract then distinct.
FILE_PATH_PATTERN = (
    r"(?:\.{0,2}/)?(?:[\w\-]+/)*[\w\-]+\.py\b"
)

# M2 — "#123"
ISSUE_NUMBER_PATTERN = r"#(\d+)"

# M3 — closing refs: "fixes #123" / "closed #4" / repo pull/issue URLs
CLOSING_REF_PATTERN = (
    r"(?i)\b(?:close[sd]?|fix(?:e[sd])?|resolve[sd]?)\s+#(\d+)"
)
PULL_URL_PATTERN = r"https?://[\w.\-]+(?:/[\w.\-]+)*/(?:pull|pulls|issues|ticket)/(\d+)"

# M4 — inline identifiers (utils.py:612-628):
DOTTED_PATTERN = r"(?<![\w.])[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)+"
CALL_PATTERN = r"(?<![\w.])([A-Za-z_][A-Za-z0-9_]{2,})\(\)"
SELF_ATTR_PATTERN = r"self\.([A-Za-z_][A-Za-z0-9_]*)\b"
GLOBAL_CONST_PATTERN = r"\b[A-Z][A-Z0-9]*_[A-Z0-9_]+\b"
BACKTICK_PATTERN = r"`([^`\n]{2,120})`"

# M5 — CapWord fallback when nothing else matched
CLASSNAME_PATTERN = r"\b[A-Z][a-zA-Z_]{2,}\b"

# M7 — traceback frames: File "pkg/mod.py", line N, in func
TRACEBACK_PATTERN = (
    r"File\s+\"([^\"]+?\.py)\",?\s*line\s+(\d+),?\s+in\s+([^\s\(]+)"
)

# M8 — Sphinx symbols :func:`x.y` etc (fl.py:124-126)
SPHINX_PATTERN = r":(?:func|meth|class|mod|attr|obj|data|exc):`([^`]+)`"


def _typed(mtype: str, texts: Column) -> Column:
    """array<string> → array<struct<mtype,text>>."""
    return F.transform(
        texts, lambda t: F.struct(F.lit(mtype).alias("mtype"), t.alias("text"))
    )


def _xall(col: Column, pattern: str, group: int = 0) -> Column:
    return F.array_distinct(F.regexp_extract_all(col, F.lit(pattern), group))


def file_path_mentions(text: Column) -> Column:
    """M1: *.py path mentions."""
    return _typed("file", _xall(text, FILE_PATH_PATTERN))


def issue_number_mentions(text: Column) -> Column:
    """M2: bare #N references (number only)."""
    return _typed("issue", _xall(text, ISSUE_NUMBER_PATTERN, 1))


def closing_ref_mentions(text: Column) -> Column:
    """M3: closing-keyword refs ∪ pull/issue URL refs (utils.py:808-821)."""
    closing = _xall(text, CLOSING_REF_PATTERN, 1)
    urls = _xall(text, PULL_URL_PATTERN, 1)
    return _typed("closes", F.array_distinct(F.concat(closing, urls)))


def inline_identifier_mentions(text: Column) -> Column:
    """M4: typed inline identifier mentions (utils.py:584-649).

    variable ← self.attr; call ← name(); global ← ALL_CAPS_CONST;
    import ← dotted path; call ← backtick content that looks identifier-ish.
    """
    self_refs = _typed("variable", _xall(text, SELF_ATTR_PATTERN, 1))
    calls = _typed("call", _xall(text, CALL_PATTERN, 1))
    globals_ = _typed("global", _xall(text, GLOBAL_CONST_PATTERN))
    dotted = _typed("import", _xall(text, DOTTED_PATTERN))
    backticks = _typed(
        "call",
        F.filter(
            _xall(text, BACKTICK_PATTERN, 1),
            lambda t: t.rlike(r"^[A-Za-z_][A-Za-z0-9_\.]*(\(\))?$"),
        ),
    )
    return F.concat(self_refs, calls, globals_, dotted, backticks)


def classname_fallback_mentions(text: Column, other: Column) -> Column:
    """M5: CapWord mentions, only when ``other`` (M4 output) is empty
    (utils.py:650-655)."""
    empty = F.array().cast("array<struct<mtype:string,text:string>>")
    return F.when(F.size(other) > 0, empty).otherwise(
        _typed("call", _xall(text, CLASSNAME_PATTERN))
    )


def traceback_mentions(text: Column) -> Column:
    """M7: stack-trace frames → struct(file,line,func) array."""
    files = F.regexp_extract_all(text, F.lit(TRACEBACK_PATTERN), 1)
    lines = F.regexp_extract_all(text, F.lit(TRACEBACK_PATTERN), 2)
    funcs = F.regexp_extract_all(text, F.lit(TRACEBACK_PATTERN), 3)
    frames = F.zip_with(
        F.zip_with(files, lines, lambda f, l: F.struct(f.alias("file"), l.alias("line"))),
        funcs,
        lambda fl, fn: F.struct(
            fl["file"].alias("file"),
            fl["line"].cast("int").alias("line"),
            fn.alias("func"),
        ),
    )
    return F.array_distinct(frames)


def doc_symbol_mentions(text: Column) -> Column:
    """M8: Sphinx :func:`x` style symbol mentions."""
    return _typed("import", _xall(text, SPHINX_PATTERN, 1))


def noise_filter(mentions: Column) -> Column:
    """M10: strict identifier filter (fl.py:294-358).

    Drops: mention-stopwords, common words, noisy dunders, generic basenames,
    short (<3) names, pure numbers. Case-insensitive table membership, as in
    the reference. Tables are literal arrays — Catalyst constant-folds the
    ``array_contains`` into the codegen'd filter; no UDF, no broadcast var
    needed (the tables are tiny).
    """
    stop = sorted(
        MENTION_EXCLUDE_PATTERNS | COMMON_WORD_REFERENCES
    )
    dunders = sorted(NOISY_DUNDER_REFERENCES)
    generic = sorted(GENERIC_BASENAME_REFERENCES)
    stop_arr = F.array(*[F.lit(s) for s in stop])
    dunder_arr = F.array(*[F.lit(s) for s in dunders])
    generic_arr = F.array(*[F.lit(s) for s in generic])

    def keep(m: Column) -> Column:
        t = m["text"]
        low = F.lower(t)
        base = F.element_at(F.split(low, r"\."), -1)
        return (
            (F.length(t) >= 3)
            & ~low.rlike(r"^\d+$")
            # domain/email drop (fl.py DOMAIN_OR_EMAIL_RE)
            & ~low.rlike(r"\.(?:com|org|net|edu|gov|io|dev|ai|fr)$")
            & ~low.rlike(r"@")
            & ~F.array_contains(stop_arr, low)
            & ~F.array_contains(dunder_arr, low)
            & ~F.array_contains(generic_arr, base)
        )

    return F.filter(mentions, keep)


def rank_and_truncate(mentions: Column, cap: int = SEARCH_SPACE) -> Column:
    """M9: order by ``len + 5*dots + 10*'.py'`` desc, cap at SEARCH_SPACE
    (utils.py:659). Deterministic tie-break on text then type.

    Implemented as sort of (negative score, text, mtype) tuples — array_sort
    on struct fields gives a stable lexicographic order without a comparator
    lambda (cheaper in codegen).
    """
    scored = F.transform(
        mentions,
        lambda m: F.struct(
            (
                -(
                    F.length(m["text"])
                    + F.lit(5) * (F.size(F.split(m["text"], r"\.")) - 1)
                    + F.when(m["text"].endswith(".py"), F.lit(10)).otherwise(F.lit(0))
                )
            ).alias("neg_score"),
            m["text"].alias("text"),
            m["mtype"].alias("mtype"),
        ),
    )
    ordered = F.array_sort(scored)
    return F.transform(
        F.slice(ordered, 1, cap),
        lambda s: F.struct(s["mtype"].alias("mtype"), s["text"].alias("text")),
    )


def anchor_terms(title: Column, body: Column) -> Column:
    """M11: anchor-term extraction (export_kg_evidence_graph.py:94-116):
    backtick code terms + snake/camel tokens from title, lowercased set."""
    src = F.concat_ws("\n", F.coalesce(title, F.lit("")), F.coalesce(body, F.lit("")))
    ticked = F.regexp_extract_all(src, F.lit(BACKTICK_PATTERN), 1)
    idents = F.regexp_extract_all(
        F.coalesce(title, F.lit("")),
        F.lit(r"[A-Za-z_][A-Za-z0-9_]{2,}"),
        0,
    )
    return F.array_distinct(
        F.transform(F.concat(ticked, idents), lambda t: F.lower(t))
    )


def extract_all_mentions(text: Column) -> Column:
    """Full M1–M10 battery → ranked, truncated, noise-filtered mention array.

    Single-expression form. NOTE: the M4 subtree appears three times in
    this tree; inside one projection Catalyst does not CSE across the
    branches, so prefer :func:`mentions_dataframe` (stepwise projections,
    each subtree evaluated once) in the pipeline hot path — it is ~3×
    faster. This form is kept for tests and ad-hoc use.
    """
    m4 = noise_filter(inline_identifier_mentions(text))
    identifiers = F.array_distinct(
        F.concat(
            m4,
            classname_fallback_mentions(text, m4),
            doc_symbol_mentions(text),
        )
    )
    # The noise filter (M10) applies to identifier mentions only — file
    # paths and issue refs have their own shapes and bypass it, as in the
    # reference (separate extraction flows, fl.py:1331-1386 vs 1787-1841).
    structural = F.array_distinct(
        F.concat(
            file_path_mentions(text),
            issue_number_mentions(text),
            closing_ref_mentions(text),
        )
    )
    return rank_and_truncate(
        F.concat(structural, noise_filter(identifiers))
    )


def mentions_dataframe(df, text_col: str = "clean_text"):
    """DataFrame-level M1–M10 battery: one intermediate column per stage so
    every regex sub-battery is evaluated exactly once per row.

    CollapseProject keeps multi-use, non-trivial aliases in separate
    Projects, so the chain below is CSE-by-construction — the single-column
    form re-evaluates the M4 battery 3×. Output column: ``mentions``.
    """
    text = F.col(text_col)
    return (
        df.withColumn("_m4", noise_filter(inline_identifier_mentions(text)))
        .withColumn(
            "_ids",
            F.array_distinct(
                F.concat(
                    F.col("_m4"),
                    classname_fallback_mentions(text, F.col("_m4")),
                    doc_symbol_mentions(text),
                )
            ),
        )
        .withColumn(
            "_structural",
            F.array_distinct(
                F.concat(
                    file_path_mentions(text),
                    issue_number_mentions(text),
                    closing_ref_mentions(text),
                )
            ),
        )
        .withColumn(
            "mentions",
            rank_and_truncate(
                F.concat(F.col("_structural"), noise_filter(F.col("_ids")))
            ),
        )
        .drop("_m4", "_ids", "_structural")
    )
