"""Text cleaning & projection functions (SURVEY.md §2.2, P1–P8, P15).

All pure Catalyst column expressions — JVM-side, whole-stage-codegen'd, no
Python in the hot path. Semantics match the reference:
  P1 HTML-comment strip      fl.py:53, fl.py:138
  P2 PGP-signature strip     fl.py:54-57, fl.py:140
  P3 blank-line collapse     fl.py:141-142
  P4 target-fix redaction    fl.py:145-174
  P5 path normalization      fl.py:391-414, utils.py:37-56
  P6 module-path derivation  utils.py:489-494
  P8 token-set extraction    fl.py:232-245
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java regex equivalents of the reference's Python patterns.
_HTML_COMMENT = r"(?s)<!--.*?-->"
_PGP_SIG = r"(?si)-----BEGIN PGP SIGNATURE-----.*?-----END PGP SIGNATURE-----"
_BLANK_RUNS = r"\n{3,}"

REDACTION_TOKEN = "[target fixing reference removed]"


def clean_issue_text(col: Column) -> Column:
    """P1+P2+P3: ``_clean_issue_text`` semantics (fl.py:138-142).

    HTML comments → "\\n", PGP blocks → "\\n", 3+ newline runs → "\\n\\n",
    then strip. Byte-identical to the reference on the fixture corpus.
    """
    c = F.coalesce(col, F.lit(""))
    c = F.regexp_replace(c, _HTML_COMMENT, "\n")
    c = F.regexp_replace(c, _PGP_SIG, "\n")
    c = F.regexp_replace(c, _BLANK_RUNS, "\n\n")
    return F.trim(c)


def strip_target_fix_references(col: Column, target_id: Column) -> Column:
    """P4: redact references to the fixing PR/issue id (fl.py:145-174).

    Four patterns, applied in the reference's order: github pull/issue URLs,
    djangoproject ticket URLs, ``pr/pull request/issue #N`` phrases, bare
    ``#N``. ``target_id`` is escaped digits in practice (issue numbers).
    """
    # escape regex metacharacters in the id (reference applies re.escape,
    # fl.py:148) — an id like "1.2(a)" must match literally, not as a pattern
    tid = F.regexp_replace(
        F.coalesce(target_id.cast("string"), F.lit("")), r"([^A-Za-z0-9_])", r"\\$1"
    )
    c = F.coalesce(col, F.lit(""))
    url_pat = F.concat(
        F.lit(r"(?i)https?://github\.com/[^\s<>)\]]+/(?:pull|pulls|issues)/"),
        tid,
        F.lit(r"(?:[#?][^\s<>)\]]*)?"),
    )
    trac_pat = F.concat(
        F.lit(r"(?i)https?://code\.djangoproject\.com/ticket/"),
        tid,
        F.lit(r"(?:[#?][^\s<>)\]]*)?"),
    )
    phrase_pat = F.concat(
        F.lit(r"(?i)\b(?:pr|pull\s+request|pull|issue)\s*#?\s*"), tid, F.lit(r"\b")
    )
    bare_pat = F.concat(F.lit(r"(?i)(?<![\w/])#\s*"), tid, F.lit(r"\b"))
    red = F.lit(REDACTION_TOKEN)
    for pat in (url_pat, trac_pat, phrase_pat, bare_pat):
        c = F.when(tid == "", c).otherwise(F.regexp_replace(c, pat, red))
    return c


def normalize_path(col: Column) -> Column:
    """P5: repo-relative forward-slash path (fl.py:391-414).

    Backslashes → ``/``, collapse ``//``, drop leading ``./`` and a leading
    ``playground/<repo>/`` prefix. Canonicalization is load-bearing: the
    reference documents a bug where two spellings split one entity.
    """
    c = F.regexp_replace(col, r"\\", "/")
    c = F.regexp_replace(c, r"/{2,}", "/")
    c = F.regexp_replace(c, r"^\./", "")
    c = F.regexp_replace(c, r"^playground/[^/]+/", "")
    return c


def module_path(col: Column) -> Column:
    """P6: ``a/b/c.py`` → ``a.b.c`` (utils.py:489-494)."""
    c = F.regexp_replace(col, r"\.py$", "")
    c = F.regexp_replace(c, r"/__init__$", "")
    return F.regexp_replace(c, "/", ".")


def identifier_tokens(col: Column) -> Column:
    """P8: ``[A-Za-z_][A-Za-z0-9_]{2,}`` token set minus stopwords
    (fl.py:232-245). Returns array<string> of distinct tokens.
    Stopword subtraction is applied by the caller with a broadcast set
    (array_except) so the list lives in one place.
    """
    return F.array_distinct(
        F.regexp_extract_all(col, F.lit(r"[A-Za-z_][A-Za-z0-9_]{2,}"), 0)
    )


def split_identifier(col: Column) -> Column:
    """P7: camelCase/snake_case splitter (export_kg_evidence_graph.py:82-91).

    Returns array of lowercase tokens of length >= 3.
    """
    c = F.regexp_replace(col, r"([a-z0-9])([A-Z])", r"$1 $2")
    c = F.regexp_replace(c, r"[_\.\-/]+", " ")
    toks = F.split(F.lower(F.trim(c)), r"\s+")
    return F.filter(toks, lambda t: F.length(t) >= 3)
