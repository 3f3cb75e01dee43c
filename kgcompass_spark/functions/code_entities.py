"""Entity extraction from source text — the alias-dictionary builder
(SURVEY.md §2.4 E1–E4, E7; §2.3 M6; §2.2 P14).

Reference semantics (studied, not copied):
  E1 class extractor        language_factory.py:374-408
  E2 global-method extractor language_factory.py:456-479
  E3 global-variable extractor language_factory.py:481-523
  E4 import-alias map        language_factory.py:431-454
  E7 comment→docstring       utils.py:471-487
  M6 code-block AST refs     language_factory.py:549-614
  P14 fenced-block split     utils.py:570-582

Shape: one source file row → many entity rows = ``mapInPandas`` (the UDTF
analog). The AST work is pure Python (stdlib ``ast``), batched over Arrow;
it is the designed slow path, mirroring the reference's parser stage.
"""

from __future__ import annotations

import ast
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

ENTITY_ROW_SCHEMA = (
    "file_path string, kind string, name string, short_name string, "
    "signature string, start_line int, end_line int, doc_string string"
)

REF_ROW_SCHEMA = "url string, ref_type string, ref_name string"


# ---------------------------------------------------------------------------
# P14 — fenced code-block splitter (pure function, stateful line scan)
# ---------------------------------------------------------------------------

def extract_code_blocks(text: str) -> list[str]:
    """Split out fenced ``` blocks (utils.py:570-582 semantics): returns the
    inner text of each block, language tags stripped."""
    blocks: list[str] = []
    cur: list[str] | None = None
    for line in (text or "").split("\n"):
        stripped = line.strip()
        if stripped.startswith("```"):
            if cur is None:
                cur = []          # opening fence (language tag ignored)
            else:
                blocks.append("\n".join(cur))
                cur = None        # closing fence
        elif cur is not None:
            cur.append(line)
    return blocks


# ---------------------------------------------------------------------------
# E1–E4/E7 — Python source → entity rows
# ---------------------------------------------------------------------------

def _signature(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> str:
    args = [a.arg for a in fn.args.args]
    if fn.args.vararg:
        args.append("*" + fn.args.vararg.arg)
    if fn.args.kwarg:
        args.append("**" + fn.args.kwarg.arg)
    return f"{fn.name}({', '.join(args)})"


def _module_of(path: str) -> str:
    p = path[:-3] if path.endswith(".py") else path
    if p.endswith("/__init__"):
        p = p[: -len("/__init__")]
    return p.replace("/", ".")


def parse_python_entities(file_path: str, source: str) -> list[dict]:
    """E1–E3 (+E8 rescue): top-level classes (with methods), functions and
    assignments of one file → entity dicts. Returns [] on unparseable
    source (poison-pill isolation)."""
    try:
        tree = ast.parse(source)
    except SyntaxError:
        # E8: python-2 rescue (reference: language_config py2 fallbacks) —
        # print statements → calls, `<>` → `!=`, `.has_key(x)` → `x in d`
        # approximated as a parseable `__contains__(x)` call, then retry
        try:
            import re

            rescued = re.sub(r"(?m)^(\s*)print\s+([^(].*)$", r"\1print(\2)", source or "")
            rescued = rescued.replace("<>", "!=")
            rescued = re.sub(r"\.has_key\(", ".__contains__(", rescued)
            tree = ast.parse(rescued)
        except SyntaxError:
            return []
    module = _module_of(file_path)
    rows: list[dict] = []

    def row(kind, name, short, sig, node, doc=""):
        rows.append(
            dict(
                file_path=file_path,
                kind=kind,
                name=name,
                short_name=short,
                signature=sig,
                start_line=getattr(node, "lineno", 0),
                end_line=getattr(node, "end_lineno", 0),
                doc_string=doc or "",
            )
        )

    for node in tree.body:
        if isinstance(node, ast.ClassDef):
            qname = f"{module}.{node.name}"
            row("class", qname, node.name, f"class {node.name}", node,
                ast.get_docstring(node) or "")
            for sub in node.body:
                if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    row("method", f"{qname}.{sub.name}", sub.name,
                        _signature(sub), sub, ast.get_docstring(sub) or "")
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            row("method", f"{module}.{node.name}", node.name,
                _signature(node), node, ast.get_docstring(node) or "")
        elif isinstance(node, ast.Assign):
            for tgt in node.targets:
                if isinstance(tgt, ast.Name):
                    try:
                        val = ast.literal_eval(node.value)
                        vrepr = repr(val)
                        if len(vrepr) > 40:        # P16 truncation
                            vrepr = vrepr[:37] + "..."
                    except (ValueError, SyntaxError):
                        vrepr = "<expr>"
                    row("global_var", f"{module}.{tgt.id}", tgt.id,
                        f"{tgt.id} = {vrepr}", node)
    return rows


def import_alias_map(source: str) -> dict[str, str]:
    """E4: alias → fully-qualified name from import statements."""
    try:
        tree = ast.parse(source)
    except SyntaxError:
        return {}
    aliases: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                aliases[a.asname or a.name.split(".")[0]] = a.name
        elif isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                aliases[a.asname or a.name] = f"{node.module}.{a.name}"
    return aliases


# ---------------------------------------------------------------------------
# M6 — code-block AST references
# ---------------------------------------------------------------------------

def snippet_references(snippet: str) -> list[tuple[str, str]]:
    """AST references from one fenced block: imports + attribute calls
    resolved through the block's own import-alias map
    (language_factory.py:549-614)."""
    try:
        tree = ast.parse(snippet)
    except SyntaxError:
        return []
    aliases = import_alias_map(snippet)
    refs: list[tuple[str, str]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                refs.append(("import", a.name))
        elif isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                refs.append(("import", f"{node.module}.{a.name}"))
        elif isinstance(node, ast.Call):
            fn = node.func
            if isinstance(fn, ast.Attribute) and isinstance(fn.value, ast.Name):
                base = aliases.get(fn.value.id, fn.value.id)
                refs.append(("call", f"{base}.{fn.attr}"))
            elif isinstance(fn, ast.Name):
                refs.append(("call", aliases.get(fn.id, fn.id)))
    seen, out = set(), []
    for r in refs:
        if r not in seen:
            seen.add(r)
            out.append(r)
    return out


# ---------------------------------------------------------------------------
# J9 — call-graph extraction (language_factory.py:26-133)
# ---------------------------------------------------------------------------

CALL_ROW_SCHEMA = (
    "caller_name string, caller_path string, callee_candidate string, "
    "callee_short string"
)


def method_call_sites(file_path: str, source: str) -> list[dict]:
    """Per method, the candidate full names of every call inside it:
    import-resolved, same-module, same-class and bare forms — the
    reference's candidate-name construction (language_factory.py:77-99).
    One row per (caller, candidate)."""
    try:
        tree = ast.parse(source)
    except SyntaxError:
        return []
    module = _module_of(file_path)
    aliases = import_alias_map(source)
    rows: list[dict] = []

    def visit_fn(fn: ast.FunctionDef | ast.AsyncFunctionDef, qual_prefix: str, cls: str | None):
        caller = f"{qual_prefix}.{fn.name}"
        for node in ast.walk(fn):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            cands: list[str] = []
            if isinstance(f, ast.Name):
                base = aliases.get(f.id, None)
                if base:
                    cands.append(base)
                cands.append(f"{module}.{f.id}")     # same-module
                if cls:
                    cands.append(f"{module}.{cls}.{f.id}")  # same-class
                cands.append(f.id)                    # bare
                short = f.id
            elif isinstance(f, ast.Attribute):
                short = f.attr
                if isinstance(f.value, ast.Name):
                    base = aliases.get(f.value.id, f.value.id)
                    cands.append(f"{base}.{f.attr}")
                    if f.value.id == "self" and cls:
                        cands.append(f"{module}.{cls}.{f.attr}")
                cands.append(f.attr)
            else:
                continue
            for c in dict.fromkeys(cands):
                rows.append(
                    dict(
                        caller_name=caller,
                        caller_path=file_path,
                        callee_candidate=c,
                        callee_short=short,
                    )
                )

    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            visit_fn(node, module, None)
        elif isinstance(node, ast.ClassDef):
            for sub in node.body:
                if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    visit_fn(sub, f"{module}.{node.name}", node.name)
    return rows


def extract_call_sites(files: DataFrame, path_col: str = "file_path", src_col: str = "source") -> DataFrame:
    """mapInPandas wrapper for :func:`method_call_sites`."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["caller_name", "caller_path", "callee_candidate", "callee_short"]
        for pdf in batches:
            rows: list[dict] = []
            for path, src in zip(pdf[path_col], pdf[src_col]):
                rows.extend(method_call_sites(path or "", src or ""))
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(run, schema=CALL_ROW_SCHEMA)


def call_graph_edges(
    call_sites: DataFrame,
    entities: DataFrame,
    seed_methods: DataFrame | None = None,
    max_seed: int | None = None,
) -> DataFrame:
    """J9 resolution: candidate names → method inventory → Method↔Method
    ``calls method`` triples.

    Broadcast equi-join on the candidate full name (exact), falling back to
    short-name match restricted to the same module prefix
    (language_factory.py:108-127 prefix/suffix matching). Deterministic
    winner per (caller, callee_short) = min entity_id; caller must itself
    resolve to an inventory method.

    ``seed_methods`` (entity_id) restricts expansion to edges touching the
    first ``max_seed`` (default MAX_CANDIDATE_METHODS=500) seed methods —
    the reference's ``get_all_methods(MAX_CANDIDATE_METHODS)`` cap on the
    call-scan seed list (fl.py:1872, config.py:22). None = unrestricted.
    """
    from pyspark.sql import functions as F

    from ..config import MAX_CANDIDATE_METHODS, NORMAL_CONNECTION

    max_seed = MAX_CANDIDATE_METHODS if max_seed is None else max_seed

    methods = entities.filter(entities["kind"] == "method").select(
        F.col("entity_id").alias("callee_id"),
        F.col("name").alias("callee_name"),
        F.col("short_name").alias("_short"),
    )
    callers = entities.filter(entities["kind"] == "method").select(
        F.col("entity_id").alias("caller_id"),
        F.col("name").alias("_caller_name"),
        F.col("file_path").alias("_caller_path"),
    )
    exact = call_sites.join(
        F.broadcast(methods), F.col("callee_candidate") == F.col("callee_name")
    )
    resolved = (
        exact.groupBy("caller_name", "caller_path", "callee_short")
        .agg(F.min("callee_id").alias("callee_id"))
    )
    out = (
        resolved.join(
            F.broadcast(callers),
            (F.col("caller_name") == F.col("_caller_name"))
            & (F.col("caller_path") == F.col("_caller_path")),
        )
        .filter(F.col("caller_id") != F.col("callee_id"))
        .select(
            F.col("caller_id").alias("subj"),
            F.lit("calls method").alias("predicate"),
            F.col("callee_id").alias("obj"),
            F.lit(NORMAL_CONNECTION).alias("weight"),
            F.lit("").alias("src_url"),
        )
        .dropDuplicates(["subj", "obj"])
    )
    if seed_methods is not None:
        # deterministic seed cap; two hash semi-joins (an OR-condition semi
        # join would fall back to a nested-loop join)
        seeds = (
            seed_methods.select(F.col("entity_id").alias("seed_id"))
            .distinct()
            .orderBy("seed_id")
            .limit(max_seed)
        )
        by_subj = out.join(F.broadcast(seeds), out["subj"] == seeds["seed_id"], "left_semi")
        by_obj = out.join(F.broadcast(seeds), out["obj"] == seeds["seed_id"], "left_semi")
        out = by_subj.unionByName(by_obj).dropDuplicates(["subj", "obj"])
    return out


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# E5/E6 — Java / C++ extraction. The reference's own Java/C++ support is
# regex-pattern based ("Basic patterns", language_factory.py:212-280); these
# extractors match that fidelity: top-level classes/interfaces/structs and
# their methods via the same pattern family, spans by brace matching.
# ---------------------------------------------------------------------------

import re as _re

_JAVA_PACKAGE_RE = _re.compile(r"(?m)^\s*package\s+([\w.]+)\s*;")
# same-line annotations (`@Override public ...`, `@Entity class ...`) are
# consumed before the modifier battery; javalang attaches them to the node
_JAVA_ANNOT = r"(?:@[\w.]+(?:\([^)]*\))?\s+)*"
_JAVA_CLASS_RE = _re.compile(
    r"(?m)^[ \t]*" + _JAVA_ANNOT
    + r"(?:(?:public|protected|private|abstract|final|static|strictfp)\s+)*"
    r"(class|interface|enum)\s+([A-Za-z_$][\w$]*)"
)
_JAVA_METHOD_RE = _re.compile(
    # modifiers are OPTIONAL (package-private `int use() {...}` is a
    # MethodDeclaration too); a statement can't take the shape
    # `Type name(args) {` — keyword heads (if/for/while/switch/catch/try
    # blocks) either hit _CTRL_KEYWORDS, carry no ws-terminated return
    # type, or contain chars outside the return-type class. (?=[@\w]) pins
    # the start to the declaration's own line (see _JAVA_BODYLESS_RE).
    r"(?m)^[ \t]*(?=[@\w])" + _JAVA_ANNOT
    + r"(?:(?:public|protected|private|static|final|synchronized|abstract|default|native)\s+)*"
    # a body brace must follow (optionally after a throws clause) — an
    # abstract `... snapshot() throws E;` has no body and belongs to the
    # BODYLESS pass; accepting bare `throws` here made its span swallow
    # the next method
    r"[\w.<>,\[\]?\s]*?\s([A-Za-z_$][\w$]*)\s*\(([^)]*)\)\s*(?:throws[^;{]*)?\{"
)
# bodyless member declarations (interface methods, abstract methods):
# `R apply(T in);` / `public abstract void f() throws E;` — javalang emits
# these as MethodDeclaration nodes like any other. Statement-position false
# positives (`return foo(x);`) are excluded positionally: a member
# declaration can never sit inside another method's brace span. Field
# initializers never match because `=` is outside the return-type class.
_JAVA_BODYLESS_RE = _re.compile(
    # (?=[@\w]) pins the match start to the declaration's own first line:
    # without it the \s-admitting return-type class lets a match begin on
    # the blanked line of a masked javadoc above, which breaks the
    # doc-comment lookup
    r"(?m)^[ \t]*(?=[@\w])" + _JAVA_ANNOT
    + r"(?:(?:public|protected|private|static|abstract|default|final|native)\s+)*"
    r"[\w.<>,\[\]?\s]*?\s([A-Za-z_$][\w$]*)\s*\(([^)]*)\)\s*(?:throws[^;{]*)?;"
)
# template headers (incl. multi-line and nested template-template params)
# are blanked by the balanced-angle walk in _mask_template_headers before
# this regex runs, so a bare single-line prefix branch is kept only for
# direct callers that skip the mask
_CPP_CLASS_RE = _re.compile(
    r"(?m)^[ \t]*(?:template\s*<[^>{]*>\s*)?(class|struct|union)\s+([A-Za-z_]\w*)[^;{]*\{"
)
_CPP_FUNC_RE = _re.compile(
    r"(?m)^[ \t]*(?!if|for|while|switch|catch|return|else)"
    r"[\w:<>~&*\s]+?\b([A-Za-z_]\w*)\s*\(([^;)]*)\)\s*(?:const\s*)?\{"
)
_CTRL_KEYWORDS = frozenset({"if", "for", "while", "switch", "catch", "return", "new", "else", "do"})
_STMT_HEAD_RE = _re.compile(r"\b(new|return|throw|yield|assert|case)\b")
# C++ in-class member DECLARATIONS (`void f(int) const;`, pure virtual
# `= 0`) — libclang emits a cursor for declarations exactly as for
# definitions. Class-scope only (the scan requires an owner): at class
# scope `Foo v(x);` cannot be a variable (member parens-init is invalid
# C++), so the vexing-parse ambiguity doesn't arise there. The (?<![~\w])
# lookbehind skips destructors rather than mis-naming `~Foo` as `Foo`.
# C++ file/namespace-scope variable declarations → global_var entities.
# The reference's preorder walk emits EVERY VAR_DECL — locals included
# (language_factory.py:722-730) — which floods the inventory with
# function-body noise; this scan keeps the useful subset: true globals at
# file or namespace scope (not class fields, not locals — both excluded
# positionally). Parenthesized initializers are skipped on purpose: at
# file scope `Foo bar(1);` parses as a function declaration (the vexing
# parse), matching the compiler's reading.
_CPP_GLOBAL_VAR_RE = _re.compile(
    r"(?m)^[ \t]*(?!(?:using|typedef|template|return|throw|friend|namespace|class|struct|union|enum)\b|#)"
    r"(?:(?:static|const|constexpr|extern|inline|volatile|thread_local)\s+)*"
    r"[\w:<>,&*\t ]+?(?<![~\w])([A-Za-z_]\w*)"
    r"((?:\s*\[[^\]]*\])*)\s*(?:=[^;]*|\{[^;{}]*\})?;"
)

_CPP_BODYLESS_RE = _re.compile(
    # single-line type prefix ([ \t], not \s): letting it cross newlines
    # made a match swallow a preceding `public:` access-specifier line,
    # shifting start_line and breaking the doc-comment lookup. Bare
    # constructor declarations (`Engine();` — empty prefix) are skipped.
    r"(?m)^[ \t]*(?=[\w~])(?!(?:if|for|while|switch|catch|return|else|using|typedef|friend)\b|#)"
    r"[\w:<>~&*\t ]+?(?<![~\w])([A-Za-z_]\w*)\s*\(([^;)]*)\)\s*"
    r"(?:const\s*)?(?:noexcept\s*)?(?:override\s*)?(?:final\s*)?(?:=\s*0\s*)?;"
)


def _line_of(source: str, pos: int) -> int:
    return source.count("\n", 0, pos) + 1


_TEMPLATE_KW_RE = _re.compile(r"\btemplate\s*<")

_PP_DIRECTIVE_RE = _re.compile(r"(?m)^[ \t]*#[ \t]*(\w+)(.*)$")


def _mask_disabled_regions(masked: str) -> str:
    """Blank preprocessor-disabled regions — ``#if 0`` / ``#if false``
    (and their nested conditionals) up to the matching ``#else`` /
    ``#elif`` / ``#endif`` — in the already string/comment-masked text.
    libclang sees only post-preprocessor code (reference
    language_factory.py:616-801 walks the translation unit), so
    declarations inside a disabled block must not be extracted; before
    this pass the structural scan read them as live code, and an
    unbalanced ``}`` inside one corrupted every following span. Only the
    statically-false forms are evaluated — ``#if FEATURE_X``,
    ``#ifdef``, and macro expansion in declaration heads stay unhandled
    (noted limitation; full conditional evaluation needs the
    preprocessor). Length- and newline-preserving."""
    out = list(masked)
    # stack of booleans: True = this conditional level started disabled
    stack: list[bool] = []
    blank_from: int | None = None
    for m in _PP_DIRECTIVE_RE.finditer(masked):
        word, rest = m.group(1), m.group(2).strip()
        if word == "if":
            is_zero = rest.split("//")[0].split("/*")[0].strip() in ("0", "false")
            stack.append(is_zero)
            if is_zero and blank_from is None:
                blank_from = m.start()
        elif word in ("ifdef", "ifndef"):
            stack.append(False)
        elif word in ("else", "elif") and stack:
            if stack[-1] and blank_from is not None and sum(stack) == 1:
                # leaving the disabled branch of the OUTERMOST disabled
                # conditional — the else/elif branch is (potentially) live
                for j in range(blank_from, m.end()):
                    if out[j] != "\n":
                        out[j] = " "
                blank_from = None
                stack[-1] = False
        elif word == "endif" and stack:
            was = stack.pop()
            if was and blank_from is not None and not any(stack):
                for j in range(blank_from, m.end()):
                    if out[j] != "\n":
                        out[j] = " "
                blank_from = None
    if blank_from is not None:  # unterminated disabled block
        for j in range(blank_from, len(masked)):
            if out[j] != "\n":
                out[j] = " "
    return "".join(out)


def _mask_template_headers(masked: str) -> str:
    """Blank C++ ``template <...>`` headers (balanced-angle walk, so nested
    template-template parameters and multi-line headers both work) in the
    already string/comment-masked text. Afterwards `class Foo {` sits on a
    whitespace-only prefix, so the ordinary class regex matches — this
    replaces the old single-line ``template\\s*<[^>{]*>`` prefix hack whose
    non-nesting scan missed ``template <typename T, template<class> class
    C>`` declarations entirely. Length- and newline-preserving."""
    out = list(masked)
    for m in _TEMPLATE_KW_RE.finditer(masked):
        depth, i, n = 0, m.end() - 1, len(masked)
        end = None
        while i < n:
            c = masked[i]
            if c == "<":
                depth += 1
            elif c == ">":
                depth -= 1
                if depth == 0:
                    end = i
                    break
            elif c == "{" or c == ";":
                break  # unbalanced (operator< etc.) — leave untouched
            i += 1
        if end is None:
            continue
        for j in range(m.start(), end + 1):
            if out[j] not in "\n":
                out[j] = " "
    return "".join(out)


_OBJ_DEFINE_RE = _re.compile(
    r"(?m)^[ \t]*#[ \t]*define[ \t]+([A-Za-z_]\w*)(?![\w(])[ \t]*(.*?)[ \t]*$"
)
# attribute junk the preprocessor/compiler erases from declaration heads:
# __declspec(...), __attribute__((...)), alignas(...), [[attr]]
_CPP_ATTR_RE = _re.compile(
    r"__declspec\s*\([^()]*(?:\([^()]*\)[^()]*)*\)"
    r"|__attribute__\s*\(\(.*?\)\)"
    r"|\balignas\s*\([^()]*\)"
    r"|\[\[[^\]]*\]\]"
)
_NS_ALIAS_RE = _re.compile(
    r"(?m)^[ \t]*namespace\s+([A-Za-z_]\w*)\s*=\s*"
    r"([A-Za-z_]\w*(?:\s*::\s*[A-Za-z_]\w*)*)\s*;"
)


def _blank_cpp_macro_heads(masked: str) -> str:
    """Blank what the reference's libclang parse never sees (E6 macro
    parity, round 6): occurrences of the file's OWN object-like macros
    whose bodies are brace/semicolon-free (export/visibility/annotation
    macros — `#define MYAPI __attribute__((...))`; a `class MYAPI Widget`
    head would otherwise name the class MYAPI), plus compiler attributes
    (__declspec/__attribute__/alignas/[[...]]). Length-preserving, so all
    downstream offsets/lines stay exact. Macros expanding to structural
    text (`#define BEGIN_NS namespace x {`) are left alone — a documented
    divergence (position-preserving substitution cannot express them)."""
    masked = _CPP_ATTR_RE.sub(lambda m: " " * len(m.group(0)), masked)
    names = {
        m.group(1)
        for m in _OBJ_DEFINE_RE.finditer(masked)
        if not _re.search(r"[{};]", m.group(2))
    }
    if not names:
        return masked
    pat = _re.compile(r"\b(?:%s)\b" % "|".join(map(_re.escape, sorted(names))))
    return pat.sub(lambda m: " " * len(m.group(0)), masked)


def _cpp_class_name(head: str) -> str | None:
    """Class name from the head text between the class/struct/union keyword
    and the body: the LAST identifier before any base clause, skipping the
    contextual keyword ``final`` — so an unknown export macro from another
    header (`class SOMELIB_API Widget : public B {`) still names Widget,
    matching the post-expansion cursor spelling libclang reports."""
    head = head.split(":", 1)[0]
    ids = [t for t in _re.findall(r"[A-Za-z_]\w*", head) if t != "final"]
    return ids[-1] if ids else None


def _resolve_ns_alias(chain: list[str], aliases: dict[str, list[str]]) -> list[str]:
    """Expand a leading namespace-alias segment of an out-of-line member
    chain (`namespace a = app;` + `void a::W::run()` → app.W.run — the
    semantic parent libclang resolves). Transitive up to a small bound."""
    for _ in range(8):
        if not chain or chain[0] not in aliases:
            return chain
        chain = aliases[chain[0]] + chain[1:]
    return chain


def _mask_strings_comments(src: str) -> str:
    """Length- and newline-preserving copy of ``src`` with the contents of
    string/char literals and ``//`` / ``/* */`` comments blanked to spaces.

    The structural scan (declaration regexes + brace matching) runs on the
    masked text so a ``}`` inside ``"a } b"`` or ``// }`` can no longer
    corrupt every following span — the bug class the reference's own
    ``_find_block_end`` brace counting is blind to. Positions and line
    numbers are identical between the two strings, so doc-comment lookups
    still read the ORIGINAL source at the same offsets. A digit-flanked
    apostrophe (C++14 separator, ``1'000'000``) is NOT a char-literal
    opener and is skipped. Not handled (noted limitation): Java text
    blocks (\"\"\") and C++ raw strings R"(...)".
    """
    out = list(src)
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        nxt = src[i + 1] if i + 1 < n else ""
        if c == "/" and nxt == "/":
            j = src.find("\n", i)
            j = n if j == -1 else j
            for k in range(i, j):
                out[k] = " "
            i = j
        elif c == "/" and nxt == "*":
            j = src.find("*/", i + 2)
            j = n if j == -1 else j + 2
            for k in range(i, min(j, n)):
                if out[k] != "\n":
                    out[k] = " "
            i = j
        elif c == "'" and i > 0 and src[i - 1].isdigit() and nxt.isdigit():
            # C++14 digit separator — treating it as a char literal would
            # blank the rest of the line and could hide a brace on it
            i += 1
        elif c in ('"', "'"):
            j = i + 1
            while j < n:
                if src[j] == "\\":
                    j += 2
                    continue
                if src[j] == c or src[j] == "\n":  # newline: unterminated
                    break
                j += 1
            for k in range(i + 1, min(j, n)):
                out[k] = " "
            i = min(j, n) + 1
        else:
            i += 1
    return "".join(out)


def _brace_span_end(source: str, open_pos: int) -> int:
    """Char index of the brace matching the first '{' at/after
    ``open_pos``. Callers pass the string/comment-MASKED source."""
    start = source.find("{", open_pos)
    if start == -1:
        return open_pos
    depth = 0
    for i in range(start, len(source)):
        c = source[i]
        if c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return i
    return len(source) - 1


_JAVADOC_RE = _re.compile(r"/\*\*((?:[^*]|\*(?!/))*)\*/\s*$")


def _doc_comment_before(source: str, start_pos: int) -> str:
    """The ``/** ... */`` block ending directly above the declaration
    (javalang ``_get_docstring`` reads the node's preceding doc comment),
    leading ``*`` gutter stripped."""
    # bounded window: the doc block must END at the declaration, so only
    # the preceding ~2k chars can contain it (keeps the scan linear)
    m = _JAVADOC_RE.search(source, max(0, start_pos - 2000), start_pos)
    if not m:
        return ""
    lines = [ln.strip().lstrip("*").strip() for ln in m.group(1).splitlines()]
    return "\n".join(ln for ln in lines if ln)


_NAMESPACE_RE = _re.compile(r"(?m)^[ \t]*namespace\s+([A-Za-z_]\w*)\s*\{")
_JAVA_CTOR_TMPL = (
    r"(?m)^[ \t]*(?:(?:public|protected|private)\s+)?%s\s*\(([^)]*)\)\s*"
    r"(?:throws[^{}}]*)?\{"
)

# ---- javalang-shaped Java signatures ---------------------------------------
# The reference's javalang extractor emits generics-aware signatures
# (language_factory.py:1024-1101 _get_method_signature/_get_type_name):
# ``pkg.Outer.Inner.method(Type1 name1, Type2 name2): ReturnType`` for
# methods and ``pkg.Outer.Inner(Type name)`` for constructors
# (language_factory.py:1001), with annotations/modifiers erased, whitespace
# normalized, and varargs flattened to the element type. Method identity is
# (name, signature, file_path) (knowledge_graph.py:165-172), so raw-text
# signature spans would let formatting variants of one overload split and
# would not match javalang's shape. The normalizers below rebuild that shape
# from the masked declaration span. Documented divergences: a bounded
# wildcard (``List<? extends T>``) keeps its bound text (javalang's own path
# crashes on it); a parameter-level annotation WITH arguments breaks the
# declaration regex itself (params stop at the first ')').

_JAVA_SIG_ANNOT_RE = _re.compile(r"@[\w.]+(?:\([^)]*\))?\s*")
_JAVA_SIG_MODIFIER_RE = _re.compile(
    r"\b(?:public|protected|private|static|final|synchronized|abstract"
    r"|default|native|strictfp)\b"
)


def _split_top_level(s: str) -> list[str]:
    """Split on commas at angle/paren/bracket depth 0."""
    parts, cur, depth = [], [], 0
    for ch in s:
        if ch in "<([":
            depth += 1
        elif ch in ">)]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


def _normalize_java_type(t: str) -> str:
    """Whitespace/punctuation canonicalization of a Java type's text:
    ``Map < String ,List<T> > [ ]`` → ``Map<String, List<T>>[]``. The
    unbounded wildcard drops (``List<?>`` → ``List``), mirroring the
    reference's filter of None type-arguments (language_factory.py:1096)."""
    t = _re.sub(r"\s+", " ", t).strip()
    t = _re.sub(r"\s*<\s*", "<", t)
    t = _re.sub(r"\s*>", ">", t)
    t = _re.sub(r"\s*,\s*", ", ", t)
    t = _re.sub(r"\s*\[\s*\]", "[]", t)
    # drop bare unbounded wildcards anywhere in a type-argument list, the
    # way the reference's _get_type_name filters None args
    # (language_factory.py:1096): Map<String, ?> → Map<String>,
    # Map<?, V> → Map<V>, Map<?, ?> → Map, List<?> → List. Bounded
    # wildcards (? extends T) keep their text — documented divergence.
    t = t.replace("<?, ", "<")
    t = _re.sub(r", \?(?=[,>])", "", t)
    t = t.replace("<?>", "")
    return t


def _java_param_sig(p: str) -> str:
    """One parameter's ``Type name`` signature fragment (annotations and
    ``final`` erased, varargs flattened — ``String... a`` ≡ ``String[] a``
    cannot co-exist as overloads, so flattening loses no identity)."""
    p = _JAVA_SIG_ANNOT_RE.sub("", p)
    p = _re.sub(r"\bfinal\b", " ", p)
    p = p.replace("...", " ")
    p = _re.sub(r"\s+", " ", p).strip()
    m = _re.search(r"([A-Za-z_$][\w$]*)\s*((?:\[\s*\])*)$", p)
    if not m or m.start() == 0:
        return _normalize_java_type(p)
    cdims = "[]" * m.group(2).count("[")  # C-style dims go on the type
    t = _normalize_java_type(p[: m.start()]) + cdims
    return f"{t} {m.group(1)}".strip()


def _java_return_type(head: str) -> str:
    """Return type from the declaration text before the method name:
    annotations/modifiers and a generic method's ``<T, R>`` type-parameter
    section are stripped, the remainder normalized. Empty (all-modifier
    head) means the declaration has NO return type — i.e. a constructor."""
    head = _JAVA_SIG_ANNOT_RE.sub("", head)
    head = _JAVA_SIG_MODIFIER_RE.sub(" ", head)
    head = _re.sub(r"\s+", " ", head).strip()
    if head.startswith("<"):
        depth = 0
        for i, ch in enumerate(head):
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
                if depth == 0:
                    head = head[i + 1 :]
                    break
    return _normalize_java_type(head)


def _java_method_signature(qname: str, head: str, params: str) -> str:
    plist = [_java_param_sig(p) for p in _split_top_level(params) if p.strip()]
    return f"{qname}({', '.join(plist)}): {_java_return_type(head) or 'void'}"


def _java_ctor_signature(class_qname: str, params: str) -> str:
    plist = [_java_param_sig(p) for p in _split_top_level(params) if p.strip()]
    return f"{class_qname}({', '.join(plist)})"


def _parse_braced_entities(file_path: str, source: str, module: str,
                           class_re, method_re,
                           namespaces: bool = False,
                           constructors: bool = False) -> list[dict]:
    """Structural scan shared by E5/E6: class/interface/enum declarations
    with brace-matched spans, NESTED qualification via the innermost
    enclosing declaration (javalang builds the Outer.Inner chain through
    parent pointers, language_factory.py:963-987), methods attributed to
    their innermost owner, doc comments, and (Java) constructors emitted
    under the class name (ConstructorDeclaration,
    language_factory.py:955-1010). ``namespaces`` adds C++
    ``namespace X {`` spans to the qualification chain without emitting
    rows for them.

    Declaration regexes and brace matching run on the string/comment-MASKED
    source (``_mask_strings_comments``) — braces or declaration-shaped text
    inside literals and comments are invisible to the scan. Doc comments
    are read from the ORIGINAL source at the same offsets (masking is
    position-preserving)."""
    source = source or ""
    masked = _mask_strings_comments(source)
    ns_aliases: dict[str, list[str]] = {}
    if namespaces:
        masked = _mask_disabled_regions(masked)
        masked = _mask_template_headers(masked)
        masked = _blank_cpp_macro_heads(masked)
        ns_aliases = {
            m.group(1): _re.findall(r"[A-Za-z_]\w*", m.group(2))
            for m in _NS_ALIAS_RE.finditer(masked)
        }
    rows: list[dict] = []
    # (short, start_pos, end_pos, emit_row) — namespaces qualify but don't emit
    scopes: list[tuple[str, int, int, bool, str]] = []
    if namespaces:
        for m in _NAMESPACE_RE.finditer(masked):
            scopes.append((m.group(1), m.start(), _brace_span_end(masked, m.end() - 1), False, ""))
    class_matches = []
    for m in class_re.finditer(masked):
        # m.end() - 1: the C++ class regex consumes the '{' (so the scan
        # must start AT it, not after it — after it, the first '{' found
        # is the first METHOD's and the class span collapses to that
        # method's); the Java regex stops at the name, where the forward
        # find reaches the same class brace either way
        end = _brace_span_end(masked, m.end() - 1)
        cname = m.group(2)
        if namespaces:
            # unknown (other-header) export macros in the head: the class
            # name is the LAST pre-base-clause identifier, not the first
            cname = _cpp_class_name(masked[m.end(1) : m.end() - 1]) or cname
        scopes.append((cname, m.start(), end, True, m.group(1)))
        class_matches.append(m)
    scopes.sort(key=lambda s: (s[1], -s[2]))

    classes: list[tuple[str, str, int, int]] = []  # short, qualified, span
    for (cshort, cs, ce, emit, decl_kw) in scopes:
        if not emit:
            continue
        outer = [s for (s, sp, ep, _, _) in scopes if sp < cs and ep >= ce]
        parts = ([module] if module else []) + outer + [cshort]
        qname = ".".join(parts)
        s_line, e_line = _line_of(source, cs), _line_of(source, ce)
        classes.append((cshort, qname, cs, ce))
        rows.append(dict(file_path=file_path, kind="class", name=qname,
                         short_name=cshort, signature=f"{decl_kw} {cshort}",
                         start_line=s_line, end_line=e_line,
                         doc_string=_doc_comment_before(source, cs)))

    def _owner(pos: int) -> str | None:
        """Qualified name of the INNERMOST class containing ``pos``."""
        best = None
        for (_, q, cs, ce) in classes:
            if cs < pos <= ce and (best is None or cs > best[0]):
                best = (cs, q)
        return best[1] if best else None

    seen: set[tuple[int, str]] = set()
    method_spans: list[tuple[int, int]] = []

    def _stmt_prefix(m) -> bool:
        # `new Thread(r) {` (anonymous subclass) / `throw new E(x);` are
        # statements whose head word sits in the would-be return type
        return bool(_STMT_HEAD_RE.search(masked[m.start():m.start(1)]))

    for m in method_re.finditer(masked):
        mname = m.group(1)
        if mname in _CTRL_KEYWORDS or _stmt_prefix(m):
            continue
        s_line = _line_of(source, m.start())
        ep = _brace_span_end(masked, m.end() - 1)
        method_spans.append((m.start(), ep))
        e_line = _line_of(source, ep)
        owner = _owner(m.start())
        if owner:
            qname = f"{owner}.{mname}"
        else:
            # C++ out-of-line member definition (`Cls::method(...)`, libclang
            # sees these via the cursor's semantic parent): qualify with the
            # ::-chain directly preceding the name, plus any enclosing
            # namespace scopes (outer→inner)
            chain = ""
            if namespaces:
                mm = _re.search(
                    r"((?:[A-Za-z_]\w*\s*::\s*)+)$", masked[m.start():m.start(1)]
                )
                if mm:
                    chain = ".".join(
                        _resolve_ns_alias(
                            _re.findall(r"[A-Za-z_]\w*", mm.group(1)), ns_aliases
                        )
                    )
            ns = [
                s
                for (s, sp, ep, emit, _) in sorted(scopes, key=lambda x: x[1])
                if not emit and sp < m.start() <= ep
            ]
            parts = (
                ([module] if module else [])
                + ns
                + ([chain] if chain else [])
                + [mname]
            )
            qname = ".".join(parts)
        seen.add((s_line, mname))
        if constructors:  # Java mode: javalang-shaped generics-aware sig
            head = masked[m.start() : m.start(1)]
            if (
                owner is not None
                and owner.rsplit(".", 1)[-1] == mname
                and not _java_return_type(head)
            ):
                # `public Outer(...) {` also satisfies the method regex
                # (backtracking reads the modifier as a return type) —
                # no return type + name == owning class ⇒ constructor shape
                sig = _java_ctor_signature(owner, m.group(2))
            else:
                sig = _java_method_signature(qname, head, m.group(2))
        else:
            sig = f"{mname}({m.group(2).strip()})"
        rows.append(dict(file_path=file_path, kind="method", name=qname,
                         short_name=mname,
                         signature=sig,
                         start_line=s_line, end_line=e_line,
                         doc_string=_doc_comment_before(source, m.start())))
    if constructors:
        for (cshort, cq, cs, ce) in classes:
            ctor_re = _re.compile(_JAVA_CTOR_TMPL % _re.escape(cshort))
            for m in ctor_re.finditer(masked, cs, ce + 1):
                s_line = _line_of(source, m.start())
                if (s_line, cshort) in seen:
                    continue
                # the constructor must belong to THIS class, not a nested one
                if _owner(m.start()) != cq:
                    continue
                ep = _brace_span_end(masked, m.end() - 1)
                method_spans.append((m.start(), ep))
                e_line = _line_of(source, ep)
                seen.add((s_line, cshort))
                rows.append(dict(
                    file_path=file_path, kind="method", name=f"{cq}.{cshort}",
                    short_name=cshort,
                    # language_factory.py:1001 — class-qualified prefix +
                    # typed params, no return type
                    signature=_java_ctor_signature(cq, m.group(1)),
                    start_line=s_line, end_line=e_line,
                    doc_string=_doc_comment_before(source, m.start()),
                ))
    bodyless_re = None
    if constructors:
        bodyless_re = _JAVA_BODYLESS_RE
    elif namespaces:
        bodyless_re = _CPP_BODYLESS_RE
    if bodyless_re is not None:
        # Bodyless member declarations (Java interface/abstract methods,
        # C++ in-class declarations incl. pure virtual). Positional guard:
        # member declarations live directly in a class body, so any
        # candidate inside an emitted method's brace span is a statement
        # (`return foo(x);`), not a declaration.
        for m in bodyless_re.finditer(masked):
            mname = m.group(1)
            if mname in _CTRL_KEYWORDS or _stmt_prefix(m):
                continue
            if any(sp < m.start(1) <= ep for (sp, ep) in method_spans):
                continue
            owner = _owner(m.start())
            if owner is None:
                continue
            s_line = _line_of(source, m.start())
            if (s_line, mname) in seen:
                continue
            seen.add((s_line, mname))
            if constructors:  # Java bodyless (interface/abstract) methods
                sig = _java_method_signature(
                    f"{owner}.{mname}", masked[m.start() : m.start(1)], m.group(2)
                )
            else:
                sig = f"{mname}({m.group(2).strip()})"
            rows.append(dict(
                file_path=file_path, kind="method", name=f"{owner}.{mname}",
                short_name=mname,
                signature=sig,
                start_line=s_line, end_line=_line_of(source, m.end() - 1),
                doc_string=_doc_comment_before(source, m.start()),
            ))
    if namespaces:
        # file/namespace-scope globals (VAR_DECL parity, minus locals and
        # fields — see _CPP_GLOBAL_VAR_RE)
        for m in _CPP_GLOBAL_VAR_RE.finditer(masked):
            vname = m.group(1)
            if vname in _CTRL_KEYWORDS or _stmt_prefix(m):
                continue
            if _owner(m.start()) is not None:
                continue  # class/struct field, not a global
            if any(sp < m.start(1) <= ep for (sp, ep) in method_spans):
                continue  # function-local
            s_line = _line_of(source, m.start())
            if (s_line, vname) in seen:
                continue
            seen.add((s_line, vname))
            ns = [
                s
                for (s, sp, ep, emit, _) in sorted(scopes, key=lambda x: x[1])
                if not emit and sp < m.start() <= ep
            ]
            parts = ([module] if module else []) + ns + [vname]
            rows.append(dict(
                file_path=file_path, kind="global_var", name=".".join(parts),
                short_name=vname, signature=vname + m.group(2).strip(),
                start_line=s_line, end_line=_line_of(source, m.end() - 1),
                doc_string=_doc_comment_before(source, m.start()),
            ))
    rows.sort(key=lambda r: (r["start_line"], r["kind"], r["name"]))
    return rows


def parse_java_entities(file_path: str, source: str) -> list[dict]:
    """E5: Java classes/interfaces/enums, their methods AND constructors,
    with nested Outer.Inner qualification and javadoc doc_strings — the
    observable outputs of the reference's javalang extractor
    (language_factory.py:805-1010: ClassDeclaration filter, per-body
    MethodDeclaration/ConstructorDeclaration, parent-chain qualified names,
    _get_docstring), restated as a structural brace scan."""
    pkg = _JAVA_PACKAGE_RE.search(source or "")
    module = pkg.group(1) if pkg else ""
    return _parse_braced_entities(file_path, source, module,
                                  _JAVA_CLASS_RE, _JAVA_METHOD_RE,
                                  constructors=True)


def parse_cpp_entities(file_path: str, source: str) -> list[dict]:
    """E6: C++ classes/structs + functions/methods with namespace + nested
    class qualification (the reference's libclang walk,
    language_factory.py:616-801, emits bare cursor spellings; the dotted
    qualification here is the repo's entity-id convention). Module =
    path-derived."""
    module = _module_of(_re.sub(r"\.(cpp|cc|cxx|hpp|hxx|h)$", "", file_path) + ".py")
    return _parse_braced_entities(file_path, source, module,
                                  _CPP_CLASS_RE, _CPP_FUNC_RE,
                                  namespaces=True)


_CPP_EXTS = (".cpp", ".cc", ".cxx", ".hpp", ".hxx", ".h")


def parse_source_entities(file_path: str, source: str) -> list[dict]:
    """Language dispatch by extension: .py → AST (E1–E3), .java → E5,
    C/C++ → E6; anything else contributes file/directory rows only."""
    p = (file_path or "").lower()
    if p.endswith(".py"):
        return parse_python_entities(file_path, source)
    if p.endswith(".java"):
        return parse_java_entities(file_path, source)
    if p.endswith(_CPP_EXTS):
        return parse_cpp_entities(file_path, source)
    return []


def extract_entities(files: DataFrame, path_col: str = "file_path", src_col: str = "source") -> DataFrame:
    """E1–E6 over a (file_path, source) DataFrame → entity rows via
    mapInPandas (one file in, many entities out); language by extension."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["file_path", "kind", "name", "short_name", "signature",
                "start_line", "end_line", "doc_string"]
        for pdf in batches:
            rows: list[dict] = []
            for path, src in zip(pdf[path_col], pdf[src_col]):
                rows.extend(parse_source_entities(path or "", src or ""))
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(run, schema=ENTITY_ROW_SCHEMA)


def inventory_from_sources(files: DataFrame) -> DataFrame:
    """Full alias-dictionary construction from a (file_path, source) table —
    SURVEY.md §7.1 step 3: the inventory is *parsed from the corpus*, not
    hand-supplied. Emits the FIXTURES.md §2 entities schema:
    parsed classes/methods/globals (E1–E3) + file + directory rows derived
    from the paths, with normalized-path entity ids matching the fixture
    generator's id scheme.
    """
    from pyspark.sql import functions as F

    from .cleaning import module_path, normalize_path

    parsed = extract_entities(files).withColumn(
        "file_path", normalize_path(F.col("file_path"))
    )
    code_rows = parsed.select(
        F.concat(F.col("kind"), F.lit(":"), F.col("name"), F.lit("@"), F.col("file_path")).alias("entity_id"),
        "kind",
        "name",
        "short_name",
        "signature",
        "file_path",
        "start_line",
        "end_line",
        "doc_string",
        F.array(F.col("short_name")).alias("aliases"),
    )
    paths = files.select(normalize_path(F.col("file_path")).alias("file_path")).distinct()
    file_rows = paths.select(
        F.concat(F.lit("file:"), F.col("file_path")).alias("entity_id"),
        F.lit("file").alias("kind"),
        module_path(F.col("file_path")).alias("name"),
        F.element_at(F.split("file_path", "/"), -1).alias("short_name"),
        F.lit("").alias("signature"),
        "file_path",
        F.lit(0).alias("start_line"),
        F.lit(0).alias("end_line"),
        F.lit("").alias("doc_string"),
        F.array(
            F.element_at(F.split("file_path", "/"), -1),
            F.regexp_replace(F.element_at(F.split("file_path", "/"), -1), r"\.py$", ""),
        ).alias("aliases"),
    )
    # every ancestor directory of every file (posexplode over the path parts)
    dirs = (
        paths.filter(F.col("file_path").contains("/"))
        .select(F.regexp_replace("file_path", "/[^/]+$", "").alias("d"))
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(F.split("d", "/"))),
                    lambda i: F.array_join(F.slice(F.split(F.col("d"), "/"), 1, i), "/"),
                )
            ).alias("file_path")
        )
        .distinct()
    )
    dir_rows = dirs.select(
        F.concat(F.lit("directory:"), F.col("file_path")).alias("entity_id"),
        F.lit("directory").alias("kind"),
        F.regexp_replace("file_path", "/", ".").alias("name"),
        F.element_at(F.split("file_path", "/"), -1).alias("short_name"),
        F.lit("").alias("signature"),
        "file_path",
        F.lit(0).alias("start_line"),
        F.lit(0).alias("end_line"),
        F.lit("").alias("doc_string"),
        F.array(F.element_at(F.split("file_path", "/"), -1)).alias("aliases"),
    )
    return code_rows.unionByName(file_rows).unionByName(dir_rows)


def extract_snippet_refs(pages: DataFrame, url_col: str = "url", text_col: str = "clean_text") -> DataFrame:
    """M6 over pages: fenced blocks → AST references, exploded rows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for url, text in zip(pdf[url_col], pdf[text_col]):
                for block in extract_code_blocks(text or ""):
                    for rtype, rname in snippet_references(block):
                        rows.append(dict(url=url, ref_type=rtype, ref_name=rname))
            yield pd.DataFrame(rows, columns=["url", "ref_type", "ref_name"])

    return pages.mapInPandas(run, schema=REF_ROW_SCHEMA)
