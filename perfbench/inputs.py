"""Seeded benchmark inputs, written as parquet files under the run's work
directory. Everything here is a pure function of the seed and the sizes in
``SIZES``; nothing is cached between runs.

Pages come from ``sources.datagen.generate_corpus(n, seed)`` (half of them
HTML-only, as datagen makes them), plus a seeded share of byte-identical
re-crawls of earlier URLs with a later ``warc_ts``. The earliest crawl wins
the URL dedup in ``prepare``, so the re-crawls leave the golden set as
``generate_corpus`` states it.
"""

from __future__ import annotations

import os
import random
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "pages": 1500,            # generator pages per corpus
    "dup_share": 0.10,        # re-crawls, as a share of generator pages
    "build_files": 8,         # parquet files of the build input
    "stream_files": 16,       # drop files of the stream input
    "max_files": 4,           # maxFilesPerTrigger of the stream drain
    "roots_per_request": 32,  # issue roots per export request
    "canon_groups": 1000,     # spelling-variant groups of the name table
    "names_per_group": 4,     # names per variant group
}

PAGES_PA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
ENTITIES_PA = pa.schema([
    ("entity_id", pa.string()), ("kind", pa.string()), ("name", pa.string()),
    ("short_name", pa.string()), ("signature", pa.string()),
    ("file_path", pa.string()), ("start_line", pa.int32()),
    ("end_line", pa.int32()), ("doc_string", pa.string()),
    ("aliases", pa.list_(pa.string())),
])
COMMITS_PA = pa.schema([
    ("commit_id", pa.string()), ("message", pa.string()),
    ("committed_ts", pa.timestamp("us", tz="UTC")),
    ("changed_files", pa.list_(pa.string())),
    ("changed_spans", pa.list_(pa.struct([
        ("file_path", pa.string()), ("start_line", pa.int32()),
        ("end_line", pa.int32()),
    ]))),
    ("n_parents", pa.int32()),
])
DOCS_PA = pa.schema([("doc_path", pa.string()), ("text", pa.string())])
TRIPLES_PA = pa.schema([
    ("subj", pa.string()), ("predicate", pa.string()), ("obj", pa.string()),
    ("weight", pa.float64()), ("src_url", pa.string()),
])


def _write(rows: list[dict], schema: pa.Schema, path: str, files: int = 1,
           mtime0: int | None = None) -> None:
    """Write ``rows`` in order as ``files`` contiguous parquet files. With
    ``mtime0`` the files get increasing modification times, which is the
    order a file-source stream reads them in."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=schema)
    per = -(-len(rows) // files)
    for f in range(files):
        p = os.path.join(path, f"part-{f:04d}.parquet")
        pq.write_table(table.slice(f * per, per), p)
        if mtime0 is not None:
            os.utime(p, (mtime0 + f, mtime0 + f))


class Corpus:
    """One seeded page corpus with its goldens."""

    def __init__(self, seed: int):
        from kgcompass_spark.sources import datagen

        n = SIZES["pages"]
        self.corpus = datagen.generate_corpus(n, seed)
        self.commits = datagen._mk_commits(48)
        self.docs = datagen._mk_docs()
        rng = random.Random(f"recrawl:{seed}")
        picks = rng.sample(range(n), round(SIZES["dup_share"] * n))
        # (order key, row): a re-crawl of page i arrives some pages later
        keyed = [(float(i), p) for i, p in enumerate(self.corpus.pages)]
        for i in picks:
            page = self.corpus.pages[i]
            again = dict(page, warc_ts=page["warc_ts"] + timedelta(days=rng.randint(1, 30)))
            keyed.append((i + rng.randint(1, n // 4) + 0.5, again))
        self.pages = [p for _, p in sorted(keyed, key=lambda kp: kp[0])]
        self.golden = {(g["subj"], g["predicate"], g["obj"]) for g in self.corpus.golden_triples}
        self.structural = {
            (g["subj"], g["predicate"], g["obj"])
            for g in datagen._structural_triples(self.corpus.entities)
        }
        self.text = {t["url"]: t["extracted_text"] for t in self.corpus.golden_text}
        self._seed = seed

    def context_golden(self) -> set:
        from kgcompass_spark.sources.datagen import context_goldens

        return {
            (g["subj"], g["predicate"], g["obj"])
            for g in context_goldens(SIZES["pages"], self.commits, self.docs, self._seed)
        }

    def write_pages(self, path: str, files: int, ordered: bool = False) -> None:
        _write(self.pages, PAGES_PA, path, files, mtime0=1_600_000_000 if ordered else None)

    def write_artifacts(self, base: str) -> None:
        _write(self.corpus.entities, ENTITIES_PA, os.path.join(base, "entities"))
        _write(self.commits, COMMITS_PA, os.path.join(base, "commits"))
        _write(self.docs, DOCS_PA, os.path.join(base, "docs"))

    def write_golden_kg(self, path: str, extra: list[dict] = ()) -> None:
        _write(list(self.corpus.golden_triples) + list(extra), TRIPLES_PA, path, files=4)

    def planted_targets(self) -> dict[str, set]:
        """root -> planted method/class targets, the types export returns."""
        out: dict[str, set] = {}
        for s, p, o in self.golden:
            if p in ("points to method", "points to class") and o.split(":", 1)[0] in ("method", "class"):
                out.setdefault(s, set()).add(o)
        return out


# ---------------------------------------------------------------------------
# spelling-variant name table
# ---------------------------------------------------------------------------

_SYL = [a + b for a in "bdfgklmnprstvz" for b in ("a", "e", "i", "o", "u", "ar", "en", "ol")]


def _variants(rng: random.Random, words: list[str]) -> list[str]:
    """Four spellings of one identifier: spaced, snake_case, one adjacent
    letter swap, one letter dropped."""
    raw = " ".join(words)
    swap = list(raw)
    j = rng.choice([k for k in range(len(raw) - 1) if raw[k] != " " and raw[k + 1] != " "])
    swap[j], swap[j + 1] = swap[j + 1], swap[j]
    drop = rng.choice([k for k in range(len(raw)) if raw[k] != " "])
    return [raw, "_".join(words), "".join(swap), raw[:drop] + raw[drop + 1:]]


def name_table(seed: int) -> tuple[list[dict], list[int]]:
    """(rows of entity_id/name, truth group per row): ``canon_groups``
    groups of ``names_per_group`` spellings of one random four-word
    identifier."""
    rng = random.Random(f"names:{seed}")
    vocab = sorted({"".join(rng.choice(_SYL) for _ in range(rng.randint(2, 3))) for _ in range(4000)})
    rows, groups = [], []
    for g in range(SIZES["canon_groups"]):
        words = rng.sample(vocab, 4)
        for v, name in enumerate(_variants(rng, words)[: SIZES["names_per_group"]]):
            rows.append({"entity_id": f"method:g{g:05d}.v{v}@names/{words[0]}.py", "name": name})
            groups.append(g)
    return rows, groups


def write_names(rows: list[dict], path: str) -> None:
    _write(rows, pa.schema([("entity_id", pa.string()), ("name", pa.string())]), path)
