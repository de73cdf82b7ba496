"""Edge extraction: source-code table → repo-level dependency edge table.

Input: ``(repo, path, commit, lang, content)`` (Iceberg/parquet). Output:
event-level ``edges_t(src, dst, time, layer)`` — the distributed analogue of
Raphtory's bulk ``load_edges_from_pandas`` ingest path
(reference: python/graph/pandas/loaders.rs:11-100), except ingestion here is
a pure derivation, not mutation.

The mining runs inside ``mapInPandas`` — Arrow-batched, vectorised pandas
string ops, no per-row Python and **no shuffle**: extraction is map-only, so
it scales linearly with input splits. Per the north rule, each row's
``sha256(content)`` is recomputed in the same pass and the source table's
``commit`` column must be a prefix of it at least ``MIN_COMMIT_HEX`` (40)
lowercase hex chars long (the synthesiser derives it from the content
hash); any other commit — null, empty, short or different — raises, so
silent corruption cannot leak edges.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

EDGES_T_SCHEMA = "src string, dst string, time long, layer string"

# Per-language import/reference patterns. Captures the referenced module /
# crate / package, which we treat as the destination repo name.
IMPORT_PATTERNS: dict[str, str] = {
    "python": r"^\s*(?:from\s+([\w./-]+)\s+import|import\s+([\w./-]+))",
    "rust": r"^\s*(?:use|extern\s+crate)\s+([A-Za-z0-9_]+)",
    "go": r'^\s*(?:import\s+)?"([\w./-]+)"',
    "javascript": r"""(?:require\(|from\s+)['"]([\w@./-]+)['"]""",
}

# Optional deterministic event-time marker planted by the synthesiser
# (FIXTURES.md §0): "import x  # t=12". Real-world inputs carry time on the
# commit instead; rows without a marker default to t=0.
_TIME_MARKER = re.compile(r"#\s*t=(-?\d+)")


# Shortest commit accepted as a sha256(content) prefix: the 40 hex chars
# (160 bits) of a git-style id, which the synthesisers emit.
MIN_COMMIT_HEX = 40


class ContentShaMismatch(ValueError):
    """Raised when a row's commit is not a prefix of at least
    ``MIN_COMMIT_HEX`` lowercase hex chars of sha256(content) — a null,
    empty or short commit included."""


def _sha256_hex(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def _commit_matches(sha: str, commit) -> bool:
    return (
        isinstance(commit, str)
        and len(commit) >= MIN_COMMIT_HEX
        and sha.startswith(commit)
    )


def mine_edges(source: DataFrame, verify_sha: bool = True) -> DataFrame:
    """Mine ``edges_t`` from a source-code table.

    Map-only (zero shuffle); emits one row per import statement found. The
    node set implied by the source table is every ``repo`` plus every mined
    ``dst`` — use :func:`node_events` for repos whose files import nothing.
    """
    patterns = {lang: re.compile(pat, re.MULTILINE) for lang, pat in IMPORT_PATTERNS.items()}

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if verify_sha and len(pdf):
                sha = pdf["content"].map(_sha256_hex)
                ok = [_commit_matches(s, c) for s, c in zip(sha, pdf["commit"])]
                if not all(ok):
                    bad = pdf.loc[[not o for o in ok], ["repo", "path"]].head(3)
                    raise ContentShaMismatch(
                        f"content sha256 != commit for rows: {bad.to_dict('records')}"
                    )
            out_src: list[str] = []
            out_dst: list[str] = []
            out_t: list[int] = []
            for lang, rx in patterns.items():
                sub = pdf[pdf["lang"] == lang]
                if not len(sub):
                    continue
                # vectorised: pandas .str.findall runs the regex in a C loop
                hits = sub["content"].str.findall(rx)
                times = sub["content"].str.extract(_TIME_MARKER, expand=False)
                for repo, matches, t in zip(sub["repo"], hits, times.fillna("0")):
                    for m in matches:
                        dst = m if isinstance(m, str) else next(g for g in m if g)
                        out_src.append(repo)
                        out_dst.append(dst)
                        out_t.append(int(t))
            yield pd.DataFrame(
                {
                    "src": pd.Series(out_src, dtype="object"),
                    "dst": pd.Series(out_dst, dtype="object"),
                    "time": pd.Series(out_t, dtype="int64"),
                    "layer": pd.Series(["_default"] * len(out_src), dtype="object"),
                }
            )

    return source.select("repo", "path", "commit", "lang", "content").mapInPandas(
        extract, schema=EDGES_T_SCHEMA
    )


def node_events(source: DataFrame) -> DataFrame:
    """Node-presence events: one ``(name, time)`` row per source row.

    Ensures repos that import nothing (and are imported by nothing) still
    exist as graph nodes, mirroring Raphtory's add_node upserts
    (db/api/mutation/addition_ops.rs:111).
    """
    from pyspark.sql import functions as F

    return source.select(
        F.col("repo").alias("name"),
        F.coalesce(
            F.regexp_extract("content", r"#\s*t=(-?\d+)", 1).cast("long"), F.lit(0)
        ).alias("time"),
    )
