"""Seeded, distributed source-table generator for the benchmark.

Builds ``(repo, path, commit, lang, content)`` rows with ``spark.range`` and
SQL expressions only (no driver-side row lists), plus a ``truth`` table the
oracles read: one row per file with its repo and the repo ids its import
lines name.  Every random draw is ``xxhash64(key, tag, ...)``
of the file id, so the same seed gives the same rows at any partitioning.

The import structure is drawn from the fixed ``STRUCTURE`` key, so every seed
gives an isomorphic graph: the number of supersteps an algorithm needs, which
sets most of its cost, is the same for every seed.  The seed relabels the
repos (an order-keeping shift of every id by a seed-derived offset, so the
smallest id of each component stays the same node) and redraws each file's
language, hence its import syntax, its filler text and its content hash.

Shape of the graph the rows encode:

- repo names are decimal integers, so node ids equal the names;
- repos are grouped into communities of ``community`` consecutive ids; an
  import targets the file's own community with probability ``p_local``,
  the file's own repo with probability ``p_self`` (a self-import), and
  otherwise a repo drawn with a skew towards low ids (random attachment
  with hubs);
- the last ``free_repos`` repos import nothing and nobody imports them;
- each file starts with a ``# t=<time>`` line and carries ``filler`` body
  lines that match no import pattern, which sets the content volume.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

LANGS = ("python", "rust", "go", "javascript")
STRUCTURE = 1  # hash key of the import structure, shared by all seeds

# Two import-line forms per language; the form alternates by line index.
_IMPORT_FORMS = {
    "python": ("import {d}", "from {d} import mod"),
    "rust": ("use {d};", "extern crate {d};"),
    "go": ('import "{d}"', '    "{d}"'),
    "javascript": ("const m = require('{d}');", "import m from '{d}';"),
}
# Body lines that none of extract.IMPORT_PATTERNS matches.
_FILLER = {
    "python": "    total = total + value * 3  # accumulate the running sum\n",
    "rust": "    let total = total + value * 3; // accumulate the running sum\n",
    "go": "\ttotal = total + value*3 // accumulate the running sum\n",
    "javascript": "  total = total + value * 3; // accumulate the running sum\n",
}
_EXT = {"python": ".py", "rust": ".rs", "go": ".go", "javascript": ".js"}


@dataclass(frozen=True)
class SourceSpec:
    files: int
    repos: int
    community: int  # repos per community
    max_imports: int  # import lines per file: 1..max_imports
    p_local: float
    p_self: float
    free_repos: int
    filler: int  # body lines per file
    t_max: int  # times are drawn from [0, t_max)

    def key(self) -> str:
        return "-".join(f"{v}" for v in asdict(self).values())


def _u(seed: int, tag: str, *cols: Column) -> Column:
    """Uniform double in [0, 1) from the seeded hash of ``cols``."""
    h = F.xxhash64(F.lit(seed), F.lit(tag), *cols)
    return F.pmod(h, F.lit(1 << 30)).cast("double") / float(1 << 30)


def _pick(seed: int, tag: str, n: Column | int, *cols: Column) -> Column:
    """Uniform integer in [0, n) from the seeded hash of ``cols``."""
    n = F.lit(n) if isinstance(n, int) else n
    return F.pmod(F.xxhash64(F.lit(seed), F.lit(tag), *cols), n.cast("long"))


def _by_lang(lang: Column, values: dict[str, Column]) -> Column:
    out = F.when(lang == LANGS[0], values[LANGS[0]])
    for name in LANGS[1:]:
        out = out.when(lang == name, values[name])
    return out


def id_offset(seed: int) -> int:
    """The seed's repo-id shift; ids stay below 2**31."""
    return (seed % 2000) * 1_000_000


def source_frames(spark: SparkSession, spec: SourceSpec, seed: int):
    """Return ``(source, truth)`` DataFrames for ``spec`` and ``seed``."""
    key = STRUCTURE
    active = spec.repos - spec.free_repos
    fid = F.col("fid")
    files = spark.range(spec.files).select(F.col("id").alias("fid"))
    files = files.select(
        "fid",
        _pick(key, "repo", spec.repos, fid).alias("repo"),
        F.element_at(
            F.array(*[F.lit(x) for x in LANGS]),
            (_pick(seed, "lang", len(LANGS), fid) + 1).cast("int"),
        ).alias("lang"),
        _pick(key, "t", spec.t_max, fid).alias("t"),
    )
    n_imp = F.when(
        F.col("repo") < active, 1 + _pick(key, "k", spec.max_imports, fid)
    ).otherwise(F.lit(0))

    def target(j: Column) -> Column:
        u = _u(key, "kind", fid, j)
        base = (F.col("repo") / spec.community).cast("long") * spec.community
        local = F.least(base + _pick(key, "loc", spec.community, fid, j), F.lit(active - 1))
        skew = F.pow(_u(key, "far", fid, j), F.lit(2.0))
        far = F.least((skew * active).cast("long"), F.lit(active - 1))
        return (
            F.when(u < spec.p_self, F.col("repo"))
            .when(u < spec.p_self + spec.p_local, local)
            .otherwise(far)
        )

    offset = F.lit(id_offset(seed))
    files = files.withColumn(
        "dsts",
        F.when(
            n_imp > 0,
            F.transform(
                F.sequence(F.lit(0), (n_imp - 1).cast("int")), lambda j: target(j) + offset
            ),
        ).otherwise(F.array().cast("array<long>")),
    ).withColumn("repo", F.col("repo") + offset)

    def import_lines(lang: str) -> Column:
        a, b = _IMPORT_FORMS[lang]

        def line(d: Column, i: Column) -> Column:
            ds = d.cast("string")
            first = F.concat(*_split_fmt(a, ds))
            second = F.concat(*_split_fmt(b, ds))
            return F.when(i % 2 == 0, first).otherwise(second)

        return F.array_join(F.transform("dsts", line), "\n")

    lang = F.col("lang")
    body = _by_lang(lang, {x: import_lines(x) for x in LANGS})
    filler = _by_lang(lang, {x: F.lit(_FILLER[x] * spec.filler) for x in LANGS})
    content = F.concat(
        F.lit("# t="), F.col("t").cast("string"), F.lit("\n"), body, F.lit("\n"), filler
    )
    ext = _by_lang(lang, {x: F.lit(_EXT[x]) for x in LANGS})
    rows = files.withColumn("content", content)
    source = rows.select(
        F.col("repo").cast("string").alias("repo"),
        F.concat(F.lit("src/f"), fid.cast("string"), ext).alias("path"),
        F.substring(F.sha2("content", 256), 1, 40).alias("commit"),
        "lang",
        "content",
    )
    truth = rows.select("repo", "dsts")
    return source, truth


def _split_fmt(fmt: str, d: Column) -> list[Column]:
    pre, post = fmt.split("{d}")
    return [F.lit(pre), d, F.lit(post)]


def write_source(spark: SparkSession, spec: SourceSpec, seed: int, out_dir: str) -> None:
    """Write ``source/`` and ``truth/`` parquet under ``out_dir``; the
    ``_DONE`` marker is written last, so a partial directory is never read."""
    source, truth = source_frames(spark, spec, seed)
    source.write.mode("overwrite").parquet(os.path.join(out_dir, "source"))
    truth.write.mode("overwrite").parquet(os.path.join(out_dir, "truth"))
    with open(os.path.join(out_dir, "_DONE"), "w") as f:
        f.write(spec.key() + "\n")
