"""Deduplication: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale notes (the 100 TB view):

- exact: one hash aggregate on md5(text) — map-side combine collapses
  duplicates before the shuffle, so the shuffle carries ~one row per
  distinct hash.
- n-gram Jaccard: exact pairwise similarity via a shingle inverted index
  (explode → self-join on shingle → count). Quadratic in the worst case —
  use it on candidate buckets, not the full corpus; that is what MinHash-LSH
  is for.
- MinHash-LSH: per-doc Kirsch-Mitzenmacher signatures from built-in md5
  expressions (no UDF; engine-exact, SQL-replayable — hash_fn="xx" for the
  faster Spark-only variant), banded into buckets; only docs sharing a
  band-bucket are paired. Bucket join is the classic near-dup scale path
  (shingle→minhash→band→join).
- SimHash: 64-bit signed-bit-vote hash over token hashes; Hamming-close
  pairs via (a) same-band grouping on bit slices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups — ``(text_md5, n_docs, min_doc_id)``, n>1."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def _char_shingles(text_col: str, n: int):
    """Distinct character n-grams as an array expression (no UDF)."""
    t = F.col(text_col)
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - n + 1, F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(t, i, n)))


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs — ``(doc_a, doc_b, jaccard)``.

    |A∩B| from an inverted-index self-join on shingles; |A∪B| from per-doc
    set sizes. Pairs oriented doc_a < doc_b.
    """
    sh = docs.select(
        F.col("doc_id"), F.explode(_char_shingles(text_col, n)).alias("shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 8,
    threshold_ppm: int = 500_000,
    text_col: str = "text",
) -> DataFrame:
    """ASYMMETRIC n-gram containment pairs —
    ``(doc_a, doc_b, inter, size_a, size_b, cont_a_ppm, cont_b_ppm)``,
    ``doc_a < doc_b``, kept when either direction's containment reaches
    ``threshold_ppm``.

    ``containment(A in B) = |grams(A) ∩ grams(B)| / |grams(A)|`` — the
    subset-detection complement of Jaccard (Broder's resemblance vs
    containment distinction): a snippet quoted inside a long page scores
    near 1.0 containment but tiny Jaccard, so quote/boilerplate
    subsumption needs this, not :func:`ngram_jaccard_pairs`.  Scores are
    INTEGER parts-per-million (``1e6 * inter div size``) — no float
    division anywhere, so the whole operator is bit-exactly
    SQL-replayable.

    Shape: inverted-index self-join on distinct word n-grams (pair
    volume is sum of per-gram doc-frequency squared — at corpus scale,
    run it on LSH/band candidates like the Jaccard variant, or drop
    grams above a doc-frequency cap first: a gram shared by thousands of
    docs is boilerplate, not evidence).
    """
    from .textstats import TOKEN_RE, _word_ngrams

    toks = F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0)
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(_word_ngrams(toks, n))).alias("gram"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "gram")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "size_a",
            "size_b",
            F.expr("(1000000 * inter) div size_a").alias("cont_a_ppm"),
            F.expr("(1000000 * inter) div size_b").alias("cont_b_ppm"),
        )
        .filter(
            (F.col("cont_a_ppm") >= threshold_ppm)
            | (F.col("cont_b_ppm") >= threshold_ppm)
        )
    )


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash signatures — ``(doc_id, sig: array<long>)``.

    Kirsch–Mitzenmacher construction over ONE base hash per shingle:
    ``sig[i] = min over shingles of (h1 + i·h2)`` with ``h2`` forced odd.
    ``hash_fn="md5"`` (default) derives ``h1 = md5[0:8]``,
    ``h2 = md5[8:16] | 1`` — engine-identical, so the signatures (hence
    the LSH bands and the candidate pairs) replay bit-exactly in the
    DuckDB oracle (``docs_minhash_lsh``); values stay < 2^38, far from
    BIGINT overflow on either engine.  ``hash_fn="xx"`` uses two xxhash64
    calls instead — ~2.4× faster signature stage (measured at sf0.1) for
    throughput-critical corpora, at the cost of Spark-only
    reproducibility.
    """
    if hash_fn == "xx":
        hs = F.transform(
            _char_shingles(text_col, n),
            lambda s: F.struct(
                F.xxhash64(s, F.lit(1))
                .bitwiseAND(F.lit(0xFFFFFFFF))
                .alias("h1"),
                F.xxhash64(s, F.lit(2))
                .bitwiseAND(F.lit(0xFFFFFFFF))
                .bitwiseOR(F.lit(1))
                .alias("h2"),
            ),
        )
    elif hash_fn == "md5":
        # nested transforms: the inner one evaluates md5 ONCE per shingle;
        # a single lambda computing both h1 and h2 would hash twice (no
        # CSE inside lambda bodies — measured 12x slower at sf0.1)
        hs = F.transform(
            F.transform(_char_shingles(text_col, n), lambda s: F.md5(s)),
            lambda h: F.struct(
                F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("h1"),
                F.conv(F.substring(h, 9, 8), 16, 10)
                .cast("long")
                .bitwiseOR(F.lit(1))
                .alias("h2"),
            ),
        )
    else:  # pragma: no cover - arg guard
        raise ValueError(f"hash_fn must be 'md5' or 'xx', got {hash_fn!r}")
    def _perm(i: int):
        # factory closure, NOT `lambda p, i=i`: Spark passes the array
        # index as a second lambda arg, shadowing the default
        return lambda p: p["h1"] + F.lit(i) * p["h2"]

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("_hs"), _perm(i)))
            for i in range(num_hashes)
        ]
    )
    # two projections: materialize the md5 pair array ONCE per row, then
    # derive the num_hashes mins from the column reference — inlining `hs`
    # into every min re-evaluates the md5 transform per permutation
    # (measured 28x slower at sf0.1)
    return docs.select("doc_id", hs.alias("_hs")).select(
        "doc_id", sig.alias("sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash-LSH candidate pairs with estimated Jaccard.

    Bands of ``num_hashes/bands`` rows hash to buckets; docs sharing any
    band-bucket become candidates (the only join is on the bucket key, so
    work scales with bucket sizes, not corpus²). Estimated similarity =
    fraction of matching signature positions; pairs with estimate ≥
    threshold are returned as ``(doc_a, doc_b, est_jaccard)``.
    """
    rows_per_band = num_hashes // bands
    # materialize signatures once (256 B/doc at 32 hashes): both sides of
    # the band self-join and the final estimation read them, and the
    # shingle × num_hashes expression is the expensive part
    sigs = minhash_signatures(
        docs, n=n, num_hashes=num_hashes, text_col=text_col, hash_fn=hash_fn
    ).localCheckpoint(eager=False)
    # band with IDS ONLY (same shape as cosine_neardup_pairs): dedup the
    # slim id pairs across bands, then join the signatures back once
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        # md5-based bucket key (see minhash_signatures:
                        # engine-identical so the oracle replays the join)
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat_ws(
                                        ",",
                                        *[
                                            F.element_at(
                                                "sig", b * rows_per_band + r + 1
                                            )
                                            for r in range(rows_per_band)
                                        ],
                                    )
                                ),
                                1,
                                15,
                            ),
                            16,
                            10,
                        )
                        .cast("long")
                        .alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    cand_ids = (
        banded.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
        .join(banded.select(F.col("doc_id").alias("doc_b"), "band", "bucket"),
              ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    cand = (
        cand_ids.join(
            sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("siga")),
            "doc_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sigb")),
            "doc_b",
        )
    )
    est = F.round(
        F.size(F.filter(F.zip_with("siga", "sigb", lambda x, y: x == y), lambda m: m))
        / F.lit(float(num_hashes)),
        6,
    )
    return cand.select("doc_a", "doc_b", est.alias("est_jaccard")).filter(
        F.col("est_jaccard") >= threshold
    )


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash over word tokens — ``(doc_id, simhash)``.

    Per token, the first 16 hex chars of md5 supply 64 bits — md5 is
    engine-identical, so the fingerprints (and the pigeonhole pair join
    built on them) replay bit-exactly in the ``docs_simhash`` /
    ``docs_simhash_pairs`` DuckDB oracles (xxhash64-based and golden-only
    through r02).  Each bit votes ±1; the sign of the vote sum forms the
    fingerprint.  Pure expressions, no UDF.
    """
    from linkgraph.pipeline.textstats import TOKEN_RE

    tok = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0)
        ).alias("token"),
    ).withColumn("h16", F.substring(F.md5("token"), 1, 16))
    # Pre-count (doc, hash) occurrences so the 64 bit-vote sums run over the
    # per-doc DISTINCT hashes (vocabulary), not every token occurrence —
    # natural text repeats tokens heavily, and the cheap 2-column count
    # reduces map-side before the wide aggregate.  Σ_tokens (2b−1) =
    # Σ_hashes cnt·(2b−1), so the fingerprint is bit-identical.
    counted = tok.groupBy("doc_id", "h16").agg(F.count("*").alias("cnt"))
    # hex nibbles projected ONCE per row; the 64 vote sums then read int
    # columns (inlining the conv into each sum re-evaluates it per bit —
    # same expression-layout trap as minhash_signatures)
    nib = counted.select(
        "doc_id",
        "cnt",
        *[
            F.conv(F.substring("h16", k + 1, 1), 16, 10).cast("int").alias(f"n{k}")
            for k in range(16)
        ],
    )
    # bit i (LSB = 0) lives in hex char 15 - i//4, nibble position i%4
    votes = nib.groupBy("doc_id").agg(
        *[
            F.sum(
                F.col("cnt")
                * (
                    F.shiftright(F.col(f"n{15 - i // 4}"), i % 4).bitwiseAND(
                        F.lit(1)
                    )
                    * 2
                    - 1
                )
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    fp = None
    for i in range(64):
        pos = F.col(f"b{i}") > 0
        # bit 63 as the min-long constant: 1<<63 is unrepresentable in a
        # signed 64-bit literal on engines that check overflow (DuckDB)
        term = F.when(
            pos, F.lit(-(1 << 63) if i == 63 else (1 << i)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp.bitwiseXOR(term)
    return votes.select("doc_id", fp.alias("simhash"))


def simhash_pairs(
    docs: DataFrame, max_distance: int = 3, text_col: str = "text"
) -> DataFrame:
    """Hamming-near SimHash pairs — ``(doc_a, doc_b, hamming)``, a < b,
    distance ≤ ``max_distance``.

    Pigeonhole banding (Manku et al., WWW'07): the 64-bit fingerprint splits
    into ``max_distance + 1`` bit slices — two fingerprints within distance
    k differ in at most k slices, so they AGREE EXACTLY on at least one.
    Candidates therefore come from an equi-join on (slice index, slice
    bits) — guaranteed recall, no probabilistic miss — and the exact
    Hamming distance (``bit_count(a XOR b)``) filters precision.  Cost is
    Σ_bucket |bucket|² per slice, never corpus²."""
    nb = max_distance + 1
    if nb > 64:
        raise ValueError("max_distance must be < 64")
    width = 64 // nb
    # materialize once: both sides of the band self-join read fps, and the
    # fingerprint aggregate is the expensive part (16 bytes/doc stored)
    fps = simhash(docs, text_col=text_col).localCheckpoint(eager=False)
    slices = []
    for i in range(nb):
        w = width + (64 - width * nb if i == nb - 1 else 0)
        bits = F.shiftrightunsigned("simhash", i * width).bitwiseAND(
            F.lit((1 << w) - 1)
        )
        slices.append(F.struct(F.lit(i).alias("slice"), bits.alias("bits")))
    banded = fps.select(
        "doc_id", "simhash", F.explode(F.array(*slices)).alias("sb")
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"), "sb"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"), "sb"
    )
    return (
        a.join(b, "sb")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
    )


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level near-duplicate clustering —
    ``(doc_id, cluster_id, cluster_size, keep)``.

    The standard training-data dedup policy: connect near-duplicate pairs
    into a similarity graph, take its connected components, and keep ONE
    canonical document per component (the minimum ``doc_id`` — "keep
    first").  ``cluster_id`` is that minimum id, so the output is stable
    across runs and partitionings; singleton documents form their own
    cluster with ``keep = true``.

    ``pairs`` defaults to exact :func:`ngram_jaccard_pairs` (small corpora /
    candidate buckets); pass :func:`minhash_lsh_pairs` or
    ``simsearch.cosine_neardup_pairs`` output for the approximate scale
    path — anything with ``(doc_a, doc_b)`` columns works.

    Scale notes: the component step is the engine's distributed min-label
    WCC superstep (algorithms/components.py) over a graph whose edge count
    is the PAIR count — at 100 TB that's the LSH candidate volume, orders
    of magnitude below corpus², and the per-superstep shuffle is one
    co-partitioned join.  Singletons ride along as self-loop events so no
    driver-side anti-join over the corpus is needed.
    """
    from linkgraph.algorithms import weakly_connected_components
    from linkgraph.graph import LinkGraph

    if pairs is None:
        pairs = ngram_jaccard_pairs(docs, n=n, threshold=threshold, text_col=text_col)
    # numeric names parse to their own id (graph.name_to_id), so component
    # labels ARE min doc_ids — no hash indirection to undo
    edges = (
        pairs.select(
            F.col("doc_a").cast("string").alias("src"),
            F.col("doc_b").cast("string").alias("dst"),
        )
        .unionByName(
            docs.select(
                F.col("doc_id").cast("string").alias("src"),
                F.col("doc_id").cast("string").alias("dst"),
            )
        )
        .withColumn("time", F.lit(0).cast("long"))
    )
    comp = weakly_connected_components(LinkGraph(edges)).select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    sizes = comp.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return comp.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )


def duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication per document (the span-level dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL 2022 — their suffix-array ExactSubstr, recast as an
    n-gram-anchored DataFrame pass): ``(doc_id, total_tokens, dup_tokens,
    n_spans, dup_frac)`` where a token is duplicated iff it lies inside
    some length-``n`` token window that occurs at MORE THAN ONE (doc,
    position) in the corpus (cross-doc or self-repeat).

    Plan: tokenize once, slide the n-gram window with built-in array exprs
    (no UDF), md5 the gram, one hash aggregate finds grams with >1
    occurrence, a semi-join keeps duplicated window starts, and the
    interval union per doc is the classic gaps-and-islands window pass
    (running max of span ends) — overlapping/adjacent windows merge, so
    ``dup_tokens`` is the exact union length.  Everything is integer
    arithmetic except the final fraction; bit-replayable in SQL.
    """
    from linkgraph.pipeline.textstats import TOKEN_RE

    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0).alias("ts"),
    ).localCheckpoint(eager=True)
    g = d.filter(F.size("ts") >= int(n)).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(ts) - {int(n)}), "
                f"i -> md5(array_join(slice(ts, i + 1, {int(n)}), ' ')))"
            )
        ).alias("pos", "gram"),
    )
    dup_starts = g.join(
        g.groupBy("gram").agg(F.count("*").alias("c")).filter(F.col("c") > 1),
        "gram",
        "left_semi",
    ).select("doc_id", "pos")
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("pos")
    marked = dup_starts.select(
        "doc_id",
        "pos",
        F.max(F.col("pos") + F.lit(int(n))).over(
            w.rowsBetween(W.unboundedPreceding, -1)
        ).alias("prev_end"),
    ).select(
        "doc_id",
        "pos",
        F.when(
            F.col("prev_end").isNull() | (F.col("pos") > F.col("prev_end")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_island"),
    )
    islands = marked.select(
        "doc_id",
        "pos",
        F.sum("new_island").over(w).alias("island"),
    )
    spans = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + F.lit(int(n))).alias("e")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).alias("dup_tokens"),
    )
    return (
        d.select("doc_id", F.size("ts").cast("long").alias("total_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "total_tokens",
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.when(F.col("total_tokens") > 0,
                   F.coalesce("dup_tokens", F.lit(0)).cast("double")
                   / F.col("total_tokens"))
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def _doc_units(text_col, seg_words: int | None):
    """array<string> of dedup units for a document: newline-split lines,
    or non-overlapping ``seg_words``-word segments when the corpus has no
    line structure (same slice arithmetic as packing.chunk_text)."""
    if seg_words is None:
        return F.split(F.col(text_col), "\n")
    words = F.split(F.col(text_col), " ")
    k = int(seg_words)
    n_segs = F.greatest(F.ceil(F.size(words) / F.lit(k)), F.lit(1))

    def _seg(ws):
        return lambda i: F.array_join(F.slice(ws, i * k + 1, k), " ")

    return F.transform(F.sequence(F.lit(0), n_segs - 1), _seg(words))


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    min_docs: int = 2,
    seg_words: int | None = None,
) -> DataFrame:
    """Cross-document line dedup (CCNet-style — Wenzek et al., LREC 2020):
    drop every unit whose normalised form appears in ≥ ``min_docs``
    DISTINCT documents — the boilerplate filter (headers, nav bars,
    cookie banners) that runs before any whole-doc dedup.

    Unit = newline-split line, or a ``seg_words``-word non-overlapping
    segment for corpora without line structure.  Normalisation =
    ``lower(trim(unit))``; units that are empty after trimming are never
    counted and never removed.  ALL copies of a duplicated unit are
    dropped (the CCNet contract — the "original" is boilerplate too).

    Returns ``(doc_id, n_units, removed_units, clean_chars, clean_md5)``
    — counts plus a digest of the cleaned text (kept units joined by
    newline), so the whole readout is engine-exact without shipping the
    text twice.

    Scale shape: unit keys are 16-byte md5 + doc_id pairs — the ONLY
    thing shuffled (one distinct + one count aggregate, map-side
    combined); the corpus text never rides a shuffle.  The duplicated-key
    set joins back against slim ``(doc_id, pos, key)`` rows to produce
    per-doc removed-position arrays, and the final rebuild is a map-only
    ``F.filter`` over the re-derived unit array.  The removed-positions
    side is duplication-cut-sized (empty when there is no boilerplate),
    so AQE broadcasts it in the common case.
    """
    d = docs.select("doc_id", F.col(text_col).alias("_text")).withColumn(
        "_units", _doc_units("_text", seg_words)
    )
    lines = d.select(
        "doc_id",
        F.posexplode("_units").alias("pos", "line"),
    ).withColumn("key", F.md5(F.lower(F.trim("line"))))
    counted = (
        lines.filter(F.trim("line") != "")
        .select("key", "doc_id")
        .distinct()
        .groupBy("key")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= int(min_docs))
        .select("key")
    )
    removed = (
        lines.join(counted, "key")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("pos")).alias("rm"))
    )
    rebuilt = (
        d.join(removed, "doc_id", "left")
        .withColumn("rm", F.coalesce("rm", F.array().cast("array<int>")))
        .select(
            "doc_id",
            F.size("_units").cast("long").alias("n_units"),
            F.size("rm").cast("long").alias("removed_units"),
            F.array_join(
                F.filter(
                    "_units",
                    lambda x, i: ~F.array_contains(F.col("rm"), i),
                ),
                "\n",
            ).alias("_clean"),
        )
    )
    return rebuilt.select(
        "doc_id",
        "n_units",
        "removed_units",
        F.length("_clean").cast("long").alias("clean_chars"),
        F.md5("_clean").alias("clean_md5"),
    )


def sorted_blocking_pairs(
    docs: DataFrame,
    window: int = 3,
    key_len: int = 12,
    prefix_len: int = 2,
    shingle_n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández–Stolfo merge/purge) —
    candidate pairs ``(doc_a, doc_b, pos_gap, jaccard_ppm)``: docs are
    sorted by a normalized blocking key and every pair within
    ``window`` positions is scored with exact char-``shingle_n``-gram
    Jaccard in integer ppm.

    The third blocking family next to MinHash-LSH (random projections
    of the shingle set) and SimHash (bit votes): sorted-neighborhood
    catches near-dups whose PREFIX agrees (title-keyed corpora,
    log-structured crawls) at one sort + a position self-join — no
    signatures at all.  The blocking key is the first ``key_len``
    chars of the lowercased alnum-only text; rows sort within
    ``prefix_len``-char key blocks (the block is the shuffle
    partition key, so the sort is per-block, never global — the
    standard multi-pass mitigation applies if near-dups straddle a
    prefix boundary, documented rather than hidden).  Ties inside a
    block order by doc_id, so positions — and therefore the candidate
    set — are deterministic on any engine.

    Shape: one map pass for keys, one window for positions, one
    equi-join on (block, position-offset) for candidates (fan-out ≤
    window per doc), the Jaccard from per-doc distinct-shingle arrays
    (array_intersect/union — no UDF, no crossJoin).
    """
    from pyspark.sql import Window

    t = F.col(text_col)
    key = F.substring(
        F.regexp_replace(F.lower(t), "[^a-z0-9]", ""), 1, key_len
    )
    keyed = docs.select(
        "doc_id",
        key.alias("k"),
        _char_shingles(text_col, shingle_n).alias("sh"),
    ).withColumn("blk", F.substring(F.col("k"), 1, prefix_len))
    w = Window.partitionBy("blk").orderBy("k", "doc_id")
    pos = keyed.withColumn("pos", F.row_number().over(w))
    a = pos.select(
        F.col("blk"),
        F.col("pos"),
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
    )
    b = pos.select(
        F.col("blk").alias("blk2"),
        F.col("pos").alias("pos2"),
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
    )
    pairs = a.join(
        b,
        (F.col("blk") == F.col("blk2"))
        & (F.col("pos2") > F.col("pos"))
        & (F.col("pos2") <= F.col("pos") + window),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    return pairs.select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"),
        (F.col("pos2") - F.col("pos")).cast("long").alias("pos_gap"),
        F.expr(
            "CASE WHEN (size(sh_a) + size(sh_b)"
            " - size(array_intersect(sh_a, sh_b))) = 0 THEN 1000000"
            " ELSE (CAST(size(array_intersect(sh_a, sh_b)) AS BIGINT)"
            " * 1000000) div (size(sh_a) + size(sh_b)"
            " - size(array_intersect(sh_a, sh_b))) END"
        ).alias("jaccard_ppm"),
    )


def paragraph_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide keep-first paragraph dedup — the granularity between
    :func:`line_dedup` (boilerplate lines, ALL copies dropped) and
    whole-document dedup: every paragraph (blank-line-separated block)
    keeps exactly its FIRST occurrence by ``(doc_id, position)`` and
    every later copy is removed — the pass that strips quoted reposts
    and mirrored sections without killing the whole document.

    Returns ``(doc_id, n_paras, removed_paras, clean_chars, clean_md5)``
    — counts plus a digest of the cleaned text (kept paragraphs joined
    by a blank line, original order), same engine-exact readout contract
    as :func:`line_dedup`.  Whitespace-only paragraphs are never keyed for
    dedup and never removed, but they are counted in ``n_paras``.

    Scale shape: identical to line_dedup — only slim
    ``(md5 key, doc_id, pos)`` rows ride the shuffle (one group-by on
    the 16-byte key picks winners, one per-doc aggregate collects the
    removed positions); the corpus text itself never shuffles, and the
    rebuild is a map-only array filter.
    """
    d = docs.select("doc_id", F.col(text_col).alias("_text")).withColumn(
        "_paras", F.split("_text", r"\n{2,}")
    )
    paras = d.select(
        "doc_id", F.posexplode("_paras").alias("pos", "para")
    )
    keyed = paras.filter(F.trim("para") != "").select(
        "doc_id", "pos", F.md5(F.trim("para")).alias("key")
    )
    # first occurrence by (doc_id, pos) wins; every other copy is removed
    winners = keyed.groupBy("key").agg(
        F.min(F.struct("doc_id", "pos")).alias("w")
    )
    removed = (
        keyed.join(winners, "key")
        .filter(
            (F.col("doc_id") != F.col("w.doc_id"))
            | (F.col("pos") != F.col("w.pos"))
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("pos")).alias("rm"))
    )
    rebuilt = (
        d.join(removed, "doc_id", "left")
        .withColumn("rm", F.coalesce("rm", F.array().cast("array<int>")))
        .select(
            "doc_id",
            F.size("_paras").cast("long").alias("n_paras"),
            F.size("rm").cast("long").alias("removed_paras"),
            F.array_join(
                F.filter(
                    "_paras",
                    lambda x, i: ~F.array_contains(F.col("rm"), i),
                ),
                "\n\n",
            ).alias("_clean"),
        )
    )
    return rebuilt.select(
        "doc_id",
        "n_paras",
        "removed_paras",
        F.length("_clean").cast("long").alias("clean_chars"),
        F.md5("_clean").alias("clean_md5"),
    )


def minhash_calibration(
    docs: DataFrame,
    n: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.4,
    text_col: str = "text",
) -> DataFrame:
    """MinHash estimator calibration — per estimated-Jaccard decile of the
    LSH candidate pairs: ``(est_bucket, n_pairs, mean_est_ppm,
    mean_exact_ppm)`` where the exact value is the true shingle Jaccard
    computed over the SAME ``n``-char shingle universe the signatures
    sketch.

    The estimator-quality audit behind any dedup threshold choice: a
    32-hash signature estimates Jaccard with sd ~ sqrt(J(1-J)/32) ~ 0.09
    — this readout shows the realised bias/spread per decile on the
    actual corpus, so a threshold can be picked from measured calibration
    instead of the asymptotic formula.  All integer ppm with floor
    division.

    Cost: the candidate pairs (band-join bounded) plus one exact-Jaccard
    pass RESTRICTED to candidate docs — the shingle self-join is
    semi-joined down to documents that appear in some candidate pair
    before it runs, so the exact pass scales with the candidate set, not
    the corpus.
    """
    cand = minhash_lsh_pairs(
        docs, n=n, num_hashes=num_hashes, bands=bands,
        threshold=threshold, text_col=text_col,
    ).select(
        "doc_a",
        "doc_b",
        F.round(F.col("est_jaccard") * 1_000_000)
        .cast("long")
        .alias("est_ppm"),
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = docs.join(cand_docs, "doc_id").select(
        "doc_id", F.explode(_char_shingles(text_col, n)).alias("shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    exact = (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("inter", F.coalesce("inter", F.lit(0)))
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")),
            "doc_b",
        )
        .select(
            "est_ppm",
            F.expr(
                "(inter * 1000000) div (sza + szb - inter)"
            ).alias("exact_ppm"),
        )
    )
    return (
        exact.withColumn("est_bucket", F.expr("est_ppm div 100000"))
        .groupBy("est_bucket")
        .agg(
            F.count("*").alias("n_pairs"),
            F.expr("sum(est_ppm) div count(*)").alias("mean_est_ppm"),
            F.expr("sum(exact_ppm) div count(*)").alias("mean_exact_ppm"),
        )
    )
