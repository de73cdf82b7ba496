"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  Dot products via ``zip_with`` + ``aggregate`` (sequential fold →
  deterministic summation order, JVM-side). The candidate side is
  broadcast when small; at scale the quadratic pair space is the cost,
  which is what the bucketed variant avoids.
- ``lsh_topk``: random-hyperplane LSH — sign-bit bucket join, then exact
  re-scoring inside buckets (multi-probe over b bands). Approximate but
  scales as Σ bucket², not corpus².
- ``cosine_neardup_pairs``: embedding near-duplicate pairs above a cosine
  threshold.
- ``ivf_topk``: inverted-file (IVF) ANN — deterministic mini-Lloyd
  centroids, cell assignment via an Arrow-batched numpy matmul kernel,
  queries probe their ``nprobe`` nearest cells and re-score exactly.
- ``ivf_topk_exact``: IVF with an EXACTNESS guarantee — after the
  ``nprobe`` first pass, a second pass probes every remaining cell whose
  triangle-inequality upper bound could still beat the current kth score,
  so the result equals ``cosine_topk`` while the expected cost stays
  ~corpus·nprobe/n_cells.  The scale-safe default for exact top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def _dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine(a, b) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _as_double(df: DataFrame, col: str) -> DataFrame:
    return df.withColumn(col, F.col(col).cast("array<double>"))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_pairs: int | None = 100_000_000,
) -> DataFrame:
    """Exact top-k cosine neighbours per query — ``(query_id, cand_id,
    cosine, rank)``; self-matches excluded; ties broken by candidate id.

    This is the EXACT BASELINE: cost is |queries| × |corpus| (a crossJoin),
    so it refuses to run past ``max_pairs`` (default 1e8 ≈ one executor-hour
    of dot products) instead of silently becoming the job.  At scale use
    :func:`ivf_topk` (probed cells, ~corpus·nprobe/n_cells) or
    :func:`lsh_topk`; keep this as the recall oracle on sampled queries
    (``max_pairs=None`` disables the guard for tests)."""
    if max_pairs is not None:
        n_pairs = queries.count() * embeddings.count()
        if n_pairs > max_pairs:
            raise ValueError(
                f"cosine_topk is the exact O(|q|x|corpus|) baseline: "
                f"{n_pairs:,} pairs exceeds max_pairs={max_pairs:,}; use "
                f"ivf_topk/lsh_topk at this scale, or sample queries, or "
                f"pass max_pairs=None to force"
            )
    cand = _as_double(
        embeddings.select(
            F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cvec")
        ),
        "cvec",
    )
    q = _as_double(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")),
        "qvec",
    )
    scored = (
        q.crossJoin(cand)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplane_matrix(spark, dim: int, bands: int, planes_per_band: int, seed: int):
    """Random-hyperplane matrix ``(bands·planes_per_band, dim)`` as numpy.

    Component (band b, plane p, element j) = (pmod(xxhash64(seed, b, p, j),
    2,000,001) − 1,000,000) / 1e6 ∈ [−1, 1) — derived deterministically from
    the hash, no driver-side randomness, reproducible at any parallelism.
    Evaluated ONCE by Spark itself (one tiny job over bands·planes·dim
    rows; 60 planes × 256 dims = 15k rows) so the derivation stays the
    engine's own xxhash64, then collected — the matrix is KB-sized and
    rides the task closure to the banding kernel."""
    import numpy as np

    n_planes = bands * planes_per_band
    comps = (
        spark.range(n_planes * dim)
        .select(
            F.floor(F.col("id") / (planes_per_band * dim)).cast("int").alias("b"),
            F.pmod(F.floor(F.col("id") / dim), F.lit(planes_per_band))
            .cast("int")
            .alias("p"),
            F.pmod(F.col("id"), F.lit(dim)).cast("int").alias("j"),
        )
        .select(
            "b",
            "p",
            "j",
            (
                (
                    F.pmod(
                        F.xxhash64(F.lit(seed), F.col("b"), F.col("p"), F.col("j")),
                        F.lit(2_000_001),
                    )
                    - 1_000_000
                )
                / 1_000_000.0
            ).alias("c"),
        )
        .collect()
    )
    h = np.zeros((n_planes, dim), dtype=np.float64)
    for r in comps:
        h[r["b"] * planes_per_band + r["p"], r["j"]] = r["c"]
    return h


def _banded_rows(
    df: DataFrame, hyper, bands: int, planes_per_band: int, id_name: str
) -> DataFrame:
    """``(id, v)`` → exploded ``(id, band, sig)`` band-signature rows via one
    Arrow-batched matmul per batch (no per-row Python, no per-plane
    expression evaluation).  Bit order matches shiftleft-fold packing:
    plane 0 is the most significant bit of each band's signature."""
    import pandas as pd

    id_type = df.schema[id_name].dataType.simpleString()

    def kernel(batches):
        import numpy as np

        weights = (2 ** np.arange(planes_per_band - 1, -1, -1)).astype(np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack(pdf["v"].to_numpy())
            bits = (vecs @ hyper.T >= 0).astype(np.int64)  # (batch, n_planes)
            sigs = bits.reshape(len(pdf), bands, planes_per_band) @ weights
            ids = np.repeat(pdf[id_name].to_numpy(), bands)
            band_idx = np.tile(np.arange(bands, dtype=np.int32), len(pdf))
            yield pd.DataFrame(
                {id_name: ids, "band": band_idx, "sig": sigs.ravel()}
            )

    return df.mapInPandas(kernel, f"{id_name} {id_type}, band int, sig long")


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes_per_band: int = 8,
    bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH.

    Candidates = vectors sharing any band signature with the query; exact
    cosine re-scoring within candidates (bucket-bounded cost).
    """
    dim_df = embeddings.select(F.size(vec_col).alias("d")).limit(1)
    dim = dim_df.first()["d"]
    hyper = _hyperplane_matrix(
        embeddings.sparkSession, dim, bands, planes_per_band, seed
    )

    cand = _as_double(
        embeddings.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cvec")),
        "cvec",
    )
    q = _as_double(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")),
        "qvec",
    )
    cand_b = _banded_rows(
        cand.select("cand_id", F.col("cvec").alias("v")),
        hyper, bands, planes_per_band, "cand_id",
    )
    q_b = _banded_rows(
        q.select("query_id", F.col("qvec").alias("v")),
        hyper, bands, planes_per_band, "query_id",
    )
    # slim-id candidate pairs, deduped across bands, then one vector re-join
    pairs = (
        q_b.join(cand_b, ["band", "sig"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id")
        .dropDuplicates(["query_id", "cand_id"])
    )
    scored = (
        pairs.join(q.select("query_id", "qvec"), "query_id")
        .join(cand.select("cand_id", "cvec"), "cand_id")
        .select(
            "query_id",
            "cand_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def neardup_band_params(threshold: float, miss_prob: float = 1e-6):
    """(bands, planes_per_band) so a pair at exactly ``threshold`` cosine is
    missed with probability ≤ ``miss_prob``.

    Random-hyperplane bit agreement probability p = 1 − arccos(c)/π; a pair
    collides in one band of r planes w.p. p^r, so miss = (1−p^r)^bands.
    r grows with the threshold (tighter thresholds → smaller, more selective
    buckets); bands = ceil(ln miss_prob / ln(1−p^r)).
    """
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    r = max(2, int(math.pi / math.acos(max(-1.0, min(1.0, threshold)))))
    bands = max(1, math.ceil(math.log(miss_prob) / math.log(1.0 - p**r)))
    return bands, r


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int | None = None,
    planes_per_band: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate pairs — ``(id_a, id_b, cosine)``, a < b.

    Scale path: hyperplane-LSH band buckets generate the candidate pairs
    (cost = Σ_bucket |bucket|², never corpus²), then candidates are
    re-scored with EXACT cosine and filtered at ``threshold`` — so every
    emitted pair is exact; only recall is probabilistic, bounded by
    :func:`neardup_band_params` (default ≤1e-6 miss per threshold-grazing
    pair, exponentially smaller above it).  For a guaranteed-exhaustive
    small-corpus sweep use :func:`cosine_neardup_pairs_brute`.
    """
    if bands is None or planes_per_band is None:
        auto_b, auto_r = neardup_band_params(threshold)
        bands = bands or auto_b
        planes_per_band = planes_per_band or auto_r
    e = _as_double(
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")), "v"
    )
    dim = e.select(F.size("v").alias("d")).limit(1).first()["d"]
    hyper = _hyperplane_matrix(e.sparkSession, dim, bands, planes_per_band, seed)
    # band with IDS ONLY: a low threshold makes buckets fat (few planes per
    # band), so candidate multiplicity across bands is large — carrying the
    # full vectors through the band join would shuffle |candidates|·2·dim
    # floats (measured 60+ GB at 2000×256f/τ=0.35).  Dedup the slim id
    # pairs first, then join the vectors back once for exact rescoring.
    banded = _banded_rows(e, hyper, bands, planes_per_band, "id")
    cand = (
        banded.select(F.col("id").alias("id_a"), "band", "sig")
        .join(banded.select(F.col("id").alias("id_b"), "band", "sig"), ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cosine_neardup_pairs_brute(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs exact near-duplicates — the test oracle for
    :func:`cosine_neardup_pairs`.  O(n²): small corpora only."""
    e = _as_double(
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")), "v"
    )
    a = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# --------------------------------------------------------------------- IVF
def _normalize_rows(m):
    import numpy as np

    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return m / norms


def _assign_cells(df, cents, nprobe: int, id_name: str):
    """``(id, v)`` → ``(id, cell)`` rows, ``nprobe`` per vector: the nearest
    centroids by cosine.  ``cents`` is a small L2-normalised numpy matrix
    captured in the kernel closure (at cluster scale it rides the task
    broadcast, ~n_cells × dim × 8 bytes); the kernel is one Arrow-batched
    matmul per batch — no per-row Python."""
    import pandas as pd

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = _normalize_rows(np.stack(pdf["v"].to_numpy()))
            sims = vecs @ cents.T  # (batch, n_cells)
            p = min(nprobe, sims.shape[1])
            top = np.argpartition(-sims, p - 1, axis=1)[:, :p]
            ids = np.repeat(pdf[id_name].to_numpy(), p)
            yield pd.DataFrame({id_name: ids, "cell": top.ravel()})

    return df.mapInPandas(kernel, f"{id_name} long, cell int")


def train_ivf_centroids(
    embeddings,
    n_cells: int,
    train_iters: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic IVF codebook: seed centroids are the ``n_cells``
    vectors with the smallest ``xxhash64(id, seed)`` (a seeded sample with
    no driver randomness), refined by ``train_iters`` Lloyd steps — assign
    (distributed matmul kernel) then per-cell mean (one hash aggregate via
    ``posexplode``; the collected update is n_cells × dim, driver-tiny).
    Returns an L2-normalised numpy matrix."""
    import numpy as np

    e = _as_double(
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")), "v"
    )
    seed_rows = (
        e.withColumn("h", F.xxhash64(F.col("id"), F.lit(seed)))
        .orderBy("h", "id")
        .limit(n_cells)
        .select("v")
        .collect()
    )
    cents = _normalize_rows(np.stack([r["v"] for r in seed_rows]))
    for _ in range(train_iters):
        assigned = _assign_cells(e, cents, 1, "id").join(e, "id")
        means = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = cents.copy()  # cells that lost every member keep their centroid
        for r in means:
            new[r["cell"], r["pos"]] = r["m"]
        cents = _normalize_rows(new)
    return cents


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int | None = None,
    nprobe: int = 4,
    train_iters: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k cosine neighbours via an IVF index — the classic
    scale path when hyperplane-LSH recall is data-hostile (clustered
    corpora): candidates = vectors in the query's ``nprobe`` nearest cells,
    re-scored exactly.  Output matches :func:`cosine_topk`'s shape
    ``(query_id, cand_id, cosine, rank)``; recall is tuned by
    ``nprobe/n_cells`` (cost ≈ corpus · nprobe / n_cells per query batch,
    never corpus²)."""
    e = _as_double(
        embeddings.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cvec")),
        "cvec",
    )
    if n_cells is None:
        n = e.count()
        n_cells = max(2, int(n**0.5 / 2))
    cents = train_ivf_centroids(
        embeddings, n_cells, train_iters, seed, id_col, vec_col
    )
    cand_cells = _assign_cells(
        e.select(F.col("cand_id"), F.col("cvec").alias("v")), cents, 1, "cand_id"
    )
    q = _as_double(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")),
        "qvec",
    )
    q_cells = _assign_cells(
        q.select("query_id", F.col("qvec").alias("v")), cents, nprobe, "query_id"
    )
    pairs = (
        q_cells.join(cand_cells, "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id")
        .dropDuplicates(["query_id", "cand_id"])
        .join(q, "query_id")
        .join(e, "cand_id")
    )
    scored = pairs.select(
        "query_id",
        "cand_id",
        F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk_exact(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int | None = None,
    nprobe: int = 4,
    train_iters: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT top-k cosine neighbours with IVF cost — provably identical to
    :func:`cosine_topk` (same ``(query_id, cand_id, cosine, rank)`` rows,
    same ``(round(cos,6) desc, cand_id)`` tie-break) without the
    |queries|×|corpus| crossJoin.

    Two-pass bound-pruned IVF (the FAISS/ScaNN exact-IVF recipe):

    1. Partition the corpus into ``n_cells`` cells; record each cell's
       angular radius ``r_i = max_{v∈cell} angle(v, c_i)``.
    2. Pass 1 probes each query's ``nprobe`` best cells (by the cell
       upper bound) and takes the pool's kth-best cosine ``t_q``.
    3. Pass 2 probes only the remaining cells whose triangle-inequality
       upper bound ``cos(max(0, angle(q,c_i) − r_i)) ≥ t_q − 1e-6`` —
       for any unseen ``v`` in cell i, ``angle(q,v) ≥ angle(q,c_i) −
       r_i``, so no candidate that could enter the rounded top-k (which
       needs true cosine ≥ kth − 1e-6) is ever pruned; the 1e-6 margin
       also swallows acos/cos float slack and round-to-6dp ties.

    Expected cost: corpus·nprobe/n_cells in pass 1; pass 2 is empty for
    well-separated queries and grows only when the bound says the answer
    might live elsewhere — the worst case degrades to exact brute force,
    never to a wrong answer.  All the per-query logic is declarative
    (two window ranks, broadcast cell tables); the only driver work is
    centroid training (n_cells × dim floats)."""
    e = _as_double(
        embeddings.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cvec")),
        "cvec",
    )
    if n_cells is None:
        n = e.count()
        n_cells = max(2, int(n**0.5 / 2))
    cents = train_ivf_centroids(
        embeddings, n_cells, train_iters, seed, id_col, vec_col
    )
    spark = embeddings.sparkSession
    cells_df = spark.createDataFrame(
        [(int(i), [float(x) for x in cents[i]]) for i in range(len(cents))],
        "cell int, cent array<double>",
    )
    cand = (
        _assign_cells(
            e.select("cand_id", F.col("cvec").alias("v")), cents, 1, "cand_id"
        )
        .join(e, "cand_id")
        .persist()
    )
    # angular radius per cell (+1e-9 float-slack headroom on the acos)
    clamp = lambda c: F.greatest(F.lit(-1.0), F.least(F.lit(1.0), c))
    radii = (
        cand.join(F.broadcast(cells_df), "cell")
        .select("cell", F.acos(clamp(cosine(F.col("cvec"), F.col("cent")))).alias("a"))
        .groupBy("cell")
        .agg((F.max("a") + F.lit(1e-9)).alias("radius"))
    )
    q = _as_double(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")),
        "qvec",
    )
    # per (query, cell): true-cosine upper bound for anything in the cell
    qc = (
        q.crossJoin(F.broadcast(cells_df.join(radii, "cell")))
        .select(
            "query_id",
            "cell",
            F.cos(
                F.greatest(
                    F.lit(0.0),
                    F.acos(clamp(cosine(F.col("qvec"), F.col("cent"))))
                    - F.col("radius"),
                )
            ).alias("ub"),
        )
        .withColumn(
            "probe_rank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.desc("ub"), F.asc("cell"))
            ),
        )
        .persist()
    )

    def _score(cell_sel):
        return (
            cell_sel.join(cand, "cell")
            .filter(F.col("query_id") != F.col("cand_id"))
            .join(q, "query_id")
            .select(
                "query_id",
                "cand_id",
                cosine(F.col("qvec"), F.col("cvec")).alias("cos_raw"),
            )
        )

    pass1 = _score(
        qc.filter(F.col("probe_rank") <= nprobe).select("query_id", "cell")
    ).persist()
    w_raw = W.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("cand_id"))
    thresholds = (
        pass1.withColumn("r", F.row_number().over(w_raw))
        .groupBy("query_id")
        .agg(
            F.when(F.count("*") >= k, F.min(F.when(F.col("r") <= k, F.col("cos_raw"))))
            .otherwise(F.lit(-1.0))
            .alias("t")
        )
    )
    # LEFT join: a query whose pass-1 pool was empty (its probed cell held
    # only itself) has no threshold row and must probe everything (t = -1)
    pass2_cells = (
        qc.filter(F.col("probe_rank") > nprobe)
        .join(thresholds, "query_id", "left")
        .filter(F.col("ub") >= F.coalesce(F.col("t"), F.lit(-1.0)) - F.lit(1e-6))
        .select("query_id", "cell")
    )
    scored = pass1.unionByName(_score(pass2_cells)).select(
        "query_id", "cand_id", F.round(F.col("cos_raw"), 6).alias("cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .localCheckpoint()  # eager: k rows/query — then release the caches
    )
    for cached in (pass1, qc, cand):
        cached.unpersist()
    return out


def _assign_clusters(df, cents, id_name: str):
    """``(id, v)`` → ``(id, cluster)``: nearest centroid by cosine, with the
    dot product **rounded to 9 decimals** before the argmax and ties broken
    by the smallest centroid index.  The rounding makes the assignment
    reproducible across summation orders (numpy matmul here, sequential
    ``list_dot_product`` in the DuckDB oracle, shuffled partials in the
    centroid means) — the discrete argmax is then engine-independent.
    One Arrow-batched matmul per batch; ``cents`` rides the task closure
    (k × dim × 8 bytes)."""
    import pandas as pd

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = _normalize_rows(np.stack(pdf["v"].to_numpy()))
            sims = np.round(vecs @ cents.T, 9)  # (batch, k)
            # np.argmax returns the FIRST maximal index == min-index tiebreak
            yield pd.DataFrame(
                {id_name: pdf[id_name].to_numpy(), "cluster": np.argmax(sims, axis=1)}
            )

    return df.mapInPandas(kernel, f"{id_name} long, cluster int")


def kmeans_centroids(
    embeddings: DataFrame,
    k: int,
    iters: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic spherical k-means codebook (Lloyd over cosine).

    Seeds are the ``k`` vectors with the smallest ``md5("kmeans{seed}:id")``
    — a seeded, driver-randomness-free sample that an ANSI-SQL oracle can
    replicate bit-for-bit (unlike xxhash64, md5 is identical in every
    engine); centroid index = rank in ``(hash, id)`` order.  Each Lloyd
    step: distributed Arrow-matmul assignment (round-9 argmax, see
    :func:`_assign_clusters`), then per-cluster mean via one ``posexplode``
    hash aggregate (map-side combine; the collected update is k × dim,
    driver-tiny), re-normalised; clusters that lose every member keep their
    centroid.  At 100 TB the corpus is never collected — only the k × dim
    codebook moves through the driver, once per iteration.

    Returns an L2-normalised ``k × dim`` numpy matrix.
    """
    import numpy as np

    from linkgraph.pipeline.sampling import hash_key

    e = _as_double(
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")), "v"
    )
    seed_rows = (
        e.withColumn("h", hash_key(F.col("id"), f"kmeans{seed}"))
        .orderBy("h", "id")
        .limit(k)
        .select("v")
        .collect()
    )
    cents = _normalize_rows(np.stack([r["v"] for r in seed_rows]))
    for _ in range(iters):
        assigned = _assign_clusters(e, cents, "id").join(e, "id")
        means = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = cents.copy()  # empty clusters keep their centroid
        touched = sorted({r["cluster"] for r in means})
        for r in means:
            new[r["cluster"], r["pos"]] = r["m"]
        cents = cents.copy()
        upd = _normalize_rows(new)
        for c in touched:
            cents[c] = upd[c]
    return cents


def kmeans(
    embeddings: DataFrame,
    k: int,
    iters: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means cluster assignments — ``(id_col, cluster)``.

    The first-class clustering op the IVF index trains internally
    (:func:`train_ivf_centroids`), exposed with a deterministic md5-seeded
    init so results are reproducible across engines and partitionings.
    Output is the argmax-cosine assignment against the codebook after
    ``iters`` Lloyd updates.
    """
    cents = kmeans_centroids(embeddings, k, iters, seed, id_col, vec_col)
    e = _as_double(
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")), "v"
    )
    return _assign_clusters(e, cents, "id").select(
        F.col("id").alias(id_col), "cluster"
    )


def semantic_dedup(
    embeddings: DataFrame,
    k_clusters: int = 10,
    threshold: float = 0.9,
    iters: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023) —
    ``(id_col, cluster, dup_of, keep)``.

    Cluster the corpus with deterministic spherical k-means
    (:func:`kmeans`), then compare vectors ONLY within their cluster:
    a vector is a duplicate (``keep = false``) iff some LOWER-id vector
    in the same cluster has round-6 cosine ≥ ``threshold``; ``dup_of``
    is the smallest such id (null for keepers).  The single-pass
    dominator rule (drop if ANY lower id is close, kept or not) is
    deterministic and needs no fixpoint — slightly more aggressive than
    a sequential greedy sweep, documented contract.  Cross-cluster
    near-dups are missed by design: that is SemDeDup's approximation,
    bounded by k-means quality.

    Scale shape: the quadratic compare is confined to cells —
    Σ|cell|² pairs instead of |corpus|² (choose ``k_clusters`` ≈
    corpus/expected-cell so cells fit an executor); one cluster-keyed
    self-join carries each vector once (dim × 8 bytes per row), the
    cosine is a sequential JVM expression (whole-stage codegen, engine-
    reproducible at round 6 — same discipline as :func:`cosine_topk`),
    and the dup aggregate is a map-side-combining min.
    """
    assign = kmeans(embeddings, k_clusters, iters, seed, id_col, vec_col)
    e = _as_double(
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")), "v"
    )
    withv = assign.withColumnRenamed(id_col, "id").join(e, "id")
    a = withv.select(
        "cluster", F.col("id").alias("ida"), F.col("v").alias("va")
    )
    b = withv.select(
        "cluster", F.col("id").alias("idb"), F.col("v").alias("vb")
    )
    dup = (
        a.join(b, "cluster")
        .filter(F.col("idb") < F.col("ida"))
        .filter(
            F.round(cosine(F.col("va"), F.col("vb")), 6) >= F.lit(threshold)
        )
        .groupBy("ida")
        .agg(F.min("idb").alias("dup_of"))
        .withColumnRenamed("ida", "id")
    )
    return (
        assign.withColumnRenamed(id_col, "id")
        .join(dup, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cluster",
            "dup_of",
            F.col("dup_of").isNull().alias("keep"),
        )
    )


def knn_components(
    embeddings: DataFrame,
    k: int = 5,
    queries: DataFrame | None = None,
    pairs: DataFrame | None = None,
    min_cosine: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Connected components of the k-nearest-neighbour graph —
    ``(id_col, component, component_size)``.

    The vector-side twin of :func:`~linkgraph.pipeline.dedup.near_dup_clusters`:
    build the kNN graph (an undirected edge per (query, neighbour) pair),
    then run the engine's distributed min-label WCC superstep over it.
    Classic corpus-structure primitive: semantic dedup groups, topic
    islands, weak cluster discovery without choosing k.

    ``pairs`` defaults to exact :func:`cosine_topk` (the correctness
    baseline — quadratic, fine for candidate buckets / test scale); pass
    :func:`ivf_topk` or :func:`lsh_topk` output for the 100 TB path —
    anything with ``(query_id, cand_id)`` columns works.  ``min_cosine``
    drops kNN edges below a similarity floor (the SemDeDup-style knob that
    keeps a dense corpus from collapsing into one giant component; applies
    to the default pairs, which carry a round-6 ``cosine`` column).
    Component labels are min vector ids, so the output is stable across
    partitionings; singletons keep their own id.
    """
    from linkgraph.algorithms import weakly_connected_components
    from linkgraph.graph import LinkGraph

    if pairs is None:
        pairs = cosine_topk(
            embeddings,
            queries if queries is not None else embeddings,
            k=k,
            id_col=id_col,
            vec_col=vec_col,
        )
        if min_cosine is not None:
            pairs = pairs.filter(F.col("cosine") >= min_cosine)
    edges = (
        pairs.select(
            F.col("query_id").cast("string").alias("src"),
            F.col("cand_id").cast("string").alias("dst"),
        )
        .unionByName(
            embeddings.select(
                F.col(id_col).cast("string").alias("src"),
                F.col(id_col).cast("string").alias("dst"),
            )
        )
        .withColumn("time", F.lit(0).cast("long"))
    )
    comp = weakly_connected_components(LinkGraph(edges)).select(
        F.col("id").alias(id_col), F.col("component")
    )
    sizes = comp.groupBy("component").agg(F.count("*").alias("component_size"))
    return comp.join(sizes, "component").select(id_col, "component", "component_size")


def hard_negatives(
    embeddings: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_pairs: int | None = 100_000_000,
) -> DataFrame:
    """Contrastive hard-negative mining — per anchor, the top-``k`` most
    cosine-similar vectors with a DIFFERENT label: ``(query_id,
    query_label, cand_id, cand_label, cosine, rank)``.

    The training-pair miner for contrastive/embedding fine-tuning
    (similar-but-wrong examples are the informative negatives).  Exact
    baseline semantics mirror :func:`cosine_topk` (crossJoin guarded by
    ``max_pairs``, ties on candidate id); at scale generate candidates
    with :func:`ivf_topk`/:func:`lsh_topk` first and label-filter those
    pairs instead — the rank-after-filter semantics here stay the recall
    oracle.
    """
    if max_pairs is not None:
        n_pairs = anchors.count() * embeddings.count()
        if n_pairs > max_pairs:
            raise ValueError(
                f"hard_negatives is the exact O(|anchors|x|corpus|) "
                f"baseline: {n_pairs:,} pairs exceeds max_pairs="
                f"{max_pairs:,}; mine candidates with ivf_topk/lsh_topk "
                f"and label-filter, or pass max_pairs=None to force"
            )
    cand = _as_double(
        embeddings.select(
            F.col(id_col).alias("cand_id"),
            F.col(label_col).alias("cand_label"),
            F.col(vec_col).alias("cvec"),
        ),
        "cvec",
    )
    q = _as_double(
        anchors.select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("query_label"),
            F.col(vec_col).alias("qvec"),
        ),
        "qvec",
    )
    scored = (
        q.crossJoin(cand)
        .filter(F.col("query_label") != F.col("cand_label"))
        .select(
            "query_id",
            "query_label",
            "cand_id",
            "cand_label",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _l2(a, b) -> Column:
    """Euclidean distance between two double arrays (left-fold sum of
    squared differences, then IEEE sqrt — same accumulation order DuckDB's
    ``list_distance`` uses, so round-6 values replay across engines)."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def pq_codes(
    embeddings: DataFrame,
    m: int = 4,
    codebook_size: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization code assignment — ``(vec_id, subspace, code,
    dist6)``: each vector is split into ``m`` contiguous subvectors and
    every subvector is assigned the id of its nearest codeword (round-6
    Euclidean, lowest code on ties) from that subspace's codebook.

    PQ (Jégou et al., PAMI 2011) is the memory side of the ANN stack the
    IVF queries cover: an ``m``-byte code replaces a ``dim``-float vector
    (here 64 floats -> 4 codes, 64x), and asymmetric distance scans run
    on codes alone.  The codebook is DETERMINISTIC — subvectors of the
    ``codebook_size`` lowest-id corpus vectors (codeword ``j`` = rank-j
    id) — keeping the whole readout engine-exact; swapping in Lloyd-
    refined centroids (:func:`train_ivf_centroids` per subspace) changes
    only the codebook CTE, not the assignment plan.

    Scale shape: the codebook is ``m x codebook_size`` rows — broadcast;
    assignment is one map-side join + a per-(vector, subspace) top-1
    window over ``codebook_size`` candidates.  Corpus rows ride the plan
    exactly once; nothing is quadratic in the corpus.
    """
    dim_row = embeddings.select(F.size(vec_col).alias("d")).limit(1).first()
    if dim_row is None:
        return embeddings.sparkSession.createDataFrame(
            [], "vec_id long, subspace int, code long, dist6 double"
        )
    dim = int(dim_row["d"])
    if dim % int(m) != 0:
        raise ValueError(f"pq_codes: dim {dim} not divisible by m={m}")
    sub_len = dim // int(m)
    e = _as_double(
        embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")),
        "v",
    )
    subs = e.select(
        "vec_id",
        F.inline(
            F.transform(
                F.sequence(F.lit(0), F.lit(int(m) - 1)),
                lambda j: F.struct(
                    j.cast("int").alias("subspace"),
                    F.slice("v", j * sub_len + 1, sub_len).alias("sv"),
                ),
            )
        ),
    )
    ranked_ids = (
        e.orderBy("vec_id").limit(int(codebook_size)).orderBy("vec_id")
    )
    codebook = ranked_ids.select(
        F.row_number().over(W.orderBy("vec_id")).alias("rk"), "v"
    ).select(
        (F.col("rk") - 1).cast("int").alias("code"),
        F.inline(
            F.transform(
                F.sequence(F.lit(0), F.lit(int(m) - 1)),
                lambda j: F.struct(
                    j.cast("int").alias("subspace"),
                    F.slice("v", j * sub_len + 1, sub_len).alias("cv"),
                ),
            )
        ),
    )
    scored = subs.join(F.broadcast(codebook), "subspace").select(
        "vec_id",
        "subspace",
        "code",
        F.round(_l2(F.col("sv"), F.col("cv")), 6).alias("dist6"),
    )
    w = W.partitionBy("vec_id", "subspace").orderBy(
        F.asc("dist6"), F.asc("code")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "subspace", F.col("code").cast("long").alias("code"), "dist6")
    )


def matryoshka_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    dims: tuple = (8, 16, 32),
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka prefix-dimension retrieval evaluation (Kusupati et al.,
    NeurIPS 2022) — one row per prefix length: ``(dim, n_queries,
    hits, recall_ppm)``: top-``k`` by cosine over the first ``dim``
    coordinates, scored against the full-dimension exact top-``k``.

    The go/no-go readout for the standard embedding-cost lever: if an
    8- or 16-prefix already recovers most full-dim neighbours, ANN scans
    can run on the prefix (dim/64 of the bytes and FLOPs) and re-rank the
    shortlist at full width.  Each prefix evaluation is a
    :func:`cosine_topk` over SLICED columns — the slice happens in the
    scan projection, so the prefix pass genuinely reads/ships fewer
    bytes; the final readout is one join + one aggregate per dim
    (|dims| is a small query constant).
    """
    spark = embeddings.sparkSession
    full = cosine_topk(embeddings, queries, k=k, id_col=id_col, vec_col=vec_col)
    full_pairs = full.select("query_id", "cand_id").persist()
    n_q = queries.count()
    denom = max(n_q * k, 1)
    rows = []
    for d in dims:
        pref_e = embeddings.select(
            F.col(id_col), F.slice(vec_col, 1, int(d)).alias(vec_col)
        )
        pref_q = queries.select(
            F.col(id_col), F.slice(vec_col, 1, int(d)).alias(vec_col)
        )
        approx = cosine_topk(
            pref_e, pref_q, k=k, id_col=id_col, vec_col=vec_col
        )
        hits = (
            approx.select("query_id", "cand_id")
            .join(full_pairs, ["query_id", "cand_id"])
            .count()
        )
        rows.append(
            (int(d), int(n_q), int(hits), hits * 1_000_000 // denom)
        )
    full_pairs.unpersist()
    return spark.createDataFrame(
        rows, "dim long, n_queries long, hits long, recall_ppm long"
    )
