"""Dedup / similarity-search pipeline operators vs brute-force oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from linkgraph.pipeline.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    near_dup_clusters,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from linkgraph.pipeline.simsearch import (
    cosine_neardup_pairs,
    cosine_neardup_pairs_brute,
    cosine_topk,
    lsh_topk,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumped over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "sphinx of black quartz judge my vow",
        "how vexingly quick daft zebras jump",
    ]
    rows = []
    for i in range(40):
        t = base[i % len(base)]
        if i >= 20:
            t = t + f" variant {i % 7}"
        rows.append((i, t))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


@pytest.fixture(scope="module")
def vecs(spark):
    # 3 well-separated clusters + noise: realistic near-dup structure
    rng = np.random.RandomState(7)
    centers = rng.randn(3, 16) * 3
    rows = []
    for i in range(90):
        c = centers[i % 3]
        v = c + rng.randn(16) * 0.4
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()


def test_exact_duplicates(docs):
    groups = exact_duplicates(docs).collect()
    assert all(r["n_docs"] > 1 for r in groups)
    # the first 20 docs are 4 copies of each of the 5 base strings
    assert sum(r["n_docs"] for r in groups) >= 20


def test_simhash_pairs_vs_brute(docs):
    fps = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    k = 6
    expected = set()
    ids = sorted(fps)
    for i in ids:
        for j in ids:
            if i < j and bin((fps[i] ^ fps[j]) & ((1 << 64) - 1)).count("1") <= k:
                expected.add((i, j, bin((fps[i] ^ fps[j]) & ((1 << 64) - 1)).count("1")))
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs(docs, max_distance=k).collect()
    }
    # pigeonhole banding is EXACT: guaranteed recall + exact rescoring
    assert got == expected
    assert len(expected) > 0


def test_neardup_lsh_vs_brute(vecs):
    thr = 0.5
    brute = {
        (r["id_a"], r["id_b"]) for r in cosine_neardup_pairs_brute(vecs, thr).collect()
    }
    lsh = {(r["id_a"], r["id_b"]) for r in cosine_neardup_pairs(vecs, thr).collect()}
    assert len(brute) > 50
    # precision is exact by construction; recall bounded at 1e-6/pair
    assert lsh == brute


def test_neardup_no_crossjoin_plan(vecs):
    plan = cosine_neardup_pairs(vecs, 0.5)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_lsh_topk_reasonable(vecs):
    q = vecs.filter(F.col("vec_id") < 6)
    exact = {
        (r["query_id"], r["rank"]): r["cand_id"]
        for r in cosine_topk(vecs, q, k=3).collect()
    }
    approx = {
        (r["query_id"], r["rank"]): r["cand_id"]
        for r in lsh_topk(vecs, q, k=3, planes_per_band=4, bands=8).collect()
    }
    # same-cluster neighbours collide in some band with these params;
    # demand ≥80% agreement on rank-1
    hits = sum(
        1 for (qid, rk), c in exact.items() if rk == 1 and approx.get((qid, rk)) == c
    )
    assert hits >= 5


def test_minhash_lsh_finds_near_duplicates(docs):
    pairs = minhash_lsh_pairs(docs, threshold=0.8).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    # doc 0 and doc 5 are identical copies of base[0]
    assert (0, 5) in found
    est = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in pairs}
    assert est[(0, 5)] == 1.0


def test_ngram_jaccard_exact(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.99).collect()
    }
    assert pairs[(0, 5)] == 1.0


def test_ivf_topk_recall(vecs):
    from linkgraph.pipeline.simsearch import ivf_topk

    q = vecs.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["cand_id"])
        for r in cosine_topk(vecs, q, k=3).collect()
    }
    approx_rows = ivf_topk(vecs, q, k=3, n_cells=6, nprobe=2).collect()
    approx = {(r["query_id"], r["cand_id"]) for r in approx_rows}
    # 3 well-separated clusters, 6 cells, 2 probes: same-cluster neighbours
    # land in the probed cells — demand >=80% recall of the exact top-3
    assert len(approx_rows) == 30  # k rows per query
    assert len(exact & approx) >= 24


def test_ivf_topk_exact_equals_brute(vecs):
    """ivf_topk_exact must reproduce cosine_topk row-for-row (scores,
    ranks, tie-breaks) — the exactness guarantee is the whole point.
    Stress the bound: tiny nprobe (1) forces pass 2 to do the work."""
    from linkgraph.pipeline.simsearch import ivf_topk_exact

    q = vecs.filter(F.col("vec_id") % 7 == 0)
    brute = cosine_topk(vecs, q, k=4)
    for nprobe in (1, 3):
        fast = ivf_topk_exact(vecs, q, k=4, n_cells=6, nprobe=nprobe)
        assert fast.exceptAll(brute).count() == 0
        assert brute.exceptAll(fast).count() == 0


def test_ivf_topk_exact_releases_caches(vecs, spark):
    """The exact-IVF query function must not leak executor storage: after
    the call returns, only the (eager, small) localCheckpoint of the
    result may remain cached."""
    from linkgraph.pipeline.simsearch import ivf_topk_exact

    q = vecs.filter(F.col("vec_id") < 4)
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    out = ivf_topk_exact(vecs, q, k=3, n_cells=6, nprobe=2)
    assert out.count() > 0
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after <= before + 1  # the checkpointed result itself


def test_ivf_scores_are_exact_cosines(vecs):
    from linkgraph.pipeline.simsearch import ivf_topk

    q = vecs.filter(F.col("vec_id") == 0)
    exact = {
        r["cand_id"]: r["cosine"] for r in cosine_topk(vecs, q, k=30).collect()
    }
    for r in ivf_topk(vecs, q, k=5, n_cells=6, nprobe=3).collect():
        assert exact[r["cand_id"]] == r["cosine"]


def _brute_clusters(pairs, all_ids):
    """Python union-find oracle: min-id component labels over the pair graph."""
    parent = {i: i for i in all_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # fully collapse, then label by the component's min id (roots are mins
    # because we always attach the larger root under the smaller)
    return {i: find(i) for i in all_ids}


def test_near_dup_clusters_matches_union_find(docs):
    pairs_df = ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    pairs = [(r["doc_a"], r["doc_b"]) for r in pairs_df.collect()]
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    expect = _brute_clusters(pairs, ids)

    out = near_dup_clusters(docs, n=3, threshold=0.5).collect()
    assert len(out) == len(ids)
    got = {r["doc_id"]: r["cluster_id"] for r in out}
    assert got == expect
    # canonical: keep iff doc_id == cluster_id, exactly one per cluster
    for r in out:
        assert r["keep"] == (r["doc_id"] == r["cluster_id"])
    sizes = {}
    for r in out:
        sizes[r["cluster_id"]] = sizes.get(r["cluster_id"], 0) + 1
    for r in out:
        assert r["cluster_size"] == sizes[r["cluster_id"]]


def test_near_dup_clusters_accepts_external_pairs(spark, docs):
    """The approximate scale path: feed minhash-LSH candidate pairs in;
    singletons (docs in no pair) must still come out as their own cluster."""
    pairs = minhash_lsh_pairs(docs, n=3, threshold=0.9)
    out = near_dup_clusters(docs, pairs=pairs).collect()
    assert len(out) == docs.count()
    singles = [r for r in out if r["cluster_size"] == 1]
    for r in singles:
        assert r["keep"] and r["cluster_id"] == r["doc_id"]


def _md5_rank_seeds(ids_vecs, k, seed=42):
    """Replicate kmeans' md5 seeding: k rows with smallest (hash, id)."""
    import hashlib

    def h(i):
        return int(hashlib.md5(f"kmeans{seed}:{i}".encode()).hexdigest()[:15], 16)

    ranked = sorted(ids_vecs, key=lambda t: (h(t[0]), t[0]))
    return np.stack([v for _, v in ranked[:k]])


def _np_kmeans(ids_vecs, k, iters, seed=42):
    """Driver-side numpy replica of simsearch.kmeans (spherical Lloyd,
    round-9 argmax, min-index ties, empty clusters keep centroids)."""

    def nrm(m):
        n = np.linalg.norm(m, axis=1, keepdims=True)
        n[n == 0.0] = 1.0
        return m / n

    ids = np.array([i for i, _ in ids_vecs])
    pts = nrm(np.stack([v for _, v in ids_vecs]).astype(np.float64))
    cents = nrm(_md5_rank_seeds(list(zip(ids, pts)), k, seed))
    for _ in range(iters):
        a = np.argmax(np.round(pts @ cents.T, 9), axis=1)
        new = cents.copy()
        for c in range(k):
            members = pts[a == c]
            if len(members):
                new[c] = members.mean(axis=0)
        cents = nrm(new)
    final = np.argmax(np.round(pts @ cents.T, 9), axis=1)
    return dict(zip(ids.tolist(), final.tolist()))


def test_kmeans_matches_numpy_lloyd(vecs):
    from linkgraph.pipeline.simsearch import kmeans

    ids_vecs = [
        (r["vec_id"], np.array(r["embedding"])) for r in vecs.collect()
    ]
    expect = _np_kmeans(ids_vecs, k=3, iters=3)
    got = {r["vec_id"]: r["cluster"] for r in kmeans(vecs, 3, iters=3).collect()}
    assert got == expect


def test_kmeans_recovers_planted_clusters(vecs):
    """3 well-separated planted clusters (vec_id % 3) must map 1:1 onto the
    3 kmeans clusters."""
    from linkgraph.pipeline.simsearch import kmeans

    out = kmeans(vecs, 3, iters=4).collect()
    assert len(out) == 90
    planted_to_km = {}
    for r in out:
        planted_to_km.setdefault(r["vec_id"] % 3, set()).add(r["cluster"])
    assert all(len(s) == 1 for s in planted_to_km.values())
    assert len(set.union(*planted_to_km.values())) == 3


def test_knn_components_matches_union_find(vecs):
    from linkgraph.pipeline.simsearch import knn_components

    rows = [(r["vec_id"], np.array(r["embedding"])) for r in vecs.collect()]
    ids = [i for i, _ in rows]
    m = np.stack([v for _, v in rows])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = np.round(m @ m.T, 6)
    pairs = []
    for qi, q in enumerate(ids):
        order = sorted(
            (c for ci, c in enumerate(ids) if ci != qi),
            key=lambda c: (-sims[qi, ids.index(c)], c),
        )
        pairs.extend((q, c) for c in order[:3])
    expect = _brute_clusters(pairs, ids)

    out = knn_components(vecs, k=3).collect()
    assert len(out) == len(ids)
    got = {r["vec_id"]: r["component"] for r in out}
    assert {k: int(v) for k, v in got.items()} == expect
    sizes = {}
    for r in out:
        sizes[r["component"]] = sizes.get(r["component"], 0) + 1
    for r in out:
        assert r["component_size"] == sizes[r["component"]]


def test_knn_components_min_cosine_fragments(vecs):
    """A similarity floor must split the planted-cluster corpus into MORE
    components than the unfloored kNN graph, never merge any: every floored
    component must be a subset of an unfloored one."""
    from linkgraph.pipeline.simsearch import knn_components

    free = {r["vec_id"]: r["component"] for r in knn_components(vecs, k=3).collect()}
    floored = {
        r["vec_id"]: r["component"]
        for r in knn_components(vecs, k=3, min_cosine=0.9).collect()
    }
    assert len(set(floored.values())) >= len(set(free.values()))
    # refinement: same floored component => same free component
    by_floor = {}
    for vid, comp in floored.items():
        by_floor.setdefault(comp, set()).add(free[vid])
    assert all(len(s) == 1 for s in by_floor.values())


# ------------------------------------------------ cross-doc line dedup


def test_line_dedup_removes_cross_doc_lines_only(spark):
    from linkgraph.pipeline.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (0, "keep me zero\nSHARED BOILERPLATE\nunique tail zero"),
            (1, "keep me one\nshared boilerplate\nanother tail"),
            # repeated WITHIN one doc only -> kept (min_docs counts docs)
            (2, "twice\ntwice\nunique two"),
            (3, "all original\nlines here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    # normalisation: lower(trim) matches across case
    assert out[0]["removed_units"] == 1 and out[1]["removed_units"] == 1
    assert out[2]["removed_units"] == 0
    assert out[3]["removed_units"] == 0
    assert out[0]["n_units"] == 3
    # digest equals md5 of the kept lines joined by newline
    import hashlib

    expect = hashlib.md5(
        "keep me zero\nunique tail zero".encode()
    ).hexdigest()
    assert out[0]["clean_md5"] == expect
    assert out[0]["clean_chars"] == len("keep me zero\nunique tail zero")


def test_line_dedup_empty_lines_never_removed(spark):
    from linkgraph.pipeline.dedup import line_dedup

    docs = spark.createDataFrame(
        [(0, "a\n\nb"), (1, "c\n\nd"), (2, "e\n \nf")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    # the blank line appears in all docs but is exempt
    assert all(r["removed_units"] == 0 for r in out.values())
    assert out[0]["n_units"] == 3


def test_line_dedup_word_segments(spark):
    from linkgraph.pipeline.dedup import line_dedup

    shared = "one two three four five"
    docs = spark.createDataFrame(
        [
            (0, shared + " alpha beta gamma delta eps"),
            (1, shared + " zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in line_dedup(docs, seg_words=5).collect()
    }
    # first 5-word segment is shared -> removed from both; second unique
    for r in out.values():
        assert r["n_units"] == 2
        assert r["removed_units"] == 1


def test_funnel_counts_strict_order(spark):
    import datetime as dt

    from linkgraph.pipeline.analytics import funnel_counts

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # u1 completes A -> B -> C in order
        (0, T(0), 1, "A", 0.0, "{}"), (1, T(1), 1, "B", 0.0, "{}"),
        (2, T(2), 1, "C", 0.0, "{}"),
        # u2 does B before A: stage B must use a B AFTER the first A
        (3, T(5), 2, "B", 0.0, "{}"), (4, T(6), 2, "A", 0.0, "{}"),
        (5, T(7), 2, "B", 0.0, "{}"),
        # u3 only A
        (6, T(9), 3, "A", 0.0, "{}"),
        # u4: A and B at the SAME instant -> strict order rejects B
        (7, T(10), 4, "A", 0.0, "{}"), (8, T(10), 4, "B", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    got = {r["step"]: r for r in funnel_counts(ev, ["A", "B", "C"]).collect()}
    assert got["A"]["n_users"] == 4
    assert got["B"]["n_users"] == 2          # u1 and u2 (via the later B)
    assert got["C"]["n_users"] == 1
    assert got["B"]["conv_prev_ppm"] == 500_000
    assert got["C"]["conv_first_ppm"] == 250_000


def test_retention_cohorts_hand(spark):
    import datetime as dt

    from linkgraph.pipeline.analytics import retention_cohorts

    H = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    rows = [
        # u1 first hour 0, active hours 0,1,3; u2 first hour 0, active 0,1
        (0, H(0), 1, "x", 0.0, "{}"), (1, H(1, 5), 1, "x", 0.0, "{}"),
        (2, H(3), 1, "x", 0.0, "{}"),
        (3, H(0, 30), 2, "x", 0.0, "{}"), (4, H(1, 59), 2, "x", 0.0, "{}"),
        # u3 first hour 2 only
        (5, H(2), 3, "x", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    base = int(dt.datetime(2024, 1, 1).replace(
        tzinfo=dt.timezone.utc).timestamp() * 1000) // 3_600_000
    got = {
        (r["cohort"], r["offset"]): r["n_active"]
        for r in retention_cohorts(ev, offsets=[1, 2, 3]).collect()
    }
    assert got[(base, 0)] == 2 and got[(base + 2, 0)] == 1
    assert got[(base, 1)] == 2          # u1, u2 active at hour 1
    assert (base, 2) not in got         # nobody active at hour 2 from cohort 0
    assert got[(base, 3)] == 1          # u1 at hour 3

    # a 0 in offsets must NOT duplicate the base cohort-size rows
    with_zero = retention_cohorts(ev, offsets=[0, 1]).collect()
    keys = [(r["cohort"], r["offset"]) for r in with_zero]
    assert len(keys) == len(set(keys)), "duplicate (cohort, offset) rows"
    z = {
        (r["cohort"], r["offset"]): r["n_active"]
        for r in with_zero
        if r["offset"] == 0
    }
    assert z[(base, 0)] == 2 and z[(base + 2, 0)] == 1


def test_sorted_blocking_pairs_hand(spark):
    from linkgraph.pipeline.dedup import sorted_blocking_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha doc one shared prefix"),
            (2, "alpha doc one shared prefix!"),   # near-dup of 1, same key
            (3, "alpha doc two different tail"),
            (4, "zeta completely elsewhere"),      # other block
        ],
        "doc_id long, text string",
    )
    rows = sorted_blocking_pairs(docs, window=1).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in rows}
    # within the 'al' block sorted by key: 1,2 share the exact key (tie ->
    # doc_id order), 3 sorts adjacent; window=1 pairs (1,2) and (2,3)
    assert set(pairs) == {(1, 2), (2, 3)}
    assert pairs[(1, 2)]["jaccard_ppm"] > 900_000
    assert pairs[(2, 3)]["jaccard_ppm"] < pairs[(1, 2)]["jaccard_ppm"]
    assert all(r["pos_gap"] == 1 for r in rows)


def test_cusum_changepoint_hand(spark):
    """Flat rate 2/hour for 3 hours then 6/hour for 3 hours: the scaled
    CUSUM magnitude peaks exactly at the last pre-shift bucket."""
    import datetime as dt

    from linkgraph.pipeline.analytics import cusum_changepoint

    rows, eid = [], 0
    for h, n in [(0, 2), (1, 2), (2, 2), (3, 6), (4, 6), (5, 6)]:
        for i in range(n):
            rows.append((eid, dt.datetime(2024, 1, 1, h, i), 1, "x", 0.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    out = {r["idx"]: r for r in cusum_changepoint(ev).collect()}
    # T=6, X=24; C = [2,4,6,12,18,24]; S_t = 6*C_t - t*24
    want_s = {1: -12, 2: -24, 3: -36, 4: -24, 5: -12, 6: 0}
    assert {i: out[i]["cusum_scaled"] for i in out} == want_s
    flags = [i for i in out if out[i]["is_changepoint"]]
    assert flags == [3]  # last bucket before the rate shift


def _events_at(spark, times):
    return spark.createDataFrame(
        [(i, t, 1, "x", 0.0, "{}") for i, t in enumerate(times)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def test_cusum_changepoint_empty_input(spark):
    from linkgraph.pipeline.analytics import cusum_changepoint

    out = cusum_changepoint(_events_at(spark, []))
    assert out.collect() == []
    assert out.columns == ["idx", "ws", "n_events", "cusum_scaled", "is_changepoint"]


def test_time_buckets_floor_pre_1970(spark):
    """23:30 on 1969-12-31 lies in hour bucket -1, not 0 (Spark's ``div``
    and a cast after ``/`` both truncate toward zero)."""
    import datetime as dt

    from linkgraph.pipeline.analytics import cusum_changepoint, retention_cohorts

    utc = dt.timezone.utc
    ev = _events_at(spark, [
        dt.datetime(1969, 12, 31, 23, 30, tzinfo=utc),
        dt.datetime(1970, 1, 1, 0, 30, tzinfo=utc),
    ])
    got = sorted((r["ws"], r["n_events"]) for r in cusum_changepoint(ev).collect())
    assert got == [(-3600, 1), (0, 1)]
    cohorts = {
        (r["cohort"], r["offset"]): r["n_active"]
        for r in retention_cohorts(ev, offsets=[1]).collect()
    }
    assert cohorts == {(-1, 0): 1, (-1, 1): 1}


def test_matryoshka_recall_hand(spark, vecs):
    """Full-dim prefix must give perfect recall; a 1-dim prefix on
    16-dim clustered vectors must not (sanity that the metric moves)."""
    from linkgraph.pipeline.simsearch import matryoshka_recall

    q = vecs.filter(F.col("vec_id") < 6)
    out = {r["dim"]: r for r in
           matryoshka_recall(vecs, q, dims=(1, 16), k=3).collect()}
    assert out[16]["recall_ppm"] == 1_000_000      # identity prefix
    assert out[16]["hits"] == 6 * 3
    assert out[1]["recall_ppm"] < 1_000_000        # 1 dim loses neighbours
    assert out[1]["n_queries"] == 6


def test_minhash_calibration_measures_real_bias(spark, docs):
    """The audit's whole point: the top decile (est 1.0) mixes identical
    docs with signature-saturated near-dups, so its mean EXACT Jaccard
    sits measurably below 1.0 — and high-estimate buckets must still be
    genuinely similar (mean_exact well above the 0.3 threshold band)."""
    from linkgraph.pipeline.dedup import minhash_calibration

    out = {r["est_bucket"]: r for r in
           minhash_calibration(docs, n=3, threshold=0.3).collect()}
    assert out, "no candidate pairs on the near-dup fixture"
    top = out[max(out)]
    assert top["mean_est_ppm"] == 1_000_000
    # saturation bias is visible but bounded: these are true near-dups
    assert 700_000 <= top["mean_exact_ppm"] <= 1_000_000
    assert top["mean_exact_ppm"] < 1_000_000  # the bias the audit exists for
    # every decile's mean exact stays within a broad calibration band of
    # its mean estimate (32-hash sd ~90k ppm + saturation skew)
    for b, r in out.items():
        assert abs(r["mean_est_ppm"] - r["mean_exact_ppm"]) <= 300_000, (
            b, r["mean_est_ppm"], r["mean_exact_ppm"],
        )
