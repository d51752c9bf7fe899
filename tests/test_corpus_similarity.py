"""Semantic tests for the approximate ops (the ones without SQL
oracles): MinHash vs exact Jaccard, LSH ANN recall, SimHash locality,
multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_minhash_estimates_jaccard(spark):
    """Planted 80%-truncation pairs: MinHash estimate within 0.25 of the
    exact trigram Jaccard for every recovered pair; recall >= 0.8."""
    from qfilter.corpus import minhash_lsh_dup_pairs, trigram_jaccard_pairs

    exact = {
        (r.id1, r.id2): r.jaccard
        for r in trigram_jaccard_pairs(spark, SF, threshold=0.5).collect()
    }
    est = {
        (r.id1, r.id2): r.est_jaccard
        for r in minhash_lsh_dup_pairs(spark, SF).collect()
    }
    assert exact, "no planted near-dup pairs found"
    hits = set(exact) & set(est)
    recall = len(hits) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall} over {len(exact)} pairs"
    for k in hits:
        assert abs(exact[k] - est[k]) <= 0.25, (k, exact[k], est[k])


def test_simhash_locality(spark):
    """A doc and its 80%-truncated copy have closer simhashes than two
    random docs, on average."""
    from qfilter.corpus import simhash64
    from qfilter.corpus import load, _words

    docs = load(spark, SF, "documents").select("doc_id", "text")
    trunc = docs.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(_words(), 1, F.greatest(F.floor(F.size(_words()) * 0.8), F.lit(1)).cast("int"))
        ).alias("text"),
    )
    import tempfile

    union_path = tempfile.mkdtemp(prefix="simhash_") + "/documents.parquet"
    docs.unionByName(trunc).write.parquet(union_path)
    sh = {r.doc_id: r.simhash for r in simhash64(spark, union_path.rsplit("/", 1)[0]).collect()}

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    ids = sorted(i for i in sh if i < 1_000_000)
    near = [ham(sh[i], sh[i + 1_000_000]) for i in ids if i + 1_000_000 in sh]
    far = [ham(sh[ids[i]], sh[ids[(i + 7) % len(ids)]]) for i in range(len(ids))]
    assert np.mean(near) < np.mean(far) - 5


def test_lsh_ann_recall(spark):
    """LSH ANN recall@5 vs brute force >= 0.35 on random vectors (16
    hyperplanes; random embeddings are the worst case for LSH)."""
    from qfilter.similarity import cosine_topk, lsh_ann_topk

    exact = cosine_topk(spark, SF, k=5).collect()
    approx = lsh_ann_topk(spark, SF, k=5).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r.q, set()).add(r.n)
    got = {}
    for r in approx:
        got.setdefault(r.q, set()).add(r.n)
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    assert np.mean(recalls) >= 0.35, np.mean(recalls)


def test_multimodal_plumbing(spark):
    import __spark_entry__ as E

    # the query wrappers drop the `error` channel column (the oracle
    # compares the feature columns; error rows surface as null rms)
    audio = E.queries()["mm_audio_features"](spark, SF)
    rows = sorted(audio.collect(), key=lambda r: r.audio_id)
    assert len(rows) == 64
    assert all(r.rms is not None and 0.0 < r.rms <= 1.01 for r in rows)
    # square waves (every 3rd id) are louder than their sine siblings
    sq = np.mean([r.rms for i, r in enumerate(rows) if i % 3 == 0])
    sn = np.mean([r.rms for i, r in enumerate(rows) if i % 3 != 0])
    assert sq > sn

    video = E.queries()["mm_video_frames"](spark, SF)
    vrows = video.collect()
    assert len(vrows) == 16 * 4  # 20 frames sampled every 5
    assert all(v.mean_brightness is not None for v in vrows)
    assert all(100 < v.mean_brightness < 155 for v in vrows)  # uniform noise


def test_audio_error_channel(spark):
    from qfilter.multimodal import audio_features

    df = spark.createDataFrame(
        [("bad0", bytearray(b"\x01"), 8000, 1)],
        "audio_id string, pcm binary, sample_rate int, channels int",
    )
    rows = audio_features(df).collect()
    # odd byte count -> frombuffer error -> error channel, no task failure
    assert rows[0].error is not None


def test_cosine_neardup_pairs_nontrivial(spark):
    """Guard against an empty-vs-empty oracle comparison passing
    trivially: the plant guarantees exactly one pair per base vector."""
    from qfilter.similarity import cosine_neardup_pairs

    rows = cosine_neardup_pairs(spark, SF).collect()
    n_vec = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert len(rows) == n_vec
    assert all(r.id2 - r.id1 == 1_000_000 for r in rows)
    assert all(r.cos >= 0.99 for r in rows)


def test_ivf_ann_recall(spark):
    """IVF (nprobe=2 of 16 k-means lists) recall@5 vs brute force —
    random embeddings cluster weakly, so the bound is modest (measured
    0.43); structured corpora do far better."""
    from qfilter.similarity import cosine_topk, ivf_ann_topk

    exact = cosine_topk(spark, SF, k=5).collect()
    approx = ivf_ann_topk(spark, SF, k=5).collect()
    truth, got = {}, {}
    for r in exact:
        truth.setdefault(r.q, set()).add(r.n)
    for r in approx:
        got.setdefault(r.q, set()).add(r.n)
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    assert np.mean(recalls) >= 0.3, np.mean(recalls)


def test_ivf_centroids_deterministic():
    """Same sample -> bit-identical centroids (the broadcastable
    artifact must not depend on run order or batch shape)."""
    from qfilter.similarity import ivf_fit_centroids

    rng = np.random.default_rng(5)
    mat = rng.standard_normal((300, 16))
    c1 = ivf_fit_centroids(mat.copy())
    c2 = ivf_fit_centroids(mat.copy())
    assert np.array_equal(c1, c2)


def test_cosine_topk_refuses_large_input(spark):
    """The brute-force baseline must never run at scale: over max_rows
    it raises and points at the bucketed/LSH/IVF paths."""
    from qfilter.similarity import cosine_topk

    with pytest.raises(ValueError, match="brute-force"):
        cosine_topk(spark, SF, k=5, max_rows=10)


def test_ivf_small_sample_clamps_k():
    """A tiny training sample must clamp k instead of crashing
    rng.choice(replace=False) (ADVICE r01)."""
    from qfilter.similarity import IVF_K, ivf_fit_centroids

    mat = np.random.default_rng(3).standard_normal((IVF_K - 9, 8))
    cents = ivf_fit_centroids(mat)
    assert cents.shape == (IVF_K - 9, 8)


def test_trigram_df_cap_keeps_pairs_linear(spark, tmp_path):
    """Plant one hot shingle across 30% of docs: without the df cap the
    self-join yields O(df^2) pairs; with it, only the planted
    80%-truncation dups survive and the hot shingle adds nothing."""
    from qfilter.corpus import trigram_jaccard_pairs

    n = 100
    rows = []
    for i in range(n):
        uniq = f"u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g u{i}h"
        hot = "one of the " if i < 30 else ""
        rows.append((i, hot + uniq, "en"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    sf = str(tmp_path / "sf_hot")
    docs.write.parquet(f"{sf}/documents.parquet")

    out = trigram_jaccard_pairs(spark, sf, threshold=0.4, df_cap=8).collect()
    # every pair must be a planted (i, i+1e6) truncation dup — the hot
    # shingle (df=60 incl. truncated copies, > cap) creates no pair
    assert out, "planted dups missing"
    for r in out:
        assert r.id2 - r.id1 == 1_000_000, (r.id1, r.id2)


@pytest.mark.parametrize("k", [3, 8, 13])
def test_shingles_word_count_boundary(spark, k):
    """`_shingles` at the k-word boundary: docs of k-1, k and k+1 words
    give 0, 1 and 2 rows (``sequence(0, size - k)`` counts down below
    k, so the short doc must be filtered, not shingled); pos runs
    0..n-1 and h is xxhash64 of the space-joined k words."""
    from qfilter.corpus import _shingles

    sizes = (k - 1, k, k + 1)
    words = {n: [f"w{n}x{i}" for i in range(n)] for n in sizes}
    docs = spark.createDataFrame(
        [(n, words[n]) for n in sizes], "doc_id long, ws array<string>"
    )
    got = {n: [] for n in sizes}
    for r in _shingles(docs, k).collect():
        got[r.doc_id].append((r.pos, r.h))
    for n in sizes:
        grams = [" ".join(words[n][i : i + k]) for i in range(n - k + 1)]
        want = (
            list(spark.range(1).select(*[F.xxhash64(F.lit(g)) for g in grams]).first())
            if grams
            else []
        )
        assert sorted(got[n]) == list(enumerate(want)), (n, got[n])
    assert [len(got[n]) for n in sizes] == [0, 1, 2]


def _cc(edges, driver_edges=None, **cols):
    """``{v: comp}`` from `corpus.connected_components`; ``driver_edges``
    overrides `CC_DRIVER_EDGES` (0 forces the executor path,
    large-star/small-star to its fixpoint)."""
    from qfilter import corpus

    with pytest.MonkeyPatch.context() as m:
        if driver_edges is not None:
            m.setattr(corpus, "CC_DRIVER_EDGES", driver_edges)
        return {r.v: r.comp for r in corpus.connected_components(edges, **cols).collect()}


def _bfs_labels(edges) -> dict:
    """Plain-Python reference: min vertex id per component, by graph
    search from each unvisited vertex in id order."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for s in sorted(adj):
        if s in out:
            continue
        out[s] = s
        todo = [s]
        while todo:
            for y in adj[todo.pop()]:
                if y not in out:
                    out[y] = s
                    todo.append(y)
    return out


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_connected_components_exact(spark):
    """Chain, triangle, isolated pair, and a star: both paths reach the
    exact per-component minimum."""
    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4), (4, 5),     # chain 1-5
            (10, 11), (11, 12), (12, 10),       # triangle
            (20, 21),                           # pair
            (30, 31), (30, 32), (30, 33),       # star centered at 30
        ],
        ["src", "dst"],
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
            10: 10, 11: 10, 12: 10,
            20: 20, 21: 20,
            30: 30, 31: 30, 32: 30, 33: 30}
    assert _cc(edges) == want
    assert _cc(edges, driver_edges=0) == want


def test_neardup_components_cover_pairs(spark):
    """Every thresholded near-dup pair lands in one component, and the
    component id is a member of the cluster."""
    from qfilter.corpus import minhash_lsh_dup_pairs, neardup_components

    comp = {r.doc_id: r.component for r in neardup_components(spark, SF).collect()}
    pairs = (
        minhash_lsh_dup_pairs(spark, SF)
        .filter(F.col("est_jaccard") >= 0.5)
        .collect()
    )
    assert pairs and comp
    for p in pairs:
        assert comp[p.id1] == comp[p.id2]
    members = set(comp)
    assert all(c in members for c in comp.values())


def test_neardup_components_job_count(spark):
    """MinHash pairs -> components -> rows on the driver in at most 8
    Spark jobs: the components step adds one job (its Arrow collect),
    not one per propagation round."""
    from qfilter.corpus import neardup_components

    sc = spark.sparkContext
    sc.setJobGroup("neardup-jobs", "neardup_components")
    try:
        rows = neardup_components(spark, SF).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup("neardup-jobs")) <= 8


def test_connected_components_raises_on_iteration_budget(spark):
    """A long chain that cannot converge within the round guard must
    raise — silently returning partial labels would mislabel clusters —
    and must not leave its checkpoints behind."""
    from qfilter import corpus

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["src", "dst"]
    )
    before = _persisted(spark)
    with pytest.MonkeyPatch.context() as m:
        m.setattr(corpus, "CC_MAX_ROUNDS", 1)
        with pytest.raises(RuntimeError, match="no fixpoint"):
            _cc(chain, driver_edges=0)
    assert not _persisted(spark) - before
    # and with the default guard it converges to one component
    assert set(_cc(chain, driver_edges=0).values()) == {0}


def test_connected_components_string_ids(spark):
    """Non-integral vertex ids reach the exact per-component
    lexicographic minimum on both paths, keep their type, and a vertex
    seen only in a self-loop is its own component."""
    from qfilter.corpus import connected_components

    edges = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("x", "y"), ("z", "z")], ["src", "dst"]
    )
    want = {"b": "b", "c": "b", "d": "b", "x": "x", "y": "x", "z": "z"}
    assert _cc(edges) == want
    assert _cc(edges, driver_edges=0) == want
    assert connected_components(edges).schema.simpleString() == "struct<v:string,comp:string>"


def test_connected_components_large_path_matches_small_path(spark):
    """The executor path gives the driver path's labels, self-loop
    vertex included.  Persisted RDDs: the driver path leaves none; the
    executor path releases each superseded round and leaves one
    checkpoint (the vertex list) behind the returned frame when it
    finishes on the driver, two (the vertex list and the final stars)
    at its own fixpoint."""
    from qfilter import corpus

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20), (11, 12), (3, 1)],
        "src long, dst long",
    )
    before = _persisted(spark)
    want = _cc(edges)
    assert not _persisted(spark) - before
    assert want[3] == 1 and want[12] == 10 and want[20] == 20
    # 6 input edges > 5 forces the executor path; its 5 distinct
    # non-loop edges then fit, so it finishes on the driver at once
    for driver_edges, left_behind in ((0, 2), (5, 1)):
        with pytest.MonkeyPatch.context() as m:
            m.setattr(corpus, "CC_DRIVER_EDGES", driver_edges)
            before = _persisted(spark)
            out = corpus.connected_components(edges)
            assert {r.v: r.comp for r in out.collect()} == want
            assert len(_persisted(spark) - before) == left_behind
            del out


def test_connected_components_random_graph_matches_bfs(spark):
    """Random graphs with self-loops and isolated pairs: both paths give
    a plain-Python BFS's labels."""
    import random

    random.seed(11)
    edges = [(random.randint(0, 150), random.randint(0, 150)) for _ in range(200)]
    df = spark.createDataFrame(edges, "src long, dst long")
    want = _bfs_labels(edges)
    assert _cc(df) == want
    assert _cc(df, driver_edges=0) == want


def test_connected_components_star_long_chain_log_rounds(spark):
    """A 400-node path has diameter 400 — min-propagation would need
    ~400 rounds; large-star/small-star must converge within ~log2(n)+slack
    rounds and label every vertex with the chain minimum."""
    from qfilter import corpus

    pairs = [(i, i + 1) for i in range(400)]
    chain = spark.createDataFrame(pairs, "src long, dst long")
    with pytest.MonkeyPatch.context() as m:
        m.setattr(corpus, "CC_MAX_ROUNDS", 14)
        got = _cc(chain, driver_edges=0)
    assert len(got) == 401
    assert got == _bfs_labels(pairs)


def test_connected_components_permuted_path_and_star(spark):
    """A randomly numbered 10^5-vertex path (diameter 10^5) and a
    10^4-leaf star whose hub has the largest id get min-id labels in one
    Spark job; min-label propagation needed one round per unit of
    diameter."""
    import pandas as pd

    rng = np.random.default_rng(7)
    path = rng.permutation(100_000)
    leaves = np.arange(100_000, 110_000)
    hub = 110_000
    df = spark.createDataFrame(pd.DataFrame({
        "src": np.concatenate([path[:-1], np.full(len(leaves), hub)]),
        "dst": np.concatenate([path[1:], leaves]),
    }))
    sc = spark.sparkContext
    sc.setJobGroup("cc-path-star", "connected_components")
    try:
        got = _cc(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("cc-path-star")) == 1
    assert len(got) == 110_001
    assert all(got[v] == 0 for v in range(100_000))
    assert all(got[v] == 100_000 for v in range(100_000, 110_001))


def test_adaptive_lsh_candidates_bounded_as_corpus_doubles():
    """Round-4 scale fix (r3 verdict perf-weak #2): with the plane
    count m derived from the corpus row count, candidates/query must
    stay ~flat when the corpus doubles (fixed m would double them —
    O(n^2/2^m) pairs at 100x the data)."""
    from qfilter.similarity import (
        LSH_PLANES, LSH_TABLES, lsh_bucket_ids, lsh_planes_for_rows,
    )

    # the derivation itself: floor at tiny n, +1 plane per doubling
    assert lsh_planes_for_rows(10) == LSH_PLANES
    assert lsh_planes_for_rows(2 * 4096) == lsh_planes_for_rows(4096) + 1

    def mean_candidates(n: int) -> float:
        rng = np.random.default_rng(np.random.PCG64((42, n)))
        mat = rng.standard_normal((n, 16))
        buckets = lsh_bucket_ids(mat, lsh_planes_for_rows(n))  # (n, L)
        total = 0
        cands = [set() for _ in range(n)]
        for t in range(LSH_TABLES):
            byb: dict[int, list[int]] = {}
            for i, b in enumerate(buckets[:, t]):
                byb.setdefault(int(b), []).append(i)
            for members in byb.values():
                ms = set(members)
                for i in members:
                    cands[i] |= ms
        total = sum(len(c) - 1 for c in cands)
        return total / n

    c1 = mean_candidates(2048)  # m = 5 -> expected bucket ~ 64
    c2 = mean_candidates(4096)  # m = 6 -> expected bucket ~ 64
    assert c2 <= 1.35 * c1, (c1, c2)


def test_adaptive_ivf_candidates_sublinear():
    """Same fix for IVF: K ~ sqrt(N) keeps candidates/query ~ nprobe *
    sqrt(N) — a 4x corpus may cost ~2x candidates, never the 4x a
    fixed K would."""
    from qfilter.similarity import (
        IVF_NPROBE, _ivf_assign, ivf_fit_centroids, ivf_k_for_rows,
    )

    assert ivf_k_for_rows(1024) == 32
    assert ivf_k_for_rows(4096) == 64

    def mean_candidates(n: int) -> float:
        rng = np.random.default_rng(np.random.PCG64((43, n)))
        mat = rng.standard_normal((n, 8))
        cents = ivf_fit_centroids(mat, k=ivf_k_for_rows(n))
        probes = _ivf_assign(mat, cents, IVF_NPROBE)  # (n, nprobe)
        sizes = np.bincount(probes[:, 0], minlength=len(cents))
        return float(sizes[probes].sum(axis=1).mean())

    c1 = mean_candidates(1024)
    c2 = mean_candidates(4096)
    assert c2 <= 2.8 * c1, (c1, c2)


def test_sub_bucket_bits_derivation():
    """Round-4 scale fix for the LABEL-bucketed cosine queries (the
    other half of r3 perf-weak #2): m = smallest with n <= l*64*2^m,
    integer-exact, clamped to 8."""
    from qfilter.similarity import sub_bucket_bits

    assert sub_bucket_bits(500, 10) == 0       # sf0.01 fixture: unchanged
    assert sub_bucket_bits(64, 1) == 0
    assert sub_bucket_bits(65, 1) == 1
    assert sub_bucket_bits(2048, 1) == 5       # exact power boundary
    assert sub_bucket_bits(2049, 1) == 6
    assert sub_bucket_bits(10**9, 1) == 8      # clamp
    # m grows by exactly 1 per corpus doubling -> bucket size ~flat
    for n in (1000, 4000, 16000):
        assert sub_bucket_bits(2 * n, 2) <= sub_bucket_bits(n, 2) + 1


def test_sub_bucketed_cosine_m_positive_matches_oracle(spark, tmp_path):
    """Exercise the m>0 sub-bucket path (the sf0.01 fixture derives
    m=0, so the registry correctness run never reaches it): a 400-row
    2-label table derives m=2, and the Spark plan must agree row-for-
    row with the committed DuckDB oracle SQL run on the same parquet —
    the same parity the driver checks, at the scale-adaptive setting."""
    import duckdb

    import __spark_entry__ as E
    from qfilter.similarity import (
        cosine_neardup_pairs, cosine_topk_bucketed, sub_bucket_bits,
    )

    n, dim = 400, 32
    rng = np.random.default_rng(np.random.PCG64(1234))
    mat = rng.standard_normal((n, dim))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    rows = [
        (i, [float(x) for x in mat[i]], int(i % 2)) for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    sf_dir = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf_dir}/embeddings.parquet")
    assert sub_bucket_bits(n, 2) == 2

    got = {
        (r.q, r.rank, r.n)
        for r in cosine_topk_bucketed(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet/*.parquet')"
    )
    want = set(
        map(tuple, con.execute(E.oracle_sql()["cosine_topk_bucketed"]).fetchall())
    )
    assert got == want
    # sub-splitting actually happened: fewer candidate pairs than the
    # plain label join would produce (2 buckets of 200 -> 8 of ~50)
    subs = con.execute(
        """SELECT count(DISTINCT (label, sub)) FROM (
             SELECT label,
               CAST(list_sum(list_transform(range(0, 8),
                 j -> CASE WHEN j < 2 AND embedding[j + 2] > 0
                           THEN (1 << j) ELSE 0 END)) AS INT) AS sub
             FROM embeddings)"""
    ).fetchone()[0]
    assert subs == 8

    # the near-dup plant survives any m: the sub-code skips the
    # perturbed component, so every planted pair is found
    nd = cosine_neardup_pairs(spark, sf_dir).collect()
    assert len(nd) == n
    assert all(r.id2 - r.id1 == 1_000_000 for r in nd)
    nd_want = con.execute(E.oracle_sql()["cosine_neardup_pairs"]).fetchall()
    assert {(r.id1, r.id2) for r in nd} == {(a, b) for a, b, _ in nd_want}


def test_ulaw_roundtrip_bounds():
    """G.711 mu-law is lossy but segment-bounded: reconstruction error
    for a sample in exponent segment e is <= 2^(e+2) (truncation plus
    half-step reconstruction), i.e. relative
    error ~1/16 of magnitude -> SNR ~38 dB on full-scale audio; and
    the compressed payload is exactly half the PCM16 size."""
    from qfilter.multimodal import ulaw_decode, ulaw_encode

    rng = np.random.default_rng(np.random.PCG64(77))
    x = np.concatenate([
        rng.integers(-32768, 32768, 4096),
        np.array([0, 1, -1, 32767, -32768, 0x84, -0x84]),
    ]).astype(np.int16)
    enc = ulaw_encode(x)
    assert enc.dtype == np.uint8 and enc.nbytes * 2 == x.nbytes
    dec = ulaw_decode(enc)
    err = np.abs(dec.astype(np.int64) - np.clip(x.astype(np.int64), -32635, 32635))
    mag = np.minimum(np.abs(x.astype(np.int64)), 32635) + 0x84
    seg = np.floor(np.log2(mag >> 7)).astype(np.int64)
    assert np.all(err <= (1 << (seg + 2))), int(err.max())
    full = (np.sin(np.linspace(0, 200, 8000)) * 30000).astype(np.int16)
    noise = ulaw_decode(ulaw_encode(full)).astype(np.float64) - full
    snr = 10 * np.log10((full.astype(np.float64) ** 2).mean() / (noise ** 2).mean())
    assert snr >= 35.0, snr


def test_ulaw_twin_decoders_agree():
    """The vectorized bit-ops decoder (qfilter) and the scalar
    table-formula decoder (oracle sidecar tool) must agree on all 256
    code points — the two-implementation parity the mu-law rows of
    mm_audio_features rest on."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from make_oracle_sidecars import _ulaw_decode_table

    from qfilter.multimodal import ulaw_decode

    codes = np.arange(256, dtype=np.uint8)
    assert np.array_equal(ulaw_decode(codes), _ulaw_decode_table()[codes])


def test_audio_unknown_fmt_error_channel(spark):
    """An unregistered compressed fmt becomes an error row (the old
    NotImplementedError stub is retired; bad fmt is data, not a task
    failure)."""
    from qfilter.multimodal import audio_features

    df = spark.createDataFrame(
        [("a0", bytearray(b"\x00\x01"), 8000, 1, "mp3"),
         ("a1", bytearray(np.zeros(100, dtype="<i2").tobytes()), 8000, 1,
          "pcm16")],
        "audio_id string, pcm binary, sample_rate int, channels int, fmt string",
    )
    rows = {r.audio_id: r for r in audio_features(df).collect()}
    assert rows["a0"].error is not None and "mp3" in rows["a0"].error
    assert rows["a1"].error is None


def test_sub_bucket_candidates_bounded_as_corpus_doubles():
    """With m derived from the corpus count, mean within-bucket
    candidates per query must stay ~flat when the corpus doubles
    (fixed label-only bucketing would double them)."""
    from qfilter.similarity import sub_bucket_bits

    def mean_candidates(n: int) -> float:
        rng = np.random.default_rng(np.random.PCG64((99, n)))
        labels = np.arange(n) % 2
        m = sub_bucket_bits(n, 2)
        comps = rng.standard_normal((n, 8))  # components 1..8 (0 skipped)
        bits = (comps[:, :m] > 0).astype(np.int64)
        sub = (bits * (1 << np.arange(m))).sum(axis=1) if m else np.zeros(n)
        key = labels * 1000 + sub
        _, counts = np.unique(key, return_counts=True)
        # mean candidates/query = E[bucket size - 1] weighted by size
        return float((counts * (counts - 1)).sum() / n)

    c1 = mean_candidates(1024)  # m = 3
    c2 = mean_candidates(2048)  # m = 4
    assert c2 <= 1.35 * c1, (c1, c2)


def test_winnow_fingerprint_guarantee(spark, tmp_path):
    """The winnowing GUARANTEE (Schleimer et al. '03): two documents
    sharing any substring of length >= k+w-1 share at least one
    selected fingerprint; and selection density ~2/(w+1)."""
    from qfilter.corpus import WINNOW_K, WINNOW_W, winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, "AAAA %s BBBB" % shared, "en"),
        (2, "cccc dddd %s eeee" % shared, "en"),
        (3, "totally unrelated content with zero overlap whatsoever x", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    sf = str(tmp_path / "wf")
    docs.write.parquet(f"{sf}/documents.parquet")

    fps = {}
    for r in winnow_fingerprints(spark, sf).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2], "docs sharing a long substring must share a fingerprint"
    assert not (fps[1] & fps[3] & fps[2] & fps[3])

    # density: selected/grams ~ 2/(w+1) (within 2x either way)
    n_grams = sum(
        len("".join(c for c in t.lower() if c.isalnum())) - WINNOW_K + 1
        for _, t, _ in rows
    )
    n_sel = sum(len(v) for v in fps.values())
    target = 2.0 / (WINNOW_W + 1)
    assert 0.5 * target <= n_sel / n_grams <= 2.0 * target, (n_sel, n_grams)


def test_adpcm_roundtrip_and_twin_decoders():
    """IMA-ADPCM: 4x compression (+12-byte header), SNR >= 20 dB on a
    smooth sine, and the time-step-vectorized batch decoder agrees
    bit-for-bit with the oracle tool's scalar textbook loop — on
    uneven-length clips in one batch, including an odd length."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from make_oracle_sidecars import _adpcm_decode_scalar

    from qfilter.multimodal import adpcm_decode_batch, adpcm_encode

    rng = np.random.default_rng(np.random.PCG64(5150))
    clips = []
    for n in (2000, 333, 1):
        t = np.arange(n)
        sine = (np.sin(2 * np.pi * 220 * t / 8000) * 20000).astype(np.int16)
        clips.append(sine)
    clips.append(rng.integers(-3000, 3000, 640).astype(np.int16))

    payloads = [adpcm_encode(c) for c in clips]
    assert len(payloads[0]) == 12 + (len(clips[0]) + 1) // 2
    batch = adpcm_decode_batch(payloads)
    for c, p, d in zip(clips, payloads, batch):
        assert np.array_equal(d, _adpcm_decode_scalar(p))
        assert len(d) == len(c)
    # SNR on the long smooth sine
    x = clips[0].astype(np.float64)
    noise = batch[0].astype(np.float64) - x
    snr = 10 * np.log10((x ** 2).mean() / max((noise ** 2).mean(), 1e-12))
    assert snr >= 20.0, snr


def test_adpcm_bad_payload_single_error_row(spark):
    """One corrupt ADPCM payload in a batch costs ONE error row (the
    per-row fallback), while its neighbors decode fine."""
    from qfilter.multimodal import adpcm_encode, audio_features

    good = adpcm_encode((np.sin(np.arange(400)) * 1000).astype(np.int16))
    df = spark.createDataFrame(
        [("g0", bytearray(good), 8000, 1, "adpcm_ima"),
         ("bad", bytearray(b"QADP" + b"\x00" * 3), 8000, 1, "adpcm_ima"),
         ("g1", bytearray(good), 8000, 1, "adpcm_ima")],
        "audio_id string, pcm binary, sample_rate int, channels int, fmt string",
    )
    rows = {r.audio_id: r for r in audio_features(df).collect()}
    assert rows["bad"].error is not None
    assert rows["g0"].error is None and rows["g1"].error is None
    assert rows["g0"].rms > 0


def test_ann_recall_at_5_metric_floors(spark):
    """The recall@5 audit metric (registered query) with documented
    floors on the sf0.01 fixture.  The embeddings are near-random —
    the WORST case for partitioned ANN (true neighbors spread across
    buckets almost uniformly), so these floors are intentionally low;
    planted-near-duplicate recall (the case the indexes exist for) is
    covered by the dedicated planted-pair tests.  Deterministic data +
    deterministic planes/centroids => stable values; measured r5:
    bucketed 0.104, lsh 0.690, ivf 0.381."""
    from qfilter.similarity import ann_recall_at_5

    rows = {
        r["family"]: r
        for r in ann_recall_at_5(spark, "/root/testdata/sf0.01").collect()
    }
    assert set(rows) == {"bucketed", "lsh", "ivf"}
    floors = {"bucketed": 0.05, "lsh": 0.5, "ivf": 0.25}
    for fam, floor in floors.items():
        assert rows[fam]["recall_at_5"] >= floor, (
            f"{fam} recall collapsed: {rows[fam]['recall_at_5']}"
        )
        assert rows[fam]["n_truth"] > 0
