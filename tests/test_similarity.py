"""ANN verification: brute force against an independent numpy
computation, and LSH recall on planted near-duplicates — the regime
LSH is for (high-cosine retrieval; distant "nearest" neighbors are
explicitly out of contract, see ann_lsh_topk docstring)."""

from __future__ import annotations

import numpy as np

from finance_pipeline_spark import registry

from tests.conftest import write_embeddings

registry.load_all()

_DIM = 64


def _planted(tmp_path, n_corpus=200, n_queries=10, noise=0.05, seed=3):
    """Corpus of unit-ish gaussian vectors; queries are noisy copies of
    the first n_queries corpus vectors (cosine ≳ 0.95). Query ids are
    multiples of 100 (the registry's query-subset selector)."""
    rng = np.random.default_rng(seed)
    corpus = rng.standard_normal((n_corpus, _DIM))
    ids = [i + 1 if (i + 1) % 100 == 0 else i + 1 for i in range(n_corpus)]
    # ensure NO corpus id is a multiple of 100 (those become queries)
    ids = [i if i % 100 else i + 1000003 for i in ids]
    q_mat = corpus[:n_queries] + noise * rng.standard_normal((n_queries, _DIM))
    q_ids = [(k + 1) * 100 for k in range(n_queries)]
    all_ids = ids + q_ids
    all_mat = np.vstack([corpus, q_mat])
    sf = write_embeddings(tmp_path, all_ids, all_mat)
    return sf, dict(zip(q_ids, [ids[k] for k in range(n_queries)]))


def test_brute_force_matches_numpy(spark, tmp_path):
    rng = np.random.default_rng(42)
    mat = np.vstack([rng.standard_normal((40, _DIM))])
    ids = [i + 1 if (i + 1) % 100 else i + 7 for i in range(39)] + [100]
    sf = write_embeddings(tmp_path, ids, mat)
    got = registry.QUERIES["ann_cosine_topk"].fn(spark, sf).collect()
    # float32 storage: replicate load precision, then exact float64 math
    m32 = mat.astype(np.float32).astype(np.float64)
    unit = m32 / np.linalg.norm(m32, axis=1, keepdims=True)
    qi = ids.index(100)
    scores = np.round(unit @ unit[qi], 4)
    order = sorted(
        ((s, i) for s, i in zip(scores, ids) if i != 100),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    expect = [(100, i, s, k + 1) for k, (s, i) in enumerate(order)]
    assert sorted((r.query_id, r.corpus_id, r.cosine, r.rnk) for r in got) == sorted(
        expect
    )


def test_lsh_recall_on_planted_near_dups(spark, tmp_path):
    sf, truth = _planted(tmp_path)
    # Sanity: the exact baseline finds every planted source at rank 1.
    brute = registry.QUERIES["ann_cosine_topk"].fn(spark, sf).collect()
    rank1 = {r.query_id: r.corpus_id for r in brute if r.rnk == 1}
    assert rank1 == truth
    # LSH: the planted source must appear in the top-10 candidates for
    # ≥ 90% of queries (theory: ≥1-of-8 8-bit bands collide w.p. ~0.99
    # at cosine 0.95).
    lsh = registry.QUERIES["ann_lsh_topk"].fn(spark, sf).collect()
    found = {
        q for q in truth if any(r.query_id == q and r.corpus_id == truth[q] for r in lsh)
    }
    assert len(found) >= 0.9 * len(truth), f"LSH recall too low: {len(found)}/{len(truth)}"


def test_lsh_candidates_much_smaller_than_cross_product(spark, tmp_path):
    """The point of LSH: candidate volume « |q|·|corpus|."""
    sf, truth = _planted(tmp_path)
    lsh_rows = registry.QUERIES["ann_lsh_topk"].fn(spark, sf).collect()
    # top-k output is capped at 10/query by construction; additionally
    # assert it returns *some* neighbors and never exceeds the cap.
    per_q = {}
    for r in lsh_rows:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert per_q and max(per_q.values()) <= 10


def test_query_set_past_cap_batches_and_stays_exact(spark, tmp_path, monkeypatch):
    """A query set past _QUERY_FETCH_CAP no longer raises (the old
    contract): it is processed in cap-sized batches — one broadcast +
    one corpus pass each, driver memory bounded by the cap — and the
    unioned result is identical to the single-batch answer."""
    from finance_pipeline_spark.operators import similarity

    sf, _ = _planted(tmp_path)
    want = sorted(
        map(tuple, registry.QUERIES["ann_cosine_topk"].fn(spark, sf).collect())
    )
    assert want
    monkeypatch.setattr(similarity, "_QUERY_FETCH_CAP", 3)
    batches = list(similarity._query_batches(spark, sf))
    assert len(batches) > 1, "10 planted queries at cap 3 must batch"
    assert all(len(b[0]) <= 3 for b in batches)
    got = sorted(
        map(tuple, registry.QUERIES["ann_cosine_topk"].fn(spark, sf).collect())
    )
    assert got == want


def test_quantized_ann_recall_vs_float_baseline(spark, tmp_path):
    """int8 quantization perturbs each cosine by <~1%, so the planted
    near-duplicate (cosine ≳ 0.95, next-best well below) must stay
    rank-1 for every query — and quantized scores must track the float
    scores closely."""
    from finance_pipeline_spark.operators.similarity import (
        ann_cosine_topk,
        ann_quantized_topk,
    )

    sf, truth = _planted(tmp_path)
    qrows = ann_quantized_topk(spark, sf).collect()
    top1 = {r.query_id: r.corpus_id for r in qrows if r.rnk == 1}
    hits = sum(1 for q, c in truth.items() if top1.get(q) == c)
    assert hits >= int(0.9 * len(truth)), (hits, len(truth))

    fl = {
        (r.query_id, r.corpus_id): r.cosine
        for r in ann_cosine_topk(spark, sf).collect()
    }
    for r in qrows:
        f = fl.get((r.query_id, r.corpus_id))
        if f is not None:
            assert abs(r.cosine - f) < 0.02, (r.query_id, r.corpus_id, r.cosine, f)


def test_kmeans_lloyd_objective_decreases(spark, tmp_path):
    """One Lloyd round must not increase the clustering objective: the
    summed squared distance under the updated centroids (the query's
    output) is <= the objective under the seed centroids. Also: every
    vector is assigned exactly once to a cluster in [0, K)."""
    from finance_pipeline_spark.operators import similarity
    from finance_pipeline_spark.operators.similarity import kmeans_train_assign

    rng = np.random.default_rng(11)
    n = 120
    mat = rng.standard_normal((n, _DIM))
    ids = list(range(1, n + 1))
    sf = write_embeddings(tmp_path, ids, mat)

    rows = kmeans_train_assign(spark, sf).collect()
    assert sorted(r.vec_id for r in rows) == ids  # exactly once each
    assert all(0 <= r.cluster < similarity._KMEANS_K for r in rows)
    assert all(r.dist >= 0.0 for r in rows)

    # seed-centroid objective, recomputed in numpy with the same seeds
    m64 = mat.astype(np.float32).astype(np.float64)  # parquet float32 round-trip
    seeds = m64[np.argsort(ids)[: similarity._KMEANS_K]]
    d_seed = ((m64[:, None, :] - seeds[None, :, :]) ** 2).sum(axis=2).min(axis=1)
    obj_seed = d_seed.sum()
    obj_final = sum(r.dist for r in rows)
    assert obj_final <= obj_seed + 1e-6, (obj_final, obj_seed)


def test_kmeans_fit_multi_round_converges(spark):
    """The reusable trainer: more Lloyd rounds never increase total
    within-cluster distance (inertia), assignments stay deterministic,
    and rounds=1 reproduces the oracle-pinned query path exactly."""
    from finance_pipeline_spark import registry
    from finance_pipeline_spark.operators.similarity import _KMEANS_K, kmeans_fit

    sf = "/root/testdata/sf0.001"
    e = registry.load(spark, sf, "embeddings").select("vec_id", "embedding")

    inertias = []
    for rounds in (1, 3):
        cents, assignments = kmeans_fit(spark, e, _KMEANS_K, rounds=rounds)
        inertias.append(
            assignments.agg({"dist": "sum"}).collect()[0][0]
        )
    assert inertias[1] <= inertias[0] + 1e-6

    # rounds=1 == the registered query (same recipe, same rows)
    q = registry.QUERIES["kmeans_train_assign"].fn(spark, sf)
    _, one = kmeans_fit(spark, e, _KMEANS_K, rounds=1)
    assert sorted(map(tuple, q.collect())) == sorted(map(tuple, one.collect()))


def _blob_boundary_harness(tmp_path, per_blob=20):
    """8 well-separated blobs on orthogonal axes (vec_ids 1-8 are the
    blob centers, so they become the kmeans seeds — one per blob) plus
    4 planted boundary pairs: source just on blob 2k's side of the
    Voronoi edge to blob 2k+1, query just on the other side. The
    query's nearest centroid is the WRONG cell for its true neighbor
    (cosine ≈ 0.98, everything else ≤ ~0.78), so nprobe=1 must miss it
    and nprobe=2 must find it. Fully deterministic construction.

    Sources get vec_ids 9-12, immediately after the seeds: under PQ
    serving, every same-cell blob member shares the source's code, so
    ADC distances tie and rank falls to corpus_id — the early ids make
    the source win its tie group, which is exactly the resolution PQ
    promises (cell + code, not sub-code)."""
    rng = np.random.default_rng(1)
    R = 10.0
    rows, ids = [], []
    for b in range(8):
        c = np.zeros(_DIM)
        c[b] = R
        rows.append(c)
        ids.append(b + 1)
    truth = {}
    qrows, qids = [], []
    nid = 9
    for k in range(4):
        a, b = 2 * k, 2 * k + 1
        da, db = np.zeros(_DIM), np.zeros(_DIM)
        da[a], db[b] = 1.0, 1.0
        src = 0.55 * da + 0.45 * db
        src = R * src / np.linalg.norm(src)
        q = 0.45 * da + 0.55 * db
        q = R * q / np.linalg.norm(q)
        rows.append(src)
        ids.append(nid)
        qid = (k + 1) * 100
        qrows.append(q)
        qids.append(qid)
        truth[qid] = nid
        nid += 1
    for b in range(8):
        c = np.zeros(_DIM)
        c[b] = R
        for _ in range(per_blob):
            rows.append(c + 0.2 * rng.standard_normal(_DIM))
            ids.append(nid)
            nid += 1
            if nid % 100 == 0:
                nid += 1
    mat = np.vstack([np.array(rows), np.array(qrows)])
    return write_embeddings(tmp_path, ids + qids, mat), truth


def _recall(rows, truth):
    return sum(
        1
        for q in truth
        if any(r.query_id == q and r.corpus_id == truth[q] for r in rows)
    ) / len(truth)


def test_multiprobe_ivf_beats_nprobe1_on_boundary_pairs(spark, tmp_path):
    """The r7 verdict's retrieval gap, now pinned: a true neighbor just
    across the Voronoi edge is invisible at nprobe=1 and found at
    nprobe=2 — while the exact baseline confirms the planted source IS
    the rank-1 answer."""
    from finance_pipeline_spark.operators.similarity import ivf_probe_topk

    sf, truth = _blob_boundary_harness(tmp_path)
    brute = registry.QUERIES["ann_cosine_topk"].fn(spark, sf).collect()
    rank1 = {r.query_id: r.corpus_id for r in brute if r.rnk == 1}
    assert rank1 == truth  # the planted source is the true top-1

    r1 = _recall(ivf_probe_topk(spark, sf, nprobe=1).collect(), truth)
    r2 = _recall(
        registry.QUERIES["ann_ivf_multiprobe"].fn(spark, sf).collect(), truth
    )
    assert r1 == 0.0, f"boundary pairs must be invisible at nprobe=1, got {r1}"
    assert r2 == 1.0, f"nprobe=2 must recover every boundary pair, got {r2}"


def test_pq_and_ivfpq_recall_vs_float_baseline(spark, tmp_path):
    """The r7 verdict's missing recall bound: on the planted
    near-duplicate harness (cosine ≳ 0.95, next-best well below) the
    4-byte PQ codes and the cell-pruned IVFPQ variant must both keep
    the planted source at rank 1 for ≥ 90% of queries — measured
    10/10 for both on this deterministic harness."""
    from finance_pipeline_spark.operators.similarity import (
        ann_ivfpq_topk,
        ann_pq_topk,
    )

    sf, truth = _planted(tmp_path)
    for fn in (ann_pq_topk, ann_ivfpq_topk):
        rows = fn(spark, sf).collect()
        top1 = {r.query_id: r.corpus_id for r in rows if r.rnk == 1}
        hits = sum(1 for q, c in truth.items() if top1.get(q) == c)
        assert hits >= int(0.9 * len(truth)), (fn.__name__, hits, len(truth))


def test_ivfpq_multiprobe_beats_nprobe1_on_boundary_pairs(spark, tmp_path):
    """Same boundary-pair construction, PQ serving path: nprobe=2 must
    recover planted sources the nprobe=1 cell scan cannot see. Blobs
    are kept small (6) so the source's ADC tie group — every same-cell
    member shares its code — fits inside top-10 once its cell is
    probed; that's PQ's promised resolution (cell + code)."""
    from finance_pipeline_spark.operators.similarity import ivfpq_probe_topk

    sf, truth = _blob_boundary_harness(tmp_path, per_blob=6)
    r1 = _recall(ivfpq_probe_topk(spark, sf, nprobe=1).collect(), truth)
    r2 = _recall(
        registry.QUERIES["ann_ivfpq_multiprobe"].fn(spark, sf).collect(), truth
    )
    assert r1 == 0.0, f"boundary pairs must be invisible at nprobe=1, got {r1}"
    assert r2 == 1.0, f"nprobe=2 must recover every boundary pair, got {r2}"


def test_ivfpq_rerank_restores_exact_rank1(spark, tmp_path):
    """The refine stage's reason to exist: with 20-member blobs the
    source's ADC tie group exceeds top-10, so plain multiprobe IVFPQ
    cannot surface it — but the exact re-score over the 50 over-fetched
    candidates must put the true nearest neighbor at rank 1 for every
    query."""
    from finance_pipeline_spark.operators.similarity import ann_ivfpq_rerank

    sf, truth = _blob_boundary_harness(tmp_path, per_blob=20)
    rows = ann_ivfpq_rerank(spark, sf).collect()
    top1 = {r.query_id: r.corpus_id for r in rows if r.rnk == 1}
    assert top1 == truth, top1


def test_scaled_ann_params_track_corpus_size():
    """Capacity derives from N: sqrt(N) cells, N/32 codes capped at the
    8-bit 256, sqrt(cells) probes — with floors that keep toy corpora
    trainable and a 4096-cell ceiling that keeps centroids
    broadcast-sized."""
    from finance_pipeline_spark.operators.similarity import scaled_ann_params

    p = scaled_ann_params(1_000_000)
    assert p["k_cells"] == 1000 and p["k_pq"] == 256 and p["nprobe"] == 32
    p = scaled_ann_params(2000)
    assert p["k_cells"] == 45 and p["k_pq"] == 62 and p["nprobe"] == 7
    assert scaled_ann_params(10**10)["k_cells"] == 4096  # ceiling
    tiny = scaled_ann_params(50)
    assert tiny["k_cells"] >= 4 and tiny["k_pq"] >= 8  # floors
    assert scaled_ann_params(0)["k_cells"] == 4  # degenerate-safe


def test_scaled_ann_params_train_cap_default_off_and_floored():
    """``scaled_ann_params`` is pure capacity math: ``train_cap`` must
    be byte-inert when absent (the OPERATOR entry points pass
    ``_SCALED_TRAIN_CAP`` since the r15 flip) and, when passed, an
    absolute sample bound floored at FAISS's 39-points-per-centroid
    warning threshold
    (a smaller cap would silently trade recall, so it yields the floor,
    not the cap)."""
    from finance_pipeline_spark.operators.similarity import scaled_ann_params

    for n in (0, 1, 50, 2000, 200_000, 16_777_216, 10**10):
        p_default = scaled_ann_params(n)
        assert p_default == scaled_ann_params(n, train_cap=None)
        assert p_default["train_target"] == 256 * p_default["k_cells"]

    p = scaled_ann_params(200_000, train_cap=20_000)
    assert p["k_cells"] == 447 and p["train_target"] == 20_000
    # cap below the 39/centroid floor -> the floor wins
    p = scaled_ann_params(200_000, train_cap=1_000)
    assert p["train_target"] == 39 * 447
    # cap above the default 256/centroid target -> no-op
    p = scaled_ann_params(2_000, train_cap=10**9)
    assert p["train_target"] == 256 * p["k_cells"]
    # everything except train_target is cap-independent
    for n in (2_000, 200_000):
        a, b = scaled_ann_params(n), scaled_ann_params(n, train_cap=10_000)
        assert {k: a[k] for k in ("k_cells", "k_pq", "nprobe")} == {
            k: b[k] for k in ("k_cells", "k_pq", "nprobe")
        }


def test_ivfpq_scaled_train_cap_holds_recall(spark, tmp_path):
    """The capped trainer must still index well: on a clustered corpus
    big enough for the cap to actually bite (N=8009 -> 89 cells, floor
    39*89=3471, cap 4000 -> the hash-gated sample halves), recall@10 vs
    the exact float baseline stays high. Guards the r15 flip: a cap
    that broke seeding or the Lloyd round would crater this long before
    production scale."""
    from finance_pipeline_spark.operators.similarity import (
        _train_sample,
        ivfpq_scaled_topk,
        scaled_ann_params,
    )

    rng = np.random.default_rng(29)
    n_blobs, per_blob = 80, 100  # N=8000 corpus + queries
    centers = 6.0 * rng.standard_normal((n_blobs, _DIM))
    mat = np.vstack(
        [
            centers[b] + 0.4 * rng.standard_normal((per_blob, _DIM))
            for b in range(n_blobs)
        ]
    )
    ids = []
    nid = 1
    for _ in range(len(mat)):
        if nid % 100 == 0:
            nid += 1  # non-query corpus ids
        ids.append(nid)
        nid += 1
    q_idx = list(range(0, len(mat), 400))
    q_ids = [(k + 1) * 100 for k in range(len(q_idx))]
    q_mat = mat[q_idx] + 0.1 * rng.standard_normal((len(q_idx), _DIM))
    sf = write_embeddings(tmp_path, ids + q_ids, np.vstack([mat, q_mat]))

    all_ids = np.array(ids + q_ids)
    all_mat = np.vstack([mat, q_mat]).astype(np.float32).astype(np.float64)
    q64 = q_mat.astype(np.float32).astype(np.float64)
    exact = {}
    for k, qid in enumerate(q_ids):
        d = ((all_mat - q64[k]) ** 2).sum(axis=1)
        order = np.lexsort((all_ids, d))
        top = [int(all_ids[j]) for j in order if int(all_ids[j]) != qid][:10]
        exact[qid] = set(top)

    n = len(all_ids)
    cap = 4_000
    p = scaled_ann_params(n, train_cap=cap)
    assert p["train_target"] == cap  # the cap, not the floor, is active
    # the hash-gated sample actually shrinks under the cap
    from finance_pipeline_spark.registry import load

    e = load(spark, sf, "embeddings").select("vec_id", "embedding")
    n_sampled = _train_sample(e, n, p["train_target"]).count()
    assert n_sampled < n, (n_sampled, n)

    rows = ivfpq_scaled_topk(spark, sf, train_cap=cap).collect()
    got: dict[int, set] = {}
    for r in rows:
        got.setdefault(r.query_id, set()).add(r.corpus_id)
    recall = sum(
        len(got.get(q, set()) & exact[q]) / 10 for q in exact
    ) / len(exact)
    assert recall >= 0.7, f"capped recall@10 {recall}"


def test_ivfpq_scaled_recall_vs_exact_and_nprobe_dial(spark, tmp_path):
    """Corpus-capacity IVFPQ earns its parameters: on a clustered
    corpus (the regime IVF assumes), recall@10 vs the exact float
    baseline must be high at the derived nprobe and must not DROP when
    the dial rises — and the derived nprobe must beat a crippled
    nprobe=1 scan."""
    from finance_pipeline_spark.operators.similarity import (
        ivfpq_scaled_topk,
        scaled_ann_params,
    )

    rng = np.random.default_rng(17)
    n_blobs, per_blob = 40, 50  # N=2000 -> 45 cells, 62 codes, nprobe 7
    centers = 6.0 * rng.standard_normal((n_blobs, _DIM))
    mat = np.vstack(
        [
            centers[b] + 0.4 * rng.standard_normal((per_blob, _DIM))
            for b in range(n_blobs)
        ]
    )
    ids = []
    nid = 1
    for _ in range(len(mat)):
        if nid % 100 == 0:
            nid += 1  # non-query corpus ids
        ids.append(nid)
        nid += 1
    # queries: noisy copies of every 40th corpus vector, ids % 100 == 0
    q_idx = list(range(0, len(mat), 40))
    q_ids = [(k + 1) * 100 for k in range(len(q_idx))]
    q_mat = mat[q_idx] + 0.1 * rng.standard_normal((len(q_idx), _DIM))
    sf = write_embeddings(tmp_path, ids + q_ids, np.vstack([mat, q_mat]))

    # exact squared-L2 top-10 per query (numpy, the independent
    # oracle) — over the float32-rounded values the engine reads from
    # parquet, so borderline rank-10 members can't flake the bound
    all_ids = np.array(ids + q_ids)
    all_mat = np.vstack([mat, q_mat]).astype(np.float32).astype(np.float64)
    q_mat = q_mat.astype(np.float32).astype(np.float64)
    exact = {}
    for k, qid in enumerate(q_ids):
        d = ((all_mat - q_mat[k]) ** 2).sum(axis=1)
        order = np.lexsort((all_ids, d))
        top = [int(all_ids[j]) for j in order if int(all_ids[j]) != qid][:10]
        exact[qid] = set(top)

    def recall_at10(rows):
        got = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.corpus_id)
        return sum(
            len(got.get(q, set()) & exact[q]) / 10 for q in exact
        ) / len(exact)

    n = len(all_ids)
    derived = scaled_ann_params(n)["nprobe"]
    r_derived = recall_at10(ivfpq_scaled_topk(spark, sf).collect())
    r_np1 = recall_at10(ivfpq_scaled_topk(spark, sf, nprobe=1).collect())
    r_wide = recall_at10(
        ivfpq_scaled_topk(spark, sf, nprobe=derived * 2).collect()
    )
    assert r_derived >= 0.7, f"recall@10 {r_derived} at nprobe={derived}"
    assert r_derived >= r_np1, (r_derived, r_np1)
    assert r_wide >= r_derived - 1e-9, (r_wide, r_derived)


def test_kmeans_decimal_means_partitioning_independent(spark):
    """The Lloyd centroid update is exact and order-free (9-dp
    pre-round -> exact decimal sum -> one divide -> 6-dp round), so ANY
    input partitioning yields bit-identical centroids — the property
    the similarity-kernel input spread relies on."""
    import numpy as np

    from finance_pipeline_spark.operators import similarity as sim

    rng = np.random.default_rng(41)
    mat = rng.standard_normal((600, _DIM)).astype(np.float32)
    rows = [
        (int(i + 1), [float(x) for x in mat[i]]) for i in range(len(mat))
    ]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    cents_a, _ = sim.kmeans_fit(spark, e.repartition(1), 8, rounds=2)
    cents_b, _ = sim.kmeans_fit(spark, e.repartition(13), 8, rounds=2)
    assert np.array_equal(cents_a, cents_b), "decimal means must be order-free"


def _duck_embeddings(rows):
    """DuckDB connection holding ``rows`` = [(vec_id, float32-valued
    list)] as ``embeddings(vec_id BIGINT, embedding FLOAT[])`` — the
    same values the Spark side reads as array<float>."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    con.register("embeddings", pa.table({
        "vec_id": pa.array([r[0] for r in rows], pa.int64()),
        "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
    }))
    return con


def test_probe_cells_kernel_bit_parity(spark):
    """The executor-side probe kernel must select EXACTLY the cells the
    oracles' SQL recipe selects — ``round(list_sum((x - c)^2), 4)``
    ranked by (distance, cluster), run on DuckDB — over random float32
    queries plus crafted tie centroids (an exact duplicate and a 1e-9
    perturbation that collapses at 4 dp), with extra columns riding
    through."""
    import duckdb
    import numpy as np
    import pyarrow as pa

    from finance_pipeline_spark.operators import similarity as S

    rng = np.random.default_rng(13)
    dim, k = 16, 7
    cents = rng.standard_normal((k, dim))
    cents[3] = cents[1] + 1e-9  # rounds to the same 4-dp distance
    cents[5] = cents[2]  # exact duplicate: pure cluster tie-break
    rows = [
        (i, rng.standard_normal(dim).astype("float32").tolist(), float(i) / 7)
        for i in range(200)
    ]
    q = spark.createDataFrame(
        rows, "query_id bigint, q_emb array<float>, q_nrm double"
    )
    con = duckdb.connect()
    con.register("q", pa.table({
        "query_id": pa.array([r[0] for r in rows], pa.int64()),
        "q_emb": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
        "q_nrm": pa.array([r[2] for r in rows], pa.float64()),
    }))
    con.register("c", pa.table({
        "cluster": pa.array(range(k), pa.int64()),
        "cent": pa.array(cents.tolist(), pa.list_(pa.float64())),
    }))
    for nprobe in (1, 2, 3):
        want = sorted(
            con.execute(f"""
            SELECT query_id, cluster, q_nrm FROM (
                SELECT q.query_id, c.cluster, q.q_nrm,
                       row_number() OVER (PARTITION BY q.query_id ORDER BY
                           round(list_sum(list_transform(
                               CAST(q.q_emb AS DOUBLE[]),
                               (x, i) -> (x - c.cent[i]) * (x - c.cent[i]))), 4),
                           c.cluster) AS rnk
                FROM q CROSS JOIN c
            ) WHERE rnk <= {nprobe}""").fetchall()
        )
        kern = sorted(
            (r.query_id, r.cluster, r.q_nrm)
            for r in S._probe_cells_kernel(cents, q, nprobe).collect()
        )
        assert want == kern, f"nprobe={nprobe}: first diff " + str(
            next(iter(set(want) ^ set(kern)))
        )
        assert len(kern) == 200 * nprobe


def test_probe_cells_rounding_replays_spark_round_exactly(spark):
    """The kernel's Decimal(repr(x)).quantize(HALF_UP) must replay
    Spark's Round(double, 4) (BigDecimal.valueOf semantics) on
    adversarial values: exact .00005 decimal boundaries, binary
    near-boundaries from both sides, negative values, huge/tiny
    magnitudes, and a dense random sweep. One ulp of disagreement
    here would flip a distance tie and change cell selection."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    def py_round4(v: float) -> float:
        return float(
            Decimal(repr(v)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        )

    rng = random.Random(99)
    vals = []
    for k in range(2000):
        base = rng.randint(0, 10_000_000) / 1000.0
        vals.append(base)
    # exact decimal half-boundaries and their binary neighbors
    import math
    for n in range(0, 500):
        b = n / 10000.0 + 0.00005
        vals += [b, math.nextafter(b, 0.0), math.nextafter(b, 1e9)]
    vals += [0.0, 1e-12, 123456.78905, 0.00004999999999, 2.00005]
    vals += [-v for v in vals[:200]]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r.y for r in df.select(F.round("x", 4).alias("y")).collect()]
    want = [py_round4(v) for v in vals]
    diffs = [(v, g, w) for v, g, w in zip(vals, got, want) if g != w]
    assert not diffs, f"{len(diffs)} disagreements, first: {diffs[:3]}"


def test_dim_truncation_recall_matches_duckdb_and_monotone(spark):
    """The staged r15 truncation-recall oracle equals
    ann_dim_truncation_recall row-for-row, and the audit behaves:
    every query reports all widths, recall ∈ [0,1], and MEAN recall
    is non-decreasing in width (more dims can only help on average
    for these random embeddings)."""
    import duckdb

    from finance_pipeline_spark.operators.similarity import (
        _TRUNC_WIDTHS,
        _trunc_recall_oracle,
        ann_dim_truncation_recall,
    )

    sf = "/root/testdata/sf0.001"
    rows = ann_dim_truncation_recall(spark, sf).collect()
    got = sorted(
        (r.query_id, r.trunc_dim, r.n_overlap, r.n_full, r.recall)
        for r in rows
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    want = sorted(map(tuple, con.execute(_trunc_recall_oracle()).fetchall()))
    assert got == want and len(got) > 0

    by_q: dict[int, dict[int, float]] = {}
    for qid, w, n, nf, rec in got:
        assert 0.0 <= rec <= 1.0 and 0 <= n <= nf
        by_q.setdefault(qid, {})[w] = rec
    for qid, per_w in by_q.items():
        assert set(per_w) == set(_TRUNC_WIDTHS)
    means = {
        w: sum(per_w[w] for per_w in by_q.values()) / len(by_q)
        for w in _TRUNC_WIDTHS
    }
    ws = sorted(_TRUNC_WIDTHS)
    for a, b in zip(ws, ws[1:]):
        assert means[a] <= means[b] + 1e-9, means


def test_emb_matrix_empty_batch_is_2d():
    """Advisor r15: an empty Arrow batch fed to the similarity kernels
    used to build a 1-D empty array, so axis-1 work (norms, prefix
    slices) raised before the kernels' own empty guards could fire.
    _emb_matrix now returns a (0, _DIM) 2-D array on empty input and
    stays byte-identical on non-empty input."""
    import numpy as np
    import pandas as pd

    from finance_pipeline_spark.operators.similarity import _DIM, _emb_matrix

    empty = _emb_matrix(pd.Series([], dtype=object))
    assert empty.shape == (0, _DIM) and empty.dtype == np.float64
    # the crash shapes from the advisor finding, now well-formed no-ops
    assert np.linalg.norm(empty, axis=1).shape == (0,)
    assert empty[:, :8].shape == (0, 8)

    full = _emb_matrix(pd.Series([[1.0, 2.0], [3.5, -4.0]]))
    assert full.shape == (2, 2) and full.dtype == np.float64
    assert full.tolist() == [[1.0, 2.0], [3.5, -4.0]]


def test_spark_round_scaled_parity(spark):
    """r16 fused-kernel foundation: ``_spark_round_scaled`` must equal
    Spark ``F.round`` (HALF_UP over the shortest decimal repr) on every
    element — random values plus crafted 4-dp/9-dp half-boundaries that
    force the Decimal slow path — at both precisions the Lloyd/PQ
    kernels use."""
    import numpy as np
    from pyspark.sql import functions as F

    from finance_pipeline_spark.operators.similarity import (
        _spark_round_scaled,
    )

    rng = np.random.default_rng(11)
    vals = np.concatenate(
        [
            rng.uniform(-100, 100, 4000),
            np.round(rng.uniform(-10, 10, 1000), 4),  # exact 4-dp values
            np.round(rng.uniform(-10, 10, 1000), 5),  # 4-dp half-boundaries
            np.round(rng.uniform(-1, 1, 500), 10),  # 9-dp half-boundaries
            np.array([0.00005, -0.00005, 2.5e-5, -2.5e-10, 0.0, -0.0]),
        ]
    )
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    for dp in (4, 9):
        got = _spark_round_scaled(vals, dp) / (10.0**dp)
        exp = np.array([r[0] for r in df.select(F.round("x", dp)).collect()])
        assert np.array_equal(got, exp), (
            f"dp={dp}: first diff at "
            f"{vals[np.flatnonzero(got != exp)[:3]]}"
        )


# One more Lloyd update step on top of ``kmeans_lloyd_ctes`` (whose
# chain ends at ``s2`` = distances to the round-1 centroids ``c1``): the
# same assign -> exact-decimal 6-dp mean -> re-score recipe, giving the
# round-2 centroids ``c2`` and distances ``s3``.
_LLOYD_ROUND2_CTES = """, a2 AS (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cluster) AS rnk
            FROM s2
        ) WHERE rnk = 1
    ), upd2 AS (
        SELECT a2.cluster, generate_subscripts(v.emb, 1) AS pos,
               unnest(v.emb) AS x
        FROM a2 JOIN v USING (vec_id)
    ), c2m AS (
        SELECT cluster, pos,
               round(CAST(sum(CAST(round(x, 9) AS DECIMAL(38,12))) AS DOUBLE)
                     / count(*), 6) AS c
        FROM upd2 GROUP BY cluster, pos
    ), c2g AS (
        SELECT cluster, list(c ORDER BY pos) AS emb FROM c2m GROUP BY cluster
    ), c2 AS (
        SELECT p.cluster, COALESCE(g.emb, p.emb) AS emb
        FROM c1 p LEFT JOIN c2g g USING (cluster)
    ), s3 AS (
        SELECT v.vec_id, c.cluster,
               round(list_sum(list_transform(
                   v.emb, (x, i) -> (x - c.emb[i]) * (x - c.emb[i]))), 4) AS d
        FROM v CROSS JOIN c2 c
    )"""


def test_lloyd_fused_matches_window_path(spark):
    """The fused Lloyd kernel (one pass — parity-rounded argmin
    assignment + per-task exact decimal partial mean sums) must
    reproduce the DuckDB window-rank recipe BIT-FOR-BIT: identical
    centroids and identical (vec_id, cluster, dist) assignment rows,
    on a repartitioned input with duplicate vectors (assignment tie
    pressure). rounds=1 is the registered ``kmeans_lloyd_ctes`` chain;
    rounds=2 chains its update step once more."""
    import numpy as np

    from finance_pipeline_spark.operators import similarity as S

    rng = np.random.default_rng(23)
    mat = rng.standard_normal((400, _DIM)).astype(np.float32)
    mat[7] = mat[3]  # exact duplicate vectors: assignment tie pressure
    rows = [(int(i + 1), [float(x) for x in mat[i]]) for i in range(len(mat))]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    con = _duck_embeddings(rows)

    for rounds, cents_cte, dist_cte, extra in (
        (1, "c1", "s2", ""),
        (2, "c2", "s3", _LLOYD_ROUND2_CTES),
    ):
        ctes = f"""WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        ), {S.kmeans_lloyd_ctes()}{extra}"""
        ref = sorted(con.execute(S._mat(f"""{ctes}
        SELECT vec_id, cluster, d AS dist FROM (
            SELECT vec_id, cluster, d,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cluster) AS rnk
            FROM {dist_cte}
        ) WHERE rnk = 1""")).fetchall())
        c_ref = np.array([
            emb for _, emb in con.execute(S._mat(
                f"{ctes} SELECT cluster, emb FROM {cents_cte} ORDER BY cluster"
            )).fetchall()
        ])
        c_new, a_new = S.kmeans_fit(spark, e.repartition(5), 8, rounds=rounds)
        new = sorted(map(tuple, a_new.collect()))
        assert np.array_equal(c_ref, c_new), f"rounds={rounds}: centroids drift"
        assert ref == new, f"rounds={rounds}: assignments drift"


def test_pq_fused_matches_row_path(spark, tmp_path):
    """The fused PQ mean-update / codes kernels in both rounding
    flavors: the Spark-parity flavor (``_pq_build``) must reproduce
    ``ann_pq_topk``'s registered DuckDB oracle row-for-row, and the
    numpy-round flavor (the scaled tier) must equal a numpy argmin
    replica (4-dp ``np.round``, lowest code on ties)."""
    import duckdb
    import numpy as np

    from finance_pipeline_spark.operators import similarity as S

    rng = np.random.default_rng(29)
    n = 300
    mat = rng.standard_normal((n, _DIM))
    ids = list(range(1, n + 1))  # ids 100/200/300 become the queries
    sf = write_embeddings(tmp_path, ids, mat)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    ref = sorted(con.execute(
        registry.QUERIES["ann_pq_topk"].oracle_text()
    ).fetchall())
    new = sorted(map(tuple, S.ann_pq_topk(spark, sf).collect()))
    assert ref == new and len(ref) > 0

    # numpy-round flavor: codes for a synthetic codebook
    e = registry.load(spark, sf, "embeddings").select("vec_id", "embedding")
    cents = rng.standard_normal((S._PQ_M, 8, S._PQ_DSUB))
    x = mat.astype(np.float32).astype(np.float64).reshape(n, S._PQ_M, S._PQ_DSUB)
    d = ((x[:, :, None, :] - cents[None, :, :, :]) ** 2).sum(axis=3)
    codes = np.round(d, 4).argmin(axis=2)  # argmin: lowest code wins ties
    ref_codes = sorted((i, *map(int, c)) for i, c in zip(ids, codes))
    new_codes = sorted(map(tuple, S._pq_codes_kernel(
        spark, e, cents, spark_parity=False
    ).collect()))
    assert ref_codes == new_codes and len(ref_codes) == n


def test_train_scaled_quantizers_fused_matches_sequential(spark):
    """The fused `_train_scaled_quantizers` (one seed collect + one
    fused coarse/PQ kernel pass + coarse round 2) must be BIT-IDENTICAL
    to the sequential composition — `kmeans_fit(hashed_ids, k_cells,
    rounds=2)` for the coarse side and `_pq_train_scaled` for the PQ
    side. Any drift in the shared seed order, the fused partials, or
    the decimal mean recipe trips this."""
    import numpy as np
    from pyspark.sql import functions as F

    from finance_pipeline_spark.operators import similarity as sim

    rng = np.random.default_rng(97)
    mat = rng.standard_normal((300, _DIM)).astype(np.float32)
    rows = [(int(i + 1), [float(x) for x in mat[i]]) for i in range(len(mat))]
    sample = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).localCheckpoint(eager=True)

    for k_cells, k_pq in ((8, 8), (6, 10)):
        cents, cents1 = sim._train_scaled_quantizers(
            spark, sample, k_cells, k_pq
        )
        hashed = sample.select(
            F.xxhash64(F.col("vec_id")).alias("vec_id"), "embedding"
        )
        cents_seq, _ = sim.kmeans_fit(spark, hashed, k_cells, 2)
        cents1_seq = sim._pq_train_scaled(spark, sample, k_pq)
        assert np.array_equal(cents, cents_seq), (k_cells, k_pq)
        assert np.array_equal(cents1, cents1_seq), (k_cells, k_pq)
