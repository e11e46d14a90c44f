"""Planted-duplicate assertions for the fuzzy dedup family — the
verification layer for the rows-only queries (dedup_minhash_lsh,
dedup_simhash) plus value checks for the oracle-backed variants."""

from __future__ import annotations

import random

from finance_pipeline_spark import registry
from finance_pipeline_spark.operators.dedup import _py_shingles

from tests.conftest import perturb_doc, random_doc, write_documents

registry.load_all()


def _planted_corpus(tmp_path, n_base=30, n_dups=5):
    """n_base distinct random docs + near-dup copies of the first
    n_dups. Returns (sf_dir, expected near-dup id pairs)."""
    rng = random.Random(7)
    rows = [(i, random_doc(rng)) for i in range(n_base)]
    planted = []
    for k in range(n_dups):
        dup_id = 1000 + k
        # One token edit keeps Jaccard ~0.9: per-band collision 0.9⁴,
        # miss probability over 8 bands ≈ 2e-4 — and the whole pipeline
        # is deterministic (seeded corpus, seed-free md5 hashing), so
        # this either always passes or always fails.
        rows.append((dup_id, perturb_doc(rng, rows[k][1], n_edits=1)))
        planted.append((k, dup_id))
    return write_documents(tmp_path, rows), planted


def test_minhash_lsh_finds_planted_dups(spark, tmp_path):
    sf, planted = _planted_corpus(tmp_path)
    got = {
        (r.doc_a, r.doc_b)
        for r in registry.QUERIES["dedup_minhash_lsh"].fn(spark, sf).collect()
    }
    # Recall: every planted near-dup pair (true Jaccard ~0.9) surfaces.
    assert set(planted) <= got, f"missed planted pairs: {set(planted) - got}"


def test_minhash_lsh_reported_pairs_are_real(spark, tmp_path):
    """Precision: every reported pair genuinely meets the Jaccard
    threshold (recomputed independently in Python)."""
    sf, _ = _planted_corpus(tmp_path)
    rows = registry.QUERIES["dedup_minhash_lsh"].fn(spark, sf).collect()
    texts = dict(
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    )
    assert rows, "planted corpus should produce pairs"
    for r in rows:
        a, b = _py_shingles(texts[r.doc_a]), _py_shingles(texts[r.doc_b])
        true_jac = len(a & b) / len(a | b)
        assert true_jac >= 0.5, (r.doc_a, r.doc_b, true_jac)
        assert abs(true_jac - r.jaccard) < 1e-3


def test_simhash_finds_planted_dups_and_skips_disjoint(spark, tmp_path):
    """SimHash over *distinct* tokens is order/multiplicity-invariant:
    a shuffled, partially-repeated rewrite of a doc has hamming 0 and
    must pair; a disjoint-vocabulary doc must not. (A 1-token edit on a
    short doc flips ~√n-scaled vote margins — more than 3 bits — so
    hamming ≤ 3 is genuinely a same-vocabulary detector.)"""
    rng = random.Random(11)
    base_tokens = [f"w{i}" for i in range(300)]
    rng.shuffle(base_tokens)
    shuffled = base_tokens[150:] + base_tokens[:150] + base_tokens[:20]  # reorder + repeats
    rows = [
        (0, " ".join(base_tokens)),
        (100, " ".join(shuffled)),
        # disjoint vocabulary — must not pair with doc 0
        (200, " ".join(f"zz{i}" for i in range(300))),
    ]
    sf = write_documents(tmp_path, rows)
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in registry.QUERIES["dedup_simhash"].fn(spark, sf).collect()
    }
    assert (0, 100) in got, f"same-vocabulary pair missed: {got}"
    assert got[(0, 100)] == 0
    assert (0, 200) not in got and (100, 200) not in got


def test_exact_dedup_picks_min_doc_id(spark, tmp_path):
    rows = [(5, "same text here"), (2, "same text here"), (9, "other text x")]
    sf = write_documents(tmp_path, rows)
    got = {
        r.canonical_id: r.n_copies
        for r in registry.QUERIES["dedup_exact"].fn(spark, sf).collect()
    }
    assert got == {2: 2, 9: 1}


def test_ngram_jaccard_matches_python_sets(spark, tmp_path):
    sf, planted = _planted_corpus(tmp_path)
    rows = registry.QUERIES["dedup_ngram_jaccard"].fn(spark, sf).collect()
    texts = dict(
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    )
    got = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
    # Planted pairs (J ≈ 0.9) collide on a bottom-k md5 band key with
    # P ≈ 1-(1-J)^k ≥ 0.9999 per pair — and the pipeline is
    # deterministic (seeded corpus, seed-free md5), so this either
    # always passes or always fails.
    for pair in planted:
        assert pair in got, f"missing planted pair {pair}"
    for (a_id, b_id), jac in got.items():
        a, b = _py_shingles(texts[a_id]), _py_shingles(texts[b_id])
        assert abs(len(a & b) / len(a | b) - jac) < 1e-3


def test_ngram_jaccard_block_cap_bounds_skewed_block(spark, tmp_path, monkeypatch):
    """A monster block (30 EXACT copies → identical bottom-k band
    keys, so every key's block holds all 30 docs) must not go
    quadratic: only the CAP lowest doc_ids are admitted per band key,
    so candidate count is bounded at CAP·(CAP−1)/2 no matter the
    corpus size — and identical copies make the admitted set the same
    10 lowest ids in EVERY key's block, deterministically."""
    from finance_pipeline_spark.operators import dedup as D

    rng = random.Random(11)
    base = random_doc(rng, n_tokens=40)
    sf = write_documents(tmp_path, [(i, base) for i in range(30)])
    monkeypatch.setattr(D, "_NGRAM_BLOCK_CAP", 10)
    rows = registry.QUERIES["dedup_ngram_jaccard"].fn(spark, sf).collect()
    ids = {r.doc_a for r in rows} | {r.doc_b for r in rows}
    # deterministic admission: exactly the 10 smallest doc_ids pair up
    assert ids <= set(range(10)), f"cap admitted unexpected ids: {sorted(ids)}"
    assert len(rows) <= 10 * 9 // 2
    # exact copies: the admitted block is fully paired at jaccard 1.0
    assert len(rows) == 10 * 9 // 2
    assert all(r.jaccard == 1.0 for r in rows)
    # and the over-cap remainder is observable, never silent: every
    # band-key block reports the 20 docs past the cap
    ledger = D.ngram_dropped_blocks(
        spark.read.parquet(f"{sf}/documents.parquet")
    ).collect()
    assert len(ledger) == D._NGRAM_BANDS
    assert all(r.n_docs_dropped == 20 for r in ledger)


def test_minhash_oracle_mulmod_emulation_matches_python():
    """The DuckDB oracle emulates the uint64-wraparound permutation
    (a·h + b) mod 2⁶⁴ with 32-bit half products in HUGEINT; property-
    check the emulation against Python integer arithmetic for every
    registered permutation over random + boundary hash values."""
    import duckdb

    from finance_pipeline_spark.operators.dedup import _PERM_A, _PERM_B

    con = duckdb.connect()
    m64, m32 = 1 << 64, 1 << 32
    rng = random.Random(99)
    hashes = [0, 1, m64 - 1, (1 << 63), (1 << 32) - 1] + [
        rng.getrandbits(64) for _ in range(20)
    ]
    for a, b in zip(_PERM_A, _PERM_B):
        a_hi, a_lo = a >> 32, a & 0xFFFFFFFF
        for h in hashes:
            want = (a * h + b) % m64
            got = con.execute(
                f"SELECT CAST((({a_lo}::HUGEINT * hh"
                f" + (({a_hi}::HUGEINT * hh) % {m32}) * {m32}"
                f" + {b}::HUGEINT) % {m64}) AS UBIGINT)"
                f" FROM (SELECT {h}::HUGEINT AS hh)"
            ).fetchone()[0]
            assert got == want, (a, b, h)


def _pm(doc_id: int) -> int:
    """Python twin of the md5-permille split used by dedup_incremental
    (and text_split_assign)."""
    import hashlib

    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:6], 16) % 1000


def test_incremental_screen_tiers(spark, tmp_path):
    """Planted three-tier scenario: an incoming exact copy of a corpus
    doc → drop_exact; a 1-token-edit near copy → review_near; a
    disjoint-vocabulary doc → keep. Split membership is forced by
    picking doc_ids on the right side of the md5-permille boundary."""
    from finance_pipeline_spark.operators.dedup import _INCR_SPLIT_PM

    rng = random.Random(5)
    corpus_ids = [i for i in range(2000) if _pm(i) < _INCR_SPLIT_PM]
    inc_ids = [i for i in range(2000) if _pm(i) >= _INCR_SPLIT_PM]
    base, other = random_doc(rng), random_doc(rng)
    rows = [
        (corpus_ids[0], base),
        (corpus_ids[1], other),
        (inc_ids[0], base),  # exact copy of a corpus doc
        (inc_ids[1], perturb_doc(rng, other, n_edits=1)),  # near copy
        (inc_ids[2], " ".join(f"qq{i}" for i in range(60))),  # novel
    ]
    sf = write_documents(tmp_path, rows)
    got = {
        r.doc_id: r
        for r in registry.QUERIES["dedup_incremental"].fn(spark, sf).collect()
    }
    assert set(got) == set(inc_ids[:3])  # exactly the incoming side
    assert got[inc_ids[0]].exact_dup and got[inc_ids[0]].verdict == "drop_exact"
    assert not got[inc_ids[1]].exact_dup
    assert got[inc_ids[1]].near_dup and got[inc_ids[1]].verdict == "review_near"
    assert not got[inc_ids[2]].near_dup and got[inc_ids[2]].verdict == "keep"


def test_minhash_is_deterministic(spark, tmp_path):
    """Same corpus, two runs → identical pair sets (md5-truncation
    hashing is seed-free; a PYTHONHASHSEED-dependent hash would flake
    here)."""
    sf, _ = _planted_corpus(tmp_path)
    run = lambda: sorted(  # noqa: E731
        (r.doc_a, r.doc_b, r.jaccard)
        for r in registry.QUERIES["dedup_minhash_lsh"].fn(spark, sf).collect()
    )
    assert run() == run()


def test_chunk_minhash_finds_edited_boilerplate(spark, tmp_path):
    """A ~32-token boilerplate paragraph embedded (chunk-aligned) in
    two otherwise-unrelated docs, one copy carrying a single token
    edit: exact chunk dedup misses it, the chunk-level MinHash pass
    must pair the two chunks. Precision: every reported pair's Jaccard
    recomputed from the chunk texts independently."""
    from finance_pipeline_spark.operators.textops import (
        _CHUNK_STRIDE,
        _CHUNK_TOKENS,
    )

    rng = random.Random(11)
    boiler = random_doc(rng, n_tokens=_CHUNK_TOKENS)
    edited = perturb_doc(rng, boiler, n_edits=1)
    rows = [
        (1, boiler + " " + random_doc(rng, 48)),
        (2, edited + " " + random_doc(rng, 48)),
        (3, random_doc(rng, 80)),
    ]
    sf = write_documents(tmp_path, rows)
    got = registry.QUERIES["dedup_chunk_minhash"].fn(spark, sf).collect()
    pairs = {(r.doc_a, r.chunk_a, r.doc_b, r.chunk_b) for r in got}
    assert (1, 0, 2, 0) in pairs, pairs

    def chunk(text: str, idx: int) -> str:
        toks = text.split(" ")
        return " ".join(toks[idx * _CHUNK_STRIDE : idx * _CHUNK_STRIDE + _CHUNK_TOKENS])

    texts = dict(rows)
    for r in got:
        a = _py_shingles(chunk(texts[r.doc_a], r.chunk_a))
        b = _py_shingles(chunk(texts[r.doc_b], r.chunk_b))
        true_jac = len(a & b) / len(a | b)
        assert true_jac >= 0.5, (tuple(r), true_jac)
        assert abs(true_jac - r.jaccard) < 1e-3


def test_bloom_screen_matches_plain_semi_join(spark, tmp_path):
    """The bloom pre-filter is a no-false-negative accelerator: on a
    planted corpus with cross-split exact dups, the screened verdicts
    must be bit-identical to the plain digest semi-join the oracle
    expresses."""
    from pyspark.sql import functions as F

    from finance_pipeline_spark.operators.dedup import _INCR_SPLIT_PM

    rng = random.Random(11)
    corpus_ids = [i for i in range(4000) if _pm(i) < _INCR_SPLIT_PM]
    inc_ids = [i for i in range(4000) if _pm(i) >= _INCR_SPLIT_PM]
    dup_a, dup_b = random_doc(rng), random_doc(rng)
    rows = [(corpus_ids[k], random_doc(rng)) for k in range(40)]
    rows += [(corpus_ids[40], dup_a), (corpus_ids[41], dup_b)]
    rows += [(inc_ids[k], random_doc(rng)) for k in range(20)]
    rows += [(inc_ids[20], dup_a), (inc_ids[21], dup_b)]
    sf = write_documents(tmp_path, rows)

    got = {
        r.doc_id: (r.exact_dup, r.verdict)
        for r in registry.QUERIES["dedup_bloom_screen"].fn(spark, sf).collect()
    }
    assert set(got) == {i for i, _ in rows if _pm(i) >= _INCR_SPLIT_PM}
    for planted in (inc_ids[20], inc_ids[21]):
        assert got[planted] == (True, "drop_exact")
    n_dropped = sum(1 for v in got.values() if v[0])
    assert n_dropped == 2  # nothing else collides at this fp sizing


def test_bloom_build_and_membership_kernel(spark, tmp_path):
    """build_digest_bloom over a digest frame: every inserted digest
    tests positive (no false negatives, the correctness invariant) and
    the measured fp rate on 2000 novel digests stays near the sized
    bound (<2%)."""
    import hashlib

    import numpy as np

    from finance_pipeline_spark.operators.dedup import (
        _bloom_indexes,
        build_digest_bloom,
    )

    inserted = [hashlib.sha256(f"in-{i}".encode()).hexdigest() for i in range(500)]
    novel = [hashlib.sha256(f"out-{i}".encode()).hexdigest() for i in range(2000)]
    df = spark.createDataFrame([(d,) for d in inserted], "dg string")
    words = build_digest_bloom(df)

    def member(dg_list):
        idx = _bloom_indexes(dg_list)
        bits = (words[idx >> np.uint64(6)] >> (idx & np.uint64(63))) & np.uint64(1)
        return bits.all(axis=1)

    assert member(inserted).all()
    assert member(novel).mean() < 0.02


def test_star_components_match_min_label_on_random_graph(spark):
    """Star contraction and min-label propagation are two algorithms
    for one answer: identical (vertex, component) labels on a random
    multi-component graph."""
    from finance_pipeline_spark.operators.dedup import (
        _min_label_components,
        _star_components,
    )

    rng = random.Random(41)
    edges = set()
    # 5 random components of 3-15 vertices each, ids deliberately
    # interleaved so min-label roots aren't positional accidents
    base = 0
    for _ in range(5):
        n = rng.randrange(3, 16)
        ids = [base + i * 7 + rng.randrange(3) * 100 for i in range(n)]
        ids = list(dict.fromkeys(ids))
        for i in range(1, len(ids)):
            edges.add((ids[i], ids[rng.randrange(i)]))
        for _ in range(len(ids) // 2):  # extra chords
            a, b = rng.sample(ids, 2)
            if a != b:
                edges.add((a, b))
        base += 2000
    pairs = spark.createDataFrame(
        [(a, b) for a, b in sorted(edges)], "vec_a bigint, vec_b bigint"
    )
    want = sorted(
        map(tuple, _min_label_components(pairs).collect())
    )
    got = sorted(map(tuple, _star_components(pairs).collect()))
    assert got == want


def test_star_components_log_rounds_on_planted_chain(spark):
    """The shape that motivates star contraction: a 200-vertex path
    needs 200 min-label rounds (past its 60-round cap) but must
    converge in <= ceil(log2(200)) + 4 = 12 star big-rounds, with
    every vertex labeled by the chain's minimum id."""
    from finance_pipeline_spark.operators.dedup import (
        _min_label_components,
        _star_components,
    )

    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "vec_a bigint, vec_b bigint"
    )
    rounds_out: dict = {}
    labels = _star_components(pairs, rounds_out=rounds_out).collect()
    assert {r.vec_id for r in labels} == set(range(1, n + 1))
    assert all(r.component_id == 1 for r in labels)
    assert rounds_out["rounds"] <= 12, rounds_out
    # and the propagation loop indeed cannot do this shape
    import pytest

    with pytest.raises(RuntimeError, match="did not"):
        _min_label_components(pairs)


def test_star_components_empty_and_single_edge(spark):
    from finance_pipeline_spark.operators.dedup import _star_components

    empty = spark.createDataFrame([], "vec_a bigint, vec_b bigint")
    assert _star_components(empty).collect() == []
    one = spark.createDataFrame([(7, 3)], "vec_a bigint, vec_b bigint")
    got = sorted(map(tuple, _star_components(one).collect()))
    assert got == [(3, 3), (7, 3)]


def test_label_sum_null_on_nonempty_labels_fails_loudly(spark):
    """The min-label convergence probe compares label sums; a NULL sum
    on a non-empty labels frame (decimal overflow with ANSI off, or a
    null label) would equal the previous NULL and declare a false
    fixpoint, so it raises. An empty frame's NULL sum is legitimate."""
    import pytest

    from finance_pipeline_spark.operators.dedup import _label_sum

    schema = "u bigint, comp bigint"
    assert _label_sum(spark.createDataFrame([(1, 1), (2, 1)], schema)) == 2
    assert _label_sum(spark.createDataFrame([], schema)) is None
    with pytest.raises(RuntimeError, match="label sum is NULL"):
        _label_sum(spark.createDataFrame([(1, None), (2, None)], schema))


def test_minhash_dropped_bucket_accounting_matches_planted_bucket(spark):
    """A planted boilerplate bucket (cap+1 identical docs) must vanish
    from the pair output AND appear in the accounting ledger with its
    exact size — the silent-drop observability the r7 verdict demanded.
    Identical docs share all 8 band keys, so the ledger shows 8
    over-cap buckets of cap+1 docs each, and distinct filler docs pair
    normally."""
    from finance_pipeline_spark.operators import dedup as D

    boiler = " ".join(f"tok{i % 7}" for i in range(40))
    n_boiler = D._MINHASH_BUCKET_CAP + 1
    rng = random.Random(43)
    a = random_doc(rng)
    rows = [(i, boiler) for i in range(n_boiler)]
    rows += [(10_000, a), (10_001, a)]  # a genuine pair that must survive
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    out: dict = {}
    pairs = D.minhash_pairs(docs, dropped_out=out).collect()
    got_pairs = {(r.doc_a, r.doc_b) for r in pairs}
    assert (10_000, 10_001) in got_pairs
    assert not any(d < n_boiler for p in got_pairs for d in p), (
        "boilerplate bucket must be dropped from pairing"
    )
    ledger = out["dropped_buckets"].collect()
    assert len(ledger) == D._LSH_BANDS
    assert all(r.n_docs_dropped == n_boiler for r in ledger)


def test_ngram_and_cosine_dropped_block_accounting(spark, tmp_path, monkeypatch):
    """Row-number-capped families report size - cap (only the remainder
    is dropped). Caps are monkeypatched small to keep the planted
    blocks cheap; operator and accounting read the same module
    constant at call time, so they move together."""
    import numpy as np

    from finance_pipeline_spark.operators import dedup as D
    from tests.conftest import write_embeddings

    monkeypatch.setattr(D, "_NGRAM_BLOCK_CAP", 5)
    rng = random.Random(47)
    base = random_doc(rng)
    docs = spark.createDataFrame(
        # 9 exact copies → identical bottom-k band keys → each of the
        # _NGRAM_BANDS key blocks holds 9 postings, 4 past the cap
        [(i, "en", base) for i in range(9)],
        "doc_id bigint, lang string, text string",
    )
    ng = D.ngram_dropped_blocks(docs).collect()
    assert len(ng) == D._NGRAM_BANDS
    assert all(r.n_docs_dropped == 4 for r in ng)
    assert len({r.block_key for r in ng}) == D._NGRAM_BANDS  # distinct keys

    # cosine: 20 same-label vectors at %10 ids vs cap 16 -> 4 dropped
    mat = np.random.default_rng(7).standard_normal((20, 64))
    sf = write_embeddings(tmp_path, [(i + 1) * 10 for i in range(20)], mat)
    cs = D.cosine_dropped_blocks(spark, sf).collect()
    assert [(r.block_key, r.n_docs_dropped) for r in cs] == [
        ("0", 20 - D._COSINE_BLOCK_CAP)
    ]


def test_ranged_bloom_routing_isolates_ranges(spark):
    """The planted two-ranges-disagree check: a digest must be tested
    ONLY against its own range's bitmap. Range r's bitmap is forced
    all-ones while the probe digest routes to a different, empty range
    — a monolithic OR of the bitmaps would answer 'maybe', the ranged
    probe must answer 'no' (and the converse digest routing INTO the
    saturated range answers 'maybe')."""
    import hashlib

    import numpy as np
    from pyspark.sql import functions as F

    from finance_pipeline_spark.operators import dedup

    # two real digests landing in different ranges
    def dg_for_range(r: int) -> str:
        i = 0
        while True:
            d = hashlib.sha256(f"probe-{r}-{i}".encode()).hexdigest()
            if int(d[:2], 16) % dedup._BLOOM_RANGES == r:
                return d
            i += 1

    d0, d1 = dg_for_range(0), dg_for_range(1)
    n_words = dedup._BLOOM_BITS >> 6
    words = np.zeros((dedup._BLOOM_RANGES, n_words), dtype=np.int64)
    words[0, :] = -1  # range 0: every bit set

    probe = spark.createDataFrame([(d0,), (d1,)], "dg string")
    got = {
        r["dg"]: r["hit"]
        for r in probe.select(
            "dg",
            dedup.bloom_maybe_contains_ranged(spark, words, F.col("dg")).alias(
                "hit"
            ),
        ).collect()
    }
    assert got[d0] is True  # its range is saturated -> maybe
    assert got[d1] is False  # its own range is empty, range 0 invisible


def test_ranged_bloom_equals_monolithic_semantics(spark):
    """No false negatives and build/probe agreement: every digest put
    into the ranged build must probe 'maybe'; digests never added and
    routing to sparse ranges probe 'no' (up to fp rate ~0 at this
    fill)."""
    import hashlib

    from pyspark.sql import functions as F

    from finance_pipeline_spark.operators import dedup

    dgs = [hashlib.sha256(f"doc-{i}".encode()).hexdigest() for i in range(200)]
    absent = [
        hashlib.sha256(f"other-{i}".encode()).hexdigest() for i in range(200)
    ]
    words = dedup.build_digest_bloom_ranged(
        spark.createDataFrame([(d,) for d in dgs], "dg string")
    )
    probe = spark.createDataFrame(
        [(d, True) for d in dgs] + [(d, False) for d in absent],
        "dg string, expected boolean",
    )
    rows = probe.select(
        "expected",
        dedup.bloom_maybe_contains_ranged(spark, words, F.col("dg")).alias(
            "hit"
        ),
    ).collect()
    present_hits = [r["hit"] for r in rows if r["expected"]]
    absent_hits = [r["hit"] for r in rows if not r["expected"]]
    assert all(present_hits), "ranged bloom produced a false negative"
    # 200 digests over 4x2^20 bits: fp odds are ~0 — allow a couple
    assert sum(absent_hits) <= 2


def test_url_keyed_dedup_plants_real_groups(spark, sf_dir):
    """Non-vacuity guard for dedup_url_keyed: the fixture must create
    genuine multi-way URL groups (a prior grouping rule produced zero
    duplicates and the oracle PASSED vacuously), first-wins must pick
    the min doc_id, and every loser carries the audit verdict."""
    from finance_pipeline_spark import registry

    rows = registry.QUERIES["dedup_url_keyed"].fn(spark, sf_dir).collect()
    by_url = {}
    for r in rows:
        by_url.setdefault(r.canon_url, []).append(r)
    multi = [g for g in by_url.values() if len(g) > 1]
    assert multi, "fixture planted no duplicate URL groups"
    assert sum(len(g) - 1 for g in multi) > 0.5 * len(rows) * 0.5
    for g in multi:
        keepers = [r for r in g if r.kept]
        assert len(keepers) == 1
        assert keepers[0].doc_id == min(r.doc_id for r in g)
        assert all(
            r.verdict == ("keep" if r.kept else "drop_url_dup") for r in g
        )


def test_py_shingles_matches_sql_twin_on_adversarial_texts():
    """Three implementations must agree (JVM _word_shingles is pinned
    by the oracle gate; this pins the Python kernel twin against the
    DuckDB CTE form) — adversarially: double spaces (empty tokens are
    KEPT by split-on-space in all three), leading/trailing spaces,
    tabs/newlines (NOT trimmed — only spaces are), unicode case, the
    sub-n short path, empty and NULL text, and repeated-token runs."""
    import duckdb

    from finance_pipeline_spark.operators.dedup import _py_shingles

    con = duckdb.connect()
    sql = """
    SELECT CASE WHEN len(t) >= 3 THEN
      list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                     FOR i IN range(1, greatest(len(t) - 1, 1))])
      ELSE [] END
    FROM (SELECT string_split(trim(lower(?)), ' ') AS t)
    """
    cases = [
        "a  b c d", "  x y z  ", "A\tB C D E", "a b c", "ab", "",
        None, "a b  c d e", "ümlaut WORT drei vier", "a b c d\n",
        "x " * 6, " ", "a b c  ", "\n a b c",
    ]
    for c in cases:
        got = set(con.execute(sql, [c]).fetchone()[0] or [])
        assert got == _py_shingles(c), repr(c)


def test_dedup_simhash_matches_bruteforce_on_random_corpora(spark, tmp_path):
    """End-to-end banding exactness for SimHash: on random small
    corpora (token soups with planted near-identical docs so hamming
    <= 3 pairs actually exist), dedup_simhash must return EXACTLY the
    brute-force pairs over independently computed Python signatures —
    pinning the signature kernel, the 4x16 pigeonhole banding, and the
    popcount filter together on adversarial data rather than the
    driver corpus."""
    import itertools
    import random

    from tests.conftest import write_documents

    from finance_pipeline_spark import registry
    from finance_pipeline_spark.operators.dedup import _hash64

    def py_simhash(text: str) -> int:
        toks = set(text.strip(" ").lower().split(" "))
        votes = [0] * 64
        for t in toks:
            h = _hash64(t.encode("utf-8"))
            for k in range(64):
                votes[k] += 1 if (h >> k) & 1 else -1
        return sum(1 << k for k in range(64) if votes[k] > 0)

    rng = random.Random(4242)
    words = [f"w{i}" for i in range(40)]
    rows = []
    did = 0
    for _ in range(6):
        base = rng.sample(words, rng.randint(8, 14))
        rows.append((did, " ".join(base))); did += 1
        # near copies: swap 1 token (signatures land within a few bits)
        for _ in range(rng.randint(1, 2)):
            mod = list(base)
            mod[rng.randrange(len(mod))] = rng.choice(words)
            rows.append((did, " ".join(mod))); did += 1
    for _ in range(6):  # unrelated noise docs
        rows.append((did, " ".join(rng.sample(words, rng.randint(5, 9)))))
        did += 1

    sf = write_documents(tmp_path, rows)
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in registry.QUERIES["dedup_simhash"].fn(spark, sf).collect()
    }
    sigs = {d: py_simhash(t) for d, t in rows}
    want = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin(sigs[a] ^ sigs[b]).count("1")
        if h <= 3:
            want.add((a, b, h))
    assert got == want, got ^ want
    assert want, "corpus produced no <=3-bit pairs — planting failed"
