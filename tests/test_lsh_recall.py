"""Recall/precision assertions for the approximate dedup & ANN operators
(SURVEY.md §5; VERDICT round-1 item 2).

The exact operators (q30 shingle Jaccard, q33 brute-force cosine) are the
ground truth; the approximate ones (q31 MinHash-LSH, q32 SimHash, q34
SRP-LSH ANN) must recover ≥90% of it — and, where they verify
candidates exactly, with perfect precision.
"""

from __future__ import annotations

import numpy as np
import pytest

from flink_note_spark.operators.dedup import simhash_fingerprints, simhash_pairs
from flink_note_spark.queries.llm import (
    q30_jaccard_pairs,
    q31_minhash_lsh,
    q33_cosine_topk,
    q34_lsh_cosine_topk,
    q51_embedding_near_dup,
    q52_lsh_embedding_near_dup,
)
from flink_note_spark.session import load_table


def _pair_set(df, c1="d1", c2="d2"):
    return {(int(r[c1]), int(r[c2])) for r in df.collect()}


def test_minhash_lsh_recall_and_precision(spark, sf_dir):
    """q31 (MinHash + banded LSH + exact verification) vs q30 (exact
    all-shared-shingle Jaccard): the verified output must be a SUBSET of
    the exact pairs (precision 1.0 — verification recomputes true
    Jaccard) and recover at least 90% of them (recall via 8 bands × 4
    rows at threshold 0.4)."""
    exact = _pair_set(q30_jaccard_pairs(spark, sf_dir))
    approx = _pair_set(q31_minhash_lsh(spark, sf_dir))
    assert exact, "fixture corpus must contain near-duplicate pairs"

    false_pos = approx - exact
    assert not false_pos, f"verified LSH pairs not in exact set: {false_pos}"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"MinHash-LSH recall {recall:.3f} < 0.9"


def test_minhash_lsh_exact_on_fixture(spark, sf_dir):
    """Pins the q90 oracle claim: at q31's parameters the verified LSH
    pair set EQUALS the exact pair set on the fixture corpus (recall
    1.0, precision 1.0) — which is what lets q90_lsh_verified_pairs
    reuse the exact-Jaccard SQL as a driver oracle. If parameter or
    kernel drift ever drops a pair, this fails before the driver's
    hash mismatch does."""
    exact = _pair_set(q30_jaccard_pairs(spark, sf_dir))
    approx = _pair_set(q31_minhash_lsh(spark, sf_dir))
    assert approx == exact, (
        f"missed={sorted(exact - approx)[:5]} extra={sorted(approx - exact)[:5]}"
    )


def test_lsh_cosine_topk_recall(spark, sf_dir):
    """q34 (SRP-LSH ANN) vs q33 (exact brute-force cosine): ≥90% of the
    true top-5 neighbor pairs must be recovered."""
    exact = {
        (int(r.query_id), int(r.neighbor_id))
        for r in q33_cosine_topk(spark, sf_dir).collect()
    }
    approx = {
        (int(r.query_id), int(r.neighbor_id))
        for r in q34_lsh_cosine_topk(spark, sf_dir).collect()
    }
    assert exact
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"ANN recall {recall:.3f} < 0.9"


def test_embedding_near_dup_recall_and_precision(spark, sf_dir):
    """q52 (SRP-LSH bucketed + exact verification) vs q51 (exact blocked
    all-pairs): verified pairs are a subset of the exact set (precision
    1.0) with ≥90% recall."""
    exact = _pair_set(q51_embedding_near_dup(spark, sf_dir))
    approx = _pair_set(q52_lsh_embedding_near_dup(spark, sf_dir))
    assert exact, "fixture corpus must contain similar embedding pairs"

    false_pos = approx - exact
    assert not false_pos, f"verified pairs not in exact set: {false_pos}"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"embedding LSH recall {recall:.3f} < 0.9"


def test_simhash_pigeonhole_completeness(spark, sf_dir):
    """Pigeonhole guarantee: every document pair whose 64-bit SimHash
    fingerprints differ in ≤ max_hamming bits MUST appear in
    simhash_pairs output (banding into max_hamming+1 chunks means some
    chunk matches exactly). Brute-force all-pairs hamming over the
    fixture corpus is the oracle."""
    max_hamming = 3
    docs = load_table(spark, sf_dir, "documents")
    fp = simhash_fingerprints(docs, "doc_id", "text").toPandas()

    ids = fp["doc_id"].to_numpy()
    sigs = fp["simhash"].to_numpy().astype(np.uint64)
    # all-pairs hamming distance via XOR + popcount (fixture-sized corpus)
    xor = sigs[:, None] ^ sigs[None, :]
    ham = np.vectorize(lambda v: bin(int(v)).count("1"))(xor)
    iu = np.triu_indices(len(ids), k=1)
    want = {
        (int(min(a, b)), int(max(a, b)))
        for a, b, h in zip(ids[iu[0]], ids[iu[1]], ham[iu])
        if h <= max_hamming
    }
    assert want, "fixture corpus must contain SimHash-close pairs"

    got = _pair_set(simhash_pairs(docs, "doc_id", "text", max_hamming=max_hamming))
    missing = want - got
    assert not missing, f"pigeonhole-guaranteed pairs missing: {missing}"
    # and nothing beyond the hamming bound sneaks in
    extra = got - want
    assert not extra, f"pairs beyond hamming bound: {extra}"


def test_srp_kernel_matches_expressions(spark, sf_dir):
    """The vectorized SRP matmul kernel (_srp_bucket_rows) must assign
    every vector the SAME bucket keys as the legacy interpreted
    zip_with/aggregate expression formulation (_srp_bits) — same LCG
    hyperplane draws, same sign convention, key = bits packed at 2^b.

    Caveat: BLAS and Catalyst sum the dot product in different orders,
    so a vector whose dot with a hyperplane is within float ulps of
    zero could theoretically flip a bit between formulations. On this
    FIXED fixture+seed the outcome is deterministic (and passing);
    if a future fixture regeneration trips this, the assertion may
    exclude dots with |value| < 1e-12 rather than weaken the contract
    (production recall is unaffected — both join sides use the same
    kernel)."""
    from pyspark.sql import functions as F

    from flink_note_spark.operators.similarity import _srp_bits, _srp_bucket_rows

    dim, n_bits, n_tables, seed = 64, 4, 6, 42
    emb = load_table(spark, sf_dir, "embeddings")

    got = {
        (int(r.vid), int(r.table_id)): int(r.bucket_key)
        for r in _srp_bucket_rows(
            emb, "vec_id", "embedding", dim, n_bits, n_tables, seed, id_out="vid"
        ).collect()
    }

    legacy = emb.select(F.col("vec_id"), F.col("embedding").alias("__v"))
    want = {}
    for t in range(n_tables):
        bits = _srp_bits("__v", dim, n_bits, seed + 7919 * t)
        key = None
        for b, bit in enumerate(bits):
            term = bit.cast("long") * F.lit(1 << b)
            key = term if key is None else key + term
        for r in legacy.select("vec_id", key.alias("k")).collect():
            want[(int(r.vec_id), t)] = int(r.k)

    assert got == want


def test_minhash_flood_path_caps_boilerplate_keeps_real_pairs(spark):
    """Exercise the rare (has_hot) branch of minhash_lsh_pairs: a
    boilerplate flood (identical docs ≫ max_bucket) floods every band
    it occupies and is capped away producing NO pairs, while a distinct
    near-dup pair outside the flood is still found and verified."""
    from flink_note_spark.operators.dedup import minhash_lsh_pairs

    flood = [(i, "lorem ipsum dolor sit amet consectetur") for i in range(30)]
    realA = (100, "the quick brown fox jumps over the lazy dog tonight")
    realB = (101, "the quick brown fox jumps over the lazy dog today")
    df = spark.createDataFrame(flood + [realA, realB], "doc_id long, text string")

    got = {
        (r.d1, r.d2)
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", n=2, num_hashes=32, bands=8,
            threshold=0.4, max_bucket=8, ids_unique=True,
        ).collect()
    }
    assert got == {(100, 101)}


def test_simhash_flooded_chunk_does_not_hide_pairs(spark):
    """ADVICE r4 #1: a close pair whose FIRST agreeing chunk sits in a
    flood-capped bucket must still be found through a later surviving
    agreeing chunk (the old row-local dedup attributed it to the flood
    and dropped it). Constructed fingerprints, max_hamming=3 → 4 chunks
    of 16 bits: 1200 flood docs share chunk0=0 (bucket capped at
    max_bucket=1000); the target pair also has chunk0=0 but agrees on
    chunk1 (unique value) and chunk2, differing by 1 bit in chunk3."""
    from flink_note_spark.operators.dedup import simhash_pairs_from_fingerprints

    V, A = 0xBEEF, 0x1234
    pair1 = (V << 16) | (A << 32) | (0x00F0 << 48)
    pair2 = (V << 16) | (A << 32) | (0x00F1 << 48)
    rows = [(1, pair1), (2, pair2)]
    # flood: chunk0 = 0 for everyone; chunks 1-3 distinct per doc and
    # disjoint from the pair's values, so no other buckets collide.
    for i in range(3, 1203):
        rows.append((i, (i << 16) | (i << 32) | (i << 48)))
    fp = spark.createDataFrame(rows, "doc_id long, simhash long")

    got = {
        (r.d1, r.d2, r.hamming)
        for r in simhash_pairs_from_fingerprints(
            fp, max_hamming=3, max_bucket=1000
        ).collect()
    }
    assert got == {(1, 2, 1)}


def test_ivf_topk_exhaustive_probe_equals_exact(spark, sf_dir):
    """IVF with n_probe == n_cells probes every cell — the result must
    EQUAL the exact brute-force top-k (same ids, same ranks): the cell
    partition is then only a routing detail, not an approximation."""
    from flink_note_spark.operators.similarity import cosine_topk, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(emb.vec_id < 10)
    exact = {
        (int(r.query_id), int(r.neighbor_id), int(r.rank))
        for r in cosine_topk(q, emb, k=5).collect()
    }
    ivf = {
        (int(r.query_id), int(r.neighbor_id), int(r.rank))
        for r in ivf_topk(q, emb, k=5, n_cells=8, n_probe=8, iters=1).collect()
    }
    assert exact
    assert ivf == exact


def test_ivf_index_reuse_no_retraining(spark, sf_dir):
    """ivf_build materializes the cell-assigned corpus ONCE: the index's
    ``assigned`` frame must be a localCheckpoint block scan (LogicalRDD
    — no mapInPandas/training lineage left to re-execute), and two
    different query batches against the same index must both match the
    exact operator under exhaustive probing without rebuilding."""
    from flink_note_spark.operators.similarity import (
        cosine_topk,
        ivf_build,
        ivf_query,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    index = ivf_build(emb, n_cells=8, iters=1)

    # Lineage truncated: re-reading `assigned` cannot re-run training or
    # assignment (LogicalRDD = executor-stored blocks, nothing upstream).
    plan = index.assigned._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in plan, plan
    assert "mapInPandas" not in plan.lower()

    for lo, hi in ((0, 10), (10, 20)):
        q = emb.filter((emb.vec_id >= lo) & (emb.vec_id < hi))
        exact = {
            (int(r.query_id), int(r.neighbor_id), int(r.rank))
            for r in cosine_topk(q, emb, k=5).collect()
        }
        got = {
            (int(r.query_id), int(r.neighbor_id), int(r.rank))
            for r in ivf_query(index, q, k=5, n_probe=8).collect()
        }
        assert exact and got == exact


def test_ivf_save_load_round_trip(spark, sf_dir, tmp_path):
    """Cross-session index persistence: ivf_save writes the
    cell-assigned corpus bucketed on cell_id + a centroid side table;
    ivf_load rebuilds the index with NO training or assignment pass
    (assigned = bucketed table scan), and queries against the loaded
    index equal queries against the built one."""
    from flink_note_spark.operators.similarity import (
        ivf_build,
        ivf_load,
        ivf_query,
        ivf_save,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    built = ivf_build(emb, n_cells=8, iters=1)
    table = "ivf_rt_test"
    try:
        ivf_save(built, table, buckets=4, path=str(tmp_path / "ivf"))
        loaded = ivf_load(spark, table)

        assert np.allclose(loaded.centroids, built.centroids)
        plan = loaded.assigned._jdf.queryExecution().analyzed().toString()
        assert "mapInPandas" not in plan.lower()  # pure table scan

        q = emb.filter(emb.vec_id < 10)
        want = {
            (int(r.query_id), int(r.neighbor_id), int(r.rank))
            for r in ivf_query(built, q, k=5, n_probe=4).collect()
        }
        got = {
            (int(r.query_id), int(r.neighbor_id), int(r.rank))
            for r in ivf_query(loaded, q, k=5, n_probe=4).collect()
        }
        assert want and got == want
    finally:
        for t in (table, f"{table}__centroids", f"{table}__meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def _drop_ivf_tables(spark, table):
    for t in (table, f"{table}__centroids", f"{table}__meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ivf_index_append_equals_same_centroid_union(spark, sf_dir, tmp_path):
    """The persisted-index accretion contract: appending an increment
    must produce EXACTLY the index that assigning the union corpus
    against the same (fixed) centroids would — pinned at PARTIAL probe
    (n_probe=2), which is sensitive to the appended rows landing in the
    right cells (exhaustive probing would mask a mis-assignment)."""
    from pyspark.sql import functions as F

    from flink_note_spark.operators.similarity import (
        IvfIndex,
        _ivf_assign_cells,
        ivf_build,
        ivf_index_append,
        ivf_load,
        ivf_query,
        ivf_save,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(emb.vec_id % 2 == 0)
    inc = emb.filter(emb.vec_id % 2 == 1)
    table = "ivf_append_test"
    try:
        built = ivf_build(base, n_cells=8, iters=1)
        ivf_save(built, table, buckets=4, path=str(tmp_path / "ivf"))
        ivf_index_append(inc, table)
        loaded = ivf_load(spark, table)
        assert np.allclose(loaded.centroids, built.centroids)

        c = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("__cv"),
        )
        union_idx = IvfIndex(
            built.centroids,
            _ivf_assign_cells(c, built.centroids, "__cv")
            .withColumnRenamed("__cell", "cell_id"),
            built.id_type,
        )
        q = emb.filter(emb.vec_id < 10)
        want = {
            (int(r.query_id), int(r.neighbor_id), int(r.rank))
            for r in ivf_query(union_idx, q, k=5, n_probe=2).collect()
        }
        got = {
            (int(r.query_id), int(r.neighbor_id), int(r.rank))
            for r in ivf_query(loaded, q, k=5, n_probe=2).collect()
        }
        assert want and got == want
        # appended rows rode the bucketed layout: the corpus table kept
        # its save-time bucket spec across the append
        from flink_note_spark.operators.dedup import _table_buckets

        assert _table_buckets(spark, table) == 4
    finally:
        _drop_ivf_tables(spark, table)


def test_ivf_index_append_refusals(spark, sf_dir, tmp_path):
    """Loud refusals on the append path: an id already in the index
    (would duplicate its neighbor rows) and a vector dimensionality
    differing from the trained centroids (wrong embedding family)."""
    from pyspark.sql import functions as F

    from flink_note_spark.operators.similarity import (
        ivf_build,
        ivf_index_append,
        ivf_save,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    table = "ivf_refuse_test"
    try:
        built = ivf_build(emb.filter(emb.vec_id % 2 == 0), n_cells=4, iters=1)
        ivf_save(built, table, buckets=2, path=str(tmp_path / "ivf"))
        with pytest.raises(ValueError, match="already in the index"):
            ivf_index_append(emb.filter(emb.vec_id % 2 == 0), table)
        short = emb.filter(emb.vec_id % 2 == 1).withColumn(
            "embedding", F.slice("embedding", 1, 3)
        )
        with pytest.raises(ValueError, match="dim"):
            ivf_index_append(short, table)
    finally:
        _drop_ivf_tables(spark, table)


def test_ivf_index_register_fresh_catalog(spark, sf_dir, tmp_path):
    """Fresh-session re-registration (the minhash_index_register
    doctrine): drop the catalog entries (external files survive),
    re-declare via ivf_index_register, and the loaded index must carry
    the save-time bucket spec AND answer queries identically."""
    from flink_note_spark.operators.dedup import _table_buckets
    from flink_note_spark.operators.similarity import (
        ivf_build,
        ivf_index_register,
        ivf_query,
        ivf_save,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    table = "ivf_reg_test"
    path = str(tmp_path / "ivf")
    try:
        built = ivf_build(emb, n_cells=8, iters=1)
        ivf_save(built, table, buckets=4, path=path)
        q = emb.filter(emb.vec_id < 10)
        want = {
            (int(r.query_id), int(r.neighbor_id), int(r.rank))
            for r in ivf_query(built, q, k=5, n_probe=4).collect()
        }
        _drop_ivf_tables(spark, table)  # catalog lost; files remain

        reg = ivf_index_register(spark, table, path)
        assert _table_buckets(spark, table) == 4
        assert np.allclose(reg.centroids, built.centroids)
        got = {
            (int(r.query_id), int(r.neighbor_id), int(r.rank))
            for r in ivf_query(reg, q, k=5, n_probe=4).collect()
        }
        assert want and got == want
        # idempotent per session: re-register leaves the live tables be
        reg2 = ivf_index_register(spark, table, path)
        assert np.allclose(reg2.centroids, built.centroids)
    finally:
        _drop_ivf_tables(spark, table)


def test_ivf_index_rebuild_retrains_over_accreted_corpus(
    spark, sf_dir, tmp_path
):
    """The drift-closing verb: after accretion, rebuild retrains the
    centroids over the FULL persisted corpus (base + appended) from the
    table alone — and the rebuilt index still satisfies the exhaustive
    == exact-brute-force equality contract over the union corpus. The
    auto-detected external path keeps the files where the save put
    them, so a later fresh-session register sees the rebuilt state."""
    from flink_note_spark.operators.similarity import (
        cosine_topk,
        ivf_build,
        ivf_index_append,
        ivf_index_rebuild,
        ivf_query,
        ivf_save,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    table = "ivf_rebuild_test"
    path = str(tmp_path / "ivf")
    try:
        built = ivf_build(emb.filter(emb.vec_id % 2 == 0), n_cells=8, iters=1)
        ivf_save(built, table, buckets=4, path=path)
        ivf_index_append(emb.filter(emb.vec_id % 2 == 1), table)

        rebuilt = ivf_index_rebuild(spark, table, iters=1)
        assert rebuilt.n_cells == 8
        # retrained over the union — centroids move off the base-only fit
        assert not np.allclose(rebuilt.centroids, built.centroids)
        meta = spark.table(f"{table}__meta").collect()
        assert len(meta) == 1 and meta[0]["n_cells"] == 8

        q = emb.filter(emb.vec_id < 10)
        exact = {
            (int(r.query_id), int(r.neighbor_id), int(r.rank))
            for r in cosine_topk(q, emb, k=5).collect()
        }
        got = {
            (int(r.query_id), int(r.neighbor_id), int(r.rank))
            for r in ivf_query(rebuilt, q, k=5, n_probe=8).collect()
        }
        assert exact and got == exact
    finally:
        _drop_ivf_tables(spark, table)


def _drop_pq_tables(spark, table):
    for t in (table, f"{table}__codebooks"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pq_index_append_equals_same_codebook_union(spark, sf_dir, tmp_path):
    """PQ accretion contract (the IVF pin's ADC analogue): appending an
    increment must produce EXACTLY the index that encoding the union
    corpus against the same (fixed) codebooks would — pinned at a
    PARTIAL shortlist, which is sensitive to the appended rows' codes
    (an exhaustive shortlist would mask a mis-encoding)."""
    from pyspark.sql import functions as F

    from flink_note_spark.operators.similarity import (
        PqIndex,
        _pq_encode,
        pq_build,
        pq_index_append,
        pq_load,
        pq_query,
        pq_save,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(emb.vec_id % 2 == 0)
    inc = emb.filter(emb.vec_id % 2 == 1)
    table = "pq_append_test"
    try:
        built = pq_build(base, m=8, n_codes=16, iters=1)
        pq_save(built, table, path=str(tmp_path / "pq"))
        pq_index_append(inc, table)
        loaded = pq_load(spark, table)
        assert np.allclose(loaded.codebooks, built.codebooks)

        c = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("__cv"),
        )
        union_idx = PqIndex(
            built.codebooks,
            _pq_encode(c, built.codebooks, built.id_type),
            built.id_type,
        )
        q = emb.filter(emb.vec_id < 10)
        want = {
            (int(r.query_id), int(r.neighbor_id), int(r.rank))
            for r in pq_query(union_idx, q, k=5, shortlist=20).collect()
        }
        got = {
            (int(r.query_id), int(r.neighbor_id), int(r.rank))
            for r in pq_query(loaded, q, k=5, shortlist=20).collect()
        }
        assert want and got == want
    finally:
        _drop_pq_tables(spark, table)


def test_pq_index_append_refusals(spark, sf_dir, tmp_path):
    """Loud refusals on the PQ append path: already-indexed ids and a
    vector dim differing from the codebooks' m x dsub."""
    from pyspark.sql import functions as F

    from flink_note_spark.operators.similarity import (
        pq_build,
        pq_index_append,
        pq_save,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    table = "pq_refuse_test"
    try:
        built = pq_build(emb.filter(emb.vec_id % 2 == 0), m=8, n_codes=8,
                         iters=1)
        pq_save(built, table, path=str(tmp_path / "pq"))
        with pytest.raises(ValueError, match="already in the index"):
            pq_index_append(emb.filter(emb.vec_id % 2 == 0), table)
        short = emb.filter(emb.vec_id % 2 == 1).withColumn(
            "embedding", F.slice("embedding", 1, 3)
        )
        with pytest.raises(ValueError, match="dim"):
            pq_index_append(short, table)
    finally:
        _drop_pq_tables(spark, table)


def test_pq_index_register_and_rebuild(spark, sf_dir, tmp_path):
    """Fresh-catalog register (plain external tables — PQ's read path
    is a scan, no bucket spec) and the drift-closing rebuild: after
    accretion, retraining from the persisted corpus alone must satisfy
    the exhaustive-shortlist == exact-brute-force equality contract
    over the union corpus."""
    from flink_note_spark.operators.similarity import (
        cosine_topk,
        pq_build,
        pq_index_append,
        pq_index_rebuild,
        pq_index_register,
        pq_query,
        pq_save,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    table = "pq_reg_test"
    path = str(tmp_path / "pq")
    try:
        built = pq_build(emb.filter(emb.vec_id % 2 == 0), m=8, n_codes=16,
                         iters=1)
        pq_save(built, table, path=path)
        pq_index_append(emb.filter(emb.vec_id % 2 == 1), table)

        _drop_pq_tables(spark, table)  # catalog lost; files remain
        reg = pq_index_register(spark, table, path)
        assert np.allclose(reg.codebooks, built.codebooks)
        assert reg.encoded.count() == emb.count()

        rebuilt = pq_index_rebuild(spark, table, iters=1)
        assert rebuilt.codebooks.shape == built.codebooks.shape
        # retrained over the union — codebooks move off the base fit
        assert not np.allclose(rebuilt.codebooks, built.codebooks)

        q = emb.filter(emb.vec_id < 10)
        exact = {
            (int(r.query_id), int(r.neighbor_id), int(r.rank))
            for r in cosine_topk(q, emb, k=5).collect()
        }
        got = {
            (int(r.query_id), int(r.neighbor_id), int(r.rank))
            for r in pq_query(
                rebuilt, q, k=5, shortlist=1_000_000, refine=True
            ).collect()
        }
        assert exact and got == exact
    finally:
        _drop_pq_tables(spark, table)


def test_ivf_topk_partial_probe_recall(spark, sf_dir):
    """IVF probing half the cells must recover well MORE than half the
    true top-5 neighbors: chance-level routing (degenerate centroids,
    e.g. all identical) would land recall ≈ n_probe/n_cells = 0.5 on the
    near-uniform fixture, so the bar sits above that — the operator is
    fully seeded/deterministic and measures 0.74 on this fixture, so
    0.65 passes with margin while chance-level routing fails."""
    from flink_note_spark.operators.similarity import cosine_topk, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(emb.vec_id < 10)
    exact = {
        (int(r.query_id), int(r.neighbor_id))
        for r in cosine_topk(q, emb, k=5).collect()
    }
    ivf = {
        (int(r.query_id), int(r.neighbor_id))
        for r in ivf_topk(q, emb, k=5, n_cells=8, n_probe=4, iters=2).collect()
    }
    assert exact
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.65, f"IVF recall {recall:.3f} < 0.65 (chance is 0.5)"


def test_pq_exhaustive_shortlist_equals_exact(spark, sf_dir):
    """shortlist >= |corpus| + exact re-rank: ADC becomes pure routing,
    output must equal brute force bit-for-bit (the q94 oracle
    contract)."""
    from flink_note_spark.operators.similarity import cosine_topk, pq_topk
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    exact = sorted(
        map(tuple, cosine_topk(q, e, k=5).collect())
    )
    pq = sorted(
        map(tuple, pq_topk(q, e, k=5, m=8, n_codes=16,
                           shortlist=1_000_000, refine=True).collect())
    )
    assert pq == exact


def test_pq_partial_shortlist_recall(spark, sf_dir):
    """Honest approximate config (q95 params): >= 0.9 recall vs exact,
    and refine=True always reports TRUE cosine for what it returns."""
    from flink_note_spark.operators.similarity import cosine_topk, pq_topk
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    exact_rows = cosine_topk(q, e, k=5).collect()
    exact = {(r.query_id, r.neighbor_id) for r in exact_rows}
    sims = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact_rows}
    got_rows = pq_topk(q, e, k=5, m=8, n_codes=64, shortlist=100,
                       refine=True).collect()
    got = {(r.query_id, r.neighbor_id) for r in got_rows}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"PQ recall {recall:.2f} < 0.9"
    for r in got_rows:  # returned scores are exact cosine, not ADC
        key = (r.query_id, r.neighbor_id)
        if key in sims:
            assert abs(r.cos_sim - sims[key]) < 1e-9


def test_pq_index_reuse_and_validation(spark, sf_dir):
    """pq_build/pq_query split: one index serves several query batches;
    dim % m != 0 raises; empty corpus returns a typed empty frame;
    refine=False reports ADC scores under the honest adc_sim name."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from flink_note_spark.operators.similarity import pq_build, pq_query

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = pq_build(e, m=8, n_codes=16, iters=1)
    b1 = pq_query(idx, e.filter(F.col("vec_id") < 5), k=3)
    b2 = pq_query(idx, e.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10)), k=3)
    assert b1.count() == 15 and b2.count() == 15

    with _pytest.raises(ValueError, match="divisible"):
        pq_build(e, m=7, n_codes=16, iters=1)

    empty = e.filter(F.col("vec_id") < 0)
    eidx = pq_build(empty, m=8, n_codes=16, iters=1)
    out = pq_query(eidx, e.filter(F.col("vec_id") < 3), k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rank"]

    raw = pq_query(idx, e.filter(F.col("vec_id") < 3), k=3, refine=False)
    assert raw.columns == ["query_id", "neighbor_id", "adc_sim", "rank"]


def test_ivfpq_exhaustive_equals_exact(spark, sf_dir):
    """n_probe == n_cells + exhaustive shortlist: both approximations
    degenerate, output equals brute force (the q97 oracle contract)."""
    from flink_note_spark.operators.similarity import cosine_topk, ivfpq_topk
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    exact = sorted(map(tuple, cosine_topk(q, e, k=5).collect()))
    got = sorted(
        map(tuple, ivfpq_topk(q, e, k=5, n_cells=8, n_probe=8, m=8,
                              n_codes=16, shortlist=1_000_000).collect())
    )
    assert got == exact


def test_ivfpq_partial_probe_recall(spark, sf_dir):
    """Honest approximate config: 6/8 cells probed, 64 codes, shortlist
    150 → ≥0.85 recall vs exact (measured 0.90 on the fixture)."""
    from flink_note_spark.operators.similarity import cosine_topk, ivfpq_topk
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(q, e, k=5).collect()}
    got = {(r.query_id, r.neighbor_id)
           for r in ivfpq_topk(q, e, k=5, n_cells=8, n_probe=6, m=8,
                               n_codes=64, shortlist=150).collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.85, f"IVF-PQ recall {recall:.2f} < 0.85"


def test_pq_save_load_round_trip(spark, sf_dir, tmp_path):
    """pq_save → pq_load reproduces identical query results with no
    retraining/re-encoding; loading a non-index table raises."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from flink_note_spark.operators.similarity import (
        pq_build,
        pq_load,
        pq_query,
        pq_save,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    idx = pq_build(e, m=8, n_codes=16, iters=1)
    before = sorted(map(tuple, pq_query(idx, q, k=3).collect()))

    pq_save(idx, "pq_rt", path=str(tmp_path / "pq_rt"))
    loaded = pq_load(spark, "pq_rt")
    after = sorted(map(tuple, pq_query(loaded, q, k=3).collect()))
    assert after == before
    assert (loaded.codebooks == idx.codebooks).all()

    spark.sql("DROP TABLE IF EXISTS not_an_index__codebooks")
    spark.createDataFrame([], "sub int, code int, word array<double>") \
        .write.mode("overwrite") \
        .option("path", str(tmp_path / "ni")) \
        .saveAsTable("not_an_index__codebooks")
    with _pytest.raises(ValueError, match="pq_load"):
        pq_load(spark, "not_an_index")


# --- SemDeDup-style semantic dedup (r9) -----------------------------------


def test_semantic_dedup_single_cell_equals_exact(spark, sf_dir):
    """With ONE k-means cell the cluster bucketing is a no-op, so the
    k-means path must emit exactly the exact all-pairs operator's
    pair set (values too — both verify with the same JVM cosine after
    the numpy kernel only ASSIGNS)."""
    from pyspark.sql import functions as F

    from flink_note_spark.operators.similarity import (
        embedding_near_dup_pairs,
        semantic_dedup_pairs,
    )

    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 200
    )
    exact = {
        (r.d1, r.d2) for r in embedding_near_dup_pairs(
            e, threshold=0.4
        ).collect()
    }
    sem = {
        (r.d1, r.d2) for r in semantic_dedup_pairs(
            e, threshold=0.4, n_cells=1, iters=1, max_cell=None
        ).collect()
    }
    assert sem == exact
    assert sem  # fixture plants pairs at this threshold


def test_semantic_dedup_clustered_recall(spark, sf_dir):
    """Clustered cells (the scale path): the pair set is a SUBSET of
    the exact pairs (cells only prune, never invent). Fixture recall
    is bounded by the corpus geometry — its 'dup' pairs sit at
    cos ≈ 0.4, near-orthogonal soup (the q52 band-sizing note), where
    cell co-location is weak — so the fixture pin is modest (≥ 0.5 at
    4 cells) and the SEMANTIC claim is pinned on planted tight dups:
    a vector and its small-noise copy (cos ≥ 0.95) score nearly
    identically against every centroid, land in one cell, and are
    recovered with recall 1.0."""
    import numpy as np
    from pyspark.sql import functions as F

    from flink_note_spark.operators.similarity import (
        embedding_near_dup_pairs,
        semantic_dedup_pairs,
    )

    e = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.d1, r.d2) for r in embedding_near_dup_pairs(
            e, threshold=0.4, max_collect_rows=None
        ).collect()
    }
    sem = {
        (r.d1, r.d2) for r in semantic_dedup_pairs(
            e, threshold=0.4, n_cells=4, iters=3, max_cell=None
        ).collect()
    }
    assert sem <= exact
    assert exact
    assert len(sem) / len(exact) >= 0.5

    # planted TIGHT dups: base vectors + small-noise copies
    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 16))
    noisy = base + rng.normal(scale=0.05, size=base.shape)
    rows = [
        (i, [float(x) for x in base[i]]) for i in range(40)
    ] + [
        (1000 + i, [float(x) for x in noisy[i]]) for i in range(40)
    ]
    planted = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    got = {
        (r.d1, r.d2) for r in semantic_dedup_pairs(
            planted, threshold=0.95, n_cells=4, iters=3,
            max_cell=None,
        ).collect()
    }
    want = {
        (r.d1, r.d2) for r in embedding_near_dup_pairs(
            planted, threshold=0.95
        ).collect()
    }
    assert want  # the planted copies really are ≥ 0.95
    assert len(got & want) / len(want) >= 0.95


def _drop_ivfpq_tables(spark, table):
    for t in (table, f"{table}__centroids", f"{table}__codebooks",
              f"{table}__meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ivfpq_index_append_equals_same_params_union(spark, sf_dir, tmp_path):
    """IVF-PQ accretion contract: appending an increment must produce
    EXACTLY the index that assigning+encoding the union corpus against
    the same (fixed) centroids AND codebooks would — pinned at partial
    probe and partial shortlist, both sensitive to the appended rows'
    cells and codes."""
    from pyspark.sql import functions as F

    from flink_note_spark.operators.similarity import (
        IvfPqIndex,
        _ivfpq_encode,
        ivfpq_build,
        ivfpq_index_append,
        ivfpq_load,
        ivfpq_query,
        ivfpq_save,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(emb.vec_id % 2 == 0)
    inc = emb.filter(emb.vec_id % 2 == 1)
    table = "ivfpq_append_test"
    try:
        built = ivfpq_build(base, n_cells=8, m=8, n_codes=16, iters=1)
        ivfpq_save(built, table, buckets=4, path=str(tmp_path / "ivfpq"))
        ivfpq_index_append(inc, table)
        loaded = ivfpq_load(spark, table)
        assert np.allclose(loaded.centroids, built.centroids)
        assert np.allclose(loaded.codebooks, built.codebooks)

        c = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("__cv"),
        )
        union_idx = IvfPqIndex(
            built.centroids, built.codebooks,
            _ivfpq_encode(c, built.centroids, built.codebooks,
                          built.id_type),
            built.id_type,
        )
        q = emb.filter(emb.vec_id < 10)
        want = {
            (int(r.query_id), int(r.neighbor_id), int(r.rank))
            for r in ivfpq_query(
                union_idx, q, k=5, n_probe=2, shortlist=20
            ).collect()
        }
        got = {
            (int(r.query_id), int(r.neighbor_id), int(r.rank))
            for r in ivfpq_query(
                loaded, q, k=5, n_probe=2, shortlist=20
            ).collect()
        }
        assert want and got == want
    finally:
        _drop_ivfpq_tables(spark, table)


def test_ivfpq_index_register_rebuild_and_refusals(spark, sf_dir, tmp_path):
    """Fresh-catalog register keeps the bucket spec; rebuild retrains
    BOTH parameter sets from the persisted corpus alone and still
    satisfies exhaustive == exact brute force over the union; the
    shared append guard refuses already-indexed ids and wrong dims."""
    from pyspark.sql import functions as F

    from flink_note_spark.operators.dedup import _table_buckets
    from flink_note_spark.operators.similarity import (
        cosine_topk,
        ivfpq_build,
        ivfpq_index_append,
        ivfpq_index_rebuild,
        ivfpq_index_register,
        ivfpq_query,
        ivfpq_save,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    table = "ivfpq_reg_test"
    path = str(tmp_path / "ivfpq")
    try:
        built = ivfpq_build(
            emb.filter(emb.vec_id % 2 == 0), n_cells=8, m=8, n_codes=16,
            iters=1,
        )
        ivfpq_save(built, table, buckets=4, path=path)
        with pytest.raises(ValueError, match="already in the index"):
            ivfpq_index_append(emb.filter(emb.vec_id % 2 == 0), table)
        with pytest.raises(ValueError, match="dim"):
            ivfpq_index_append(
                emb.filter(emb.vec_id % 2 == 1).withColumn(
                    "embedding", F.slice("embedding", 1, 3)
                ),
                table,
            )
        ivfpq_index_append(emb.filter(emb.vec_id % 2 == 1), table)

        _drop_ivfpq_tables(spark, table)  # catalog lost; files remain
        reg = ivfpq_index_register(spark, table, path)
        assert _table_buckets(spark, table) == 4
        assert np.allclose(reg.centroids, built.centroids)
        assert reg.encoded.count() == emb.count()

        rebuilt = ivfpq_index_rebuild(spark, table, iters=1)
        assert rebuilt.n_cells == 8
        assert not np.allclose(rebuilt.centroids, built.centroids)

        q = emb.filter(emb.vec_id < 10)
        exact = {
            (int(r.query_id), int(r.neighbor_id), int(r.rank))
            for r in cosine_topk(q, emb, k=5).collect()
        }
        got = {
            (int(r.query_id), int(r.neighbor_id), int(r.rank))
            for r in ivfpq_query(
                rebuilt, q, k=5, n_probe=8, shortlist=1_000_000
            ).collect()
        }
        assert exact and got == exact
    finally:
        _drop_ivfpq_tables(spark, table)


def test_minhash_frames_equivalence(spark, sf_dir):
    """r13 optimization round: the shared-frames path (one
    shingle/signature/set pass reused by pairs + index probe + index
    build) must be value-identical to the unshared path, including on
    SUBSETS of the frame corpus (the streaming pipeline's nested-use
    contract), and must refuse loudly on parameter mismatch / max_df."""
    from pyspark.sql import functions as F

    from flink_note_spark.operators.dedup import (
        MinhashFrames,
        dedup_against_index,
        minhash_frames,
        minhash_index_build,
        minhash_lsh_pairs,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(400)
    )
    frames = minhash_frames(docs, "doc_id", "text", ids_unique=True)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    # 1) pairs on the full corpus
    kw = dict(threshold=0.4, ids_unique=True)
    assert rows(
        minhash_lsh_pairs(docs, "doc_id", "text", frames=frames, **kw)
    ) == rows(minhash_lsh_pairs(docs, "doc_id", "text", **kw))

    # 2) index build on a SUBSET (the pipeline's survivors shape)
    subset = docs.filter(F.pmod("doc_id", F.lit(3)) != 0)
    idx_f = minhash_index_build(
        subset, "doc_id", "text", ids_unique=True, frames=frames
    )
    idx_p = minhash_index_build(subset, "doc_id", "text", ids_unique=True)
    assert rows(idx_f.bands) == rows(idx_p.bands)
    assert rows(
        idx_f.docs.select("doc_id", "signature", F.array_sort("S"), "sz")
    ) == rows(
        idx_p.docs.select("doc_id", "signature", F.array_sort("S"), "sz")
    )

    # 3) probe of a DIFFERENT subset against that index
    inc = docs.filter(F.pmod("doc_id", F.lit(3)) == 0)
    probe_kw = dict(threshold=0.4, verify=True, ids_unique=True)
    assert rows(
        dedup_against_index(inc, idx_p, frames=frames, **probe_kw)
    ) == rows(dedup_against_index(inc, idx_p, **probe_kw))

    # 4) loud refusals: param mismatch and max_df
    with pytest.raises(ValueError, match="would not correspond"):
        minhash_lsh_pairs(
            docs, "doc_id", "text", seed=7, frames=frames, **kw
        )
    # r14 (ADVICE r13 #1): column identity is part of the contract —
    # frames built over a different text column must refuse, not emit
    # signatures for the wrong values
    with pytest.raises(ValueError, match="would not correspond"):
        minhash_lsh_pairs(
            docs.withColumnRenamed("text", "body"), "doc_id", "body",
            frames=frames, **kw
        )
    # frames built with a pre-r14 params dict (no column keys) refuse
    # with the same diagnostic, not a KeyError
    legacy = MinhashFrames(
        frames.shingles, frames.signatures, frames.sets,
        {k: frames.params[k] for k in ("n", "num_hashes", "seed")},
        frames.id_col,
    )
    with pytest.raises(ValueError, match="would not correspond"):
        minhash_lsh_pairs(docs, "doc_id", "text", frames=legacy, **kw)
    with pytest.raises(ValueError, match="max_df"):
        minhash_lsh_pairs(
            docs, "doc_id", "text", max_df=50, frames=frames, **kw
        )
