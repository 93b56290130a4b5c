"""Product quantization semantics on planted data: codebooks must separate
planted per-subspace clusters (near-zero reconstruction error) and the
code assignment must be the nearest codeword."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis3_spark.operators import similarity as S


@pytest.fixture(scope="module")
def pq_dir(tmp_path_factory):
    """64-dim vectors whose every 8-dim subspace is exactly one of two
    planted points (+1 block or -1 block) — a 2-codeword-per-subspace
    corpus a working PQ reconstructs exactly."""
    rng = np.random.RandomState(7)
    n = 200
    picks = rng.randint(0, 2, size=(n, 8))
    vecs = np.where(
        np.repeat(picks, 8, axis=1).astype(bool), 1.0, -1.0
    ).astype(np.float32)
    d = tmp_path_factory.mktemp("pq")
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array([list(v) for v in vecs], pa.list_(pa.float32())),
            "label": pa.array([0] * n, pa.int32()),
        }),
        str(d / "embeddings.parquet"),
    )
    return str(d), picks


def test_pq_reconstructs_planted_clusters_exactly(spark, pq_dir):
    d, picks = pq_dir
    emb = spark.read.parquet(f"{d}/embeddings.parquet")
    books = S.train_pq_codebooks(emb, k=4, iters=8)
    enc = {r["id"]: r for r in S.pq_encode(emb, books).collect()}
    # every vector reconstructs exactly: the 2 planted points per subspace
    # are <= 4 codewords, so Lloyd converges onto them
    assert all(r["err_micro"] == 0 for r in enc.values())
    # same planted pick pattern -> same code word per subspace
    import collections

    by_pick: list[dict[int, set]] = [collections.defaultdict(set) for _ in range(8)]
    for i, r in enc.items():
        for s in range(8):
            by_pick[s][picks[i, s]].add(r["codes"][s])
    for s in range(8):
        assert len(by_pick[s][0] & by_pick[s][1]) == 0  # clusters never share a code
        assert len(by_pick[s][0]) == 1 and len(by_pick[s][1]) == 1


def test_pq_band_query_flags_green(spark, sf_dir):
    from kinesis3_spark.queries import QUERIES

    row = QUERIES["embed_pq_reconstruction_band"](spark, sf_dir).collect()[0]
    assert row.codes_ok == 1 and row.codes_diverse == 1
    assert row.better_than_mean == 1


def test_pq_training_is_deterministic(spark, sf_dir):
    """Rerun-stable codebooks: the bounded sample is orderBy'd before
    limit, and Lloyd with a fixed seed/iteration count is pure — training
    twice must produce bit-identical codebooks (the property a resumable
    index build depends on)."""
    from kinesis3_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    b1 = S.train_pq_codebooks(emb, k=16, iters=4)
    b2 = S.train_pq_codebooks(emb, k=16, iters=4)
    assert np.array_equal(b1, b2)


def test_pq_encode_baseline_column_matches_separate_pass(spark, pq_dir):
    """OPTIMIZATION_r14: pq_encode(baseline=...) scores the second
    codebook in the SAME Arrow pass; its base_err_micro must be
    bit-identical to a separate pq_encode run over the baseline books
    (same floor(err*1e6) per-vector arithmetic), and the main
    codes/err_micro must be unchanged by the extra column."""
    d, _ = pq_dir
    emb = spark.read.parquet(f"{d}/embeddings.parquet")
    X = S.fetch_pq_sample(emb)
    books = S.train_pq_codebooks(emb, k=4, iters=8, X=X)
    base = S.train_pq_codebooks(emb, k=1, iters=2, X=X)
    combined = {r["id"]: r for r in S.pq_encode(emb, books, baseline=base).collect()}
    main_only = {r["id"]: r for r in S.pq_encode(emb, books).collect()}
    base_only = {r["id"]: r for r in S.pq_encode(emb, base).collect()}
    assert set(combined) == set(main_only) == set(base_only)
    for i, r in combined.items():
        assert r["codes"] == main_only[i]["codes"]
        assert r["err_micro"] == main_only[i]["err_micro"]
        assert r["base_err_micro"] == base_only[i]["err_micro"]
