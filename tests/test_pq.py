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
    books = S.train_pq_codebooks(S.fetch_pq_sample(emb), k=4, iters=8)
    enc = {r["id"]: r for r in S.pq_encode(emb, books, books).collect()}
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
    b1 = S.train_pq_codebooks(S.fetch_pq_sample(emb), k=16, iters=4)
    b2 = S.train_pq_codebooks(S.fetch_pq_sample(emb), k=16, iters=4)
    assert np.array_equal(b1, b2)


def test_pq_encode_baseline_column_matches_separate_pass(spark, pq_dir):
    """OPTIMIZATION_r14: pq_encode scores the baseline codebook in the
    SAME Arrow pass; its base_err_micro must be bit-identical to the
    err_micro of a separate pq_encode run over the baseline books (same
    floor(err*1e6) per-vector arithmetic), and the main codes/err_micro
    must not depend on which baseline rides along."""
    d, _ = pq_dir
    emb = spark.read.parquet(f"{d}/embeddings.parquet")
    X = S.fetch_pq_sample(emb)
    books = S.train_pq_codebooks(X, k=4, iters=8)
    base = S.train_pq_codebooks(X, k=1, iters=2)
    combined = {r["id"]: r for r in S.pq_encode(emb, books, baseline=base).collect()}
    main_only = {r["id"]: r for r in S.pq_encode(emb, books, books).collect()}
    base_only = {r["id"]: r for r in S.pq_encode(emb, base, base).collect()}
    assert set(combined) == set(main_only) == set(base_only)
    for i, r in combined.items():
        assert r["codes"] == main_only[i]["codes"]
        assert r["err_micro"] == main_only[i]["err_micro"]
        assert r["base_err_micro"] == base_only[i]["err_micro"]


def _sum_form_codes(X: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Nearest codeword per sub-vector by ``((x - c) ** 2).sum(-1)``."""
    m, _, sub = books.shape
    return np.stack(
        [
            ((X[:, None, s * sub : (s + 1) * sub] - books[s][None]) ** 2)
            .sum(-1)
            .argmin(axis=1)
            for s in range(m)
        ],
        axis=1,
    )


def test_einsum_distances_pick_the_sum_form_codes(spark, sf_dir, monkeypatch):
    """The PQ distances in operators/similarity.py are an einsum over the
    difference tensor, which can differ from ``((x - c) ** 2).sum(-1)`` in
    the last ulp and so could flip a near-tie argmin. On the sf0.001
    embeddings both forms pick the same code for every sub-vector: in
    every Lloyd assignment of training (the books come out identical),
    in pq_encode's raw codes and in ivfpq_encode's residual codes."""
    from kinesis3_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    X = S.fetch_pq_sample(emb)
    books = S.train_pq_codebooks(X, k=64)
    C, res_books = S.train_ivfpq(emb)

    einsum = np.einsum

    def sum_form(subscripts, *ops, **kw):
        if subscripts == "ijk,ijk->ij":
            return (ops[0] ** 2).sum(-1)
        return einsum(subscripts, *ops, **kw)

    monkeypatch.setattr(np, "einsum", sum_form)
    assert np.array_equal(S.train_pq_codebooks(X, k=64), books)
    C2, res_books2 = S.train_ivfpq(emb)
    assert np.array_equal(C2, C) and np.array_equal(res_books2, res_books)
    monkeypatch.undo()

    pdf = emb.select("vec_id", "embedding").toPandas()
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    raw = {r["id"]: r["codes"] for r in S.pq_encode(emb, books, books).collect()}
    assert [raw[i] for i in ids] == _sum_form_codes(M, books).tolist()
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    R = Mn - C[np.argmax(Mn @ C.T, axis=1)]
    res = {r["id"]: r["codes"] for r in S.ivfpq_encode(emb, C, res_books).collect()}
    assert [res[i] for i in ids] == _sum_form_codes(R, res_books).tolist()
