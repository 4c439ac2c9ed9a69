"""Pins for `operators.kernels`, the exact-fold similarity kernels:
the cogrouped cosine tile kernel behind d5/d14, d27's candidate-pair
cosine kernel and the k-means assignment kernel behind a6/d14/d27
must be BIT-IDENTICAL to the scalar left-to-right folds they replaced
(the oracle contract) on every path — GEMM fast path, boundary-guard
exact replay, same-block masking, lhs chunking — and must raise on
degenerate input. The kernel pins are pure Python (no Spark session):
each kernel is a plain Arrow-table function, so they exercise exactly
the code the executor runs. The block-count pins run d5 and d14
through `kernels.block_pair_tiles` on Spark.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pytest

import postgres_scanner_spark.operators.ann as ann
import postgres_scanner_spark.operators.dedup as dd
import postgres_scanner_spark.operators.kernels as kernels

DIM = 64


def _dot_fold(x, y):
    acc = 0.0
    for k in range(DIM):
        acc = acc + float(x[k]) * float(y[k])
    return acc


def _d2_fold(x, c):
    acc = 0.0
    for k in range(DIM):
        t = float(x[k]) - float(c[k])
        acc = acc + t * t
    return acc


def _lists(m):
    return pa.array([list(map(float, r)) for r in m],
                    pa.list_(pa.float64()))


# ----------------------------------------------- cosine tile kernel
def _mk(nl, nr, seed, near=0):
    rng = np.random.default_rng(seed)
    el = rng.standard_normal((nl, DIM)).astype(np.float32)
    er = rng.standard_normal((nr, DIM)).astype(np.float32)
    if near:
        er[:near] = el[:near] + \
            rng.standard_normal((near, DIM)).astype(np.float32) * 0.01
    nml = np.array([math.sqrt(_dot_fold(r, r)) for r in el])
    nmr = np.array([math.sqrt(_dot_fold(r, r)) for r in er])
    idl = np.arange(nl, dtype=np.int64)
    idr = np.arange(nr, dtype=np.int64) + 50_000
    left = pa.table({
        "pair_id": pa.array(np.zeros(nl, np.int32)),
        "bi": pa.array(np.zeros(nl, np.int32)),
        "bj": pa.array(np.ones(nl, np.int32)),
        "vec_id": pa.array(idl),
        "embedding": pa.array([list(map(float, r)) for r in el],
                              pa.list_(pa.float32())),
        "norm": pa.array(nml)})
    right = pa.table({
        "pid2": pa.array(np.zeros(nr, np.int32)),
        "vec_id2": pa.array(idr),
        "embedding2": pa.array([list(map(float, r)) for r in er],
                               pa.list_(pa.float32())),
        "norm2": pa.array(nmr)})
    return el, er, nml, nmr, idl, idr, left, right


def _reference(el, er, nml, nmr, idl, idr, tau):
    ref = {}
    for i in range(el.shape[0]):
        for j in range(er.shape[0]):
            c = _dot_fold(el[i], er[j]) / (nml[i] * nmr[j])
            r = math.floor(c * 100000.0 + 0.5) / 100000.0
            if r > tau:
                a, b = min(idl[i], idr[j]), max(idl[i], idr[j])
                ref[(a, b)] = r
    return ref


def _as_dict(out):
    return {(out["vec_a"][i].as_py(), out["vec_b"][i].as_py()):
            out["cos_sim"][i].as_py() for i in range(out.num_rows)}


def test_kernel_bit_identical_to_scalar_fold():
    el, er, nml, nmr, idl, idr, left, right = _mk(250, 300, 3, near=120)
    ref = _reference(el, er, nml, nmr, idl, idr, 0.45)
    fn = dd._cos_tile_fn("embedding", "embedding2", 0.45, DIM,
                         "vec_a", "vec_b")
    got = _as_dict(fn(left, right))
    assert set(got) == set(ref)
    for k, v in ref.items():
        assert repr(got[k]) == repr(v), (k, got[k], v)


def test_gemm_fast_path_equals_forced_exact_path(monkeypatch):
    _, _, _, _, _, _, left, right = _mk(200, 220, 11, near=90)
    fn = dd._cos_tile_fn("embedding", "embedding2", 0.45, DIM,
                         "vec_a", "vec_b")
    fast = _as_dict(fn(left, right))
    # flag EVERY pair -> exact replay
    monkeypatch.setattr(kernels, "_TILE_GUARD_BAND", 1e9)
    exact = _as_dict(fn(left, right))
    assert {k: repr(v) for k, v in fast.items()} \
        == {k: repr(v) for k, v in exact.items()}
    assert fast, "expected non-empty near-dup set"


def test_same_block_mask_and_chunking(monkeypatch):
    el, er, nml, nmr, idl, idr, left, right = _mk(180, 180, 7, near=80)
    # same-block: bi == bj -> only idl < idr pairs (always true here
    # since idr starts at 50k, so output must equal the cross-block
    # run; ALSO verify a genuinely overlapping id space drops pairs)
    left_same = left.set_column(2, "bj", pa.array(np.zeros(180, np.int32)))
    fn = dd._cos_tile_fn("embedding", "embedding2", 0.45, DIM,
                         "vec_a", "vec_b")
    whole = _as_dict(fn(left, right))
    assert _as_dict(fn(left_same, right)) == whole
    right_overlap = right.set_column(
        1, "vec_id2", pa.array(np.arange(180, dtype=np.int64)))
    out = fn(left_same, right_overlap)
    va = out["vec_a"].to_numpy(zero_copy_only=False)
    vb = out["vec_b"].to_numpy(zero_copy_only=False)
    assert (va < vb).all()          # diagonal/self pairs masked out
    # chunking must not change a single byte
    monkeypatch.setattr(kernels, "_TILE_CHUNK_ELEMS", 1_000)  # ~6 rows
    chunked = _as_dict(fn(left, right))
    assert {k: repr(v) for k, v in chunked.items()} \
        == {k: repr(v) for k, v in whole.items()}


def test_cluster_column_and_empty_sides():
    _, _, _, _, _, _, left, right = _mk(60, 70, 5, near=30)
    left = left.rename_columns(
        ["tile_id", "bi", "bj", "vec_id", "x", "norm"])
    left = left.append_column(
        "cluster", pa.array(np.full(60, 3, np.int32)))
    right = right.rename_columns(["tid2", "vec_id2", "x2", "norm2"])
    fn = dd._cos_tile_fn("x", "x2", 0.45, DIM, "u", "v",
                         cluster_col="cluster")
    out = fn(left, right)
    assert out.schema.names == ["u", "v", "cluster", "cos_sim"]
    assert out.num_rows > 0
    assert set(out["cluster"].to_pylist()) == {3}
    empty = left.slice(0, 0)
    assert fn(empty, right).num_rows == 0
    assert fn(left, right.slice(0, 0)).num_rows == 0


def test_nonfinite_cosine_fails_loudly():
    _, _, _, _, _, _, left, right = _mk(20, 20, 9)
    # an all-zero vector -> norm 0 -> 0/0 cosine: must raise, never
    # silently apply NumPy's NaN-comparison semantics
    zero_emb = pa.array([[0.0] * DIM] + left["embedding"].to_pylist()[1:],
                        pa.list_(pa.float32()))
    left = left.set_column(4, "embedding", zero_emb)
    fn = dd._cos_tile_fn("embedding", "embedding2", 0.45, DIM,
                         "vec_a", "vec_b")
    with pytest.raises(ValueError, match="non-finite"):
        fn(left, right)


# ------------------------------------------ k-means assignment kernel
def _mk_km(n, k, seed):
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((n, DIM))
    c = rng.standard_normal((k, DIM))
    ids = np.arange(n, dtype=np.int64) * 3 + 1
    left = pa.table({
        "vec_id": pa.array(ids),
        "x": _lists(x),
        "blk": pa.array(np.zeros(n, np.int64))})
    right = pa.table({
        "cent_id": pa.array(np.arange(k, dtype=np.int32)),
        "c": _lists(c),
        "blk": pa.array(np.zeros(k, np.int64))})
    return x, c, ids, left, right


def _km_reference(x, c, ids):
    out = {}
    for i in range(x.shape[0]):
        best = None
        for j in range(c.shape[0]):     # ascending cent_id
            d = _d2_fold(x[i], c[j])
            if best is None or d < best[1]:
                best = (j, d)
        out[ids[i]] = best
    return out


def test_km_kernel_bit_identical_to_scalar_fold():
    x, c, ids, left, right = _mk_km(300, 4, 17)
    got = ann._km_assign_fn()(left, right)
    assert got.num_rows == 300
    ref = _km_reference(x, c, ids)
    for i in range(got.num_rows):
        vid = got["vec_id"][i].as_py()
        cl, d2 = ref[vid]
        assert got["cluster"][i].as_py() == cl
        assert repr(got["dist2"][i].as_py()) == repr(d2), vid
        # x passthrough must be bit-exact
        assert got["x"][i].as_py() == list(x[ids.tolist().index(vid)])


def test_km_kernel_tie_breaks_to_lower_cent_id():
    x, c, ids, left, right = _mk_km(50, 4, 23)
    # duplicate centroid 1's coordinates into centroid 3: every
    # vector's dist2 to 1 and 3 is the same double, so the window's
    # (dist2, cent_id) order must never pick 3
    c2 = c.copy()
    c2[3] = c2[1]
    right = right.set_column(1, "c", _lists(c2))
    got = ann._km_assign_fn()(left, right)
    assert 3 not in set(got["cluster"].to_pylist())
    # and centroid order in the input table must not matter
    perm = [2, 0, 3, 1]
    right_shuf = pa.table({
        "cent_id": pa.array(np.array(perm, np.int32)),
        "c": _lists(c2[perm]),
        "blk": pa.array(np.zeros(4, np.int64))})
    got2 = ann._km_assign_fn()(left, right_shuf)
    assert got["cluster"].to_pylist() == got2["cluster"].to_pylist()
    assert got["dist2"].to_pylist() == got2["dist2"].to_pylist()


def test_km_kernel_empty_and_missing_centroids():
    _, _, _, left, right = _mk_km(10, 4, 5)
    fn = ann._km_assign_fn()
    assert fn(left.slice(0, 0), right).num_rows == 0
    with pytest.raises(ValueError, match="without centroids"):
        fn(left, right.slice(0, 0))


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_km_kernel_nonfinite_vector_raises(bad):
    """A vector with a non-finite component has no nearest centroid:
    its dist2 is nan/inf, and the strict-< argmin would hand it the
    lowest cent_id. The kernel must refuse it, naming its vec_id."""
    x, _, ids, left, right = _mk_km(10, 4, 29)
    x[6, 0] = bad
    left = left.set_column(1, "x", _lists(x))
    with pytest.raises(ValueError,
                       match=f"non-finite distance at vec_id {ids[6]}$"):
        ann._km_assign_fn()(left, right)


# ------------------------------------------ candidate-pair cosine kernel
def _mk_pairs(n, seed, near=0):
    rng = np.random.default_rng(seed)
    xa = rng.standard_normal((n, DIM))
    xb = rng.standard_normal((n, DIM))
    if near:
        xb[:near] = xa[:near] + rng.standard_normal((near, DIM)) * 0.01
    na = np.array([math.sqrt(_dot_fold(r, r)) for r in xa])
    nb = np.array([math.sqrt(_dot_fold(r, r)) for r in xb])
    t = pa.table({
        "u": pa.array(np.arange(n, dtype=np.int64)),
        "v": pa.array(np.arange(n, dtype=np.int64) + 10_000),
        "cluster": pa.array(np.full(n, 2, np.int32)),
        "xa": _lists(xa), "na": pa.array(na),
        "xb": _lists(xb), "nb": pa.array(nb)})
    return xa, xb, na, nb, t


def test_pair_kernel_bit_identical_to_scalar_fold():
    tau = 0.45
    xa, xb, na, nb, t = _mk_pairs(400, 31, near=150)
    ref = {}
    for i in range(400):
        c = _dot_fold(xa[i], xb[i]) / (na[i] * nb[i])
        r = math.floor(c * 100000.0 + 0.5) / 100000.0
        if r > tau:
            ref[i] = r
    out = pa.Table.from_batches(
        list(dd._pair_cos_fn(tau)(t.to_batches(max_chunksize=97))))
    assert out.num_rows == len(ref) > 0
    got = {out["u"][i].as_py(): out["cos_sim"][i].as_py()
           for i in range(out.num_rows)}
    assert set(got) == set(ref)
    for k, v in ref.items():
        assert repr(got[k]) == repr(v), k
    assert set(out["cluster"].to_pylist()) == {2}
    # v passthrough intact
    assert all(out["v"][i].as_py() == out["u"][i].as_py() + 10_000
               for i in range(out.num_rows))


def test_pair_kernel_nonfinite_and_empty():
    _, _, _, _, t = _mk_pairs(20, 9)
    na0 = t["na"].to_pylist()
    na0[0] = 0.0                       # 0/0 -> must raise
    t0 = t.set_column(4, "na", pa.array(na0))
    with pytest.raises(ValueError, match="non-finite"):
        list(dd._pair_cos_fn(0.45)(t0.to_batches()))
    assert list(dd._pair_cos_fn(2.0)(t.to_batches())) == []
    assert list(dd._pair_cos_fn(0.45)(t.slice(0, 0).to_batches())) == []


# ------------------------------------------------ block-pair tiling
def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_tile_output_is_block_count_invariant(spark, sf_dir, monkeypatch):
    """d5 and d14 return the same rows whatever the block-pair grid
    side B, so B can be derived from the row count without a new
    oracle run."""
    def at(blocks, op):
        monkeypatch.setattr(kernels, "TILE_BLOCKS", blocks)
        return _rows(op(spark, sf_dir))

    d5 = at(8, dd.d5_embedding_dedup)
    assert d5, "tiny corpus must still produce near-dup pairs"
    assert at(1, dd.d5_embedding_dedup) == d5
    assert at(3, dd.d5_embedding_dedup) == d5
    d14 = at(8, dd.d14_semantic_dedup)
    assert d14, "tiny corpus must still produce co-clustered pairs"
    assert at(1, dd.d14_semantic_dedup) == d14


def test_cos_top_k_tail(spark):
    """`ann.cos_top_k`, the tail of A1/A2/A3/A5/A8/A12: per query the
    TOP_K best cos_raw, ties broken on the lower neighbor_id, cos_sim
    rounded half-up at 5 decimals, an int rank, ordered by (query,
    rank) whatever the input order."""
    from pyspark.sql import types as T
    assert ann.TOP_K == 3
    scored = spark.createDataFrame(
        [(1, 9, 0.5), (0, 7, 0.9), (1, 4, 0.123456), (0, 2, 0.5),
         (0, 3, 0.9), (1, 8, 0.5), (0, 1, 0.8), (1, 6, 0.123455)],
        "query_id long, neighbor_id long, cos_raw double")
    out = ann.cos_top_k(scored)
    assert out.schema["rank"].dataType == T.IntegerType()
    assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rank"]
    assert _rows(out) == [
        (0, 3, 0.9, 1), (0, 7, 0.9, 2), (0, 1, 0.8, 3),
        (1, 8, 0.5, 1), (1, 9, 0.5, 2), (1, 4, 0.12346, 3)]
