"""The exact-fold similarity kernels behind d5, d14 and d27 (cosine)
and the k-means assignment of a6, d14 and d27 (squared distance).

The contract is bit-identity with the DuckDB oracle. Both engines
evaluate a dot product as one left-to-right fold, acc = acc + x_k·y_k
in index order seeded 0.0 (`dot` here, `SQL_DOT` in the oracle), and
round with `runtime.det_round`. The NumPy kernels vectorize that same
fold across rows, so per element the IEEE operation sequence is
Catalyst's; only `cosine_tile` reorders (one GEMM), and it replays
through the fold every pair whose rounding the reordering could flip.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..runtime import scratch_persist

TILE_BLOCKS = 8   # block-pair grid side B; raise with cluster size
# 4 MB fp64 cosine block per lhs chunk: the ~10 elementwise passes
# (divide/guard/floor/threshold) then run from cache instead of DRAM
# — measured 13 -> 325+ Mpairs/s aggregate at 32 workers vs the old
# 64 MB blocks, identical output (chunking-invariance is pinned)
_TILE_CHUNK_ELEMS = 512_000
_TILE_GUARD_BAND = 1e-6   # ~700x the GEMM-vs-fold bound on t (see below)

SQL_DOT = ("list_sum(list_transform(range(len({u})), i -> "
           "CAST({u}[i+1] AS DOUBLE) * CAST({v}[i+1] AS DOUBLE)))")


def dot(u: Column, v: Column) -> Column:
    """u·v as Catalyst's left-to-right fold over double products."""
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, z: acc + z)


def matrix(tbl, name: str) -> np.ndarray:
    """Arrow list column `name` of `tbl` as a C-contiguous float64
    (rows, width) matrix."""
    flat = tbl.column(name).combine_chunks().flatten()
    x = flat.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    return np.ascontiguousarray(x.reshape(tbl.num_rows, -1))


def fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise a_i·b_i by the left-to-right fold."""
    acc = np.zeros(a.shape[0])
    for k in range(a.shape[1]):
        acc += a[:, k] * b[:, k]
    return acc


def fold_sq_dist(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Row-wise |x_i − c|² by the left-to-right fold of t·t,
    t = x_k − c_k."""
    acc = np.zeros(x.shape[0])
    for k in range(x.shape[1]):
        t = x[:, k] - c[k]
        acc += t * t
    return acc


def det_round(x: np.ndarray, n: int, band: float | None = None):
    """runtime.det_round, floor(x·10ⁿ + 0.5)/10ⁿ, in place on x: the
    same IEEE steps, hence the same doubles. With `band`, also return
    np.nonzero of the elements whose x·10ⁿ + 0.5 lay within band of an
    integer, the only ones a last-bit change in x could floor apart."""
    p = float(10 ** n)
    x *= p
    x += 0.5
    near = None if band is None else np.nonzero(
        np.abs(x - np.rint(x)) <= band)
    np.floor(x, out=x)
    x /= p
    return x if band is None else (x, near)


def require_finite(ids, values: np.ndarray, what: str,
                   positive: bool = False) -> None:
    """The degenerate-input policy of every kernel: raise ValueError
    naming the first vec_id whose row of `values` holds a NaN or ±inf
    (or, with `positive`, a value <= 0: a zero norm makes a 0/0
    cosine). NaN meets engine-specific semantics — DuckDB orders it
    above every number, NumPy compares it false — so the kernels fail
    loudly rather than diverge from the oracle."""
    bad = ~np.isfinite(values)
    if positive:
        bad |= values <= 0
    if bad.ndim > 1:
        bad = bad.any(axis=1)
    if bad.any():
        raise ValueError(
            f"non-finite {what} at vec_id {ids[int(bad.argmax())]}")


def cosine_tile(el: np.ndarray, er: np.ndarray, nml: np.ndarray,
                nmr: np.ndarray, idl):
    """Yield (s, cos) over chunks of lhs rows, cos[i, j] =
    det_round(el[s+i]·er[j] / (nml[s+i]·nmr[j]), 5) bit for bit;
    `idl` names the lhs rows for require_finite.

    The dots come from one BLAS GEMM per chunk, which reorders the
    summation: a pair's double can differ from the fold by
    ≤ 2·γ_d·Σ|xᵢyᵢ| (γ_d = d·u/(1−d·u), u = 2⁻⁵³), at d = 64 at most
    ~1.5e-9 on t = cos·1e5 + 0.5. That can only change the floor when
    t sits within it of an integer, so every pair with |t − rint(t)|
    ≤ _TILE_GUARD_BAND is recomputed with the exact fold. Chunks hold
    about _TILE_CHUNK_ELEMS pairs, so memory stays bounded."""
    step = max(1, _TILE_CHUNK_ELEMS // er.shape[0])
    for s in range(0, el.shape[0], step):
        x, nx = el[s:s + step], nml[s:s + step]
        acc = x @ er.T
        np.divide(acc, np.multiply(nx[:, None], nmr[None, :]), out=acc)
        require_finite(idl[s:s + step], acc, "cosine")
        acc, (ii, jj) = det_round(acc, 5, band=_TILE_GUARD_BAND)
        if ii.size:
            acc[ii, jj] = det_round(
                fold_dot(x[ii], er[jj]) / (nx[ii] * nmr[jj]), 5)
        yield s, acc


def block_pair_tiles(df: DataFrame, *cols) -> tuple[DataFrame, DataFrame]:
    """All-pairs over `df.select(*cols)` (cols include vec_id) as
    memory-bounded tiles, the SplitDF (VLDB 2024) decomposition: row r
    lands in block r.vec_id % TILE_BLOCKS, and the B·(B+1)/2 block
    pairs are a broadcast dimension, so the pair space is an equi-join
    on pair_id — never a BroadcastNestedLoopJoin — and every (n/B)²
    tile computes in parallel. A tile with bi == bj holds both orders
    of each pair; its kernel keeps one.

    Returns (lhs, rhs): lhs carries pair_id, bi, bj and the columns;
    rhs carries pid2 and each column renamed with a trailing "2"."""
    B = TILE_BLOCKS
    m = scratch_persist(df.select(
        *cols, (F.col("vec_id") % B).alias("blk")))
    names = m.columns[:-1]
    pairs = df.sparkSession.createDataFrame(
        [(i * B + j, i, j) for i in range(B) for j in range(i, B)],
        "pair_id INT, bi INT, bj INT")
    lhs = m.join(F.broadcast(pairs), F.col("blk") == F.col("bi")) \
        .select("pair_id", "bi", "bj", *names)
    rhs = m.join(F.broadcast(pairs), F.col("blk") == F.col("bj")) \
        .select(F.col("pair_id").alias("pid2"),
                *[F.col(c).alias(c + "2") for c in names])
    return lhs, rhs
