"""Approximate nearest-neighbor search over the embeddings table
(SURVEY.md §2 A1-A7: brute-force top-k, LSH buckets, IVF lists,
k-NN label propagation, product quantization, Lloyd k-means,
recall@k index evaluation).

A1: brute-force cosine top-k — the exact baseline. The (small) query
set broadcasts against the corpus; the corpus is never shuffled, so
at 100 TB this is one scan + a per-partition top-k (window over the
broadcast query id).

A2: random-hyperplane LSH buckets — the scale path. Buckets are
computed in one scan (signs of dot products against a fixed ±1
hyperplane matrix); the join is bucket-local, so candidate generation
touches only same-bucket rows. The hyperplane matrix is derived
deterministically from md5 parity and embedded as a literal in BOTH
the Spark plan and the DuckDB oracle, keeping the two bit-identical.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..runtime import det_round, scratch_persist
from . import kernels
from .kernels import SQL_DOT, dot

N_QUERIES = 5     # vec_id < 5 are the query vectors
TOP_K = 3
N_PLANES = 8
DIM = 64


def _planes() -> list[list[int]]:
    """±1 hyperplane matrix from md5 parity — deterministic, shared
    verbatim by the Spark plan and the SQL oracle."""
    out = []
    for j in range(N_PLANES):
        row = []
        for i in range(DIM):
            h = hashlib.md5(f"{j}:{i}".encode()).hexdigest()
            row.append(1 if int(h[0], 16) % 2 == 0 else -1)
        out.append(row)
    return out


PLANES = _planes()


def _with_norm(e: DataFrame) -> DataFrame:
    return e.select(
        "vec_id", "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("norm"))


def _queries(e: DataFrame, *extra: Column) -> DataFrame:
    """The query side of a `_with_norm` frame: vec_id < N_QUERIES as
    (query_id, q_emb, q_norm, *extra)."""
    return e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"), *extra)


def _cos() -> Column:
    """Cosine of a joined (q_emb, q_norm) query row and corpus row."""
    return dot(F.col("q_emb"), F.col("embedding")) \
        / (F.col("q_norm") * F.col("norm"))


def cos_top_k(scored: DataFrame) -> DataFrame:
    """The exact cosine top-k tail shared by A1, A2, A3, A5, A8 and
    A12: per query_id, the TOP_K rows by (cos_raw desc, neighbor_id)
    as (query_id, neighbor_id, cos_sim = det_round(cos_raw, 5), int
    rank), ordered by (query_id, rank). `_sql_cos_top_k` is its
    oracle twin."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id",
                    det_round(F.col("cos_raw"), 5).alias("cos_sim"),
                    F.col("rank").cast("int").alias("rank"))
            .orderBy("query_id", "rank"))


# ------------------------------------------------------ A1 brute force
def a1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-3 for each query vector (vec_id < 5) over the
    rest of the corpus. Query side broadcasts; corpus scans once."""
    from .. import tables
    e = _with_norm(tables.load(spark, sf_dir, "embeddings"))
    q = _queries(e)
    c = e.filter(F.col("vec_id") >= N_QUERIES)
    return cos_top_k(
        c.crossJoin(F.broadcast(q))
        .select(F.col("query_id"), F.col("vec_id").alias("neighbor_id"),
                _cos().alias("cos_raw")))


# The oracle twins of `_queries`, `_cos` and `cos_top_k`.
_SQL_N = f"""n AS (
  SELECT vec_id, embedding,
         sqrt({SQL_DOT.format(u='embedding', v='embedding')}) AS norm
  FROM embeddings)"""
_SQL_Q = f"""q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
      FROM n WHERE vec_id < {N_QUERIES})"""
_SQL_COS = f"{SQL_DOT.format(u='q_emb', v='c.embedding')} / (q_norm * c.norm)"


def _sql_cos_top_k(scored: str) -> str:
    return f"""ranked AS (
  SELECT query_id, neighbor_id, cos_raw,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM {scored})
SELECT query_id, neighbor_id, FLOOR((cos_raw) * 100000.0 + 0.5) / 100000.0 AS cos_sim,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank"""


_A1_SQL = f"""
WITH {_SQL_N},
{_SQL_Q},
c AS (SELECT * FROM n WHERE vec_id >= {N_QUERIES}),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         {_SQL_COS} AS cos_raw
  FROM c CROSS JOIN q),
{_sql_cos_top_k('scored')}
"""


# ------------------------------------------------- A2 LSH bucketed ANN
def _bucket(emb: str) -> Column:
    bits = []
    for row in PLANES:
        plane = F.array(*[F.lit(float(x)) for x in row])
        s = dot(F.col(emb), plane)
        bits.append(F.when(s >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _sql_bucket(emb: str) -> str:
    bits = []
    for row in PLANES:
        plane = "[" + ", ".join(f"{float(x)!r}" for x in row) + "]"
        s = SQL_DOT.format(u=emb, v=plane).replace(
            f"len({emb})", str(DIM))
        bits.append(f"(CASE WHEN {s} >= 0 THEN '1' ELSE '0' END)")
    return "||".join(bits)


def a2_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: candidates share the query's 8-bit
    hyperplane-sign bucket; exact cosine rerank inside the bucket.
    Bucket-local join ⇒ no quadratic shuffle at scale."""
    from .. import tables
    e = _with_norm(tables.load(spark, sf_dir, "embeddings"))
    e = e.withColumn("bucket", _bucket("embedding"))
    q = _queries(e, F.col("bucket").alias("q_bucket"))
    c = e.filter(F.col("vec_id") >= N_QUERIES)
    return cos_top_k(
        c.join(F.broadcast(q), F.col("bucket") == F.col("q_bucket"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                _cos().alias("cos_raw")))


def _a2_sql() -> str:
    return f"""
WITH n AS (
  SELECT vec_id, embedding,
         sqrt({SQL_DOT.format(u='embedding', v='embedding')}) AS norm,
         {_sql_bucket('embedding')} AS bucket
  FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm,
             bucket AS q_bucket
      FROM n WHERE vec_id < {N_QUERIES}),
c AS (SELECT * FROM n WHERE vec_id >= {N_QUERIES}),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         {_SQL_COS} AS cos_raw
  FROM c JOIN q ON c.bucket = q.q_bucket),
{_sql_cos_top_k('scored')}
"""


# --------------------------------------------------- A3 IVF bucketed ANN
N_CENTROIDS = 8
N_PROBE = 2


def a3_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: the corpus is inverted-file partitioned by
    nearest centroid (deterministic centroids: vec_id < N_CENTROIDS,
    normalized); queries probe their N_PROBE nearest centroid lists
    and rerank by exact cosine.

    At scale the centroid assignment is one broadcast-join scan and
    each query touches ~N_PROBE/N_CENTROIDS of the corpus — the
    standard IVF trade (recall vs. scan fraction). A real deployment
    trains centroids with MLlib KMeans; fixed seeds keep the oracle
    bit-identical here."""
    from .. import tables
    e = _with_norm(tables.load(spark, sf_dir, "embeddings"))
    cent = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("c_emb"), F.col("norm").alias("c_norm"))
    # assign every vector to its nearest centroid (cosine)
    sim = dot(F.col("embedding"), F.col("c_emb")) \
        / (F.col("norm") * F.col("c_norm"))
    wa = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), "cent_id")
    assigned = scratch_persist(
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "embedding", "norm", "cent_id", sim.alias("c_sim"))
        .withColumn("crk", F.row_number().over(wa))
    )   # feeds corpus lists AND query probes — one pass
    corpus_lists = assigned.filter(
        (F.col("crk") == 1) & (F.col("vec_id") >= N_QUERIES)) \
        .select("vec_id", "embedding", "norm", "cent_id")
    probes = assigned.filter(
        (F.col("crk") <= N_PROBE) & (F.col("vec_id") < N_QUERIES)) \
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_emb"),
                F.col("norm").alias("q_norm"), "cent_id")
    return cos_top_k(
        corpus_lists.join(F.broadcast(probes), "cent_id")
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                _cos().alias("cos_raw"))
        .distinct())


def _a3_sql() -> str:
    return f"""
WITH {_SQL_N},
cent AS (SELECT vec_id AS cent_id, embedding AS c_emb, norm AS c_norm
         FROM n WHERE vec_id < {N_CENTROIDS}),
assigned AS (
  SELECT vec_id, embedding, norm, cent_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
           {SQL_DOT.format(u='embedding', v='c_emb')} / (norm * c_norm) DESC,
           cent_id) AS crk
  FROM n CROSS JOIN cent),
corpus_lists AS (
  SELECT vec_id, embedding, norm, cent_id FROM assigned
  WHERE crk = 1 AND vec_id >= {N_QUERIES}),
probes AS (
  SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm, cent_id
  FROM assigned WHERE crk <= {N_PROBE} AND vec_id < {N_QUERIES}),
scored AS (
  SELECT DISTINCT query_id, c.vec_id AS neighbor_id,
         {_SQL_COS}
           AS cos_raw
  FROM corpus_lists c JOIN probes USING (cent_id)),
{_sql_cos_top_k('scored')}
"""


# ------------------------------------- A4 k-NN label propagation
_KNN_QUERIES = 50   # vec_id < 50 get auto-labels from their neighbors
_KNN_K = 10


def a4_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN auto-labeling (weak supervision): each query vector takes
    the majority label of its 10 nearest labeled neighbors; report
    the prediction against the held-out true label.

    Same scale shape as A1 — the query set broadcasts, the labeled
    corpus is scanned once and never shuffled; the vote is a tiny
    (query, label) aggregation. Ties break (count DESC, label ASC)
    identically in both engines."""
    from .. import tables
    e = tables.load(spark, sf_dir, "embeddings")
    n = e.select(
        "vec_id", "label", "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("norm"))
    q = n.filter(F.col("vec_id") < _KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q_emb"), F.col("norm").alias("q_norm"))
    c = n.filter(F.col("vec_id") >= _KNN_QUERIES)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.col("vec_id"))
    top = (
        c.crossJoin(F.broadcast(q))
        .select("query_id", "true_label", "vec_id", "label",
                _cos().alias("cos_raw"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KNN_K)
    )
    votes = top.groupBy("query_id", "true_label", "label") \
        .agg(F.count("*").alias("votes"))
    wv = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.col("label"))
    return (
        votes.withColumn("r", F.row_number().over(wv))
        .filter(F.col("r") == 1)
        .select("query_id", "true_label",
                F.col("label").alias("pred_label"),
                (F.col("label") == F.col("true_label")).alias("correct"))
        .orderBy("query_id")
    )


_A4_SQL = f"""
WITH n AS (
  SELECT vec_id, label, embedding,
         sqrt({SQL_DOT.format(u='embedding', v='embedding')}) AS norm
  FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS true_label,
             embedding AS q_emb, norm AS q_norm
      FROM n WHERE vec_id < {_KNN_QUERIES}),
c AS (SELECT * FROM n WHERE vec_id >= {_KNN_QUERIES}),
scored AS (
  SELECT query_id, true_label, c.vec_id, c.label,
         {_SQL_COS}
           AS cos_raw
  FROM c CROSS JOIN q),
top AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cos_raw DESC, vec_id) AS rank
    FROM scored) WHERE rank <= {_KNN_K}),
votes AS (
  SELECT query_id, true_label, label, COUNT(*) AS votes
  FROM top GROUP BY 1, 2, 3)
SELECT query_id, true_label, label AS pred_label,
       label = true_label AS correct
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY votes DESC, label) AS r FROM votes)
WHERE r = 1 ORDER BY query_id
"""


# ------------------------------------- A5 product-quantization ANN
_PQ_M = 8          # subspaces (64 dims → 8 × 8)
_PQ_SUB = DIM // _PQ_M
_PQ_K = 16         # sub-centroids per subspace
_PQ_RERANK = 10    # ADC candidates reranked exactly


def _pq_model(spark: SparkSession, e: DataFrame
              ) -> tuple[DataFrame, DataFrame]:
    """The ONE product-quantizer implementation shared by A5 and A12
    (the minhash_bands convention: parity cannot drift between the
    flat and the IVF-composed deployment of the same codes).
    Returns (codes, dt): per-(vec, m) corpus codes and the per-query
    16×8 ADC distance tables. Sub-centroids are subvectors of corpus
    seeds (deterministic — the oracle replays them exactly)."""
    sub_ids = spark.range(_PQ_M).select(F.col("id").cast("int").alias("m"))
    sub = F.slice("embedding", F.col("m") * _PQ_SUB + 1, _PQ_SUB)
    cent = (
        e.filter((F.col("vec_id") >= N_QUERIES)
                 & (F.col("vec_id") < N_QUERIES + _PQ_K))
        .crossJoin(F.broadcast(sub_ids))
        .select((F.col("vec_id") - N_QUERIES).cast("int").alias("k"),
                F.col("m"), sub.alias("c_sub"))
    )
    l2 = F.aggregate(
        F.zip_with(F.col("v_sub"), F.col("c_sub"),
                   lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, z: acc + z)
    # encode: argmin_k L2(sub, centroid) per (vec, m) — struct-min
    # aggregates map-side (ties break on smallest k via struct order)
    codes = (
        e.filter(F.col("vec_id") >= N_QUERIES)
        .crossJoin(F.broadcast(sub_ids))
        .select("vec_id", "m", sub.alias("v_sub"))
        .join(F.broadcast(cent), "m")
        .select("vec_id", "m", "k", l2.alias("d2"))
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "k")).alias("best"))
        .select("vec_id", "m", F.col("best.k").alias("code"))
    )
    dt = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(sub_ids))
        .select(F.col("vec_id").alias("query_id"), "m", sub.alias("v_sub"))
        .join(F.broadcast(cent), "m")
        .select("query_id", "m", "k", l2.alias("dtv"))
    )
    return codes, dt


def _pq_adc_fold() -> Column:
    """ADC: ordered fold over the 8 subspace entries of a
    (query, vec) group — bit-deterministic across engines."""
    return F.aggregate(
        F.array_sort(F.collect_list(F.struct("m", "dtv"))),
        F.lit(0.0), lambda acc, x: acc + x["dtv"])


def _pq_exact_rerank(e: DataFrame, shortlist: DataFrame) -> DataFrame:
    """Exact-cosine rerank of an ADC shortlist → the final
    (query_id, neighbor_id, cos_sim, rank) TOP_K rows (shared A5/A12
    tail)."""
    q = _queries(e)
    return cos_top_k(
        shortlist
        .join(e, shortlist.neighbor_id == e.vec_id)
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", _cos().alias("cos_raw")))


def a5_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: the memory-compression scale path.

    Each 64-dim vector splits into 8 subvectors; each subvector
    quantizes to the nearest of 16 sub-centroids, so the corpus
    compresses to 8 small codes per vector (8 bytes vs 256 — the
    enabler for holding a 100 TB embedding corpus's index in RAM).
    Queries score candidates by asymmetric distance (ADC): a per-query
    16×8 distance table, looked up per code and folded. The top
    ADC candidates rerank by exact cosine.

    Scale shape: sub-centroids are tiny and broadcast; the corpus is
    encoded in one scan (codes = map-side struct-min aggregation, no
    window); ADC scoring touches only the code table, never the full
    vectors; exact vectors are fetched just for the rerank set. Real
    deployments train centroids with KMeans — here they are
    deterministic corpus seeds so the DuckDB oracle is bit-identical.
    The ADC fold adds subspace distances in fixed m-order on BOTH
    engines (ordered fold, not SUM) for bit-exact doubles."""
    from .. import tables
    # five subtrees read the HOF-computed norms (centroids, corpus
    # encode, query table, query side, rerank fetch) — persist once
    e = scratch_persist(_with_norm(tables.load(spark, sf_dir, "embeddings")))
    codes, dt = _pq_model(spark, e)
    # ADC: ordered fold over the 8 subspace entries (bit-deterministic)
    adc = (
        codes.join(F.broadcast(dt), (codes.m == dt.m) & (codes.code == dt.k))
        .select("vec_id", "query_id", codes.m.alias("m"), "dtv")
        .groupBy("query_id", "vec_id")
        .agg(_pq_adc_fold().alias("adc"))
    )
    w_adc = Window.partitionBy("query_id").orderBy("adc", "vec_id")
    shortlist = adc.withColumn("ark", F.row_number().over(w_adc)) \
        .filter(F.col("ark") <= _PQ_RERANK) \
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    return _pq_exact_rerank(e, shortlist)


def _pq_sql_common(cent_name: str) -> str:
    """The shared A5/A12 PQ oracle prefix (n, ms, sub-centroids,
    corpus encode, per-query ADC tables) — ONE SQL text, so the
    encoder cannot drift between the flat and IVF-composed oracles.
    `cent_name` names the sub-centroid CTE (A12 also has a coarse
    centroid CTE, so the names must not collide)."""
    sub = ("list_transform(range({n}), i -> "
           "CAST(embedding[m * {n} + i + 1] AS DOUBLE))").format(n=_PQ_SUB)
    l2 = ("list_sum(list_transform(range({n}), i -> "
          "(v_sub[i+1] - c_sub[i+1]) * (v_sub[i+1] - c_sub[i+1])))"
          ).format(n=_PQ_SUB)
    return f"""n AS MATERIALIZED (
  SELECT vec_id, embedding,
         sqrt({SQL_DOT.format(u='embedding', v='embedding')}) AS norm
  FROM embeddings),
ms AS (SELECT CAST(unnest(range({_PQ_M})) AS INT) AS m),
{cent_name} AS MATERIALIZED (
  SELECT CAST(vec_id - {N_QUERIES} AS INT) AS k, m, {sub} AS c_sub
  FROM n CROSS JOIN ms
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + _PQ_K}),
corpus_sub AS (
  SELECT vec_id, m, {sub} AS v_sub FROM n CROSS JOIN ms
  WHERE vec_id >= {N_QUERIES}),
enc AS (
  SELECT vec_id, m, k, {l2} AS d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY {l2}, k) AS rn
  FROM corpus_sub JOIN {cent_name} USING (m)),
codes AS MATERIALIZED (
  SELECT vec_id, m, k AS code FROM enc WHERE rn = 1),
query_sub AS (
  SELECT vec_id AS query_id, m, {sub} AS v_sub FROM n CROSS JOIN ms
  WHERE vec_id < {N_QUERIES}),
dt AS MATERIALIZED (
  SELECT query_id, m, k, {l2} AS dtv
  FROM query_sub JOIN {cent_name} USING (m))"""


def _pq_sql_tail() -> str:
    """Shared A5/A12 oracle tail: ADC shortlist window + exact-cosine
    rerank (expects an `adc(query_id, vec_id, adc)` CTE upstream)."""
    return f"""shortlist AS (
  SELECT query_id, vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc, vec_id) AS ark
  FROM adc),
{_SQL_Q},
scored AS (
  SELECT s.query_id, s.neighbor_id,
         {_SQL_COS}
           AS cos_raw
  FROM shortlist s
  JOIN n c ON s.neighbor_id = c.vec_id
  JOIN q ON s.query_id = q.query_id
  WHERE s.ark <= {_PQ_RERANK}),
{_sql_cos_top_k('scored')}"""


def _a5_sql() -> str:
    return f"""
WITH {_pq_sql_common('cent')},
adc AS (
  SELECT query_id, vec_id,
         list_sum(list(dtv ORDER BY c.m)) AS adc
  FROM codes c JOIN dt ON c.m = dt.m AND c.code = dt.k
  GROUP BY query_id, vec_id),
{_pq_sql_tail()}
"""


# ---------------------------------------- A6 Lloyd k-means (2 rounds)
_KM_K = 4
_KM_DEC = "decimal(28,9)"


def _km_assign_fn():
    """Cogrouped Arrow nearest-centroid kernel, bit-identical to the
    interpreted per-(vector, centroid) HOF fold + (dist2, cent_id)
    row_number window it replaces (guide §4.2):

    - dist2 is `kernels.fold_sq_dist`, the SAME left-to-right fold
      as Catalyst's `aggregate(zip_with(...))` vectorized across the
      group's rows, so every dist2 double is bit-identical by
      construction (no GEMM, no reordering, hence no guard band);
    - the argmin walks centroids in ascending cent_id with a STRICT
      `<`, reproducing the window's (dist2, cent_id) tie-break
      exactly (exact double comparisons both sides);
    - a vector with a NaN or ±inf component raises ValueError naming
      its vec_id (`kernels.require_finite`) instead of taking the
      lowest centroid id with a nan/inf dist2.

    Replaces a 4× crossJoin row expansion + a full-corpus window
    shuffle that carried x AND c per expanded row with one cogroup
    shuffle of the bare (vec_id, x) rows (guide §2.3/§2.4)."""
    import numpy as np
    import pyarrow as pa

    schema = pa.schema([("vec_id", pa.int64()),
                        ("x", pa.list_(pa.float64())),
                        ("cluster", pa.int32()),
                        ("dist2", pa.float64())])

    def fn(left: pa.Table, right: pa.Table) -> pa.Table:
        n = left.num_rows
        if n == 0:
            return schema.empty_table()
        if right.num_rows == 0:
            # every corpus group must see the full centroid set —
            # dropping vectors silently would corrupt the assignment
            raise ValueError("km assign group without centroids")
        X = kernels.matrix(left, "x")
        kernels.require_finite(left.column("vec_id").to_numpy(), X,
                               "distance")
        cids = right.column("cent_id").to_numpy()
        C = kernels.matrix(right, "c")
        best_d = None
        best_c = None
        for i in np.argsort(cids, kind="stable"):
            acc = kernels.fold_sq_dist(X, C[i])
            if best_d is None:
                best_d = acc
                best_c = np.full(n, cids[i], np.int32)
            else:
                m = acc < best_d          # strict: ties keep lower id
                best_d = np.where(m, acc, best_d)
                best_c = np.where(m, np.int32(cids[i]), best_c)
        return pa.table(
            [left.column("vec_id").combine_chunks().cast(pa.int64()),
             left.column("x").combine_chunks().cast(
                 pa.list_(pa.float64())),
             pa.array(best_c, pa.int32()),
             pa.array(best_d, pa.float64())], schema=schema)

    return fn


def _km_assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment (ties to the lower centroid id).
    Centroids are model parameters — K×DIM doubles — replicated to
    every corpus group (K×P rows); the corpus shuffles ONCE on a
    deterministic group key into the Arrow kernel, instead of the
    former 4× crossJoin expansion + full-corpus (dist2, cent_id)
    window shuffle with interpreted HOF distance folds."""
    spark = vecs.sparkSession
    p = spark.sparkContext.defaultParallelism
    reps = spark.range(p).select(F.col("id").alias("blk"))
    crep = cents.crossJoin(F.broadcast(reps))
    # pmod: a negative vec_id still lands in a replicated group
    lhs = vecs.select("vec_id", "x",
                      F.pmod(F.col("vec_id"), F.lit(p)).alias("blk"))
    return (lhs.groupBy("blk")
            .cogroup(crep.groupBy("blk"))
            .applyInArrow(
                _km_assign_fn(),
                schema=("vec_id bigint, x array<double>, "
                        "cluster int, dist2 double")))


def km_trained_assignment(vecs: DataFrame) -> DataFrame:
    """A6's training loop as a reusable step: seed with the first K
    vectors, one Lloyd update, final assignment. Returns (vec_id, x,
    cluster, dist2) — shared with D14 SemDeDup so its clusters are
    exactly the ones A6 trains (and its oracle replays)."""
    cents1 = (vecs.filter(F.col("vec_id") < _KM_K)
              .select(F.col("vec_id").cast("int").alias("cent_id"),
                      F.col("x").alias("c")))
    a1 = _km_assign(vecs, cents1)
    upd = (a1.select("cluster", F.posexplode("x").alias("pos", "val"))
           .groupBy("cluster", "pos")
           .agg(F.sum(F.col("val").cast(_KM_DEC)).alias("s"),
                F.count("*").alias("n")))
    cents2 = (upd.withColumn(
                  "m", det_round(F.col("s").cast("double") / F.col("n"), 9))
              .groupBy("cluster")
              .agg(F.transform(
                   F.array_sort(F.collect_list(F.struct("pos", "m"))),
                   lambda t: t.m).alias("c"))
              .select(F.col("cluster").cast("int").alias("cent_id"), "c"))
    return _km_assign(vecs, cents2)


def a6_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two genuine Lloyd iterations of k-means (k=4) as pure
    DataFrame algebra — the iterative-algorithm pattern (assign →
    recompute → reassign) that IVF training (A3's 'real centroids
    come from KMeans') needs, bit-deterministic across engines:

    - per-vector distance folds run left-to-right over the dimension
      list (deterministic double arithmetic, same fold both engines);
    - centroid updates sum per-dimension DECIMAL values — exact and
      aggregation-order-independent, so the cross-row shuffle order
      cannot perturb a single bit — then divide once in double and
      round to 9 decimals;
    - the final fingerprint (cluster sizes, id-sums, decimal-summed
      inertia) is integer/decimal-exact.

    Degenerate input: a vector with a NaN or ±inf component raises
    ValueError naming its vec_id (`kernels.require_finite`); a
    zero-norm vector is an ordinary point here.

    Scale design (100 TB): each iteration is one corpus scan + one
    (cluster, dim)-keyed partial aggregation; centroids (K×DIM
    doubles) broadcast back. Driver never sees the data — the model
    state stays in the plan. Iterations are a fixed small count, the
    standard mini-batch/fixed-round compromise at scale.
    """
    from .. import tables
    e = tables.load(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("x"))
    a2 = km_trained_assignment(vecs)
    return (a2.groupBy("cluster").agg(
                F.count("*").cast("long").alias("n_vecs"),
                F.sum("vec_id").cast("long").alias("id_sum"),
                det_round(F.sum(F.col("dist2").cast("decimal(38,12)"))
                          .cast("double"), 6).alias("inertia"))
            .select(F.col("cluster").cast("int").alias("cluster"),
                    "n_vecs", "id_sum", "inertia")
            .orderBy("cluster"))


def _km_sql_ctes() -> str:
    """The A6 k-means CTE chain (seed → assign → recompute → final
    assignment `a2`) as a reusable WITH-body fragment, shared with
    D14's SemDeDup oracle so both replay the identical training."""
    sq = ("list_sum(list_transform(range(len(x)), "
          "i -> (x[i+1]-c[i+1])*(x[i+1]-c[i+1])))")
    return f"""vecs AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings),
cents1 AS (
  SELECT CAST(vec_id AS INT) AS cent_id, x AS c
  FROM vecs WHERE vec_id < {_KM_K}),
d1 AS (
  SELECT vec_id, x, cent_id, {sq} AS dist2
  FROM vecs CROSS JOIN cents1),
a1 AS (
  SELECT vec_id, x, cluster, dist2 FROM (
    SELECT vec_id, x, cent_id AS cluster, dist2,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dist2, cent_id) AS rk
    FROM d1) WHERE rk = 1),
upd AS (
  SELECT cluster, g.i AS pos,
         SUM(CAST(x[g.i+1] AS DECIMAL(28,9))) AS s, COUNT(*) AS n
  FROM a1, LATERAL (SELECT unnest(range(len(x))) AS i) g
  GROUP BY cluster, g.i),
cents2 AS (
  SELECT CAST(cluster AS INT) AS cent_id,
         list(FLOOR((CAST(CAST(s AS VARCHAR) AS DOUBLE) / n) * 1000000000.0 + 0.5) / 1000000000.0 ORDER BY pos) AS c
  FROM upd GROUP BY cluster),
d2 AS (
  SELECT vec_id, cent_id, {sq} AS dist2
  FROM vecs CROSS JOIN cents2),
a2 AS (
  SELECT vec_id, cluster, dist2 FROM (
    SELECT vec_id, cent_id AS cluster, dist2,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dist2, cent_id) AS rk
    FROM d2) WHERE rk = 1)"""


def _a6_sql() -> str:
    return f"""
WITH {_km_sql_ctes()}
SELECT CAST(cluster AS INT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(vec_id) AS BIGINT) AS id_sum,
       FLOOR((CAST(CAST(SUM(CAST(dist2 AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
         AS inertia
FROM a2 GROUP BY cluster ORDER BY cluster
"""


# ------------------------------------- A7 ANN recall evaluation
def a7_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH index (A2) against exact brute force (A1)
    — the evaluation loop every production ANN deployment runs before
    trusting an index. Both sides are deterministic plans, so the
    recall itself is oracle-checkable: per query, the fraction of the
    true top-3 the bucketed search recovered.

    Scale: the truth side is the expensive one (exact top-k) — run on
    a SAMPLE of queries at 100 TB; the join is on (query, neighbor)
    pairs, k-bounded per query."""
    truth = a1_cosine_topk(spark, sf_dir) \
        .select("query_id", "neighbor_id")
    approx = a2_lsh_ann(spark, sf_dir) \
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    per_q = (
        truth.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("*").alias("k"),
             F.sum(F.coalesce("hit", F.lit(0))).cast("long")
             .alias("hits")))
    return (per_q.select(
        "query_id", "k", "hits",
        det_round(F.col("hits") / F.col("k"), 4).alias("recall"))
        .orderBy("query_id"))


def _a7_sql() -> str:
    return f"""
WITH truth AS ({_A1_SQL.replace(chr(10), chr(10) + '  ')}),
approx AS ({_a2_sql().replace(chr(10), chr(10) + '  ')}),
per_q AS (
  SELECT t.query_id, COUNT(*) AS k,
         CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS hits
  FROM truth t LEFT JOIN approx a
    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
  GROUP BY t.query_id)
SELECT query_id, k, hits, FLOOR((hits * 1.0 / k) * 10000.0 + 0.5) / 10000.0 AS recall
FROM per_q ORDER BY query_id
"""


# ------------------------------------- A8 scalar-quantized (SQ8) ANN
_SQ_PRESELECT = 12


def a8_sq8_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized ANN: the corpus compresses to ONE BYTE per
    dimension (per-dim min/max training, linear 0-255 codes — the
    SQ8 storage layout FAISS/pgvector use), search scores the
    dequantized codes against the raw query, and the top candidates
    rerank at full precision. The memory story at 100 TB: 10B 64-dim
    float32 vectors = 2.5 TB raw but 640 GB as SQ8 codes, small
    enough to pin in cluster RAM; the full-precision vectors are
    touched only for the _SQ_PRESELECT rerank rows per query.

    Shuffle audit: training is one 64-key aggregate (per-dim
    min/max); codes are a per-row map over the corpus with the 64
    mins/maxes broadcast; candidate scoring broadcasts the query set
    like A1 (the corpus never shuffles); rerank reuses the carried
    raw vector — no second corpus pass."""
    from .. import tables
    e = tables.load(spark, sf_dir, "embeddings")
    c = e.filter(F.col("vec_id") >= N_QUERIES)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"))
    stats = (c.select(F.posexplode("embedding").alias("dim", "x"))
             .groupBy("dim")
             .agg(F.min(F.col("x").cast("double")).alias("mn"),
                  F.max(F.col("x").cast("double")).alias("mx")))
    packed = stats.agg(
        F.array_sort(F.collect_list(F.struct("dim", "mn", "mx")))
        .alias("s")
    ).select(F.expr("transform(s, t -> t.mn)").alias("mns"),
             F.expr("transform(s, t -> t.mx)").alias("mxs"))
    coded = c.crossJoin(F.broadcast(packed)).select(
        F.col("vec_id").alias("neighbor_id"), "embedding", "mns", "mxs",
        F.expr(
            "transform(sequence(0, size(embedding) - 1), i -> "
            "CAST(coalesce(round(255.0D * "
            "(CAST(element_at(embedding, i + 1) AS DOUBLE) "
            "- element_at(mns, i + 1)) / nullif(element_at(mxs, i + 1) "
            "- element_at(mns, i + 1), 0.0D), 0), 0) AS INT))"
        ).alias("codes"))
    approx = F.expr(
        "aggregate(sequence(0, size(codes) - 1), 0.0D, (acc, i) -> "
        "acc + CAST(element_at(q_emb, i + 1) AS DOUBLE) * "
        "(element_at(mns, i + 1) + element_at(codes, i + 1) * "
        "(element_at(mxs, i + 1) - element_at(mns, i + 1)) / 255.0D))")
    scored = (coded.crossJoin(F.broadcast(q))
              .withColumn("approx", approx))
    wa = Window.partitionBy("query_id").orderBy(
        F.desc("approx"), F.col("neighbor_id"))
    pre = scored.withColumn("arnk", F.row_number().over(wa)) \
        .filter(F.col("arnk") <= _SQ_PRESELECT)
    cos = dot(F.col("q_emb"), F.col("embedding")) / (
        F.sqrt(dot(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(dot(F.col("embedding"), F.col("embedding"))))
    return cos_top_k(pre.withColumn("cos_raw", cos))


_A8_SQL = f"""
WITH c AS (SELECT vec_id AS neighbor_id, embedding FROM embeddings
           WHERE vec_id >= {N_QUERIES}),
q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
      WHERE vec_id < {N_QUERIES}),
dims AS (
  SELECT g.i AS dim, MIN(CAST(embedding[g.i + 1] AS DOUBLE)) AS mn,
         MAX(CAST(embedding[g.i + 1] AS DOUBLE)) AS mx
  FROM c, LATERAL (SELECT unnest(range(len(embedding))) AS i) g
  GROUP BY g.i),
packed AS (SELECT list(mn ORDER BY dim) AS mns,
                  list(mx ORDER BY dim) AS mxs FROM dims),
coded AS (
  SELECT neighbor_id, embedding, mns, mxs,
         list_transform(range(len(embedding)), i ->
           CAST(coalesce(round(255.0 *
             (CAST(embedding[i + 1] AS DOUBLE) - mns[i + 1])
             / nullif(mxs[i + 1] - mns[i + 1], 0.0), 0), 0) AS INT))
           AS codes
  FROM c, packed),
scored AS (
  SELECT query_id, neighbor_id, embedding, q_emb,
         list_sum(list_transform(range(len(codes)), i ->
           CAST(q_emb[i + 1] AS DOUBLE) * (mns[i + 1]
           + codes[i + 1] * (mxs[i + 1] - mns[i + 1]) / 255.0)))
           AS approx
  FROM coded CROSS JOIN q),
pre AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY approx DESC, neighbor_id)
         AS arnk
  FROM scored),
rer AS (
  SELECT query_id, neighbor_id,
         {SQL_DOT.format(u='q_emb', v='embedding')}
         / (sqrt({SQL_DOT.format(u='q_emb', v='q_emb')})
            * sqrt({SQL_DOT.format(u='embedding', v='embedding')}))
           AS cos_raw
  FROM pre WHERE arnk <= {_SQ_PRESELECT}),
{_sql_cos_top_k('rer')}
"""


# --------------------------- A9 multi-index Hamming ANN (binary sketch)
_MIH_BLOCKS = 4       # 64 sign bits split into 4 × 16-bit substrings
_MIH_BLOCK_BITS = DIM // _MIH_BLOCKS


def _mih_block_col(k: int) -> Column:
    """16-bit integer from the sign bits of embedding dims
    [16k, 16k+16): bit j set iff embedding[16k+j] > 0."""
    v = None
    for j in range(_MIH_BLOCK_BITS):
        bit = F.when(
            F.element_at(F.col("embedding"),
                         _MIH_BLOCK_BITS * k + j + 1).cast("double") > 0,
            F.lit(1 << j)).otherwise(F.lit(0))
        v = bit if v is None else v + bit
    return v


def _mih_block_sql(k: int) -> str:
    return " + ".join(
        f"(CASE WHEN CAST(embedding[{_MIH_BLOCK_BITS * k + j + 1}] AS DOUBLE)"
        f" > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(_MIH_BLOCK_BITS))


def a9_mih_hamming_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-sketch ANN by multi-index hashing (Norouzi et al., "Fast
    Search in Hamming Space with Multi-Index Hashing", CVPR 2012):
    each vector compresses to a 64-bit sign sketch (bit i = sign of
    dim i — 8 bytes/vector, 80 GB for 10B vectors, RAM-pinnable);
    the code splits into 4 disjoint 16-bit substrings, and a corpus
    vector is a candidate iff it matches the query EXACTLY on at
    least one substring. Pigeonhole gives exact recall for every
    neighbor within Hamming distance 3 (4 blocks can't all absorb
    ≤3 bit flips); candidates rerank by full 64-bit Hamming distance.

    Scale shape: candidate generation is a broadcast equi-join on
    (block_id, block_value) — the corpus side explodes to 4 narrow
    rows per vector and NEVER shuffles on data; expected candidate
    fraction per (query, block) is 2^-16 of the corpus. Hamming
    rerank is four xor+bit_count ops — whole-stage codegen, no UDF.

    Reference parity: the reference engine has no ANN surface; this
    extends the A-series sketch family (A2 LSH signs, A8 SQ8 codes)
    with the bitwise variant a training-data pipeline uses when even
    SQ8 is too large.
    """
    from .. import tables
    e = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding",
        *[_mih_block_col(k).alias(f"blk{k}") for k in range(_MIH_BLOCKS)])
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"blk{k}").alias(f"q{k}") for k in range(_MIH_BLOCKS)])
    qidx = q.select(
        "query_id", *[F.col(f"q{k}") for k in range(_MIH_BLOCKS)],
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("bk"), F.col(f"q{k}").alias("bv"))
            for k in range(_MIH_BLOCKS)])).alias("b")
    ).select("query_id", "b.bk", "b.bv",
             *[F.col(f"q{k}") for k in range(_MIH_BLOCKS)])
    c = e.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        *[F.col(f"blk{k}") for k in range(_MIH_BLOCKS)],
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("bk"), F.col(f"blk{k}").alias("bv"))
            for k in range(_MIH_BLOCKS)])).alias("b")
    ).select("neighbor_id", "b.bk", "b.bv",
             *[F.col(f"blk{k}") for k in range(_MIH_BLOCKS)])
    ham = None
    for k in range(_MIH_BLOCKS):
        d = F.bit_count(F.col(f"blk{k}").bitwiseXOR(F.col(f"q{k}")))
        ham = d if ham is None else ham + d
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        c.join(F.broadcast(qidx), ["bk", "bv"])
        .select("query_id", "neighbor_id", ham.cast("int").alias("hamming"))
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "hamming",
                F.col("rank").cast("int").alias("rank"))
        .orderBy("query_id", "rank")
    )


def _a9_sql() -> str:
    blocks = ", ".join(
        f"({_mih_block_sql(k)}) AS blk{k}" for k in range(_MIH_BLOCKS))
    any_match = " OR ".join(
        f"c.blk{k} = q.blk{k}" for k in range(_MIH_BLOCKS))
    ham = " + ".join(
        f"bit_count(xor(c.blk{k}, q.blk{k}))" for k in range(_MIH_BLOCKS))
    return f"""
WITH codes AS (SELECT vec_id, {blocks} FROM embeddings),
q AS (SELECT * FROM codes WHERE vec_id < {N_QUERIES}),
c AS (SELECT * FROM codes WHERE vec_id >= {N_QUERIES}),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST({ham} AS INT) AS hamming
  FROM c JOIN q ON {any_match}),
ranked AS (
  SELECT query_id, neighbor_id, hamming,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY hamming, neighbor_id) AS rank
  FROM cand)
SELECT query_id, neighbor_id, hamming, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


# ------------------- A10 filtered ANN: pre- vs post-filter recall
_A10_POST_K = 12     # unfiltered preselect depth for the post-filter arm


def a10_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-constrained ANN two ways — the selective-search design
    choice every vector store documents (pgvector/FAISS filtering):
    PRE-filter (restrict the corpus to the query's label, then exact
    top-3 — always correct, cost ∝ selectivity) vs POST-filter (take
    the unfiltered top-12, then keep label matches — cheap but loses
    neighbors when the filter is selective). Output per query: the
    pre-filter truth set, how many of them the post-filter arm
    recovered, and recall@3 — the diagnostic that tells a pipeline
    which arm its selectivity can afford.

    Scale: both arms broadcast the 5-query set and scan the corpus
    once each (windows per query id as in A1). In the single-query
    production form the pre-filter label is a LITERAL, so the
    predicate reaches the parquet scan (PushedFilters) and a
    label-partitioned layout prunes whole files — the entire point
    of the pre-filter design at 100 TB; here the label binds per
    query through the broadcast hash join's key instead (the
    multi-query batch form)."""
    from .. import tables
    e = tables.load(spark, sf_dir, "embeddings")
    norm = _with_norm(e).join(e.select("vec_id", "label"), "vec_id")
    q = _queries(norm, F.col("label").alias("q_label"))
    c = norm.filter(F.col("vec_id") >= N_QUERIES)
    cos = _cos()
    scored = (c.join(F.broadcast(q),
                     F.col("label") == F.col("q_label"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      cos.alias("cs")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cs"), F.col("neighbor_id"))
    pre = (scored.withColumn("rk", F.row_number().over(w))
           .filter(F.col("rk") <= TOP_K)
           .select("query_id", "neighbor_id"))
    all_scored = (c.join(F.broadcast(q), F.lit(True))
                  .select("query_id",
                          F.col("vec_id").alias("neighbor_id"),
                          "label", "q_label", cos.alias("cs")))
    post = (all_scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _A10_POST_K)
            .filter(F.col("label") == F.col("q_label"))
            .withColumn("rk2", F.row_number().over(w))
            .filter(F.col("rk2") <= TOP_K)
            .select("query_id", "neighbor_id"))
    hit = pre.join(post, ["query_id", "neighbor_id"], "left_semi")
    truth = pre.groupBy("query_id").agg(
        F.count("*").cast("long").alias("k_truth"))
    hits = hit.groupBy("query_id").agg(
        F.count("*").cast("long").alias("k_post"))
    return (truth.join(hits, "query_id", "left")
            .select("query_id", "k_truth",
                    F.coalesce("k_post", F.lit(0)).cast("long")
                    .alias("k_post"))
            .withColumn("recall",
                        det_round(F.col("k_post") / F.col("k_truth"), 4))
            .orderBy("query_id"))


def _a10_sql() -> str:
    return f"""
WITH n AS (
  SELECT vec_id, embedding, label,
         sqrt({SQL_DOT.format(u='embedding', v='embedding')}) AS norm
  FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm,
             label AS q_label
      FROM n WHERE vec_id < {N_QUERIES}),
c AS (SELECT * FROM n WHERE vec_id >= {N_QUERIES}),
pre AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY {_SQL_COS} DESC, c.vec_id) AS rk
    FROM c JOIN q ON c.label = q.q_label)
  WHERE rk <= {TOP_K}),
post AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id, label, q_label,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cs DESC, neighbor_id) AS rk2
    FROM (
      SELECT query_id, c.vec_id AS neighbor_id, c.label, q_label,
             {_SQL_COS} AS cs,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY {_SQL_COS} DESC, c.vec_id) AS rk
      FROM c CROSS JOIN q)
    WHERE rk <= {_A10_POST_K} AND label = q_label)
  WHERE rk2 <= {TOP_K}),
truth AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k_truth
          FROM pre GROUP BY query_id),
hits AS (
  SELECT p.query_id, CAST(COUNT(*) AS BIGINT) AS k_post
  FROM pre p JOIN post USING (query_id, neighbor_id)
  GROUP BY p.query_id)
SELECT query_id, k_truth,
       CAST(COALESCE(k_post, 0) AS BIGINT) AS k_post,
       FLOOR((COALESCE(k_post, 0) * 1.0 / k_truth) * 10000.0 + 0.5) / 10000.0 AS recall
FROM truth LEFT JOIN hits USING (query_id)
ORDER BY query_id
"""


# ---------------- A11 MMR diversified top-k (retrieval de-dup)
_MMR_CAND = 8      # cosine preselect depth
_MMR_K = 3         # diversified picks
_MMR_LAMBDA = 0.5  # relevance/diversity trade-off


def a11_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98):
    pick k results that balance relevance against redundancy —
    score = cos(q,d) − λ·max cos(d, already-picked). The retrieval
    twin of the dedup surface: without it a near-dup-heavy corpus
    returns k copies of one document (exactly what A1 does on the
    planted dups).

    Greedy selection unrolls to K=3 deterministic rounds; after the
    cosine top-8 preselect per query (A1's broadcast scan shape),
    every round operates on ≤ |queries|×8 rows — metadata-sized, so
    the unrolled joins cost nothing at any corpus scale, and the
    oracle is the identical 3-round SQL. Ties break on neighbor_id;
    scores rounded to 6 before comparison so both engines rank the
    same doubles."""
    from .. import tables
    e = _with_norm(tables.load(spark, sf_dir, "embeddings"))
    q = _queries(e)
    c = e.filter(F.col("vec_id") >= N_QUERIES)
    cos = _cos()
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rel"), F.col("neighbor_id"))
    cand = (c.crossJoin(F.broadcast(q))
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    "embedding", "norm", det_round(cos, 6).alias("rel"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _MMR_CAND)
            .drop("rk"))
    from ..runtime import scratch_persist
    cand = scratch_persist(cand)
    # pairwise candidate-candidate cosines (≤ 8×8 per query)
    a, b = cand.alias("a"), cand.alias("b")
    pair_cos = dot(F.col("a.embedding"), F.col("b.embedding")) \
        / (F.col("a.norm") * F.col("b.norm"))
    pairs = scratch_persist(
        a.join(b, (F.col("a.query_id") == F.col("b.query_id"))
               & (F.col("a.neighbor_id") != F.col("b.neighbor_id")))
        .select(F.col("a.query_id").alias("query_id"),
                F.col("a.neighbor_id").alias("nid"),
                F.col("b.neighbor_id").alias("other"),
                det_round(pair_cos, 6).alias("sim")))
    slim = cand.select("query_id", F.col("neighbor_id").alias("nid"),
                       "rel")
    picked = None      # (query_id, nid, rank, score)
    remaining = slim
    for step in range(1, _MMR_K + 1):
        if picked is None:
            scored = remaining.withColumn("mmr", F.col("rel"))
        else:
            mx = (pairs.join(picked.select("query_id",
                                           F.col("nid").alias("other")),
                             ["query_id", "other"])
                  .groupBy("query_id", "nid")
                  .agg(F.max("sim").alias("mxsim")))
            scored = (remaining.join(mx, ["query_id", "nid"], "left")
                      .withColumn("mmr",
                                  det_round(F.col("rel") - _MMR_LAMBDA
                                            * F.coalesce("mxsim",
                                                         F.lit(0.0)), 6)))
        ws = Window.partitionBy("query_id").orderBy(
            F.desc("mmr"), F.col("nid"))
        best = (scored.withColumn("r", F.row_number().over(ws))
                .filter(F.col("r") == 1)
                .select("query_id", "nid", F.lit(step).alias("rank"),
                        F.col("mmr").alias("score")))
        picked = best if picked is None else picked.unionByName(best)
        remaining = remaining.join(
            best.select("query_id", "nid"), ["query_id", "nid"],
            "left_anti")
    return (picked.select("query_id", F.col("nid").alias("neighbor_id"),
                          F.col("rank").cast("int").alias("rank"),
                          det_round(F.col("score"), 6).alias("mmr_score"))
            .orderBy("query_id", "rank"))


def _a11_sql() -> str:
    dot_ab = SQL_DOT.format(u="a.embedding", v="b.embedding")
    return f"""
WITH {_SQL_N},
{_SQL_Q},
c AS (SELECT * FROM n WHERE vec_id >= {N_QUERIES}),
cand AS (
  SELECT * FROM (
    SELECT query_id, c.vec_id AS nid, c.embedding, c.norm,
           FLOOR(({_SQL_COS}) * 1000000.0 + 0.5) / 1000000.0 AS rel,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY FLOOR(({_SQL_COS}) * 1000000.0 + 0.5) / 1000000.0 DESC,
                      c.vec_id) AS rk
    FROM c CROSS JOIN q)
  WHERE rk <= {_MMR_CAND}),
pairs AS (
  SELECT a.query_id, a.nid, b.nid AS other,
         FLOOR(({dot_ab} / (a.norm * b.norm)) * 1000000.0 + 0.5) / 1000000.0 AS sim
  FROM cand a JOIN cand b
    ON a.query_id = b.query_id AND a.nid <> b.nid),
p1 AS (
  SELECT query_id, nid, rel AS score FROM (
    SELECT query_id, nid, rel,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, nid) AS r
    FROM cand) WHERE r = 1),
s2 AS (
  SELECT c.query_id, c.nid, FLOOR((c.rel - {_MMR_LAMBDA} *
           COALESCE((SELECT MAX(p.sim) FROM pairs p
                     JOIN p1 ON p1.query_id = p.query_id
                            AND p1.nid = p.other
                     WHERE p.query_id = c.query_id
                       AND p.nid = c.nid), 0.0))
           * 1000000.0 + 0.5) / 1000000.0 AS mmr
  FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM p1
                    WHERE p1.query_id = c.query_id
                      AND p1.nid = c.nid)),
p2 AS (
  SELECT query_id, nid, mmr AS score FROM (
    SELECT query_id, nid, mmr,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY mmr DESC, nid) AS r
    FROM s2) WHERE r = 1),
s3 AS (
  SELECT c.query_id, c.nid, FLOOR((c.rel - {_MMR_LAMBDA} *
           COALESCE((SELECT MAX(p.sim) FROM pairs p
                     WHERE p.query_id = c.query_id AND p.nid = c.nid
                       AND p.other IN (
                         SELECT nid FROM p1
                         WHERE p1.query_id = c.query_id
                         UNION ALL
                         SELECT nid FROM p2
                         WHERE p2.query_id = c.query_id)), 0.0))
           * 1000000.0 + 0.5) / 1000000.0
           AS mmr
  FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM p1
                    WHERE p1.query_id = c.query_id AND p1.nid = c.nid)
    AND NOT EXISTS (SELECT 1 FROM p2
                    WHERE p2.query_id = c.query_id AND p2.nid = c.nid)),
p3 AS (
  SELECT query_id, nid, mmr AS score FROM (
    SELECT query_id, nid, mmr,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY mmr DESC, nid) AS r
    FROM s3) WHERE r = 1),
picked AS (
  SELECT query_id, nid, 1 AS rank, score FROM p1
  UNION ALL SELECT query_id, nid, 2, score FROM p2
  UNION ALL SELECT query_id, nid, 3, score FROM p3)
SELECT query_id, nid AS neighbor_id, CAST(rank AS INT) AS rank,
       FLOOR((score) * 1000000.0 + 0.5) / 1000000.0 AS mmr_score
FROM picked ORDER BY query_id, rank
"""


# ---- A12: IVF-PQ composite ANN (the billion-vector production layout)
def a12_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS IndexIVFPQ's shape, composed from A3 + A5: the coarse
    inverted file bounds WHICH vectors a query scores (probed lists
    only) and product quantization bounds WHAT is scored per vector
    (8 codes, ADC table lookups) — the two scale axes (scan fraction
    and bytes/vector) multiply. Codes quantize the RAW vectors
    (FAISS's by_residual=false variant) so A5's encoder is reused
    verbatim and the oracle stays bit-identical; the final TOP_K
    comes from an exact-cosine rerank of the ADC shortlist.

    Scale: at 10 B vectors the resident index is 8 B/vector of codes
    + a list id; a query's ADC pass touches ~N_PROBE/N_CENTROIDS of
    the codes; centroids, probes, and the per-query distance tables
    all broadcast; the corpus embeddings are read only for the
    shortlist fetch. Real deployments train both quantizers with
    KMeans — deterministic corpus seeds here keep the DuckDB oracle
    exact (A3/A5's convention)."""
    from .. import tables
    e = scratch_persist(
        _with_norm(tables.load(spark, sf_dir, "embeddings")))
    # coarse IVF assignment (A3's one-pass: corpus lists AND probes)
    cent = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("c_emb"), F.col("norm").alias("c_norm"))
    csim = dot(F.col("embedding"), F.col("c_emb")) \
        / (F.col("norm") * F.col("c_norm"))
    wa = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), "cent_id")
    assigned = scratch_persist(
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "cent_id", csim.alias("c_sim"))
        .withColumn("crk", F.row_number().over(wa)))
    lists = assigned.filter(
        (F.col("crk") == 1) & (F.col("vec_id") >= N_QUERIES)) \
        .select("vec_id", "cent_id")
    probes = assigned.filter(
        (F.col("crk") <= N_PROBE) & (F.col("vec_id") < N_QUERIES)) \
        .select(F.col("vec_id").alias("query_id"), "cent_id")
    # PQ model: A5's shared encoder (codes) + per-query ADC tables
    codes, dt = _pq_model(spark, e)
    # ADC restricted to probed lists; ordered fold (bit-deterministic)
    cand = (codes.join(lists, "vec_id")
            .join(F.broadcast(probes), "cent_id")
            .select("query_id", "vec_id", "m", "code"))
    adc = (cand.alias("c")
           .join(F.broadcast(dt).alias("t"),
                 (F.col("c.query_id") == F.col("t.query_id"))
                 & (F.col("c.m") == F.col("t.m"))
                 & (F.col("c.code") == F.col("t.k")))
           .select(F.col("c.query_id").alias("query_id"), "vec_id",
                   F.col("c.m").alias("m"), "dtv")
           .groupBy("query_id", "vec_id")
           .agg(_pq_adc_fold().alias("adc")))
    w_adc = Window.partitionBy("query_id").orderBy("adc", "vec_id")
    shortlist = (adc.withColumn("ark", F.row_number().over(w_adc))
                 .filter(F.col("ark") <= _PQ_RERANK)
                 .select("query_id", F.col("vec_id").alias("neighbor_id")))
    return _pq_exact_rerank(e, shortlist)


def _a12_sql() -> str:
    return f"""
WITH {_pq_sql_common('pq_cent')},
cent AS (SELECT vec_id AS cent_id, embedding AS c_emb, norm AS c_norm
         FROM n WHERE vec_id < {N_CENTROIDS}),
assigned AS MATERIALIZED (
  SELECT vec_id, cent_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
           {SQL_DOT.format(u='embedding', v='c_emb')} / (norm * c_norm)
             DESC, cent_id) AS crk
  FROM n CROSS JOIN cent),
lists AS (SELECT vec_id, cent_id FROM assigned
          WHERE crk = 1 AND vec_id >= {N_QUERIES}),
probes AS (SELECT vec_id AS query_id, cent_id FROM assigned
           WHERE crk <= {N_PROBE} AND vec_id < {N_QUERIES}),
adc AS (
  SELECT p.query_id, c.vec_id,
         list_sum(list(dtv ORDER BY c.m)) AS adc
  FROM codes c
  JOIN lists l ON l.vec_id = c.vec_id
  JOIN probes p ON p.cent_id = l.cent_id
  JOIN dt ON dt.query_id = p.query_id AND dt.m = c.m AND dt.k = c.code
  GROUP BY p.query_id, c.vec_id),
{_pq_sql_tail()}
"""


# ------------------------- A13 norm-bound pruned exact MIPS ----------
_A13_SEEDS = 32


def a13_norm_bound_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT maximum-inner-product search (MIPS) with Cauchy-Schwarz
    candidate pruning — the LEMP/FEXIPRO-family technique (public:
    Teflioudi & Gemulla 2015; Li et al. 2017) for retrieval over
    UNNORMALIZED learned embeddings, where the inner product (not
    cosine) is the score and vector norms carry signal.

    dot(q,x) <= |q|·|x|, so once a lower bound L_q on the k-th best
    dot is known, any x with |q|·|x| < L_q is provably outside the
    top-k. L_q comes from a deterministic seed set: the _A13_SEEDS
    corpus vectors of LARGEST norm (norm desc, vec_id tiebreak)
    scored exactly, L_q = their k-th best dot. A K-sized seed is too
    small — the min of 3 high-dim random dots is usually negative
    and the bound goes vacuous (measured; hence the wider constant).
    The pruned scan then pays the 64-dim dot only on survivors; the
    bound check is one scalar multiply-compare. Exactness holds for
    ANY seed (the bound is sound; seed quality only changes how much
    is pruned), and ties at the k-th dot are safe: a pruned x has
    dot <= |q||x| < L_q <= the k-th best, so it cannot displace any
    winner under the (dot desc, id asc) order. Pruning power tracks
    the corpus's anisotropy — real embedding corpora concentrate
    direction, which is exactly when MIPS norm-pruning earns its
    keep (and what the pin corpus models).

    Both engines compute identical IEEE doubles (shared _dot fold /
    SQL_DOT spelling, sqrt is correctly rounded), so the survivor
    SET is bit-deterministic and the oracle measures it: n_scanned
    per query is part of the contract — the pruning is graded, not
    asserted (m12's 'selected' discipline).

    Scale (100 TB): norms are one persisted scan; the seed top-K is
    TakeOrderedAndProject (no global window); thresholds broadcast
    (K·|Q| rows). The survivor filter is a scalar predicate AHEAD of
    the expensive dot in the same scan — and because it thresholds a
    stored column (norm >= L_q/|q|), a norm-clustered layout gets
    row-group zone-map pruning on top (M12), skipping whole groups
    whose max norm is below every query's bar."""
    from .. import tables
    e = _with_norm(tables.load(spark, sf_dir, "embeddings"))
    q = _queries(e)
    c = scratch_persist(e.filter(F.col("vec_id") >= N_QUERIES))
    seeds = (c.orderBy(F.desc("norm"), "vec_id").limit(_A13_SEEDS)
             .select(F.col("embedding").alias("s_emb")))
    # L_q = k-th best seed dot (the last seed when seeds < k); the
    # VALUE at rank k is tie-order-independent, so no tiebreak needed
    thr = (seeds.crossJoin(F.broadcast(q))
           .select("query_id",
                   dot(F.col("q_emb"), F.col("s_emb")).alias("d"))
           .groupBy("query_id")
           .agg(F.sort_array(F.collect_list("d"), asc=False)
                .alias("ds"))
           .select("query_id",
                   F.element_at("ds", F.least(F.lit(TOP_K),
                                              F.size("ds")))
                   .alias("lq")))
    qthr = q.join(thr, "query_id")          # |Q| rows
    surv = (c.crossJoin(F.broadcast(qthr))
            .filter(F.col("norm") * F.col("q_norm") >= F.col("lq")))
    scored = surv.select(
        "query_id", F.col("vec_id").alias("neighbor_id"),
        dot(F.col("q_emb"), F.col("embedding")).alias("dot_raw"))
    scored = scratch_persist(scored)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot_raw"), F.col("neighbor_id"))
    topk = (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K))
    nsc = scored.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_scanned"))
    return (topk.join(nsc, "query_id")
            .select("query_id", "neighbor_id",
                    det_round(F.col("dot_raw"), 5).alias("dot"),
                    F.col("rank").cast("int").alias("rank"),
                    "n_scanned")
            .orderBy("query_id", "rank"))


_A13_SQL = f"""
WITH {_SQL_N},
{_SQL_Q},
c AS (SELECT * FROM n WHERE vec_id >= {N_QUERIES}),
seeds AS (
  SELECT embedding AS s_emb FROM c
  ORDER BY norm DESC, vec_id LIMIT {_A13_SEEDS}),
sd AS (
  SELECT query_id,
         {SQL_DOT.format(u='q_emb', v='s_emb')} AS d
  FROM seeds CROSS JOIN q),
thr AS (
  SELECT query_id,
         (list(d ORDER BY d DESC))[LEAST({TOP_K}, COUNT(*))] AS lq
  FROM sd GROUP BY query_id),
surv AS (
  SELECT query_id, c.vec_id AS neighbor_id, q_norm, lq,
         {SQL_DOT.format(u='q_emb', v='c.embedding')} AS dot_raw
  FROM c CROSS JOIN (SELECT * FROM q JOIN thr USING (query_id))
  WHERE c.norm * q_norm >= lq),
ranked AS (
  SELECT query_id, neighbor_id, dot_raw,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot_raw DESC, neighbor_id) AS rank,
         COUNT(*) OVER (PARTITION BY query_id) AS n_scanned
  FROM surv)
SELECT query_id, neighbor_id,
       FLOOR((dot_raw) * 100000.0 + 0.5) / 100000.0 AS dot,
       CAST(rank AS INT) AS rank, CAST(n_scanned AS BIGINT) AS n_scanned
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


QUERIES = {
    "a13_norm_bound_mips": a13_norm_bound_mips,
    "a12_ivfpq_ann": a12_ivfpq_ann,
    "a1_cosine_topk": a1_cosine_topk,
    "a2_lsh_ann": a2_lsh_ann,
    "a3_ivf_ann": a3_ivf_ann,
    "a4_knn_label": a4_knn_label,
    "a5_pq_ann": a5_pq_ann,
    "a6_kmeans_lloyd": a6_kmeans_lloyd,
    "a7_ann_recall": a7_ann_recall,
    "a8_sq8_ann": a8_sq8_ann,
    "a9_mih_hamming_ann": a9_mih_hamming_ann,
    "a10_filtered_ann": a10_filtered_ann,
    "a11_mmr_diversified": a11_mmr_diversified,
}

ORACLE = {
    "a13_norm_bound_mips": _A13_SQL,
    "a12_ivfpq_ann": _a12_sql(),
    "a1_cosine_topk": _A1_SQL,
    "a2_lsh_ann": _a2_sql(),
    "a3_ivf_ann": _a3_sql(),
    "a4_knn_label": _A4_SQL,
    "a5_pq_ann": _a5_sql(),
    "a6_kmeans_lloyd": _a6_sql(),
    "a7_ann_recall": _a7_sql(),
    "a8_sq8_ann": _A8_SQL,
    "a9_mih_hamming_ann": _a9_sql(),
    "a10_filtered_ann": _a10_sql(),
    "a11_mmr_diversified": _a11_sql(),
}
