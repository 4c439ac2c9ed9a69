"""Deduplication operators over the documents table (SURVEY.md §2 D1-D12).

Training-data pipeline staples: exact dedup, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup, connected-components
dedup clustering, benchmark-contamination scanning, and incremental
batch-vs-corpus dedup. All implementations
are pure DataFrame plans (no Python UDFs) built from engine-agnostic
primitives (md5) so the DuckDB oracle can replicate them bit-for-bit.

Scale design (100 TB):
- Exact dedup: one hash-shuffle on the 32-hex fingerprint.
- MinHash LSH: only (band_id, band_hash, doc_id) tuples shuffle —
  never the texts; candidate pairs then verify by joining the
  exploded shingle inverted index (shuffle keyed on shingle).
- SimHash: hex-nibble blocking makes candidate generation a bucket
  join; pigeonhole guarantees recall for hamming <= 2.
- Embedding near-dup keeps the quadratic step per-bucket (A2 is the
  scaled variant); here the corpus side is broadcast when small.

The test corpus is word-salad with no natural near-dups, so each
operator unions in deterministic mutated copies of docs 0-24
(doc_id+100000) — the operator must find exactly those plants.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from ..runtime import det_round, scratch_persist
from . import kernels
from pyspark.sql import functions as F

N_MINHASH = 8      # minhash permutations
N_BANDS = 4        # LSH bands (r = 2 rows/band)
_DUP_N = 25        # planted duplicates: doc_id < 25 → doc_id+100000


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import tables
    return tables.load(spark, sf_dir, "documents")


def corpus_with_plants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies of doc_id<25 at doc_id+100000.

    Repartitioned by doc_id: the source is a handful of parquet
    splits, and the downstream per-row array work (shingling,
    hashing) must fan out across every core/executor."""
    from .. import tables
    d = _docs(spark, sf_dir)
    dup = d.filter(F.col("doc_id") < _DUP_N) \
        .withColumn("doc_id", F.col("doc_id") + 100000)
    out = d.unionByName(dup)
    if tables.cache_enabled():
        return out  # table cache already repartitioned the source
    return out.repartition(spark.sparkContext.defaultParallelism, "doc_id")


_SQL_CORPUS = f"""
  SELECT doc_id, text, lang, source, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 100000, text, lang, source, n_chars
  FROM documents WHERE doc_id < {_DUP_N}
"""


def _tokens(unicode_mode: bool = False) -> Column:
    """Whitespace tokens (default — the oracle-pinned behavior of
    every pre-r7 query), or Unicode-category tokens: maximal runs of
    letters/digits of ANY script, so Arabic/Cyrillic/accents
    tokenize correctly. Space-free scripts (CJK) need character
    shingles instead — see d19, which routes by script."""
    if unicode_mode:
        return F.filter(
            F.split(F.lower(F.col("text")), r"[^\p{L}\p{N}]+"),
            lambda x: x != "")
    return F.split(F.lower(F.col("text")), " ")


def with_shingles(df: DataFrame, k: int) -> DataFrame:
    """Add a distinct word-k-gram `shingles` column.

    The token array is materialized as its own column first so the
    transform lambda reads a per-row attribute; inlining the split()
    into the lambda makes Catalyst re-evaluate it per element —
    O(tokens²) per document."""
    df = df.withColumn("t", _tokens())
    n = F.size(F.col("t"))
    idx = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
        F.array().cast("array<int>"))

    def gram(i: Column) -> Column:
        return F.concat_ws(
            " ", *[F.element_at(F.col("t"), i + j) for j in range(1, k + 1)])

    # no array_distinct: minhash is duplicate-insensitive and the
    # jaccard path dedups via explode().distinct() — array_distinct is
    # O(len²) per row and its codegen JIT dominates cold-start cost
    return df.withColumn("shingles", F.transform(idx, gram))


def hash_grams_enabled() -> bool:
    """SPARK_GRAFT_HASH_GRAMS=1 swaps the shuffle key for gram/
    shingle pipelines from the token STRING (~8·avg-token bytes) to
    xxhash64 of it (8 bytes) — the 100 TB shuffle-bytes lever the
    D20/D22 docstrings promise. Default OFF: the string key is kept
    for cross-engine oracle equality; the hashed path is pinned
    result-equal at sf0.01 (tests/test_round10_ops.py) and measured
    at sf10 (BENCHSCALE.md). Read at call time so tests can flip it
    per-case."""
    import os
    return os.environ.get("SPARK_GRAFT_HASH_GRAMS", "") == "1"


def shingle_index(df: DataFrame, k: int,
                  hashed: bool = False) -> DataFrame:
    """Distinct (doc_id, s) word-k-gram rows via posexplode + window
    lead. Equivalent to exploding `with_shingles` but every operator
    is whole-stage-codegen'd — array-lambda (higher-order-function)
    shingling is interpreted per element and measures ~3× slower.
    The corpus is already partitioned on doc_id, so the window sort
    needs no exchange. `hashed=True` emits s = xxhash64(gram)
    (BIGINT) instead of the gram string — set-semantics consumers
    only (joins/counts/Jaccard are hash-invariant modulo 2^-64
    collisions); NOT for consumers that md5 the string (d2's
    signatures are engine-parity-pinned on the text)."""
    from pyspark.sql.window import Window
    tok = df.select("doc_id", F.posexplode(_tokens()).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", j).over(w).alias(f"_t{j}") for j in range(1, k)]
    sh = tok.select("doc_id", F.col("tok"), *leads)
    gram = F.concat_ws(" ", "tok", *[f"_t{j}" for j in range(1, k)])
    return (sh.filter(F.col(f"_t{k-1}").isNotNull())
            .select("doc_id",
                    (F.xxhash64(gram) if hashed else gram)
                    .alias("s"))
            .distinct())


def _sql_shingles(k: int) -> str:
    parts = "||' '||".join(f"t[i+{j}]" for j in range(1, k + 1))
    return ("list_distinct(list_transform(range(len(t)-" + str(k - 1) +
            "), i -> " + parts + "))")


def minhash_bands(shx: DataFrame) -> DataFrame:
    """(doc_id, s) shingle index → LSH band rows
    (doc_id, n, band_id, band_hash): the ONE implementation of the
    minhash signature + banding scheme, shared by d2 (self-dedup) and
    d9 (incremental) so Spark-vs-oracle parity cannot drift between
    them. Each shingle hashes twice; the 8 permutation minima and the
    shingle-set size fold in one map-side-combined aggregation."""
    h0 = F.md5(F.concat(F.lit("0:"), F.col("s")))
    h1 = F.md5(F.concat(F.lit("1:"), F.col("s")))
    sig = shx.groupBy("doc_id").agg(
        *[F.min(F.substring([h0, h1][m // 4], 1 + 8 * (m % 4), 8))
          .alias(f"mh{m}") for m in range(N_MINHASH)],
        F.count("*").alias("n"))
    # one row per doc; band joins and size lookups re-read it
    sig = scratch_persist(sig)
    return sig.select(
        "doc_id", "n",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_id"),
                     F.md5(F.concat(F.col(f"mh{2*b}"), F.col(f"mh{2*b+1}")))
                     .alias("band_hash"))
            for b in range(N_BANDS)])).alias("bd")
    ).select("doc_id", "n", "bd.band_id", "bd.band_hash")


def _sql_sig_clause() -> str:
    """DuckDB clause computing mh0..mh7 from a `shingles` array —
    shared by _d2_sql and _d9_sql (same scheme as minhash_bands)."""
    return ", ".join(
        f"list_min(list_transform(shingles, "
        f"x -> substr(md5('{m // 4}:'||x), {1 + 8 * (m % 4)}, 8))) AS mh{m}"
        for m in range(N_MINHASH))


def _sql_band_rows(src: str) -> str:
    """DuckDB band rows (doc_id, n, band_id, band_hash) from a sig CTE."""
    return " UNION ALL ".join(
        f"SELECT doc_id, len(shingles) AS n, {b} AS band_id, "
        f"md5(mh{2*b}||mh{2*b+1}) AS band_hash FROM {src}"
        for b in range(N_BANDS))


# ------------------------------------------------------------- D1 exact
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5(text) groups; survivor = min doc_id.
    One shuffle keyed on the fingerprint — at 100 TB this is the
    canonical hash-groupBy dedup."""
    c = corpus_with_plants(spark, sf_dir)
    return (
        c.groupBy(F.md5(F.col("text")).alias("fingerprint"))
        .agg(F.min("doc_id").alias("survivor"),
             F.count("*").alias("n_copies"),
             F.max("doc_id").alias("max_dup"))
        .filter(F.col("n_copies") > 1)
        .orderBy("survivor")
    )


_D1_SQL = f"""
WITH corpus AS ({_SQL_CORPUS})
SELECT md5(text) AS fingerprint, MIN(doc_id) AS survivor,
       COUNT(*) AS n_copies, MAX(doc_id) AS max_dup
FROM corpus
GROUP BY fingerprint HAVING COUNT(*) > 1
ORDER BY survivor
"""


# ------------------------------------------------------- D2 minhash LSH
def d2_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8) + LSH(4 bands × 2 rows) near-dup pairs, verified at
    Jaccard ≥ 0.5 on 3-gram shingles.

    Only (band_id, band_hash, doc_id) shuffles for candidate
    generation; verification joins the shingle inverted index.

    The signature is computed from the EXPLODED shingle index (the
    same relation the verification step joins), not per-array lambda
    transforms: each (doc, shingle) row hashes exactly twice and the
    8 permutation minima fold into ONE map-side-combined aggregation
    that also yields the shingle-set sizes — md5 runs 2×|shingles|
    times total, with no higher-order-function interpretation cost."""
    return _d2_verified(spark, sf_dir).orderBy("doc_a", "doc_b")


def _d2_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2's verified (doc_a, doc_b, jaccard) pairs WITHOUT the
    presentation sort — D26 consumes them as graph edges, where a
    global order would be a wasted exchange."""
    # partition by the natural key EARLY, while rows are doc-sized:
    # one ~doc-count shuffle here lets the shingle window, the
    # signature groupBy and the size lookup all inherit doc_id
    # co-location through the cache instead of each shuffling the
    # 50M-row token/gram stream (measured 13.1 -> 7.6 s for
    # shx+signatures at sf10). Cores-based width, not
    # spark.sql.shuffle.partitions: the bench profile pins the
    # latter at 8 for kilobyte shuffles, which would strangle this
    # corpus-sized stage.
    corpus = corpus_with_plants(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id")
    shx = scratch_persist(
        shingle_index(corpus, 3)
    )   # reused by signature+sizes AND verification
    band_rows = scratch_persist(minhash_bands(shx))
    sizes = band_rows.select("doc_id", "n").distinct()
    bands = band_rows.select("doc_id", "band_id", "band_hash")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verification only touches candidate docs — semi-join the inverted
    # index down first (candidates << corpus at any scale). No broadcast
    # hint: a pathological corpus can make the candidate set arbitrarily
    # large, and a forced broadcast would OOM the driver — AQE converts
    # to broadcast at runtime when the set is actually small.
    cand_ids = cand.select(F.col("doc_a").alias("doc_id")).unionByName(
        cand.select(F.col("doc_b").alias("doc_id"))).distinct()
    shc = shx.join(cand_ids, "doc_id", "left_semi")
    inter = (
        cand.join(shc.alias("x"), F.col("doc_a") == F.col("x.doc_id"))
        .join(shc.alias("y"), (F.col("doc_b") == F.col("y.doc_id"))
              & (F.col("x.s") == F.col("y.s")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("ni"))
    )
    return (
        inter
        .join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn("jaccard",
                    F.col("ni") / (F.col("sa.n") + F.col("sb.n") - F.col("ni")))
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


def _d2_sql() -> str:
    sig = _sql_sig_clause()
    band_rows = _sql_band_rows("sig")
    return f"""
WITH corpus AS ({_SQL_CORPUS}),
tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM corpus),
sh AS MATERIALIZED (SELECT doc_id, {_sql_shingles(3)} AS shingles
       FROM tok WHERE len(t) >= 3),
sig AS (SELECT doc_id, shingles, {sig} FROM sh),
bands AS MATERIALIZED ({band_rows}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band_id = b.band_id AND a.band_hash = b.band_hash
          AND a.doc_id < b.doc_id),
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shx GROUP BY doc_id),
inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS ni
          FROM cand c
          JOIN shx x ON x.doc_id = c.doc_a
          JOIN shx y ON y.doc_id = c.doc_b AND y.s = x.s
          GROUP BY c.doc_a, c.doc_b)
SELECT doc_a, doc_b, ni * 1.0 / (sa.n + sb.n - ni) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ni * 1.0 / (sa.n + sb.n - ni) >= 0.5
ORDER BY doc_a, doc_b
"""


# ----------------------------------------------------------- D3 simhash
_SIM_BITS = 32      # 8 hex nibbles
_SIM_HAM = 2


def d3_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-weighted 32-bit SimHash (Charikar) near-dup pairs at
    hamming ≤ 2. Each token contributes its per-doc count (±) to every
    bit dimension — the weighting is what discriminates documents that
    share a small vocabulary but differ in distribution.

    Candidate generation blocks on the 8 hex nibbles of the simhash
    (pigeonhole: 2 bit errors touch ≤ 2 nibbles ⟹ ≥ 1 intact nibble),
    so the pair join is bucket-local. A nibble has only 16 values,
    so the candidate count is still quadratic in the documents:
    measured at sf0.1, 5,025 docs give 22,560,902 candidates for
    20,636 output pairs, 1,093 candidates per output pair."""
    c = corpus_with_plants(spark, sf_dir)
    tok = (
        c.select("doc_id", F.explode(_tokens()).alias("tk"))
        .groupBy("doc_id", "tk").agg(F.count("*").alias("w"))
    )
    h = F.conv(F.substring(F.md5(F.col("tk")), 1, 8), 16, 10).cast("bigint")
    tok = tok.withColumn("h", h)
    aggs = [
        F.sum(F.col("w") * ((F.shiftright(F.col("h"), j).bitwiseAND(1)) * 2 - 1))
        .alias(f"b{j}")
        for j in range(_SIM_BITS)
    ]
    sim = tok.groupBy("doc_id").agg(*aggs)
    val = None
    for j in range(_SIM_BITS):
        bit = F.when(F.col(f"b{j}") > 0, 1 << j).otherwise(0)
        val = bit if val is None else val + bit
    # one row per doc, read by both sides of the nibble-bucket
    # self-join — persist beats recomputing the token aggregation 2×
    sim = scratch_persist(sim.select("doc_id", val.alias("simhash")))
    nib = sim.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("nk"),
                     (F.shiftright(F.col("simhash"), 4 * k).bitwiseAND(15))
                     .alias("nv"))
            for k in range(_SIM_BITS // 4)])).alias("nb")
    ).select("doc_id", "simhash", "nb.nk", "nb.nv")
    a, b = nib.alias("a"), nib.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, (F.col("a.nk") == F.col("b.nk"))
               & (F.col("a.nv") == F.col("b.nv"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= _SIM_HAM)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def _d3_sql() -> str:
    bit_sums = ", ".join(
        f"SUM(w * (((h >> {j}) & 1) * 2 - 1)) AS b{j}"
        for j in range(_SIM_BITS))
    val = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(_SIM_BITS))
    return f"""
WITH corpus AS ({_SQL_CORPUS}),
tok AS (SELECT doc_id, tk, COUNT(*) AS w FROM (
          SELECT doc_id, unnest(string_split(lower(text),' ')) AS tk
          FROM corpus) GROUP BY doc_id, tk),
hs AS (SELECT doc_id, w,
              CAST(('0x'||substr(md5(tk),1,8)) AS BIGINT) AS h FROM tok),
bits AS (SELECT doc_id, {bit_sums} FROM hs GROUP BY doc_id),
sim AS (SELECT doc_id, {val} AS simhash FROM bits)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIM_HAM}
ORDER BY doc_a, doc_b
"""


# ----------------------------------------- D4 n-gram Jaccard similarity
_D4_MAX_DF_FRAC = 0.5   # drop shingles present in > half the corpus
# A fractional cap alone does NOT survive scale-up: posting-list
# length then grows with the corpus and the s=s self-join grows with
# its SQUARE (observed: d19 at sf1 = 5M docs GC-thrashed a 128 GB
# JVM). The effective cap is min(frac·n_docs, ABS) — the absolute
# term is what keeps Σ len² ≤ ABS · Σ len linear in the index, the
# same policy D11 pins with its flat _D11_MAX_DF. 256 leaves every
# driver-SF result byte-identical (min(0.5·500, 256) = 250 = the old
# cap at sf ≤ 0.01).
_D4_MAX_DF_ABS = 256


def d4_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-gram Jaccard pair similarity via the inverted-index join
    (shuffle keyed on shingle — candidates only materialize for pairs
    that share at least one shingle).

    Hot-shingle cap: the posting list of one stop-shingle ("of the")
    makes the s=s self-join quadratic in its length, which at 100 TB is
    the whole corpus. Shingles whose document frequency exceeds
    _D4_MAX_DF_FRAC of the corpus carry ~zero similarity signal and are
    dropped from the index *before* the join; Jaccard is then computed
    over the capped shingle universe on both sides (numerator AND
    denominator), so the statistic stays a true Jaccard and the DuckDB
    oracle replicates it bit-for-bit."""
    shx = scratch_persist(shingle_index(corpus_with_plants(spark, sf_dir), 2))
    ndocs = shx.agg(
        F.count_distinct("doc_id").alias("n_docs"))
    dfreq = shx.groupBy("s").agg(F.count("*").alias("df"))
    keep = (dfreq.crossJoin(F.broadcast(ndocs))
            .filter(F.col("df") <= F.least(
                _D4_MAX_DF_FRAC * F.col("n_docs"),
                F.lit(float(_D4_MAX_DF_ABS))))
            .select("s"))
    # capped index feeds the self-join (twice) and the sizes — persist
    shf = scratch_persist(shx.join(keep, "s", "left_semi"))
    sizes = shf.groupBy("doc_id").agg(F.count("*").alias("n"))
    x, y = shf.alias("x"), shf.alias("y")
    inter = (
        x.join(y, (F.col("x.s") == F.col("y.s"))
               & (F.col("x.doc_id") < F.col("y.doc_id")))
        .groupBy(F.col("x.doc_id").alias("doc_a"),
                 F.col("y.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("ni"))
    )
    return (
        inter
        .join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn("jaccard",
                    F.col("ni") / (F.col("sa.n") + F.col("sb.n") - F.col("ni")))
        .filter(F.col("jaccard") >= 0.3)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


# The oracle twin of the capped inverted-index Jaccard of D4 and D19:
# from a `shx(doc_id, s)` CTE, `_SQL_JACCARD_CHAIN` drops the hot
# shingles and counts each pair's shared ones (`inter`), and
# `_sql_jaccard_pairs` keeps the pairs at or above `thresh`.
_SQL_JACCARD_CHAIN = f"""nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM shx),
keep AS (SELECT s FROM shx, nd GROUP BY s, n_docs
         HAVING COUNT(*) <= LEAST({_D4_MAX_DF_FRAC} * n_docs, {_D4_MAX_DF_ABS})),
shf AS (SELECT shx.* FROM shx JOIN keep USING (s)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS ni
          FROM shf x JOIN shf y ON x.s = y.s AND x.doc_id < y.doc_id
          GROUP BY doc_a, doc_b)"""


def _sql_jaccard_pairs(thresh: float) -> str:
    return f"""FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ni * 1.0 / (sa.n + sb.n - ni) >= {thresh}
ORDER BY doc_a, doc_b"""


_D4_SQL = f"""
WITH corpus AS ({_SQL_CORPUS}),
tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM corpus),
sh AS (SELECT doc_id, {_sql_shingles(2)} AS shingles FROM tok WHERE len(t) >= 2),
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
{_SQL_JACCARD_CHAIN}
SELECT doc_a, doc_b, ni * 1.0 / (sa.n + sb.n - ni) AS jaccard
{_sql_jaccard_pairs(0.3)}
"""


# ------------------------------------- D5 embedding cosine near-dup
def _cos_tile_fn(emb: str, emb2: str, tau: float, dim: int,
                 out_a: str, out_b: str, cluster_col: str | None = None):
    """Cogrouped-tile cosine kernel over one `kernels.block_pair_tiles`
    tile, bit-identical to the per-pair interpreted `dot` HOF fold
    it replaces (guide §4.2): `kernels.cosine_tile` gives the GEMM
    speed and the exact-fold replay. Emits only pairs above tau,
    already least/greatest oriented, so the O(n²) pair space never
    crosses the Arrow boundary. `dim` is the vector width; the
    kernel reads it from the Arrow lists."""
    import numpy as np
    import pyarrow as pa

    schema = pa.schema(
        [(out_a, pa.int64()), (out_b, pa.int64())]
        + ([("cluster", pa.int32())] if cluster_col else [])
        + [("cos_sim", pa.float64())])

    def fn(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return schema.empty_table()
        same = (left.column("bi")[0].as_py()
                == left.column("bj")[0].as_py())
        idl = left.column("vec_id").to_numpy()
        idr = right.column("vec_id2").to_numpy()
        el, er = kernels.matrix(left, emb), kernels.matrix(right, emb2)
        nml, nmr = (np.sqrt(kernels.fold_dot(m, m)) for m in (el, er))
        kernels.require_finite(idl, nml, "cosine", positive=True)
        kernels.require_finite(idr, nmr, "cosine", positive=True)
        hits = []
        for s, cos in kernels.cosine_tile(el, er, nml, nmr, idl):
            keep = cos > tau
            if same:
                keep &= idl[s:s + len(cos), None] < idr[None, :]
            ii, jj = np.nonzero(keep)
            a, b = idl[s + ii], idr[jj]
            hits.append((np.minimum(a, b), np.maximum(a, b), cos[ii, jj]))
        va, vb, cs = (np.concatenate(h) for h in zip(*hits))
        cols = [pa.array(va, pa.int64()), pa.array(vb, pa.int64())]
        if cluster_col:
            cl = left.column(cluster_col)[0].as_py()
            cols.append(pa.array(
                np.full(va.size, cl, np.int32), pa.int32()))
        cols.append(pa.array(cs, pa.float64()))
        return pa.table(cols, schema=schema)

    return fn


def _pair_cos_fn(tau: float):
    """mapInArrow kernel for candidate-pair cosine verification
    (u, v, cluster, xa, na, xb, nb) → (u, v, cluster, cos_sim),
    keeping only pairs above tau. Bit-identical to the per-pair
    interpreted HOF `dot(xa, xb) / (na·nb)` + det_round(…, 5) it
    replaces: `kernels.fold_dot` is the SAME left-to-right fold
    vectorized across the batch's pairs, so no reordering occurs and
    no guard band is needed (unlike the GEMM tile kernel)."""
    import numpy as np
    import pyarrow as pa

    schema = pa.schema([("u", pa.int64()), ("v", pa.int64()),
                        ("cluster", pa.int32()),
                        ("cos_sim", pa.float64())])

    def fn(batches):
        for b in batches:
            t = pa.Table.from_batches([b])
            if t.num_rows == 0:
                continue
            u = t.column("u").to_numpy()
            v = t.column("v").to_numpy()
            xa, xb = kernels.matrix(t, "xa"), kernels.matrix(t, "xb")
            na = t.column("na").to_numpy(zero_copy_only=False)
            nb = t.column("nb").to_numpy(zero_copy_only=False)
            kernels.require_finite(u, na, "cosine", positive=True)
            kernels.require_finite(v, nb, "cosine", positive=True)
            acc = kernels.fold_dot(xa, xb)
            acc /= na * nb
            kernels.require_finite(u, acc, "cosine")
            kernels.det_round(acc, 5)
            keep = acc > tau
            if not keep.any():
                continue
            idx = np.nonzero(keep)[0]
            yield pa.record_batch(
                [t.column("u").combine_chunks().take(idx),
                 t.column("v").combine_chunks().take(idx),
                 t.column("cluster").combine_chunks().cast(
                     pa.int32()).take(idx),
                 pa.array(acc[idx], pa.float64())], schema=schema)

    return fn


def d5_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs embedding cosine near-dup (cos > 0.45).

    Element-wise double arithmetic in a fixed left-to-right fold so
    both engines produce bit-identical doubles; output rounded to 5
    decimals.

    Pair generation is `kernels.block_pair_tiles`, an equi-join on
    block pairs, not a `vec_id < vec_id` theta-join, which would plan
    as a BroadcastNestedLoopJoin. The exact O(n²) result set is
    unchanged (this is deliberately the exhaustive variant; ann.a2/a3
    are the sub-quadratic scaled paths).

    Degenerate input: a vector with a NaN or ±inf component raises
    ValueError, and so does a zero-norm vector (its cosine is 0/0);
    the message names the vec_id (`kernels.require_finite`)."""
    from .. import tables
    e = tables.load(spark, sf_dir, "embeddings")
    # the tile kernel computes the norms, by the same x·x fold
    lhs, rhs = kernels.block_pair_tiles(e, "vec_id", "embedding")
    return (
        lhs.groupBy("pair_id")
        .cogroup(rhs.groupBy("pid2"))
        .applyInArrow(
            _cos_tile_fn("embedding", "embedding2", 0.45, 64,
                         "vec_a", "vec_b"),
            schema="vec_a bigint, vec_b bigint, cos_sim double")
        .orderBy("vec_a", "vec_b")
    )


_D5_SQL = f"""
WITH n AS (
  SELECT vec_id, embedding,
         sqrt({kernels.SQL_DOT.format(u='embedding', v='embedding')}) AS norm
  FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       FLOOR(({kernels.SQL_DOT.format(u='a.embedding', v='b.embedding')}
             / (a.norm * b.norm)) * 100000.0 + 0.5) / 100000.0 AS cos_sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE FLOOR(({kernels.SQL_DOT.format(u='a.embedding', v='b.embedding')}
            / (a.norm * b.norm)) * 100000.0 + 0.5) / 100000.0 > 0.45
ORDER BY vec_a, vec_b
"""


# ------------------------------------------ D6 dedup-cluster components
def _d6_graph(spark: SparkSession, sf_dir: str):
    """Nodes + star edges for duplicate clustering.

    Two blocking keys per doc — exact md5(text) and md5(first-8-word
    prefix). Each key bucket contributes STAR edges (bucket-min hub →
    member), never all pairs: edge count is linear in corpus size, the
    scalable formulation of connected-components dedup at 100 TB.
    Extra plants: docs 0-9 reappear at +200000 with a mutated tail, so
    they share only the PREFIX key with the original while +100000
    shares the EXACT key — components must merge across key types.
    """
    c = corpus_with_plants(spark, sf_dir).withColumn("t", _tokens())
    prefix_mut = (
        _docs(spark, sf_dir).filter(F.col("doc_id") < 10)
        .withColumn("doc_id", F.col("doc_id") + 200000)
        .withColumn("text", F.concat(
            F.concat_ws(" ", F.expr("slice(split(lower(text), ' '), 1, 8)")),
            F.lit(" zzz mutated tail")))
        .withColumn("t", _tokens()))
    c = c.unionByName(prefix_mut)
    corpus = c.select("doc_id", "text")
    nodes = c.select("doc_id")
    keys = c.select(
        "doc_id", F.md5(F.lower(F.col("text"))).alias("k")
    ).unionByName(c.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.expr("slice(t, 1, 8)"))).alias("k")))
    hubs = keys.groupBy("k").agg(F.min("doc_id").alias("hub"))
    star = (keys.join(hubs, "k")
            .filter(F.col("doc_id") != F.col("hub"))
            .select(F.col("hub").alias("src"), F.col("doc_id").alias("dst"))
            .distinct())
    edges = star.unionByName(
        star.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return corpus, nodes, edges


def _d6_labels(spark: SparkSession, sf_dir: str):
    """(corpus, labels) — min-label propagation over the duplicate
    graph, shared by D6 (cluster stats) and D13 (purge manifest).
    Star edges bound the diameter at 2·(#key types) so it converges
    in ~4 rounds at any corpus size; each round localCheckpoints to
    keep the plan linear."""
    from pyspark.sql import Observation
    corpus, nodes, edges = _d6_graph(spark, sf_dir)
    edges = scratch_persist(edges)   # read once per round
    labels = nodes.select("doc_id", F.col("doc_id").alias("lbl")) \
        .localCheckpoint()
    prev_sum = None
    for i in range(12):
        prop = (edges.join(labels, edges.src == labels.doc_id)
                .groupBy("dst").agg(F.min("lbl").alias("nlbl")))
        obs = Observation(f"d6_round_{i}")
        # observe() rides the localCheckpoint job: ONE action per
        # round yields both the new labels and the convergence sum
        labels = (labels.join(prop, labels.doc_id == prop.dst, "left")
                  .select(labels.doc_id,
                          F.least("lbl", F.coalesce("nlbl", "lbl"))
                          .alias("lbl"))
                  .observe(obs, F.sum("lbl").alias("s"))
                  .localCheckpoint())
        s = obs.get["s"]
        if s == prev_sum:
            break
        prev_sum = s
    return corpus, labels


def d6_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the duplicate graph → cluster id =
    min doc_id in the component (the survivor), plus member stats.

    Iterative min-label propagation (shared helper _d6_labels; the
    standard Spark iterative-graph pattern — at true web scale you'd
    switch to large-star/small-star, same skeleton).
    """
    _corpus, labels = _d6_labels(spark, sf_dir)
    return (
        labels.groupBy(F.col("lbl").alias("cluster_id"))
        .agg(F.count("*").cast("long").alias("n_members"),
             F.max("doc_id").alias("member_max"))
        .filter(F.col("n_members") > 1)
        .orderBy("cluster_id")
    )


def d13_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY stage of dedup — the artifact a training pipeline
    actually consumes: duplicate clusters (D6's connected components
    over exact + prefix keys) resolve to ONE canonical survivor each
    (keep the LONGEST text, tie-break lowest doc_id — the standard
    keep-best policy), and the result is the purge manifest: every
    dropped doc_id with the doc that replaces it. Downstream, the
    corpus minus `dropped_doc_id` IS the deduplicated training set.

    Scale: label propagation is D6's (linear star edges, ≤4 rounds);
    canonical selection is one window over cluster_id — cluster
    sizes are bounded by near-dup group sizes, so no hot partition.
    The purge manifest is tiny relative to the corpus (only members
    of size>1 clusters appear)."""
    from pyspark.sql.window import Window
    corpus, labels = _d6_labels(spark, sf_dir)
    ranked = labels.join(
        corpus.select("doc_id",
                      F.length(F.lower(F.col("text"))).alias("len")),
        "doc_id")
    w = Window.partitionBy("lbl").orderBy(F.desc("len"), F.asc("doc_id"))
    rn = ranked.withColumn("rn", F.row_number().over(w))
    keep = rn.filter(F.col("rn") == 1).select(
        "lbl", F.col("doc_id").alias("kept_doc_id"))
    return (
        rn.filter(F.col("rn") > 1)
        .join(keep, "lbl")
        .select(F.col("doc_id").alias("dropped_doc_id"),
                "kept_doc_id",
                F.col("lbl").alias("cluster_id"))
        .orderBy("dropped_doc_id")
    )


def exact_components_sql(label: str) -> str:
    """The oracle's exact-duplicate components, shared by D6, D13 and
    X13: a `WITH RECURSIVE` body from `corpus` and its mutated copies
    (`full_c`) through `comp(doc_id, <label>)`, each doc's component
    minimum over md5 full-text and first-8-token keys."""
    return f"""corpus AS ({_SQL_CORPUS}),
full_c AS (
  SELECT doc_id, lower(text) AS text FROM corpus
  UNION ALL
  SELECT doc_id + 200000,
         array_to_string(string_split(lower(text), ' ')[1:8], ' ')
           || ' zzz mutated tail'
  FROM documents WHERE doc_id < 10),
keys AS (
  SELECT doc_id, md5(text) AS k FROM full_c
  UNION ALL
  SELECT doc_id,
         md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS k
  FROM full_c),
hubs AS (SELECT k, MIN(doc_id) AS hub FROM keys GROUP BY k),
star AS (SELECT DISTINCT h.hub AS src, k.doc_id AS dst
         FROM keys k JOIN hubs h USING (k) WHERE k.doc_id <> h.hub),
bidir AS (SELECT src, dst FROM star UNION SELECT dst, src FROM star),
reach(doc_id, lbl) AS (
  SELECT doc_id, doc_id FROM full_c
  UNION
  SELECT b.dst, r.lbl FROM reach r JOIN bidir b ON b.src = r.doc_id),
comp AS (SELECT doc_id, MIN(lbl) AS {label} FROM reach GROUP BY doc_id)"""


_D13_SQL = f"""
WITH RECURSIVE
{exact_components_sql('cluster_id')},
ranked AS (
  SELECT c.doc_id, c.cluster_id,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY length(f.text) DESC, c.doc_id)
           AS rn
  FROM comp c JOIN full_c f USING (doc_id)),
keep AS (SELECT cluster_id, doc_id AS kept_doc_id
         FROM ranked WHERE rn = 1)
SELECT r.doc_id AS dropped_doc_id, k.kept_doc_id, r.cluster_id
FROM ranked r JOIN keep k USING (cluster_id)
WHERE r.rn > 1 ORDER BY dropped_doc_id
"""


_D6_SQL = f"""
WITH RECURSIVE
{exact_components_sql('cluster_id')}
SELECT cluster_id, COUNT(*) AS n_members, MAX(doc_id) AS member_max
FROM comp GROUP BY cluster_id HAVING COUNT(*) > 1 ORDER BY cluster_id
"""


# ------------------------------------------------- D7 contamination scan
# Bloom pre-filter (D7): k seeded xxhash64 positions per key, dense
# int64-word bitmap. The bitmap is BOUNDED (m/64 longs, sized from
# the eval-set cardinality — independent of corpus size), so the
# collect-to-driver is a scalar-class aggregate, the same shape as
# Spark's own runtime bloom (aggregate → driver → broadcast).
_BLOOM_SEEDS = (0x9E37, 0x85EB, 0xC2B2, 0x27D4, 0x1656)


def bloom_build(df: DataFrame, col: str, m_bits: int) -> DataFrame:
    """ONE-row DataFrame {_bloom: array<long>} — a dense Bloom bitmap
    over df[col]. Built distributed: positions explode map-side,
    words reduce by bit_or (m/64 groups), the dense array assembles
    on the driver from that bounded result."""
    spark = df.sparkSession
    pos = df.select(F.explode(F.array(*[
        F.pmod(F.xxhash64(F.col(col), F.lit(s)), F.lit(m_bits))
        for s in _BLOOM_SEEDS])).alias("p"))
    words = (pos.selectExpr("CAST(p / 64 AS LONG) AS w",
                            "shiftleft(1L, CAST(p % 64 AS INT)) AS b")
             .groupBy("w").agg(F.bit_or("b").alias("bits")))
    dense = [0] * ((m_bits + 63) // 64)
    for r in words.collect():          # bounded: m/64 rows max
        dense[int(r["w"])] = int(r["bits"])
    return spark.createDataFrame([(dense,)], "_bloom array<bigint>")


def bloom_might_contain(col: str, m_bits: int) -> Column:
    """JVM-codegen membership test against the broadcast `_bloom`
    column: every seed's bit must be set."""
    tests = [
        f"bit_get(element_at(_bloom, "
        f"CAST(pmod(xxhash64({col}, {s}), {m_bits}) / 64 AS INT) + 1), "
        f"CAST(pmod(xxhash64({col}, {s}), {m_bits}) % 64 AS INT)) = 1"
        for s in _BLOOM_SEEDS]
    return F.expr(" AND ".join(tests))


# 2^22 bits = 512 KiB broadcast: ~10 bits/key up to ~400k eval
# shingles (≈1% fp at k=5) — eval benchmarks are bounded, so a fixed
# size avoids a driver-blocking count() just to size the filter. A
# saturated bitmap only degrades the fp rate (more shuffled bytes),
# never correctness.
_BLOOM_M_BITS = 1 << 22


def d7_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination check: what fraction of each eval
    document's 5-gram shingles appear anywhere in the training split?

    eval = source 'src0'; train = every other source, plus planted
    copies of eval docs 0-4 (so real contamination exists to find).

    Scale shape: the eval set is the BENCHMARK — small and fixed —
    while train is the 100 TB corpus. A broadcast Bloom over the
    eval shingles filters the corpus shingles MAP-SIDE, below the
    exchange, so only the ~fp-rate fraction of true-negative corpus
    shingles ever shuffles into the semi-join; the join then redoes
    the membership test exactly, so false positives cannot change
    the result — the Bloom moves bytes, not semantics. (The same
    decomposition as Spark's runtime bloom-filter join, made
    explicit so the build side is the EVAL set, which the optimizer
    cannot know is the small one.)
    """
    d = _docs(spark, sf_dir)
    ev = scratch_persist(
        shingle_index(d.filter(F.col("source") == "src0"), 5))
    m_bits = _BLOOM_M_BITS
    # no distinct before the build: bit_or is idempotent, so dup
    # positions cost nothing and the pre-shuffle would cost a lot
    bloom = bloom_build(ev, "s", m_bits)
    plants = d.filter((F.col("source") == "src0") & (F.col("doc_id") < 5)) \
        .withColumn("doc_id", F.col("doc_id") + 300000)
    train = d.filter(F.col("source") != "src0").unionByName(plants)
    train_sh = (shingle_index(train, 5)
                .crossJoin(F.broadcast(bloom))     # 1-row bitmap
                .filter(bloom_might_contain("s", m_bits))
                .select("s").distinct())
    hits = (ev.join(train_sh, "s", "left_semi")
            .groupBy("doc_id").agg(F.count("*").alias("n_hit")))
    totals = ev.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    frac = F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_shingles")
    return (
        totals.join(hits, "doc_id", "left")
        .select("doc_id", "n_shingles",
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("long")
                .alias("n_hit"),
                det_round(frac, 6).alias("contam_frac"),
                (frac >= 0.5).alias("contaminated"))
        .orderBy("doc_id")
    )


_D7_SQL = f"""
WITH ev_docs AS (SELECT doc_id, text FROM documents WHERE source = 'src0'),
train_docs AS (
  SELECT doc_id, text FROM documents WHERE source <> 'src0'
  UNION ALL
  SELECT doc_id + 300000, text FROM documents
  WHERE source = 'src0' AND doc_id < 5),
ev_tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM ev_docs),
ev_sh AS (SELECT DISTINCT doc_id, unnest({_sql_shingles(5)}) AS s
          FROM ev_tok WHERE len(t) >= 5),
tr_tok AS (SELECT string_split(lower(text), ' ') AS t FROM train_docs),
tr_sh AS (SELECT DISTINCT unnest({_sql_shingles(5)}) AS s
          FROM tr_tok WHERE len(t) >= 5),
hits AS (SELECT doc_id, COUNT(*) AS n_hit FROM ev_sh
         WHERE s IN (SELECT s FROM tr_sh) GROUP BY doc_id),
totals AS (SELECT doc_id, COUNT(*) AS n_shingles FROM ev_sh GROUP BY doc_id)
SELECT t.doc_id, t.n_shingles,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       FLOOR((COALESCE(h.n_hit, 0) * 1.0 / t.n_shingles) * 1000000.0 + 0.5) / 1000000.0 AS contam_frac,
       COALESCE(h.n_hit, 0) * 1.0 / t.n_shingles >= 0.5 AS contaminated
FROM totals t LEFT JOIN hits h USING (doc_id) ORDER BY t.doc_id
"""


# ------------------------------------------------- D8 incremental dedup
def d8_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedupe an INCOMING batch against the EXISTING corpus — the
    steady-state ingestion path: the corpus is petabytes, the batch is
    a day's crawl.

    Scale design: the corpus TEXT never shuffles. The batch's distinct
    content hashes probe the corpus with a left-semi join — AQE
    broadcasts the probe while it fits (map-side probe, zero corpus
    movement), and degrades to a shuffle semi-join on the 32-byte
    hash when a huge batch would blow the broadcast limit (corpus
    then ships only hashes, never text). No forced broadcast hint: a
    hint would OOM the driver at exactly the batch size where the
    fallback matters. The anti-join against the collision set is
    batch-sized on both sides.

    batch = source 'src1' docs re-identified, plus planted copies of
    corpus docs 0-9 — exactly those must flag dup_in_corpus.
    """
    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("source") != "src1")
    plants = corpus.filter(F.col("doc_id") < 10) \
        .withColumn("doc_id", F.col("doc_id") + 400000)
    batch = d.filter(F.col("source") == "src1").unionByName(plants)

    h = F.md5(F.lower(F.col("text"))).alias("h")
    batch_h = batch.select("doc_id", h)
    probe = batch_h.select("h").distinct()
    # corpus scans in place; AQE broadcasts the (batch-bounded) probe
    # while small → map-side hash probe with zero corpus movement
    hits = (corpus.select(h)
            .join(probe, "h", "left_semi").distinct())
    return (
        batch_h.join(hits.withColumn("dup", F.lit(True)), "h", "left")
        .select("doc_id",
                F.coalesce(F.col("dup"), F.lit(False))
                .alias("dup_in_corpus"))
        .orderBy("doc_id")
    )


_D8_SQL = """
WITH corpus AS (SELECT * FROM documents WHERE source <> 'src1'),
batch AS (
  SELECT doc_id, text FROM documents WHERE source = 'src1'
  UNION ALL
  SELECT doc_id + 400000, text FROM corpus WHERE doc_id < 10),
corpus_h AS (SELECT DISTINCT md5(lower(text)) AS h FROM corpus
             WHERE text IS NOT NULL)
-- COALESCE(..., FALSE): a NULL-text batch row is NOT a duplicate,
-- matching the Spark plan's coalesce(dup, false) (NULL IN (...) is
-- NULL in SQL, which would otherwise diverge)
SELECT b.doc_id,
       COALESCE(md5(lower(b.text)) IN (SELECT h FROM corpus_h), FALSE)
         AS dup_in_corpus
FROM batch b ORDER BY b.doc_id
"""


# --------------------------------------------- D9 incremental LSH dedup
def d9_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup ingest path: NEW batch vs EXISTING corpus through the
    LSH band index — the incremental analog of d2, paired with d8's
    exact-hash path.

    Scale design: in steady state the corpus's band index (8 minhash
    values + 4 band hashes per doc — tens of bytes) is a materialized
    table maintained at ingest; only the BATCH is shingled per run,
    and the candidate join is keyed on (band_id, band_hash) — band
    hashes of corpus text never require re-reading corpus text.
    Verification re-shingles only candidate corpus docs (semi-join
    narrowed), so corpus text I/O is proportional to the collision
    set, not the corpus. Here both indexes derive in-plan (the store
    materialization is an orthogonal concern e9 demonstrates).

    batch = source 'src1' docs + copies of 10 other-source docs
    (doc_id+500000) — exactly those must surface at jaccard 1.0.
    """
    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("source") != "src1")
    plants = corpus.filter(F.col("doc_id") < 10) \
        .withColumn("doc_id", F.col("doc_id") + 500000)
    batch = d.filter(F.col("source") == "src1").unionByName(plants)

    def index(df: DataFrame) -> tuple[DataFrame, DataFrame]:
        shx = scratch_persist(shingle_index(df, 3))
        return shx, minhash_bands(shx)

    shx_c, bands_c = index(corpus)
    shx_b, bands_b = index(batch)
    cand = (
        bands_b.alias("b")
        .join(bands_c.alias("c"),
              (F.col("b.band_id") == F.col("c.band_id"))
              & (F.col("b.band_hash") == F.col("c.band_hash")))
        .select(F.col("b.doc_id").alias("batch_id"),
                F.col("c.doc_id").alias("corpus_id"),
                F.col("b.n").alias("nb"), F.col("c.n").alias("nc"))
        .distinct()
    )
    # verification touches only COLLISION-SET corpus docs: semi-join
    # the corpus shingle index down before the intersection join, so
    # corpus text I/O stays proportional to candidates (same pattern
    # as d2; without this every batch re-shuffles the whole corpus
    # index — exactly the cost the incremental path exists to avoid)
    hit_ids = cand.select(F.col("corpus_id").alias("doc_id")).distinct()
    shx_c2 = (shx_c.join(hit_ids, "doc_id", "left_semi")
              .select(F.col("doc_id").alias("cid"),
                      F.col("s").alias("s2")))
    inter = (
        cand.join(shx_b.withColumnRenamed("doc_id", "batch_id"), "batch_id")
        .join(shx_c2, (F.col("corpus_id") == F.col("cid"))
              & (F.col("s") == F.col("s2")))
        .groupBy("batch_id", "corpus_id", "nb", "nc")
        .agg(F.count("*").alias("ni"))
    )
    jac = F.col("ni") / (F.col("nb") + F.col("nc") - F.col("ni"))
    return (
        inter.filter(jac >= 0.5)
        .select("batch_id", "corpus_id", jac.alias("jaccard"))
        .orderBy("batch_id", "corpus_id")
    )


def _d9_sql() -> str:
    sig = _sql_sig_clause()
    band_rows = _sql_band_rows
    return f"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE source <> 'src1'),
batch AS (
  SELECT doc_id, text FROM documents WHERE source = 'src1'
  UNION ALL
  SELECT doc_id + 500000, text FROM corpus WHERE doc_id < 10),
tok_c AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM corpus),
tok_b AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM batch),
sh_c AS (SELECT doc_id, {_sql_shingles(3)} AS shingles
         FROM tok_c WHERE len(t) >= 3),
sh_b AS (SELECT doc_id, {_sql_shingles(3)} AS shingles
         FROM tok_b WHERE len(t) >= 3),
sig_c AS (SELECT doc_id, shingles, {sig} FROM sh_c),
sig_b AS (SELECT doc_id, shingles, {sig} FROM sh_b),
bands_c AS ({band_rows('sig_c')}),
bands_b AS ({band_rows('sig_b')}),
cand AS (SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id,
                b.n AS nb, c.n AS nc
         FROM bands_b b JOIN bands_c c
           ON b.band_id = c.band_id AND b.band_hash = c.band_hash),
shx_b AS (SELECT doc_id, unnest(shingles) AS s FROM sh_b),
shx_c AS (SELECT doc_id, unnest(shingles) AS s FROM sh_c),
inter AS (SELECT cand.batch_id, cand.corpus_id, cand.nb, cand.nc,
                 COUNT(*) AS ni
          FROM cand
          JOIN shx_b x ON x.doc_id = cand.batch_id
          JOIN shx_c y ON y.doc_id = cand.corpus_id AND y.s = x.s
          GROUP BY cand.batch_id, cand.corpus_id, cand.nb, cand.nc)
SELECT batch_id, corpus_id, ni * 1.0 / (nb + nc - ni) AS jaccard
FROM inter WHERE ni * 1.0 / (nb + nc - ni) >= 0.5
ORDER BY batch_id, corpus_id
"""


# --------------------------------- D10 boilerplate paragraph removal
_D10_P = 8            # paragraph = 8-token chunk (corpus has no newlines)
_D10_DF_MAX = 3       # a paragraph in more than 3 docs is boilerplate
_D10_HEADER = "copyright terms subscribe newsletter cookie policy all rights"


def d10_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style duplicated-paragraph removal: hash every paragraph
    across the corpus, count its document frequency, and strip
    paragraphs that recur in many documents (site chrome, cookie
    banners, license footers). The corpus has no newlines, so a
    'paragraph' is a fixed 8-token chunk; a deterministic 8-token
    boilerplate header is prepended to every 5th doc so the operator
    provably strips exactly those chunks.

    Scale design (100 TB): paragraph DF is ONE shuffle keyed on the
    paragraph text with map-side partial aggregation (hot boilerplate
    paragraphs combine before the exchange). The flagging join uses
    the FILTERED boilerplate list (df > threshold) as the build side
    — that list is tiny by construction (boilerplate is by definition
    few distinct strings), so AQE turns it into a broadcast join and
    document chunks never shuffle a second time. Output carries an
    md5 fingerprint of the cleaned text, not the text itself.
    """
    d = _docs(spark, sf_dir)
    boosted = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(_D10_HEADER + " "), F.col("text")))
        .otherwise(F.col("text")).alias("text"))
    t = boosted.withColumn("t", F.split(F.col("text"), " "))
    nchunks = F.ceil(F.size("t") / F.lit(_D10_P)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nchunks - 1),
        lambda i: F.concat_ws(" ", F.slice("t", i * _D10_P + 1, _D10_P)))
    paras = t.select(
        "doc_id", F.posexplode(chunks).alias("p_idx", "para"))
    paras = scratch_persist(paras)
    boiler = (paras.groupBy("para")
              .agg(F.countDistinct("doc_id").alias("df_docs"))
              .filter(F.col("df_docs") > _D10_DF_MAX)
              .select("para"))
    flagged = paras.join(boiler.withColumn("is_bp", F.lit(True)),
                         "para", "left")
    kept = F.col("is_bp").isNull()
    return (
        flagged.groupBy("doc_id").agg(
            F.count("*").alias("n_paras"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long")
            .alias("kept_paras"),
            F.md5(F.concat_ws(" ", F.transform(
                F.array_sort(F.collect_list(
                    F.when(kept, F.struct("p_idx", "para")))),
                lambda s: s.para))).alias("cleaned_fp"))
        .withColumn("cleaned_fp",
                    F.when(F.col("kept_paras") > 0, F.col("cleaned_fp")))
        .orderBy("doc_id")
    )


_D10_SQL = f"""
WITH boosted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN '{_D10_HEADER} ' || text
              ELSE text END AS text
  FROM documents),
tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM boosted),
paras AS (
  SELECT doc_id, CAST(g.i AS INT) AS p_idx,
         array_to_string(t[g.i*{_D10_P}+1 : g.i*{_D10_P}+{_D10_P}], ' ')
           AS para
  FROM tok, LATERAL (
    SELECT unnest(range(CAST(ceil(len(t)/{_D10_P}.0) AS BIGINT))) AS i) g),
boiler AS (
  SELECT para FROM paras GROUP BY para
  HAVING COUNT(DISTINCT doc_id) > {_D10_DF_MAX}),
flagged AS (
  SELECT p.doc_id, p.p_idx, p.para, b.para IS NOT NULL AS is_bp
  FROM paras p LEFT JOIN boiler b ON p.para = b.para)
SELECT doc_id,
       COUNT(*) AS n_paras,
       CAST(SUM(CASE WHEN NOT is_bp THEN 1 ELSE 0 END) AS BIGINT)
         AS kept_paras,
       md5(string_agg(para, ' ' ORDER BY p_idx)
           FILTER (WHERE NOT is_bp)) AS cleaned_fp
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""


# --------------------------------- D11 verbatim-span detection
_D11_K = 5            # positional shingle width
_D11_MIN_SPAN = 10    # report pairs sharing >= 10 consecutive tokens
_D11_MAX_DF = 50      # ignore shingles present in > 50 docs (hot keys)


def d11_verbatim_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document VERBATIM span detection — the light form of
    suffix-array substring dedup (find pairs sharing a long exact
    token run, e.g. quoted passages, licence blocks, copy-pasted
    code). Positional 5-gram matches between two docs that lie on the
    same alignment diagonal (a_pos − b_pos constant) with consecutive
    positions form one shared span; the classic gaps-and-islands
    grouping (pos − row_number) finds the longest run per pair, all
    in window/aggregate algebra.

    Plants: docs 0-9 get partial copies (doc_id+300000) carrying the
    original's first 12 tokens + a unique suffix — exactly those
    pairs must surface with span >= 12.

    Scale design (100 TB): the inverted positional index shuffles on
    the shingle; a document-frequency cap (shingles in more than
    _D11_MAX_DF docs are dropped)
    bounds every posting list, so the pair join is linear in genuine
    rare-span matches, never quadratic in a hot phrase (same guard as
    d4). Runs group on (a, b, diagonal) — keys as selective as the
    pairs themselves.
    """
    from pyspark.sql.window import Window
    d = _docs(spark, sf_dir)
    t = F.split(F.lower(F.col("text")), " ")
    plants = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.concat_ws(" ", F.slice(t, 1, 12)),
                 F.lit(" uniqsuffix"),
                 (F.col("doc_id") + 300000).cast("string")).alias("text"))
    corpus = d.select("doc_id", "text").unionByName(plants)

    tok = corpus.select(
        "doc_id", F.posexplode(F.split(F.lower("text"), " "))
        .alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", j).over(w).alias(f"_t{j}")
             for j in range(1, _D11_K)]
    shx = (tok.select("doc_id", "pos", "tok", *leads)
           .filter(F.col(f"_t{_D11_K - 1}").isNotNull())
           .select("doc_id", "pos",
                   F.concat_ws(" ", "tok",
                               *[f"_t{j}" for j in range(1, _D11_K)])
                   .alias("s")))
    shx = scratch_persist(shx)
    rare = (shx.groupBy("s")
            .agg(F.countDistinct("doc_id").alias("dfd"))
            .filter(F.col("dfd") <= _D11_MAX_DF).select("s"))
    shx = shx.join(rare, "s")
    m = (shx.alias("a").join(
            shx.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")))
         .select(F.col("a.doc_id").alias("a_id"),
                 F.col("b.doc_id").alias("b_id"),
                 F.col("a.pos").alias("i"),
                 (F.col("a.pos") - F.col("b.pos")).alias("diag"))
         .distinct())
    w2 = Window.partitionBy("a_id", "b_id", "diag").orderBy("i")
    runs = m.withColumn("grp", F.col("i") - F.row_number().over(w2))
    spans = (runs.groupBy("a_id", "b_id", "diag", "grp")
             .agg(F.count("*").alias("run")))
    return (
        spans.groupBy("a_id", "b_id")
        .agg(F.max(F.col("run") + _D11_K - 1).cast("long")
             .alias("span_tokens"))
        .filter(F.col("span_tokens") >= _D11_MIN_SPAN)
        .orderBy("a_id", "b_id")
    )


_D11_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 300000,
         array_to_string(string_split(lower(text), ' ')[1:12], ' ')
           || ' uniqsuffix' || CAST(doc_id + 300000 AS VARCHAR)
  FROM documents WHERE doc_id < 10),
tok AS (
  SELECT doc_id, g.i AS pos, t[CAST(g.i AS INT) + 1] AS w
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM corpus),
       LATERAL (SELECT unnest(range(len(t))) AS i) g),
shx AS (
  SELECT doc_id, pos,
         {" || ' ' || ".join(
             "LEAD(w, %d) OVER (PARTITION BY doc_id ORDER BY pos)" % j
             if j else "w" for j in range(_D11_K))} AS s
  FROM tok
  QUALIFY LEAD(w, {_D11_K - 1})
          OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL),
rare AS (
  SELECT s FROM shx GROUP BY s
  HAVING COUNT(DISTINCT doc_id) <= {_D11_MAX_DF}),
shr AS (SELECT shx.* FROM shx JOIN rare USING (s)),
m AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.pos AS i,
         a.pos - b.pos AS diag
  FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id),
runs AS (
  SELECT a_id, b_id, diag, i,
         i - ROW_NUMBER() OVER (PARTITION BY a_id, b_id, diag
                                ORDER BY i) AS grp
  FROM m),
spans AS (
  SELECT a_id, b_id, diag, grp, COUNT(*) AS run
  FROM runs GROUP BY a_id, b_id, diag, grp)
SELECT a_id, b_id,
       CAST(MAX(run + {_D11_K - 1}) AS BIGINT) AS span_tokens
FROM spans GROUP BY a_id, b_id
HAVING MAX(run + {_D11_K - 1}) >= {_D11_MIN_SPAN}
ORDER BY a_id, b_id
"""


# --------------------------------- D12 dedup precision/recall eval
def d12_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH near-dedup (d2) against
    EXACT-duplicate ground truth on the planted corpus — the
    index-quality loop for dedup, the counterpart of a7 for ANN.
    Exact-dup pairs (same md5) are a subset of what a perfect
    near-dedup must find, so recall over them is the planted-recall
    metric; predicted pairs outside truth may be genuine near-dups,
    so the count is reported rather than judged.

    Scale: truth is one fingerprint self-join (group sizes are tiny
    by definition of dedup); the comparison joins two pair sets on
    their keys."""
    c = corpus_with_plants(spark, sf_dir)
    fp = c.select("doc_id", F.md5(F.col("text")).alias("fp"))
    truth = scratch_persist(
        fp.alias("a").join(
            fp.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b")))
    # the full d2 pipeline feeds BOTH the hit semi-join and its own
    # count — persist the (tiny) pair set so the minhash/band work
    # runs once, not once per consumer
    pred = scratch_persist(
        d2_minhash_lsh_dedup(spark, sf_dir).select("doc_a", "doc_b"))
    hit = pred.join(truth, ["doc_a", "doc_b"], "left_semi")
    agg = (truth.agg(F.count("*").alias("n_truth"))
           .crossJoin(pred.agg(F.count("*").alias("n_pred")))
           .crossJoin(hit.agg(F.count("*").alias("n_hit"))))
    return agg.select(
        "n_truth", "n_pred", "n_hit",
        det_round(F.col("n_hit") / F.col("n_pred"), 4)
        .alias("precision"),
        det_round(F.col("n_hit") / F.col("n_truth"), 4).alias("recall"))


def _d12_sql() -> str:
    return f"""
WITH corpus AS ({_SQL_CORPUS}),
fp AS (SELECT doc_id, md5(text) AS fp FROM corpus),
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id),
pred AS (
  SELECT doc_a, doc_b FROM ({_d2_sql().replace(chr(10), chr(10) + '  ')})),
hit AS (SELECT p.* FROM pred p JOIN truth t
        ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b)
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM pred) AS n_pred,
       (SELECT COUNT(*) FROM hit) AS n_hit,
       FLOOR(((SELECT COUNT(*) FROM hit) * 1.0 / (SELECT COUNT(*) FROM pred)) * 10000.0 + 0.5) / 10000.0 AS precision,
       FLOOR(((SELECT COUNT(*) FROM hit) * 1.0 / (SELECT COUNT(*) FROM truth)) * 10000.0 + 0.5) / 10000.0 AS recall
"""


# ------------------------------------------ D14 semantic dedup (SemDeDup)
_D14_TAU = 0.45


def _min_id_survivors(pairs: DataFrame) -> DataFrame:
    """SemDeDup's drop manifest from (u, v, cluster, cos_sim) pairs,
    u < v: each v is dropped, with its smallest-id witness u as
    kept_vec (the D1/D13 min-id convention)."""
    return (pairs.groupBy("v", "cluster")
            .agg(F.min(F.struct("u", "cos_sim")).alias("w"))
            .select(F.col("v").alias("dropped_vec"),
                    F.col("w.u").alias("kept_vec"),
                    "cluster",
                    F.col("w.cos_sim").alias("cos_sim"))
            .orderBy("dropped_vec"))


def d14_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, public
    paper): k-means cluster the embedding space, then search for
    near-duplicates ONLY within clusters — the published scale path
    for embedding dedup. D5 is the exhaustive all-pairs variant;
    this is the sub-quadratic one: cluster count grows with corpus
    size, so per-cluster tiles stay bounded and the pair space is
    sum-of-squares-of-cluster-sizes, not corpus².

    Clusters come from `ann.km_trained_assignment` — the exact
    training A6 runs (seed → Lloyd update → assign), so the oracle
    replays the identical deterministic loop. Within a cluster the
    pair space uses D5's `kernels.block_pair_tiles` keyed on
    (cluster, tile): an equi-join, never a BroadcastNestedLoopJoin,
    parallel in clusters × tiles.

    Degenerate input: a vector with a NaN or ±inf component raises
    ValueError in the k-means step, and a zero-norm vector raises in
    the tile kernel (its cosine is 0/0); the message names the vec_id
    (`kernels.require_finite`).

    Survivor rule (deterministic greedy): a vector is dropped when a
    smaller-id cluster-mate sits above cos τ; the manifest records
    the smallest such witness as kept_vec — the same min-id
    convention as D1/D13.

    Scale (100 TB): corpus shuffles once on the cluster key (tiled);
    centroids broadcast; the quadratic step never leaves a cluster.
    """
    from .. import tables
    from .ann import km_trained_assignment
    e = tables.load(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("x"))
    a2 = km_trained_assignment(vecs)

    # per-(tile, cluster) Arrow kernel — D5's exact-fold tile kernel
    # with the cluster key folded into the cogroup, so the quadratic
    # step still never leaves a cluster and nothing per-pair is
    # shuffled or interpreted (guide §4.2)
    lhs, rhs = kernels.block_pair_tiles(
        a2, "vec_id", "x", F.col("cluster").cast("int").alias("cluster"))
    pairs = (
        lhs.groupBy("pair_id", "cluster")
        .cogroup(rhs.groupBy("pid2", "cluster2"))
        .applyInArrow(
            _cos_tile_fn("x", "x2", _D14_TAU, 64, "u", "v",
                         cluster_col="cluster"),
            schema="u bigint, v bigint, cluster int, cos_sim double"))
    return _min_id_survivors(pairs)


def _d14_sql() -> str:
    from .ann import _km_sql_ctes
    dt = ("list_sum(list_transform(range(len({u})), "
          "i -> {u}[i+1] * {v}[i+1]))")
    cos = (f"FLOOR(({dt.format(u='a.x', v='b.x')}"
           " / (a.norm * b.norm)) * 100000.0 + 0.5) / 100000.0")
    return f"""
WITH {_km_sql_ctes()},
m AS (
  SELECT a2.vec_id, CAST(a2.cluster AS INT) AS cluster, v.x,
         sqrt({dt.format(u='v.x', v='v.x')}) AS norm
  FROM a2 JOIN vecs v USING (vec_id)),
prs AS (
  SELECT a.vec_id AS u, b.vec_id AS v, a.cluster, {cos} AS cos_sim
  FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {cos} > {_D14_TAU})
SELECT v AS dropped_vec, MIN(u) AS kept_vec, cluster,
       arg_min(cos_sim, u) AS cos_sim
FROM prs GROUP BY v, cluster ORDER BY dropped_vec
"""


# ----------------------------------- D15 cross-source overlap matrix
def d15_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate ATTRIBUTION: the source×source overlap matrix —
    for every (unordered) source pair, how many exact-duplicate
    fingerprints they share and how many doc pairs that implies
    (within-source pairs = C(n,2), cross-source = n_a × n_b). This
    is the 'which crawls overlap' report a curation team reads
    before deciding which source to drop — the dataset-card (X7)
    companion at pair granularity.

    Scale: one shuffle to (fingerprint, source) counts; the pairing
    self-join keys on fingerprint with ≤ |sources| rows per key
    (bounded fan-out — the posting list here is source-count, never
    copy-count); the final matrix is |sources|² rows of metadata."""
    c = corpus_with_plants(spark, sf_dir)
    fs = (c.groupBy(F.md5(F.col("text")).alias("fp"), "source")
          .agg(F.count("*").alias("n")))
    a, b = fs.alias("a"), fs.alias("b")
    pairs = (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                    & (F.col("a.source") <= F.col("b.source")))
             .select(F.col("a.fp").alias("fp"),
                     F.col("a.source").alias("source_a"),
                     F.col("b.source").alias("source_b"),
                     F.when(F.col("a.source") == F.col("b.source"),
                            (F.col("a.n") * (F.col("a.n") - 1) / 2)
                            .cast("long"))
                     .otherwise(F.col("a.n") * F.col("b.n"))
                     .alias("n_pairs")))
    return (pairs.filter(F.col("n_pairs") > 0)
            .groupBy("source_a", "source_b")
            .agg(F.count("*").cast("long").alias("n_shared_fps"),
                 F.sum("n_pairs").cast("long").alias("n_dup_pairs"))
            .orderBy("source_a", "source_b"))


_D15_SQL = f"""
WITH corpus AS ({_SQL_CORPUS}),
fs AS (
  SELECT md5(text) AS fp, source, COUNT(*) AS n
  FROM corpus GROUP BY 1, 2),
pairs AS (
  SELECT a.fp, a.source AS source_a, b.source AS source_b,
         CASE WHEN a.source = b.source
              THEN CAST(a.n * (a.n - 1) / 2 AS BIGINT)
              ELSE CAST(a.n * b.n AS BIGINT) END AS n_pairs
  FROM fs a JOIN fs b ON a.fp = b.fp AND a.source <= b.source)
SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_shared_fps,
       CAST(SUM(n_pairs) AS BIGINT) AS n_dup_pairs
FROM pairs WHERE n_pairs > 0
GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


# ------------------------------ D16 content-defined chunk dedup (CDC)
_D16_WIN = 3          # rolling-hash window (words)
_D16_MOD = 16         # boundary when h % MOD == 0 → ~16-word chunks


def _d16_chunk_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, chunk_id, chunk_hash, n_words) CDC chunk table —
    D16's chunking machinery, factored so D25 can cluster documents
    at chunk grain over the identical boundaries."""
    from pyspark.sql.window import Window
    c = corpus_with_plants(spark, sf_dir)
    tok = c.select("doc_id", F.posexplode(_tokens()).alias("pos", "w")) \
        .filter(F.col("w") != "")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    ctx = F.concat_ws(
        "\x01",
        F.coalesce(F.lag("w", 2).over(wd), F.lit("")),
        F.coalesce(F.lag("w", 1).over(wd), F.lit("")), F.col("w"))
    h = F.conv(F.substring(F.md5(ctx), 1, 8), 16, 10).cast("bigint")
    flagged = tok.withColumn("boundary",
                             (h % _D16_MOD == 0).cast("int"))
    wcum = wd.rowsBetween(Window.unboundedPreceding, -1)
    chunked = flagged.withColumn(
        "chunk_id", F.coalesce(F.sum("boundary").over(wcum), F.lit(0)))
    return (chunked.groupBy("doc_id", "chunk_id")
            .agg(F.md5(F.concat_ws(" ", F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda x: x["w"]))).alias("chunk_hash"),
                 F.count("*").cast("long").alias("n_words")))


def d16_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the LBFS/rsync boundary trick):
    a chunk ends wherever the rolling hash of the trailing 3-word
    window ≡ 0 (mod 16), so boundaries are a function of CONTENT —
    an insertion shifts only the chunks it touches, unlike D11's
    fixed-stride spans. Shared chunks across documents are then exact
    hash matches: the insertion-robust shared-passage detector, and
    the storage-dedup primitive (chunk store + manifest) at corpus
    scale.

    Rolling hash is the engine-portable md5-prefix integer (X2's
    idiom — DuckDB's hash() and Spark's xxhash64 disagree, md5
    doesn't). Scale: boundary flags and chunk ids come from windows
    partitioned per document (bounded by doc length); chunk
    assembly is one (doc, chunk) aggregate; the cross-doc share
    report is ONE shuffle keyed on chunk_hash — only 32-hex hashes
    move, never chunk text."""
    chunks = _d16_chunk_table(spark, sf_dir)
    return (chunks.groupBy("chunk_hash")
            .agg(F.countDistinct("doc_id").cast("long").alias("n_docs"),
                 F.count("*").cast("long").alias("n_occ"),
                 F.min("n_words").cast("long").alias("n_words"))
            .filter(F.col("n_docs") > 1)
            .orderBy("chunk_hash"))


# the CDC chunk table CTEs (through `chunks`) — shared verbatim by
# D16's share report and D25's chunk-grain clustering
_D16_CHUNK_CTES = f"""corpus AS ({_SQL_CORPUS}),
tok AS (
  SELECT doc_id, i AS pos, t[CAST(i AS INT) + 1] AS w
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
        FROM corpus), UNNEST(range(len(t))) AS u(i)
  WHERE t[CAST(i AS INT) + 1] <> ''),
flagged AS (
  SELECT doc_id, pos, w,
         CASE WHEN CAST(('0x' || substr(md5(
                COALESCE(LAG(w, 2) OVER dw, '') || chr(1) ||
                COALESCE(LAG(w, 1) OVER dw, '') || chr(1) || w), 1, 8))
              AS BIGINT) % {_D16_MOD} = 0 THEN 1 ELSE 0 END AS boundary
  FROM tok WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
chunked AS (
  SELECT doc_id, pos, w,
         COALESCE(SUM(boundary) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS chunk_id
  FROM flagged),
chunks AS (
  SELECT doc_id, chunk_id,
         md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash,
         CAST(COUNT(*) AS BIGINT) AS n_words
  FROM chunked GROUP BY doc_id, chunk_id)"""

_D16_SQL = f"""
WITH {_D16_CHUNK_CTES}
SELECT chunk_hash, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occ,
       CAST(MIN(n_words) AS BIGINT) AS n_words
FROM chunks GROUP BY chunk_hash HAVING COUNT(DISTINCT doc_id) > 1
ORDER BY chunk_hash
"""


# ----------------------- D18 per-document novelty / duplication rate
_D18_K = 8            # shingle width (words)
_D18_BUCKETS = ((0.0, "novel"), (0.25, "mixed"), (0.75, "derivative"))


def d18_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DOCUMENT duplication rate: the fraction of a doc's 8-gram
    shingles that occur in ANY other document — the memorization-risk
    diagnostic pair-finders (d2/d4) don't give: a doc can be 40%
    assembled from copied passages without having any single near-dup
    partner. Docs bucket into novel (<25% shared), mixed, derivative
    (≥75%) — the slice a curation pass reviews before keeping
    high-duplication documents.

    Scale: the shingle DF count is ONE (shingle → n_docs) aggregate
    over the inverted index — the same index d4/d7 build — and the
    per-doc rate is a second aggregate keyed on doc_id; shingles
    hash to 32-hex before shuffling (texts never move). Output is a
    3-row histogram + token mass per bucket."""
    c = corpus_with_plants(spark, sf_dir)
    shx = scratch_persist(shingle_index(c, _D18_K))
    df = shx.groupBy("s").agg(F.countDistinct("doc_id").alias("nd"))
    per_doc = (shx.join(df, "s")
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_sh"),
                    F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                    .alias("n_shared")))
    rate = F.col("n_shared") / F.col("n_sh")
    bucket = (F.when(rate < 0.25, "novel")
              .when(rate < 0.75, "mixed").otherwise("derivative"))
    return (per_doc.select(bucket.alias("novelty"), "n_sh", "n_shared")
            .groupBy("novelty")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_sh").cast("long").alias("n_shingles"),
                 F.sum("n_shared").cast("long").alias("n_shared"))
            .orderBy("novelty"))


_D18_SQL = f"""
WITH corpus AS ({_SQL_CORPUS}),
tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM corpus),
shx AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id, unnest({_sql_shingles(_D18_K)}) AS s
    FROM tok WHERE len(t) >= {_D18_K})),
df AS (SELECT s, COUNT(DISTINCT doc_id) AS nd FROM shx GROUP BY s),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_sh,
         SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_shared
  FROM shx JOIN df USING (s) GROUP BY doc_id)
SELECT CASE WHEN n_shared * 1.0 / n_sh < 0.25 THEN 'novel'
            WHEN n_shared * 1.0 / n_sh < 0.75 THEN 'mixed'
            ELSE 'derivative' END AS novelty,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
       CAST(SUM(n_shared) AS BIGINT) AS n_shared
FROM per_doc GROUP BY novelty ORDER BY novelty
"""


# -------------------------- D17 LSH (bands × rows) parameter sweep
_D17_CONFIGS = ((8, 1), (4, 2), (2, 4))   # b×r over the 8 permutations


def d17_lsh_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH TUNING table: candidate volume, surviving true pairs,
    precision and recall for every (bands × rows) split of the 8
    minhash permutations — the S-curve trade a dedup engineer reads
    before picking d2's production setting (more bands → higher
    recall, more junk candidates; more rows/band → the opposite).

    Ground truth = the (8,1) candidate set verified at Jaccard ≥ 0.5:
    any (b,r) collision implies per-permutation equality, so every
    config's candidates are a SUBSET of (8,1)'s — one verification
    pass scores all three configs (no config re-verifies).

    Scale: one shingle pass + ONE signature aggregate feed all
    configs; candidate joins are band-keyed (d2's shape); run the
    sweep on a hash-sample (x2) at 100 TB — it is a tuning job, not
    a production pass, and the docstring of d2 records the winner."""
    shx = scratch_persist(
        shingle_index(corpus_with_plants(spark, sf_dir), 3))
    h0 = F.md5(F.concat(F.lit("0:"), F.col("s")))
    h1 = F.md5(F.concat(F.lit("1:"), F.col("s")))
    sig = scratch_persist(shx.groupBy("doc_id").agg(
        *[F.min(F.substring([h0, h1][m // 4], 1 + 8 * (m % 4), 8))
          .alias(f"mh{m}") for m in range(N_MINHASH)],
        F.count("*").alias("n")))

    def cand_pairs(b: int, r: int) -> DataFrame:
        bands = sig.select(
            "doc_id",
            F.explode(F.array(*[
                F.struct(F.lit(i).alias("band_id"),
                         F.md5(F.concat(*[F.col(f"mh{i * r + j}")
                                          for j in range(r)]))
                         .alias("bh"))
                for i in range(b)])).alias("bd")
        ).select("doc_id", "bd.band_id", "bd.bh")
        x, y = bands.alias("x"), bands.alias("y")
        return (x.join(y, (F.col("x.band_id") == F.col("y.band_id"))
                       & (F.col("x.bh") == F.col("y.bh"))
                       & (F.col("x.doc_id") < F.col("y.doc_id")))
                .select(F.col("x.doc_id").alias("doc_a"),
                        F.col("y.doc_id").alias("doc_b"))
                .distinct())

    base = scratch_persist(cand_pairs(8, 1))
    sizes = sig.select("doc_id", "n")
    # verification touches only COLLISION-SET docs (d2's narrowing):
    # semi-join the shingle index down before the intersection join
    hit_ids = (base.select(F.col("doc_a").alias("doc_id"))
               .unionByName(base.select(F.col("doc_b").alias("doc_id")))
               .distinct())
    shx_c = shx.join(hit_ids, "doc_id", "left_semi")
    a_sh = shx_c.select(F.col("doc_id").alias("doc_a"), "s")
    b_sh = shx_c.select(F.col("doc_id").alias("bdoc"),
                        F.col("s").alias("s2"))
    inter = (base.join(a_sh, "doc_a")
             .join(b_sh, (F.col("doc_b") == F.col("bdoc"))
                   & (F.col("s") == F.col("s2")))
             .groupBy("doc_a", "doc_b").agg(F.count("*").alias("ni")))
    na = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n").alias("nb"))
    jac = F.col("ni") / (F.col("na") + F.col("nb") - F.col("ni"))
    truth = scratch_persist(
        base.join(inter, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a").join(nb, "doc_b")
        .filter(F.coalesce(jac, F.lit(0.0)) >= 0.5)
        .select("doc_a", "doc_b"))
    # ONE unioned aggregate scores every config (vs a per-config
    # count+semi-join pass — 3 configs × 2 actions → 1 job): tag each
    # candidate set with its (bands, rows), flag truth membership with
    # a left join, and groupBy(config). (8,1) reuses the persisted
    # base instead of recomputing. Ratios round ENGINE-side
    # (F.round = round-half-up, same as the oracle's ROUND) — Python
    # round() is half-to-even and can differ by one ulp on exact
    # .xxxx5 boundaries.
    tagged = None
    for b, r in _D17_CONFIGS:
        c = (base if (b, r) == (8, 1) else cand_pairs(b, r)) \
            .withColumn("bands", F.lit(b)).withColumn("rows", F.lit(r))
        tagged = c if tagged is None else tagged.unionByName(c)
    per = (tagged
           .join(truth.withColumn("is_true", F.lit(1)),
                 ["doc_a", "doc_b"], "left")
           .groupBy("bands", "rows")
           .agg(F.count("*").alias("n_candidates"),
                F.sum(F.coalesce(F.col("is_true"), F.lit(0)))
                .alias("n_true")))
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    # every config emits a row even with zero candidates (the oracle
    # UNION ALLs a constant select per config)
    cfg = spark.createDataFrame(list(_D17_CONFIGS), "bands INT, rows INT")
    per = (cfg.join(per, ["bands", "rows"], "left")
           .withColumn("n_candidates",
                       F.coalesce("n_candidates", F.lit(0)))
           .withColumn("n_true", F.coalesce("n_true", F.lit(0))))
    nz = lambda c: F.when(F.col(c) > 0, F.col(c))  # noqa: E731
    return (per.crossJoin(F.broadcast(n_truth))   # 1-row scalar
            .select("bands", "rows", "n_candidates",
                    F.col("n_true").cast("bigint").alias("n_true"),
                    det_round(F.col("n_true") / nz("n_candidates"), 4)
                    .alias("precision"),
                    det_round(F.col("n_true") / nz("n_truth"), 4)
                    .alias("recall"))
            .orderBy("bands"))


def _d17_sql() -> str:
    sig = _sql_sig_clause()

    def band_rows(b: int, r: int) -> str:
        return " UNION ALL ".join(
            "SELECT doc_id, {i} AS band_id, md5({parts}) AS bh FROM sig"
            .format(i=i, parts="||".join(f"mh{i * r + j}"
                                         for j in range(r)))
            for i in range(b))

    def cand(b: int, r: int, name: str) -> str:
        return (f"{name}_bands AS ({band_rows(b, r)}), "
                f"{name} AS MATERIALIZED (SELECT DISTINCT x.doc_id AS doc_a, "
                f"y.doc_id AS doc_b FROM {name}_bands x "
                f"JOIN {name}_bands y ON x.band_id = y.band_id "
                f"AND x.bh = y.bh AND x.doc_id < y.doc_id)")

    selects = " UNION ALL ".join(
        f"""SELECT {b} AS bands, {r} AS rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM c{b}x{r}) AS n_candidates,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM c{b}x{r} c
        JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
         AS n_true,
       FLOOR(((SELECT COUNT(*) FROM c{b}x{r} c JOIN truth t
              ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) * 1.0
             / nullif((SELECT COUNT(*) FROM c{b}x{r}), 0))
             * 10000.0 + 0.5) / 10000.0
         AS precision,
       FLOOR(((SELECT COUNT(*) FROM c{b}x{r} c JOIN truth t
              ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) * 1.0
             / nullif((SELECT COUNT(*) FROM truth), 0))
             * 10000.0 + 0.5) / 10000.0 AS recall"""
        for b, r in _D17_CONFIGS)
    return f"""
WITH corpus AS ({_SQL_CORPUS}),
tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM corpus),
sh AS MATERIALIZED (SELECT doc_id, {_sql_shingles(3)} AS shingles
       FROM tok WHERE len(t) >= 3),
sig AS MATERIALIZED (SELECT doc_id, shingles, {sig} FROM sh),
{cand(8, 1, 'c8x1')},
{cand(4, 2, 'c4x2')},
{cand(2, 4, 'c2x4')},
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shx GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS ni
  FROM c8x1 c
  JOIN shx x ON x.doc_id = c.doc_a
  JOIN shx y ON y.doc_id = c.doc_b AND y.s = x.s
  GROUP BY c.doc_a, c.doc_b),
truth AS (
  SELECT c.doc_a, c.doc_b
  FROM c8x1 c
  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  WHERE COALESCE(i.ni * 1.0 / (sa.n + sb.n - i.ni), 0) >= 0.5)
{selects}
ORDER BY bands
"""


# ---- D19: Unicode-robust shingle dedup ------------------------------
# Space-free scripts (CJK) produce ONE "word" per document under the
# whitespace tokenizer, so d2/d4-style word shingling silently
# degrades to whole-text equality there. D19 routes each document by
# script: CJK-dominant docs shingle by CHARACTER k-grams, the rest by
# word k-grams over a Unicode-category tokenizer (letters+digits of
# any script, not just ASCII) — then one shared inverted-index
# Jaccard join scores both classes.
_D19_K = 3
_D19_THRESH = 0.5
# han + kana + hangul (same literal ranges as t18)
_D19_CJK = "一-鿿぀-ヿ가-힯"
_D19_WORD_SPLIT = r"[^\p{L}\p{N}]+"   # Unicode-category tokenizer


def d19_unicode_shingle_dedup(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Near-duplicate pairs (Jaccard ≥ 0.5) over a corpus with
    planted CJK docs (functions.text.UNICODE_PLANTS: an exact
    Chinese dup pair and a one-char-off near-dup), robust to
    space-free scripts.

    Routing: a doc is CJK-class when > 1/3 of its characters are
    Han/kana/Hangul (integer-exact compare, no float ratio). CJK
    docs → distinct lowercase character-3-grams; all others →
    distinct word-3-grams over the \\p{L}\\p{N} tokenizer (so
    Arabic/Cyrillic tokenize correctly too). Gram keys are
    class-prefixed ('c:'/'w:') — the two universes never collide.

    Scale (d4's shape): the ONLY data shuffle is keyed on gram; the
    hot-gram cap drops postings whose document frequency exceeds
    min(_D4_MAX_DF_FRAC of the corpus, _D4_MAX_DF_ABS) BEFORE the
    self-join (numerator and denominator both computed over the
    capped universe, so the statistic stays a true Jaccard) — the
    ABSOLUTE term bounds every posting list, keeping the join linear
    in the index instead of quadratic in corpus growth (see the
    _D4_MAX_DF_ABS comment)."""
    from ..functions.text import unicode_corpus
    c = unicode_corpus(spark, sf_dir)
    # regexp_count counts class matches without building the
    # stripped string (t18's 2×-at-sf1 finding)
    cjk_cnt = F.regexp_count(F.col("text"), F.lit(f"[{_D19_CJK}]"))
    c = c.withColumn("low", F.lower(F.col("text"))) \
         .withColumn("is_cjk", cjk_cnt * 3 > F.length("text"))
    n = F.length("low")
    cidx = F.when(n >= _D19_K,
                  F.sequence(F.lit(1), n - (_D19_K - 1))) \
        .otherwise(F.array().cast("array<int>"))
    toks = F.filter(F.split(F.col("low"), _D19_WORD_SPLIT),
                    lambda x: x != "")
    c = c.withColumn("t", toks)
    nw = F.size("t")
    widx = F.when(nw >= _D19_K,
                  F.sequence(F.lit(0), nw - _D19_K)) \
        .otherwise(F.array().cast("array<int>"))

    def gram(i: Column) -> Column:
        return F.concat_ws(" ", *[F.element_at(F.col("t"), i + j)
                                  for j in range(1, _D19_K + 1)])

    # ONE scan + explode + distinct for both classes: CASE evaluates
    # only the taken branch per row, and the class prefix keeps the
    # two gram universes disjoint, so distinct-per-class == distinct
    # over the union (every doc is in exactly one class)
    grams = F.when(
        F.col("is_cjk"),
        F.transform(cidx, lambda i: F.concat(
            F.lit("c:"), F.col("low").substr(i, F.lit(_D19_K))))) \
        .otherwise(F.transform(widx, lambda i: F.concat(
            F.lit("w:"), gram(i))))
    shx = scratch_persist(
        c.select("doc_id", F.explode(grams).alias("s")).distinct())
    ndocs = shx.agg(F.count_distinct("doc_id").alias("n_docs"))
    keep = (shx.groupBy("s").agg(F.count("*").alias("df"))
            .crossJoin(F.broadcast(ndocs))   # 1-row scalar
            .filter(F.col("df") <= F.least(
                _D4_MAX_DF_FRAC * F.col("n_docs"),
                F.lit(float(_D4_MAX_DF_ABS))))
            .select("s"))
    shf = scratch_persist(shx.join(keep, "s", "left_semi"))
    sizes = shf.groupBy("doc_id").agg(F.count("*").alias("n"))
    x, y = shf.alias("x"), shf.alias("y")
    inter = (x.join(y, (F.col("x.s") == F.col("y.s"))
                    & (F.col("x.doc_id") < F.col("y.doc_id")))
             .groupBy(F.col("x.doc_id").alias("doc_a"),
                      F.col("y.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("ni")))
    jac = F.col("ni") / (F.col("sa.n") + F.col("sb.n") - F.col("ni"))
    return (inter
            .join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
            .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
            .filter(jac >= _D19_THRESH)
            .select("doc_a", "doc_b", det_round(jac, 4).alias("jaccard"))
            .orderBy("doc_a", "doc_b"))


def _d19_sql() -> str:
    from ..functions.text import unicode_corpus_sql
    return f"""
WITH corpus AS ({unicode_corpus_sql()}),
cls AS (SELECT doc_id, lower(text) AS low,
        CASE WHEN length(regexp_replace(text, '[^{_D19_CJK}]', '', 'g'))
                  * 3 > length(text)
             THEN 1 ELSE 0 END AS is_cjk
        FROM corpus),
cg AS (SELECT DISTINCT doc_id,
              'c:' || substr(low, CAST(i AS INT), {_D19_K}) AS s
       FROM (SELECT doc_id, low,
                    unnest(range(1, length(low) - {_D19_K - 2})) AS i
             FROM cls WHERE is_cjk = 1)),
wt AS (SELECT doc_id,
              list_filter(regexp_split_to_array(low,
                          '{_D19_WORD_SPLIT}'), x -> x <> '') AS t
       FROM cls WHERE is_cjk = 0),
wg AS (SELECT DISTINCT doc_id, 'w:' || g AS s
       FROM (SELECT doc_id, unnest({_sql_shingles(_D19_K)}) AS g
             FROM wt WHERE len(t) >= {_D19_K})),
shx AS (SELECT doc_id, s FROM cg UNION ALL SELECT doc_id, s FROM wg),
{_SQL_JACCARD_CHAIN}
SELECT doc_a, doc_b,
       FLOOR((ni * 1.0 / (sa.n + sb.n - ni)) * 10000.0 + 0.5) / 10000.0 AS jaccard
{_sql_jaccard_pairs(_D19_THRESH)}
"""


# ------------------- D20 global repeated-substring dedup (ExactSubstr)
_D20_K = 8            # seed k-gram width (tokens)
_D20_MIN_SPAN = 15    # report repeated substrings of >= 15 tokens


def _merge_spans(spans: DataFrame, keys: list[str],
                 order: list[str]) -> DataFrame:
    """Gaps-and-islands merge of D20's and D23's per-doc token spans
    (s, e): walking each doc's spans in `order`, a span starts a new
    island unless it overlaps or abuts the running max end; returns
    one (*keys, island, ms, me) row per island. Both windows
    partition by doc_id. `_sql_merge_spans` is its oracle twin."""
    from pyspark.sql.window import Window
    wiv = Window.partitionBy("doc_id").orderBy(*order)
    prev = wiv.rowsBetween(Window.unboundedPreceding, -1)
    isl = (spans
           .withColumn("pmax", F.max("e").over(prev))
           .withColumn("new", F.when(F.col("pmax").isNull()
                                     | (F.col("s") > F.col("pmax") + 1),
                                     1).otherwise(0))
           .withColumn("island", F.sum("new").over(wiv)))
    return (isl.groupBy(*keys, "island")
            .agg(F.min("s").alias("ms"), F.max("e").alias("me")))


def _sql_merge_spans(keys: str, order: str) -> str:
    return f"""isl AS (
  SELECT {keys}, s, e,
         SUM(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY {order}) AS island
  FROM (SELECT {keys}, s, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY {order}
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pmax
        FROM spans)),
merged AS (
  SELECT {keys}, island, MIN(s) AS ms, MAX(e) AS me
  FROM isl GROUP BY {keys}, island)"""


def d20_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global repeated-substring mining — the ExactSubstr
    dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499), which builds a
    corpus-wide suffix array and removes every substring of >= 50
    tokens that appears more than once ANYWHERE (any other doc or the
    same doc). Re-expressed for Spark without the monolithic suffix
    array: a maximal repeated substring of length >= K contains only
    globally-duplicated K-grams, so (1) emit positional K-grams,
    (2) keep the K-grams whose global occurrence count is >= 2 — a
    groupBy, not a pair join, (3) per doc, merge consecutive
    duplicated K-gram start positions into maximal spans
    (gaps-and-islands), keep spans >= MIN_SPAN tokens, and (4) merge
    surviving spans' token intervals per doc (second islands pass,
    adjacent-or-overlapping intervals union) to count removable
    tokens exactly once. Unlike D11 (pairwise alignment diagonals,
    hot-phrase df-cap) this is the GLOBAL method: a licence block
    pasted into 10 000 docs is one count row and every occurrence is
    marked; unlike D16's fixed CDC chunk grain it finds spans at
    token resolution.

    Plants: docs 0-9's tokens 1-20 are embedded inside fresh docs
    (doc_id+400000) between unique filler — both the copy AND the
    original must report a 20-token span (global marking, no a<b
    asymmetry); and one fixed 15-token boilerplate block is appended
    to 20 fresh docs (doc_id 401000+i) — all 20 occurrences must
    surface despite the high frequency (a df-cap would drop it).

    Scale design (100 TB): every stage is linear — the K-gram
    count is a map-side-combinable groupBy on the gram, the
    duplicated-gram set joins back as a left-semi on the same key
    (posting lists never multiply: one output row per position), and
    both islands windows partition by doc_id (corpus-cardinality
    keys, no hot partition). No pair join exists anywhere, so a
    phrase repeated a million times costs one aggregate row, the
    designed crossover vs the suffix-array build which must sort the
    whole corpus as one string. At real scale set
    SPARK_GRAFT_HASH_GRAMS=1 to shuffle xxhash64(gram) instead of
    the gram string — measured 0.52× shuffle bytes at sf10
    (BENCHSCALE.md r10), result-equality pinned at sf0.01; default
    keeps the exact string for cross-engine oracle equality."""
    corpus = _d20_corpus(spark, sf_dir)
    tok, merged = _d20_spans(corpus)
    sizes = corpus.select(
        "doc_id",
        F.size(F.split(F.lower("text"), " ")).cast("long")
        .alias("total_tokens"))
    return (merged.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_spans"),
                 F.sum(F.col("me") - F.col("ms") + 1).cast("long")
                 .alias("dup_tokens"))
            .join(sizes, "doc_id")
            .select("doc_id", "n_spans", "dup_tokens", "total_tokens",
                    det_round(F.col("dup_tokens")
                              / F.col("total_tokens"), 4)
                    .alias("dup_frac"))
            .orderBy("doc_id"))


def _d20_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ D20's deterministic plants (tokens 1-20 of docs
    0-9 embedded at doc_id+400000; 15-token boilerplate at 401000+)."""
    d = _docs(spark, sf_dir)
    t = F.split(F.lower(F.col("text")), " ")
    uid = F.col("doc_id").cast("string")
    emb = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.lit("zpre"), uid, F.lit("a")),
            F.concat(F.lit("zpre"), uid, F.lit("b")),
            F.concat_ws(" ", F.slice(t, 1, 20)),
            F.concat(F.lit("zsuf"), uid, F.lit("a")),
            F.concat(F.lit("zsuf"), uid, F.lit("b"))).alias("text"))
    plate = " ".join(f"plate{j}" for j in range(15))
    boiler = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 401000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.lit("zb"), uid, F.lit("a")),
            F.concat(F.lit("zb"), uid, F.lit("b")),
            F.lit(plate)).alias("text"))
    return (d.select("doc_id", "text").unionByName(emb)
            .unionByName(boiler))


def _d20_spans(corpus: DataFrame) -> tuple:
    """The D20 core: positional tokens and the merged (doc_id, ms,
    me) maximal repeated-span intervals. Returns (tok, merged);
    shared by D20 (report) and D21 (excision apply)."""
    from pyspark.sql.window import Window
    tok = corpus.select(
        "doc_id", F.posexplode(F.split(F.lower("text"), " "))
        .alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", j).over(w).alias(f"_t{j}")
             for j in range(1, _D20_K)]
    gram = F.concat_ws(" ", "tok",
                       *[f"_t{j}" for j in range(1, _D20_K)])
    # SPARK_GRAFT_HASH_GRAMS=1: shuffle xxhash64(gram) (8 B) instead
    # of the ~50 B gram string — same spans (count/semi-join are
    # hash-invariant), pinned equal at sf0.01, measured at sf10
    grams = (tok.select("doc_id", "pos", "tok", *leads)
             .filter(F.col(f"_t{_D20_K - 1}").isNotNull())
             .select("doc_id", "pos",
                     (F.xxhash64(gram) if hash_grams_enabled()
                      else gram).alias("g")))
    grams = scratch_persist(grams)
    dup = (grams.groupBy("g").agg(F.count("*").alias("c"))
           .filter(F.col("c") >= 2).select("g"))
    hits = grams.join(dup, "g", "left_semi")
    runs = hits.withColumn(
        "grp", F.col("pos") - F.row_number().over(w))
    spans = (runs.groupBy("doc_id", "grp")
             .agg(F.min("pos").alias("s"),
                  (F.max("pos") + _D20_K - 1).alias("e"))
             .filter(F.col("e") - F.col("s") + 1 >= _D20_MIN_SPAN))
    merged = _merge_spans(spans, ["doc_id"], ["s"])
    return tok, merged


def d21_repeated_substring_excision(spark: SparkSession, sf_dir: str
                                    ) -> DataFrame:
    """The APPLY step of D20 — Lee et al. 2022's ExactSubstr does not
    just report repeated substrings, it REMOVES them from the corpus;
    this op emits the cleaned corpus artifact (doc_id, kept/removed
    token counts, cleaned_text with every merged span excised),
    mirroring the D6→D13 report→manifest precedent. Reuses D20's
    span pipeline verbatim (_d20_spans), so the two ops cannot
    drift.

    Excision is a doc_id-equi anti-join of the positional tokens
    against the merged intervals (pos BETWEEN ms AND me as the
    residual predicate — intervals are disjoint per doc by
    construction, so no row can match twice), then per-doc
    reassembly via sort_array(collect_list(struct(pos, tok))) —
    bounded by DOCUMENT length, never corpus size. Docs whose entire
    text is removed reassemble to '' through the corpus-side left
    join (DuckDB's string_agg group would otherwise vanish — the
    oracle takes the same left join).

    Scale (100 TB): the anti-join shuffles on doc_id (corpus-
    cardinality key); merged is a tiny fraction of tok; the
    collect_list is per-doc bounded exactly like every shingle
    array already in this module. No pair join, no global window."""
    corpus = _d20_corpus(spark, sf_dir)
    tok, merged = _d20_spans(corpus)
    kept = tok.join(
        merged,
        (tok["doc_id"] == merged["doc_id"])
        & (tok["pos"] >= merged["ms"]) & (tok["pos"] <= merged["me"]),
        "left_anti")
    reasm = (kept.groupBy("doc_id")
             .agg(F.array_join(
                      F.transform(
                          F.sort_array(F.collect_list(
                              F.struct("pos", "tok"))),
                          lambda x: x["tok"]), " ").alias("cleaned_text"),
                  F.count("*").cast("long").alias("n_kept")))
    sizes = corpus.select(
        "doc_id",
        F.size(F.split(F.lower("text"), " ")).cast("long")
        .alias("total_tokens"))
    return (sizes.join(reasm, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("n_kept"), F.lit(0)).cast("long")
                    .alias("n_kept"),
                    (F.col("total_tokens")
                     - F.coalesce(F.col("n_kept"), F.lit(0)))
                    .cast("long").alias("n_removed"),
                    F.coalesce(F.col("cleaned_text"), F.lit(""))
                    .alias("cleaned_text"))
            .orderBy("doc_id"))


def _d20_ctes() -> str:
    """Shared WITH-body through `merged`/`sizes` — one source of
    truth for the D20 report and the D21 excision oracles."""
    gram = " || ' ' || ".join(
        "LEAD(w, %d) OVER (PARTITION BY doc_id ORDER BY pos)" % j
        if j else "w" for j in range(_D20_K))
    plate = " ".join(f"plate{j}" for j in range(15))
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 400000,
         'zpre' || CAST(doc_id AS VARCHAR) || 'a ' ||
         'zpre' || CAST(doc_id AS VARCHAR) || 'b ' ||
         array_to_string(string_split(lower(text), ' ')[1:20], ' ') ||
         ' zsuf' || CAST(doc_id AS VARCHAR) || 'a' ||
         ' zsuf' || CAST(doc_id AS VARCHAR) || 'b'
  FROM documents WHERE doc_id < 10
  UNION ALL
  SELECT doc_id + 401000,
         'zb' || CAST(doc_id AS VARCHAR) || 'a ' ||
         'zb' || CAST(doc_id AS VARCHAR) || 'b ' || '{plate}'
  FROM documents WHERE doc_id < 20),
tok AS (
  SELECT doc_id, g.i AS pos, t[CAST(g.i AS INT) + 1] AS w
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM corpus),
       LATERAL (SELECT unnest(range(len(t))) AS i) g),
grams AS (
  SELECT doc_id, pos, {gram} AS g
  FROM tok
  QUALIFY LEAD(w, {_D20_K - 1})
          OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL),
dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
hits AS (SELECT grams.doc_id, grams.pos
         FROM grams JOIN dup USING (g)),
runs AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
           AS grp
  FROM hits),
spans AS (
  SELECT doc_id, grp, MIN(pos) AS s, MAX(pos) + {_D20_K - 1} AS e
  FROM runs GROUP BY doc_id, grp
  HAVING MAX(pos) + {_D20_K - 1} - MIN(pos) + 1 >= {_D20_MIN_SPAN}),
{_sql_merge_spans('doc_id', 's')},
sizes AS (
  SELECT doc_id, len(string_split(lower(text), ' ')) AS total_tokens
  FROM corpus)"""


def _d20_sql() -> str:
    return _d20_ctes() + """
SELECT m.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(me - ms + 1) AS BIGINT) AS dup_tokens,
       sizes.total_tokens,
       FLOOR((SUM(me - ms + 1) * 1.0 / sizes.total_tokens) * 10000.0 + 0.5) / 10000.0
         AS dup_frac
FROM merged m JOIN sizes ON sizes.doc_id = m.doc_id
GROUP BY m.doc_id, sizes.total_tokens
ORDER BY m.doc_id
"""


def _d21_sql() -> str:
    return _d20_ctes() + """,
kept AS (
  SELECT t.doc_id, t.pos, t.w
  FROM tok t LEFT JOIN merged m
    ON m.doc_id = t.doc_id AND t.pos BETWEEN m.ms AND m.me
  WHERE m.doc_id IS NULL),
reasm AS (
  SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS cleaned_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id)
SELECT s.doc_id,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(s.total_tokens - COALESCE(r.n_kept, 0) AS BIGINT)
         AS n_removed,
       COALESCE(r.cleaned_text, '') AS cleaned_text
FROM sizes s LEFT JOIN reasm r USING (doc_id)
ORDER BY s.doc_id
"""


# ---- D22: prefix-filtered EXACT similarity self-join (AllPairs) -----
_D22_T = 0.5
_D22_K = 3


def d22_prefix_filter_join(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """EXACT Jaccard similarity self-join at threshold t via PREFIX
    FILTERING — the AllPairs/PPJoin family (Bayardo et al. 2007;
    Xiao et al. 2008, both public): order every document's shingles
    by ascending global document frequency (rarest first, shingle
    text tiebreak) and index ONLY the first |x| - ceil(t*|x|) + 1 of
    them; if J(x,y) >= t the two prefixes provably intersect, so the
    candidate join touches prefix postings only. Candidates are then
    verified exactly against the full shingle sets.

    This is the dedup family's EXACT-at-scale alternative to D4's
    df-capped inverted index: the cap keeps D4's join linear but
    redefines the statistic over a truncated shingle universe
    (documents whose similarity rides frequent shingles score lower
    — the differential pin constructs one); prefix filtering keeps
    the join near-linear with NO distortion — completeness is a
    theorem, not a heuristic, and the oracle is the plain exhaustive
    inverted-index join over the UNCAPPED universe.

    Scale (100 TB): df is one shingle-keyed partial agg; the rank
    window is per-DOCUMENT (the corpus's natural key, bounded by doc
    length); prefix postings are ~(1-t) of the index, and the
    frequency ordering puts the rarest shingles (shortest posting
    lists) in every prefix, which is what bounds candidate volume.
    Verification joins candidates (pair-keyed) against per-doc
    sorted shingle arrays — work proportional to candidates, never
    to all sharing pairs. SPARK_GRAFT_HASH_GRAMS=1 swaps every
    shingle for xxhash64: prefix completeness holds under ANY
    consistent total order, and the outputs carry counts, not
    grams — measured 0.55× shuffle bytes and 175→93 s wall at sf10
    (BENCHSCALE.md r10), result-equality pinned at sf0.01."""
    from pyspark.sql.window import Window
    # same early natural-key repartition as d2: the per-doc rank
    # window and the size aggregate inherit doc_id co-location
    shx = scratch_persist(
        shingle_index(corpus_with_plants(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism, "doc_id"),
            _D22_K, hashed=hash_grams_enabled()))
    sz = shx.groupBy("doc_id").agg(F.count("*").alias("n"))
    # df via map-side-combined groupBy, NOT a window over s: the
    # window sorts the whole corpus-sized index with no partial agg;
    # the groupBy shrinks map-side and only the REPEATED shingles
    # (df >= 2 — the only ones that can generate a candidate) come
    # back, broadcast against the cached index so the corpus never
    # re-shuffles. On a web corpus whose repeated-shingle relation
    # outgrows a broadcast, drop the hint and AQE picks the join.
    dfq2 = (shx.groupBy("s").agg(F.count("*").alias("df"))
            .filter(F.col("df") >= 2))
    # persisted: small, but both consumers below re-run its lineage
    rep = scratch_persist(shx.join(F.broadcast(dfq2), "s"))
    # singletons (df=1) can never generate a candidate pair AND sort
    # before every repeated shingle under the (df, s) order, so a
    # repeated shingle's doc-rank = (doc's singleton count) + its
    # rank among the doc's repeated shingles — df=1 rows never
    # shuffle again
    n_rep = rep.groupBy("doc_id").agg(F.count("*").alias("nr"))
    wd = Window.partitionBy("doc_id").orderBy("df", "s")
    ranked = (rep.withColumn("rr", F.row_number().over(wd))
              .join(sz, "doc_id").join(n_rep, "doc_id")
              .withColumn("rn", F.col("n") - F.col("nr") + F.col("rr")))
    plen = F.col("n") - F.ceil(F.lit(_D22_T) * F.col("n")) + 1
    # persisted: corpus-sized lineage, feeds BOTH join sides; rn/n
    # ride along for PPJoin's positional filter below
    prefix = scratch_persist(ranked.filter(F.col("rn") <= plen)
                             .select("doc_id", "s", "rn", "n"))
    # PPJoin's positional + length filters (Xiao et al. 2008): on a
    # high-overlap corpus the bare AllPairs prefix join emits ~1600
    # candidate rows per TRUE pair (measured at sf10) because hot
    # shared shingles sit inside half the prefixes at t=0.5. Both
    # bounds are theorems, so exactness is preserved:
    #   - length: J >= t  ⟹  min(|x|,|y|) >= t·max(|x|,|y|)
    #   - positional: overlap >= α = ceil(t/(1+t)·(|x|+|y|)), and a
    #     match at sorted positions (i, j) bounds the achievable
    #     overlap by 1 + min(|x|-i, |y|-j)
    alpha = F.ceil(F.lit(_D22_T / (1.0 + _D22_T))
                   * (F.col("x.n") + F.col("y.n")))
    ubound = 1 + F.least(F.col("x.n") - F.col("x.rn"),
                         F.col("y.n") - F.col("y.rn"))
    cand = scratch_persist(
        prefix.alias("x").join(prefix.alias("y"),
                               (F.col("x.s") == F.col("y.s"))
                               & (F.col("x.doc_id")
                                  < F.col("y.doc_id")))
        .filter((F.least("x.n", "y.n")
                 >= F.lit(_D22_T) * F.greatest("x.n", "y.n"))
                & (ubound >= alpha))
        .select(F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"))
        .distinct())
    # verification work must be ∝ candidates: building shingle
    # arrays for the WHOLE corpus shuffles 50M fat rows at sf10 to
    # verify ~25k pairs — semi-join the index down to candidate docs
    # first (candidates are prefix-volume, so the doc list
    # broadcasts)
    cdocs = (cand.select(F.col("doc_a").alias("doc_id"))
             .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
             .distinct())
    sets = (shx.join(F.broadcast(cdocs), "doc_id", "left_semi")
            .groupBy("doc_id").agg(
                F.sort_array(F.collect_set("s")).alias("gs"),
                F.count("*").alias("n")))
    verified = (cand
                .join(sets.select(F.col("doc_id").alias("doc_a"),
                                  F.col("gs").alias("ga"),
                                  F.col("n").alias("na")), "doc_a")
                .join(sets.select(F.col("doc_id").alias("doc_b"),
                                  F.col("gs").alias("gb"),
                                  F.col("n").alias("nb")), "doc_b")
                .withColumn("ni", F.size(F.array_intersect("ga", "gb"))
                            .cast("long"))
                .withColumn("jaccard",
                            F.col("ni") / (F.col("na") + F.col("nb")
                                           - F.col("ni")))
                .filter(F.col("jaccard") >= _D22_T))
    return (verified.select("doc_a", "doc_b", "ni",
                            F.col("na").cast("long").alias("na"),
                            F.col("nb").cast("long").alias("nb"),
                            "jaccard")
            .orderBy("doc_a", "doc_b"))


_D22_SQL = f"""
WITH corpus AS ({_SQL_CORPUS}),
tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM corpus),
sh AS (SELECT doc_id, {_sql_shingles(_D22_K)} AS gs FROM tok
       WHERE len(t) >= {_D22_K}),
shx AS (SELECT doc_id, unnest(gs) AS s FROM sh),
sz AS (SELECT doc_id, COUNT(*) AS n FROM shx GROUP BY doc_id),
inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                 COUNT(*) AS ni
          FROM shx x JOIN shx y
            ON x.s = y.s AND x.doc_id < y.doc_id
          GROUP BY doc_a, doc_b)
SELECT doc_a, doc_b, CAST(ni AS BIGINT) AS ni,
       CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb,
       ni * 1.0 / (sa.n + sb.n - ni) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE ni * 1.0 / (sa.n + sb.n - ni) >= {_D22_T}
ORDER BY doc_a, doc_b
"""


# ---- D23: benchmark token-span decontamination (GPT-3 App. C) -------
_D23_K = 13           # the published collision gram size
_D23_PAD = 10         # tokens excised around each collision (the
                      # token-domain analog of the paper's 200-char
                      # window)
_D23_MAX_PIECES = 4   # docs shattered into more pieces are dropped
                      # whole (paper: 10; scaled to this corpus's
                      # ~100-token docs)


def d23_benchmark_span_excision(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Benchmark decontamination APPLY step — the GPT-3 recipe
    (Brown et al. 2020, Appendix C, public): find every TRAINING
    position whose 13-gram also occurs in the EVAL set, excise a
    padded window around each collision, split the document into
    the surviving pieces, and drop documents that shatter into too
    many pieces. D7 is the detector (per-eval-doc contamination
    fraction); this is the training-side surgery, at token-span
    resolution (D21's grain) but driven by eval-set membership
    instead of global repetition.

    eval = source 'src0'; train = every other source, plus plants
    (tokens 1-20 of eval docs 0-39 embedded in fresh train docs at
    doc_id+500000 between unique fillers) so true collisions exist
    at every SF and BOTH engines construct them identically.

    Scale (100 TB): train grams flow through ONE semi-join keyed on
    the gram — unhinted, because unlike a real fixed-size benchmark
    this eval split grows with SF (AQE picks broadcast when the
    benchmark side is small, the honest default); span merge is
    D20's per-doc gaps-and-islands (windows partitioned on doc_id);
    the piece arithmetic is pure integers — n_pieces = m + 1 −
    [first span at 0] − [last span at end], valid because merged
    spans are ≥1 token apart. No floats anywhere, so no det_round
    sites. SPARK_GRAFT_HASH_GRAMS=1 applies here too (both join
    sides hash consistently; outputs carry no grams).

    Reference: duckdb/postgres_scanner has no curation surface;
    parity anchor is the published method."""
    from pyspark.sql.window import Window
    d = _docs(spark, sf_dir)
    t = F.split(F.lower("text"), " ")
    uid = F.col("doc_id").cast("string")
    ev = d.filter(F.col("source") == "src0")
    plants = ev.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.lit("zq"), uid, F.lit("a")),
            F.concat(F.lit("zq"), uid, F.lit("b")),
            F.concat_ws(" ", F.slice(t, 1, 20)),
            F.concat(F.lit("zr"), uid, F.lit("a")),
            F.concat(F.lit("zr"), uid, F.lit("b"))).alias("text"))
    train = (d.filter(F.col("source") != "src0")
             .select("doc_id", "text").unionByName(plants))

    def grams(df):
        tok = df.select("doc_id",
                        F.posexplode(F.split(F.lower("text"), " "))
                        .alias("pos", "tok"))
        w = Window.partitionBy("doc_id").orderBy("pos")
        leads = [F.lead("tok", j).over(w).alias(f"_t{j}")
                 for j in range(1, _D23_K)]
        gram = F.concat_ws(" ", "tok",
                           *[f"_t{j}" for j in range(1, _D23_K)])
        return (tok.select("doc_id", "pos", "tok", *leads)
                .filter(F.col(f"_t{_D23_K - 1}").isNotNull())
                .select("doc_id", "pos",
                        (F.xxhash64(gram) if hash_grams_enabled()
                         else gram).alias("g")))

    evg = grams(ev).select("g").distinct()
    hits = (grams(train).join(evg, "g", "left_semi")
            .select("doc_id", "pos"))
    sizes = train.select(
        "doc_id",
        F.size(F.split(F.lower("text"), " ")).alias("n"))
    spans = (hits.join(sizes, "doc_id")
             .select("doc_id", "n",
                     F.greatest(F.col("pos") - _D23_PAD, F.lit(0))
                     .alias("s"),
                     F.least(F.col("pos") + _D23_K - 1 + _D23_PAD,
                             F.col("n") - 1).alias("e")))
    merged = _merge_spans(spans, ["doc_id", "n"], ["s", "e"])
    per_doc = (merged.groupBy("doc_id", "n")
               .agg(F.count("*").alias("m"),
                    F.sum(F.col("me") - F.col("ms") + 1)
                    .alias("removed"),
                    F.min("ms").alias("first_s"),
                    F.max("me").alias("last_e")))
    n_pieces = (F.col("m") + 1
                - F.when(F.col("first_s") == 0, 1).otherwise(0)
                - F.when(F.col("last_e") == F.col("n") - 1, 1)
                .otherwise(0))
    return (per_doc.select(
        "doc_id",
        F.col("m").cast("long").alias("n_spans"),
        F.col("removed").cast("long").alias("removed_tokens"),
        F.col("n").cast("long").alias("total_tokens"),
        n_pieces.cast("long").alias("n_pieces"),
        ((n_pieces == 0) | (n_pieces > _D23_MAX_PIECES))
        .alias("dropped"))
        .orderBy("doc_id"))


def _d23_sql() -> str:
    gram = " || ' ' || ".join(
        "LEAD(w, %d) OVER (PARTITION BY doc_id ORDER BY pos)" % j
        if j else "w" for j in range(_D23_K))
    return f"""
WITH ev AS (
  SELECT doc_id, text FROM documents WHERE source = 'src0'),
train AS (
  SELECT doc_id, text FROM documents WHERE source <> 'src0'
  UNION ALL
  SELECT doc_id + 500000,
         'zq' || CAST(doc_id AS VARCHAR) || 'a ' ||
         'zq' || CAST(doc_id AS VARCHAR) || 'b ' ||
         array_to_string(string_split(lower(text), ' ')[1:20], ' ') ||
         ' zr' || CAST(doc_id AS VARCHAR) || 'a' ||
         ' zr' || CAST(doc_id AS VARCHAR) || 'b'
  FROM ev WHERE doc_id < 40),
evtok AS (
  SELECT doc_id, g.i AS pos, t[CAST(g.i AS INT) + 1] AS w
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM ev),
       LATERAL (SELECT unnest(range(len(t))) AS i) g),
evg AS (
  SELECT DISTINCT g FROM (
    SELECT {gram} AS g FROM evtok
    QUALIFY LEAD(w, {_D23_K - 1})
            OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL)),
tok AS (
  SELECT doc_id, g.i AS pos, t[CAST(g.i AS INT) + 1] AS w
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM train),
       LATERAL (SELECT unnest(range(len(t))) AS i) g),
grams AS (
  SELECT doc_id, pos, {gram} AS g
  FROM tok
  QUALIFY LEAD(w, {_D23_K - 1})
          OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL),
hits AS (SELECT grams.doc_id, grams.pos
         FROM grams JOIN evg USING (g)),
sizes AS (
  SELECT doc_id, len(string_split(lower(text), ' ')) AS n FROM train),
spans AS (
  SELECT h.doc_id, z.n,
         GREATEST(h.pos - {_D23_PAD}, 0) AS s,
         LEAST(h.pos + {_D23_K - 1 + _D23_PAD}, z.n - 1) AS e
  FROM hits h JOIN sizes z ON z.doc_id = h.doc_id),
{_sql_merge_spans('doc_id, n', 's, e')},
per_doc AS (
  SELECT doc_id, n, COUNT(*) AS m,
         SUM(me - ms + 1) AS removed,
         MIN(ms) AS first_s, MAX(me) AS last_e
  FROM merged GROUP BY doc_id, n)
SELECT doc_id,
       CAST(m AS BIGINT) AS n_spans,
       CAST(removed AS BIGINT) AS removed_tokens,
       CAST(n AS BIGINT) AS total_tokens,
       CAST(m + 1 - (CASE WHEN first_s = 0 THEN 1 ELSE 0 END)
                  - (CASE WHEN last_e = n - 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pieces,
       (m + 1 - (CASE WHEN first_s = 0 THEN 1 ELSE 0 END)
              - (CASE WHEN last_e = n - 1 THEN 1 ELSE 0 END)) = 0
       OR (m + 1 - (CASE WHEN first_s = 0 THEN 1 ELSE 0 END)
                 - (CASE WHEN last_e = n - 1 THEN 1 ELSE 0 END))
          > {_D23_MAX_PIECES} AS dropped
FROM per_doc
ORDER BY doc_id
"""


# ---- D24: connected components via large-star/small-star ------------
_D24_MAX_ROUNDS = 8    # alternation converges in O(log n) rounds
                       # (Kiveris et al. Thm 2); star-edge inputs
                       # converge in 2-3 — the cap is a backstop


def d24_cc_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over D6's duplicate graph via the
    LARGE-STAR / SMALL-STAR alternation (Kiveris, Lattanzi, Mirrokni,
    Rastogi, Vassilvitskii 2014, "Connected Components in MapReduce
    and Beyond" — public) — the algorithm D6's docstring promises
    "at true web scale". Same spec, same output, different machine:

      large-star(u): connect every neighbor v > u to
                     m = min(Γ(u) ∪ {u})
      small-star(u): connect every neighbor v < u, and u itself,
                     to m = min(Γ<(u) ∪ {u})

    alternated until the edge set is stable — at which point every
    edge points a node at its component's minimum, i.e. the label.

    Why this beats D6's propagation at 100 TB: min-label rounds
    needed = graph DIAMETER (star edges bound it here, but a general
    near-dup graph can chain), while LS/SS provably converges in
    O(log n) rounds on ANY graph and each round is two map-side-
    combinable groupBys over the CURRENT edge set — which SHRINKS
    toward one edge per non-root node, so later rounds cost almost
    nothing. Each round is one action (Observation rides the
    localCheckpoint, D6's idiom) with a (count, bit_xor(xxhash64(u,
    v))) signature for the stability test — overflow-proof at any
    scale, and a cross-set collision needs a 64-bit xor match at
    equal cardinality (~2^-64). If the round cap trips before the
    signature stabilizes, one extra round is checked for TRUE
    set-equality and non-convergence raises instead of returning
    possibly-wrong labels (r10 advice).

    Oracle: _D6_SQL verbatim — the recursive-CTE reachability spec;
    pinned row-identical to d6_dedup_clusters at two SFs."""
    _corpus, nodes, edges0 = _d6_graph(spark, sf_dir)
    labels = _d24_labels(nodes, edges0)
    return (labels.groupBy(F.col("lbl").alias("cluster_id"))
            .agg(F.count("*").cast("long").alias("n_members"),
                 F.max("doc_id").alias("member_max"))
            .filter(F.col("n_members") > 1)
            .orderBy("cluster_id"))


def _d24_round(e: DataFrame) -> DataFrame:
    """One large-star + small-star alternation over a canonical
    (u > v) edge set; returns the new canonical edge set."""
    # large-star: gather BOTH orientations (a = center)
    nb = e.select(F.col("u").alias("a"), F.col("v").alias("b")) \
        .unionAll(e.select(F.col("v").alias("a"),
                           F.col("u").alias("b")))
    mins = nb.groupBy("a").agg(F.min("b").alias("mb"))
    ls = (nb.join(mins, "a")
          .filter(F.col("b") > F.col("a"))
          .select(F.col("b").alias("u"),
                  F.least("mb", F.col("a")).alias("v"))
          .distinct())
    # small-star: canonical (u > v) rows ARE the Γ< adjacency
    mins2 = ls.groupBy("u").agg(F.min("v").alias("mb"))
    return (ls.join(mins2, "u")
            .filter(F.col("v") != F.col("mb"))
            .select(F.col("v").alias("nu"), F.col("mb").alias("nv"))
            .unionAll(mins2.select(F.col("u").alias("nu"),
                                   F.col("mb").alias("nv")))
            .filter(F.col("nu") != F.col("nv"))
            .distinct()
            .select(F.col("nu").alias("u"), F.col("nv").alias("v")))


def _d24_labels(nodes: DataFrame, edges0: DataFrame) -> DataFrame:
    """The LS/SS alternation on an arbitrary (src, dst) edge set —
    factored so tests can drive adversarial topologies (chains,
    stars of stars) that the corpus graph never produces."""
    from pyspark.sql import Observation
    e = (edges0.select(F.greatest("src", "dst").alias("u"),
                       F.least("src", "dst").alias("v"))
         .filter(F.col("u") != F.col("v")).distinct()
         .localCheckpoint())
    prev = None
    converged = False
    for i in range(_D24_MAX_ROUNDS):
        obs = Observation(f"d24_round_{i}")
        e = (_d24_round(e)
             .observe(obs, F.count(F.lit(1)).alias("c"),
                      F.expr("bit_xor(xxhash64(u, v))").alias("x"))
             .localCheckpoint())
        sig = (obs.get["c"], obs.get["x"])
        if sig == prev:
            converged = True
            break
        prev = sig
    if not converged:
        # round cap hit before the signature stabilized: demand TRUE
        # stability (one more round must be a set-level no-op) rather
        # than silently returning possibly-unconverged labels
        nxt = _d24_round(e).localCheckpoint()
        if not (nxt.exceptAll(e).isEmpty()
                and e.exceptAll(nxt).isEmpty()):
            raise RuntimeError(
                "d24: large-star/small-star did not converge within "
                f"{_D24_MAX_ROUNDS} rounds — raise _D24_MAX_ROUNDS "
                "(O(log n) bound, Kiveris et al. 2014 Thm 2)")
        e = nxt
    lbl = e.groupBy("u").agg(F.min("v").alias("lbl")) \
        .select(F.col("u").alias("doc_id"), "lbl")
    return (nodes.join(lbl, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("lbl", "doc_id").alias("lbl")))


# ---- D25: fuzzy-dedup clustering at CDC-chunk grain -----------------
_D25_MIN_WORDS = 3   # ignore sub-3-word chunks (boundary noise: a
                     # mod-16 rolling hash emits occasional 1-2 word
                     # chunks that match across unrelated docs)
_D25_MAX_DF = 16     # drop non-discriminative chunks shared by more
                     # docs than this (boilerplate): the standard
                     # high-DF feature drop that bounds the pair
                     # explosion of hot buckets (same role as D2's
                     # band-bucket cap and posting-list pruning in
                     # prefix-filter joins)
_D25_K = 2           # docs must share >= K distinct qualifying
                     # chunks to get an edge (one shared chunk is a
                     # quotation; two is a derivative document)


def d25_chunk_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup clusters at SUB-document grain: documents sharing
    ≥ K content-defined chunks (D16's insertion-robust boundaries)
    are edges of a similarity graph whose connected components
    (D24's large-star/small-star) are the cluster labels. This
    closes the gap the pairwise ops leave open: D2/D22 score whole
    documents, D16 reports shared passages but doesn't cluster —
    a chain A~B~C of partially-overlapping rewrites only falls out
    of the CHUNK-grain transitive closure.

    Scale shape (100 TB): chunking is D16's per-document window
    work; only (doc_id, 32-hex chunk_hash) pairs ever shuffle. The
    pair join is bucket-bounded — the DF filter caps every
    chunk_hash bucket at _D25_MAX_DF docs, so the self-join emits
    ≤ DF²/2 pairs per chunk (the same bounded-bucket argument as
    D2's LSH bands), and the component step is D24's O(log n)
    alternation over the (already tiny) edge set. No all-pairs
    anywhere.

    Oracle: the same chunk CTEs verbatim (_D16_CHUNK_CTES) + the
    DF/K filters + recursive-CTE reachability (D6's spec)."""
    chunks = _d16_chunk_table(spark, sf_dir)
    q = (chunks.filter(F.col("n_words") >= _D25_MIN_WORDS)
         .select("doc_id", "chunk_hash").distinct())
    q = scratch_persist(q)
    disc = (q.groupBy("chunk_hash")
            .agg(F.count("*").alias("df"))
            .filter((F.col("df") >= 2) & (F.col("df") <= _D25_MAX_DF))
            .select("chunk_hash"))
    qq = q.join(disc, "chunk_hash")
    qq = scratch_persist(qq)
    # q is distinct on (doc_id, chunk_hash), so per (src, dst) group
    # each shared chunk contributes exactly one row: count(*) IS the
    # distinct shared-chunk count
    edges = (qq.select(F.col("doc_id").alias("src"), "chunk_hash")
             .join(qq.select(F.col("doc_id").alias("dst"),
                             "chunk_hash"), "chunk_hash")
             .filter(F.col("src") < F.col("dst"))
             .groupBy("src", "dst")
             .agg(F.count("*").alias("shared"))
             .filter(F.col("shared") >= _D25_K)
             .select("src", "dst"))
    nodes = corpus_with_plants(spark, sf_dir).select("doc_id")
    labels = _d24_labels(nodes, edges)
    return (labels.groupBy(F.col("lbl").alias("cluster_id"))
            .agg(F.count("*").cast("long").alias("n_members"),
                 F.max("doc_id").alias("member_max"))
            .filter(F.col("n_members") > 1)
            .orderBy("cluster_id"))


_D25_SQL = f"""
WITH RECURSIVE
{_D16_CHUNK_CTES},
q AS (
  SELECT DISTINCT doc_id, chunk_hash FROM chunks
  WHERE n_words >= {_D25_MIN_WORDS}),
disc AS (
  SELECT chunk_hash FROM q GROUP BY chunk_hash
  HAVING COUNT(*) BETWEEN 2 AND {_D25_MAX_DF}),
qq AS (SELECT doc_id, chunk_hash FROM q JOIN disc USING (chunk_hash)),
edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM qq a JOIN qq b USING (chunk_hash)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) >= {_D25_K}),
bidir AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(doc_id, lbl) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT b.dst, r.lbl FROM reach r JOIN bidir b ON b.src = r.doc_id),
comp AS (SELECT doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY doc_id)
SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       MAX(doc_id) AS member_max
FROM comp GROUP BY cluster_id HAVING COUNT(*) > 1 ORDER BY cluster_id
"""


# ---- D26: NearDup apply — LSH clusters to keep/remove manifest ------
def d26_neardup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEAR-dup APPLY stage (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — their NearDup:
    MinHash-LSH candidate pairs, verified, clustered, one document
    kept per cluster). D13 applies D6's EXACT clusters; this is its
    near-dup sibling over D2's Jaccard-verified pairs, closed
    transitively by D24's large-star/small-star — the end-to-end
    pipeline a production corpus actually runs before training.
    Keep policy: the component minimum (earliest doc_id) survives,
    so kept ⇔ label == own id — no extra window over clusters.
    Output is the curation report: per language, corpus size, kept
    and removed counts.

    Scale shape: edges = D2's verified pairs (bounded by band
    buckets + verification semi-joins), components = D24's O(log n)
    alternation over the (tiny) edge set, report = one join of the
    doc-count label table back to the corpus and a |langs|-row
    aggregate. The corpus text never moves after shingling."""
    pairs = _d2_verified(spark, sf_dir)
    nodes = corpus_with_plants(spark, sf_dir).select("doc_id", "lang")
    labels = _d24_labels(
        nodes.select("doc_id"),
        pairs.select(F.col("doc_a").alias("src"),
                     F.col("doc_b").alias("dst")))
    kept = (F.col("lbl") == F.col("doc_id")).cast("long")
    return (nodes.join(labels, "doc_id")
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(kept).cast("long").alias("n_kept"),
                 (F.count("*") - F.sum(kept)).cast("long")
                 .alias("n_removed"))
            .orderBy("lang"))


def _d26_sql() -> str:
    return f"""
WITH RECURSIVE
corpus AS ({_SQL_CORPUS}),
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({_d2_sql().replace(chr(10), chr(10) + '  ')})),
bidir AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(doc_id, lbl) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT b.dst, r.lbl FROM reach r JOIN bidir b ON b.src = r.doc_id),
comp AS (SELECT doc_id, MIN(lbl) AS lbl FROM reach GROUP BY doc_id)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN lbl = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(COUNT(*) - SUM(CASE WHEN lbl = doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_removed
FROM corpus JOIN comp USING (doc_id)
GROUP BY lang ORDER BY lang
"""


# --------------- D27 scaled SemDeDup: balanced-leaf embedding dedup
_D27_TAU = _D14_TAU    # same near-dup threshold as D14
_D27_S = 64            # target leaf size: leaves hold ≤ S+1 vectors,
                       # so the within-leaf pair space is ≤ L·n·S/2 —
                       # LINEAR in corpus size (D14's is Σ cluster²
                       # with a FIXED cluster count: quadratic at 100×)
_D27_L = 4             # independent projections: a near-pair is found
                       # if co-leafed under ANY of them, so a boundary
                       # miss must happen L times independently
import hashlib as _hashlib
_D27_W = [[int(_hashlib.md5(f"d27p{l}d{i}".encode()).hexdigest()[:4],
               16) % 31 - 15 for i in range(64)]
          for l in range(_D27_L)]   # deterministic projection dirs


def d27_scaled_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at scaled cluster count (r11 verdict stretch): D14
    keeps A6's FIXED k=4 clusters, so its within-cluster pair tiles
    grow quadratically with the corpus. Here the effective cluster
    count grows with corpus size instead: inside each of A6's trained
    clusters, vectors are split into ceil(n_c / S) BALANCED leaves by
    rank along each of L fixed random projections (the split rule of
    RP-trees, Dasgupta & Freund 2008; the L-repetition recall
    amplification is the standard LSH band trick — Charikar 2002's
    projection family), and near-duplicates are searched only within
    a leaf. Candidates from all L splits union (DISTINCT) and verify
    against the signature table, m15-style. Leaves hold ≤ S+1 vectors
    by construction, so the candidate space is ≤ L·n·S/2 at any
    corpus size and assignment is LINEAR (L projection dots per
    vector — no n×K centroid scoring; at 100 TB the split recurses
    per level, log-depth, still linear per level). Recall: a pair is
    missed only if EVERY projection cuts it across a leaf boundary —
    the L-fold analog of SemDeDup's own cluster-boundary miss.

    Planted truth (m15's idiom): exact vector copies (+P) and
    one-dimension mutants (+2P, x[0]·1.0625 — an exact binary factor,
    cos ≈ 0.999) of vec_id < 10, P = max(vec_id)+1, INHERIT their
    source's trained cluster (so D14's clustering is untouched) and
    must be recovered: a copy shares its source's exact projection
    scores, so rank tie-breaking makes the pair leaf-adjacent under
    every projection — a miss needs the quantile cut to land exactly
    between them L independent times. These pin the high-similarity
    regime the operator exists for; pairs barely above τ (cos ≈ 0.46
    on this corpus) may cross leaf boundaries — the SAME accepted
    boundary miss as SemDeDup's own clusters (Abbas et al. 2023 §3).

    Determinism: projection directions are fixed integer vectors
    (md5-derived constants baked into BOTH engines' text); score
    folds run in array-index order (the d14/t17 ordered-fold
    contract); ranks tie-break by vec_id; the leaf index is pure
    integer arithmetic ((rank-1)·k2 div n). Survivor rule and cos
    verification are exactly D14's (min-id witness, det_round 5).

    Degenerate input: a vector with a NaN or ±inf component raises
    ValueError in the k-means step, and a zero-norm vector raises
    when a candidate pair holding it is verified (its cosine is 0/0);
    the message names the vec_id (`kernels.require_finite`).

    Scale shape (100 TB): embeddings shuffle once on (cluster, l) for
    the ranked splits and once on (cluster, l, sub) for the leaf
    self-join over (id, norm-free) keys; verification joins the slim
    (vec_id, x, norm) signature table; nothing quadratic ever
    materializes."""
    from .. import tables
    from .ann import km_trained_assignment
    from pyspark.sql.window import Window
    e = tables.load(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("x"))
    p_off = int(vecs.agg(F.max("vec_id")).first()[0] or 0) + 1
    a2 = km_trained_assignment(vecs)

    base = a2.select("vec_id", "x",
                     F.col("cluster").cast("int").alias("cluster"))
    seeds = base.filter(F.col("vec_id") < 10)
    mut_x = F.concat(F.array(F.element_at("x", 1) * F.lit(1.0625)),
                     F.slice("x", 2, 63))
    plants = (seeds.select((F.col("vec_id") + F.lit(p_off))
                           .alias("vec_id"), "x", "cluster")
              .unionByName(
                  seeds.select((F.col("vec_id") + F.lit(2 * p_off))
                               .alias("vec_id"),
                               mut_x.alias("x"), "cluster")))
    sig = scratch_persist(
        base.unionByName(plants)
        .select("vec_id", "x", "cluster",
                F.sqrt(kernels.dot(F.col("x"), F.col("x")))
                .alias("norm")))
    scores = [kernels.dot(F.col("x"),
                          F.array(*[F.lit(float(w)) for w in wl]))
              for wl in _D27_W]
    stack = ", ".join(f"{l}, s{l}" for l in range(_D27_L))
    proj = (sig.select(
        "vec_id", "cluster",
        *[s.alias(f"s{l}") for l, s in enumerate(scores)])
        .select("vec_id", "cluster",
                F.expr(f"stack({_D27_L}, {stack}) AS (l, score)")))
    win = Window.partitionBy("cluster", "l").orderBy("score", "vec_id")
    sz = proj.groupBy("cluster", "l").agg(
        F.count("*").cast("long").alias("n"),
        ((F.count("*") + F.lit(_D27_S - 1))
         .cast("long") / F.lit(_D27_S)).cast("long").alias("k2"))
    leaf = (proj.withColumn("rn", F.row_number().over(win))
            .join(F.broadcast(sz), ["cluster", "l"])
            .select("vec_id", "cluster", "l",
                    F.expr("CAST((rn - 1) * k2 DIV n AS INT)")
                    .alias("sub")))
    rhs = leaf.select(F.col("cluster").alias("cl2"),
                      F.col("l").alias("l2"),
                      F.col("sub").alias("sub2"),
                      F.col("vec_id").alias("vec_id2"))
    cand = (leaf.join(
        rhs, (F.col("cluster") == F.col("cl2"))
        & (F.col("l") == F.col("l2"))
        & (F.col("sub") == F.col("sub2"))
        & (F.col("vec_id") < F.col("vec_id2")))
        .select(F.col("vec_id").alias("u"),
                F.col("vec_id2").alias("v"),
                F.col("cluster").alias("cl"))
        .distinct())
    # candidate verification in one vectorized Arrow pass instead of
    # a per-pair interpreted HOF dot — bit-identical (same fold
    # order; see _pair_cos_fn), only the columns the kernel needs
    # cross the boundary (guide §4.1/§4.2)
    sa = sig.select(F.col("vec_id").alias("u"), F.col("x").alias("xa"),
                    F.col("norm").alias("na"))
    sb = sig.select(F.col("vec_id").alias("v"), F.col("x").alias("xb"),
                    F.col("norm").alias("nb"))
    pairs = (cand
             .join(sa, "u").join(sb, "v")
             .select("u", "v", F.col("cl").alias("cluster"),
                     "xa", "na", "xb", "nb")
             .mapInArrow(
                 _pair_cos_fn(_D27_TAU),
                 schema="u bigint, v bigint, cluster int, "
                        "cos_sim double"))
    return _min_id_survivors(pairs)


def _d27_sql() -> str:
    from .ann import _km_sql_ctes
    dt = ("list_sum(list_transform(range(len({u})), "
          "i -> {u}[i+1] * {v}[i+1]))")
    score_arms = " ".join(
        "WHEN {l} THEN {d}".format(
            l=l, d=dt.format(
                u="x", v="[" + ", ".join(f"{w}.0e0" for w in wl) + "]"))
        for l, wl in enumerate(_D27_W))
    cos = (f"FLOOR(({dt.format(u='sa.x', v='sb.x')}"
           " / (sa.norm * sb.norm)) * 100000.0 + 0.5) / 100000.0")
    return f"""
WITH {_km_sql_ctes()},
poff AS (
  SELECT CAST(COALESCE(MAX(vec_id), 0) + 1 AS BIGINT) AS p FROM vecs),
base AS (
  SELECT a2.vec_id, CAST(a2.cluster AS INT) AS cluster, v.x
  FROM a2 JOIN vecs v USING (vec_id)),
withplants AS (
  SELECT vec_id, cluster, x FROM base
  UNION ALL
  SELECT vec_id + (SELECT p FROM poff), cluster, x
  FROM base WHERE vec_id < 10
  UNION ALL
  SELECT vec_id + 2 * (SELECT p FROM poff), cluster,
         list_prepend(x[1] * 1.0625e0, x[2:]) AS x
  FROM base WHERE vec_id < 10),
sig AS MATERIALIZED (
  SELECT vec_id, cluster, x,
         sqrt({dt.format(u='x', v='x')}) AS norm
  FROM withplants),
proj AS (
  SELECT vec_id, cluster, l, CASE l {score_arms} END AS score
  FROM sig CROSS JOIN (SELECT unnest(range({_D27_L})) AS l)),
sz AS (
  SELECT cluster, l, CAST(COUNT(*) AS BIGINT) AS n,
         CAST((COUNT(*) + {_D27_S - 1}) // {_D27_S} AS BIGINT) AS k2
  FROM proj GROUP BY cluster, l),
leaf AS (
  SELECT vec_id, cluster, l,
         CAST((row_number() OVER (PARTITION BY cluster, l
                                  ORDER BY score, vec_id) - 1)
              * k2 // n AS INT) AS sub
  FROM proj JOIN sz USING (cluster, l)),
cand AS (
  SELECT DISTINCT a.vec_id AS u, b.vec_id AS v, a.cluster
  FROM leaf a JOIN leaf b
    ON a.cluster = b.cluster AND a.l = b.l AND a.sub = b.sub
   AND a.vec_id < b.vec_id),
prs AS (
  SELECT u, v, cand.cluster AS cluster, {cos} AS cos_sim
  FROM cand
  JOIN sig sa ON u = sa.vec_id
  JOIN sig sb ON v = sb.vec_id
  WHERE {cos} > {_D27_TAU})
SELECT v AS dropped_vec, MIN(u) AS kept_vec, cluster,
       arg_min(cos_sim, u) AS cos_sim
FROM prs GROUP BY v, cluster ORDER BY dropped_vec
"""


QUERIES = {
    "d27_scaled_semantic_dedup": d27_scaled_semantic_dedup,
    "d26_neardup_apply": d26_neardup_apply,
    "d25_chunk_cluster": d25_chunk_cluster,
    "d24_cc_two_phase": d24_cc_two_phase,
    "d23_benchmark_span_excision": d23_benchmark_span_excision,
    "d22_prefix_filter_join": d22_prefix_filter_join,
    "d21_repeated_substring_excision": d21_repeated_substring_excision,
    "d20_repeated_substrings": d20_repeated_substrings,
    "d19_unicode_shingle_dedup": d19_unicode_shingle_dedup,
    "d18_doc_novelty": d18_doc_novelty,
    "d17_lsh_param_sweep": d17_lsh_param_sweep,
    "d16_cdc_chunk_dedup": d16_cdc_chunk_dedup,
    "d15_source_overlap": d15_source_overlap,
    "d14_semantic_dedup": d14_semantic_dedup,
    "d1_exact_dedup": d1_exact_dedup,
    "d2_minhash_lsh_dedup": d2_minhash_lsh_dedup,
    "d3_simhash_dedup": d3_simhash_dedup,
    "d4_ngram_jaccard": d4_ngram_jaccard,
    "d5_embedding_dedup": d5_embedding_dedup,
    "d6_dedup_clusters": d6_dedup_clusters,
    "d7_contamination": d7_contamination,
    "d8_incremental_dedup": d8_incremental_dedup,
    "d9_incremental_lsh": d9_incremental_lsh,
    "d10_boilerplate_removal": d10_boilerplate_removal,
    "d11_verbatim_spans": d11_verbatim_spans,
    "d12_dedup_eval": d12_dedup_eval,
    "d13_dedup_apply": d13_dedup_apply,
}

ORACLE = {
    "d27_scaled_semantic_dedup": _d27_sql(),
    "d26_neardup_apply": _d26_sql(),
    "d25_chunk_cluster": _D25_SQL,
    "d24_cc_two_phase": _D6_SQL,   # same spec, different machine
    "d23_benchmark_span_excision": _d23_sql(),
    "d22_prefix_filter_join": _D22_SQL,
    "d21_repeated_substring_excision": _d21_sql(),
    "d20_repeated_substrings": _d20_sql(),
    "d19_unicode_shingle_dedup": _d19_sql(),
    "d18_doc_novelty": _D18_SQL,
    "d17_lsh_param_sweep": _d17_sql(),
    "d16_cdc_chunk_dedup": _D16_SQL,
    "d15_source_overlap": _D15_SQL,
    "d14_semantic_dedup": _d14_sql(),
    "d1_exact_dedup": _D1_SQL,
    "d2_minhash_lsh_dedup": _d2_sql(),
    "d3_simhash_dedup": _d3_sql(),
    "d4_ngram_jaccard": _D4_SQL,
    "d5_embedding_dedup": _D5_SQL,
    "d6_dedup_clusters": _D6_SQL,
    "d7_contamination": _D7_SQL,
    "d8_incremental_dedup": _D8_SQL,
    "d9_incremental_lsh": _d9_sql(),
    "d10_boilerplate_removal": _D10_SQL,
    "d11_verbatim_spans": _D11_SQL,
    "d12_dedup_eval": _d12_sql(),
    "d13_dedup_apply": _D13_SQL,
}
