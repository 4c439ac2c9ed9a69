"""Semantic pins for the round-4 operators, beyond the oracle sweep:
the oracle proves Spark == DuckDB; these prove both compute the thing
the operator claims (plants dropped, tar parse inverts tarfile,
k-means improves, checkpoint resume is incremental)."""

import io
import tarfile

import pytest

SF = "/root/testdata/sf0.001"


def test_d10_drops_the_planted_header(spark):
    """Docs with the injected boilerplate header (doc_id % 5 == 0)
    must lose at least that one paragraph. (The word-salad corpus
    also has naturally repeated 8-gram chunks — its vocabulary is
    tiny — so non-header docs may legitimately lose paragraphs too;
    the guaranteed property is only the header's removal.)"""
    from postgres_scanner_spark.operators.dedup import (
        d10_boilerplate_removal)
    rows = d10_boilerplate_removal(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.kept_paras <= r.n_paras, r
        if r.doc_id % 5 == 0:
            assert r.kept_paras <= r.n_paras - 1, r
    # something must survive corpus-wide, and something must be cut
    assert sum(r.kept_paras for r in rows) > 0
    assert sum(r.kept_paras for r in rows) < sum(r.n_paras for r in rows)


def test_m6_manifest_matches_tarfile(spark):
    """The hand-rolled ustar walker must agree with Python's tarfile
    on names, sizes, and data offsets — rebuild shard 0 the same way
    the operator's encoder does and compare member-for-member."""
    from postgres_scanner_spark import tables
    from postgres_scanner_spark.operators.multimodal import (
        _M6_DOCS_PER_SHARD, m6_tar_shard_manifest)
    got = [r for r in m6_tar_shard_manifest(spark, SF).collect()
           if r.shard_id == 0]
    assert got and all(r.checksum_ok for r in got)

    docs = (tables.load(spark, SF, "documents")
            .filter(f"doc_id < {_M6_DOCS_PER_SHARD}")
            .select("doc_id", "text").collect())
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.USTAR_FORMAT) as tar:
        for r in sorted(docs, key=lambda r: r.doc_id):
            data = r.text.encode()
            ti = tarfile.TarInfo(name=f"{r.doc_id:012d}.txt")
            ti.size = len(data)
            ti.mtime = 0
            ti.uid = ti.gid = 0
            ti.uname = ti.gname = ""
            tar.addfile(ti, io.BytesIO(data))
    buf.seek(0)
    with tarfile.open(fileobj=buf) as tar:
        expect = [(m.name, m.size, m.offset_data)
                  for m in tar.getmembers()]
    assert [(r.member_name, r.size, r.data_offset) for r in got] == expect


def test_a6_partitions_everything_and_improves(spark):
    """Final assignment must partition the corpus into k clusters,
    and iteration 2's inertia must not exceed iteration 1's (Lloyd
    updates are monotonic)."""
    from pyspark.sql import functions as F
    from postgres_scanner_spark import tables
    from postgres_scanner_spark.operators.ann import (
        _KM_K, _km_assign, a6_kmeans_lloyd)
    rows = a6_kmeans_lloyd(spark, SF).collect()
    n_total = tables.load(spark, SF, "embeddings").count()
    assert sum(r.n_vecs for r in rows) == n_total
    assert {r.cluster for r in rows} <= set(range(_KM_K))
    # iteration-1 inertia from the same deterministic init
    e = tables.load(spark, SF, "embeddings")
    vecs = e.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("x"))
    cents1 = (vecs.filter(F.col("vec_id") < _KM_K)
              .select(F.col("vec_id").cast("int").alias("cent_id"),
                      F.col("x").alias("c")))
    inertia1 = (_km_assign(vecs, cents1)
                .agg(F.sum("dist2").alias("s")).collect()[0].s)
    inertia2 = sum(r.inertia for r in rows)
    assert inertia2 <= inertia1 + 1e-6


def test_km_assign_negative_vec_ids(spark):
    """Negative vec_ids get the same assignments as the same vectors
    under shifted non-negative ids (vec_id % p made a group with no
    centroid replica, and the kernel raised)."""
    import random
    from postgres_scanner_spark.operators.ann import _km_assign
    rnd = random.Random(7)
    xs = [[rnd.uniform(-1, 1) for _ in range(4)] for _ in range(40)]
    cents = spark.createDataFrame(
        [(i, xs[i * 7]) for i in range(3)], "cent_id int, c array<double>")

    def assign(shift):
        vecs = spark.createDataFrame(
            [(i - 20 + shift, x) for i, x in enumerate(xs)],
            "vec_id bigint, x array<double>")
        return {r.vec_id - shift: (r.cluster, r.dist2)
                for r in _km_assign(vecs, cents).collect()}

    got = assign(0)
    assert len(got) == 40 and min(got) == -20
    assert got == assign(20)


def test_e13_second_run_is_incremental(spark):
    """run2_rows must equal the second half's row count — the resume
    processed only the newly-landed file, and the sink equals the
    full dataset (nothing lost, nothing doubled)."""
    from pyspark.sql import functions as F
    from postgres_scanner_spark import tables
    from postgres_scanner_spark.streaming.events import (
        _E13_SPLIT, e13_checkpoint_resume)
    rows = e13_checkpoint_resume(spark, SF).collect()
    ev = tables.load(spark, SF, "events")
    n_total = ev.count()
    n_second = ev.filter(F.col("ts") >= _E13_SPLIT).count()
    assert 0 < n_second < n_total
    assert rows[0].run2_rows == n_second
    assert sum(r.n for r in rows) == n_total


def test_t10_ranks_are_dense_topk(spark):
    from postgres_scanner_spark.functions.text import t10_tfidf_keywords
    rows = t10_tfidf_keywords(spark, SF).collect()
    assert rows
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc, rs in by_doc.items():
        assert [r.rk for r in rs] == list(range(1, len(rs) + 1))
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_x10_split_partitions_corpus(spark):
    from postgres_scanner_spark import tables
    from postgres_scanner_spark.functions.analytics import (
        x10_leakage_safe_split)
    rows = x10_leakage_safe_split(spark, SF).collect()
    n_total = tables.load(spark, SF, "documents").count()
    assert sum(r.n_docs for r in rows) == n_total
    assert {r.split for r in rows} <= {"train", "val", "test"}
    train = next(r for r in rows if r.split == "train")
    assert train.n_docs > n_total / 2


def test_d11_finds_planted_spans(spark):
    """Every planted partial copy (first 12 tokens of docs 0-9) must
    surface against its source with span exactly >= 12; plant pairs
    are (orig, orig+300000)."""
    from postgres_scanner_spark.operators.dedup import d11_verbatim_spans
    rows = d11_verbatim_spans(spark, SF).collect()
    pairs = {(r.a_id, r.b_id): r.span_tokens for r in rows}
    for i in range(10):
        assert pairs.get((i, i + 300000), 0) >= 12, (i, pairs)
