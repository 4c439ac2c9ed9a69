"""postgres_scanner_spark.obs: a measured block gets exactly its own
Spark work, also when threads run jobs at the same time, and bench.py's
session profile picks its shuffle partitions from the data size."""

import threading

import pytest

from postgres_scanner_spark import obs


def _run(spark, label, width, n_jobs, barrier=None):
    if barrier is not None:
        barrier.wait()
    with obs.measure(spark, label) as m:
        for _ in range(n_jobs):
            spark.range(10_000, numPartitions=width).count()
    return m


def _work(m):
    return {k: m.totals[k] for k in ("jobs", "stages", "tasks")}


def test_concurrent_labels_get_their_own_jobs(spark):
    spec = {"narrow": (2, 3), "wide": (7, 2)}   # label: (width, jobs)
    solo = {label: _work(_run(spark, label, *wj))
            for label, wj in spec.items()}
    assert solo["narrow"] != solo["wide"]
    barrier = threading.Barrier(len(spec))
    got = {}

    def worker(label):
        got[label] = _run(spark, label, *spec[label], barrier)

    threads = [threading.Thread(target=worker, args=(label,))
               for label in spec]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    for label in spec:
        assert _work(got[label]) == solo[label], label
        assert sum(s["tasks"] for s in got[label].stages) \
            == got[label].totals["tasks"]
    ids = [{s["id"] for s in got[label].stages} for label in spec]
    assert not ids[0] & ids[1]


def test_block_without_jobs_reports_zeros(spark):
    with obs.measure(spark, "idle") as m:
        pass
    assert m.stages == []
    steal = m.totals.pop("host_steal_ms")
    assert steal >= 0
    assert set(m.totals.values()) == {0}
    assert len(m.totals) == 12          # bench.py's diag keys + jobs


def test_nested_blocks_keep_the_callers_job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller", "caller")
    try:
        with obs.measure(spark, "outer") as outer:
            spark.range(10, numPartitions=3).count()
            with obs.measure(spark, "inner") as inner:
                spark.range(10, numPartitions=5).count()
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        sc._jsc.clearJobGroup()
    ids = {s["id"] for s in inner.stages}
    assert inner.totals["tasks"] > 0
    assert ids < {s["id"] for s in outer.stages}
    assert outer.totals["jobs"] > inner.totals["jobs"] > 0
    assert outer.totals["tasks"] == inner.totals["tasks"] + sum(
        s["tasks"] for s in outer.stages if s["id"] not in ids)


def test_bench_partitions_follow_data_size(tmp_path):
    small, big = tmp_path / "small", tmp_path / "big"
    small.mkdir()
    big.mkdir()
    (small / "orders.parquet").write_bytes(b"\0" * 4096)
    with open(big / "lineitem.parquet", "wb") as f:
        f.truncate(600 << 20)           # sparse: 600 MB on paper
    assert obs.bench_partitions(str(small), 12) == "8"
    assert obs.bench_partitions(str(big), 12) == "12"
    with pytest.raises(SystemExit):
        obs.bench_partitions(str(tmp_path / "missing"), 12)


def test_run_query_counts_or_collects():
    class Df:
        def count(self):
            return "counted"

        def collect(self):
            return [1, 2]

    assert [obs.run_query(Df(), n) for n in
            ("d2", "a1", "e1", "t3", "q1", "m1")] \
        == ["counted"] * 4 + [2, 2]
