"""Scale-pattern tests: bucketed co-located joins (no Exchange) and
salted skew joins (SURVEY.md §4). These assert the *plan shape*, not
just results — the properties that matter at 100 TB."""

import pytest

from pyspark.sql import functions as F


def test_salted_join_correctness(spark):
    from postgres_scanner_spark.operators.skew import salted_join
    # hot key: 90% of big rows share key 1
    big = spark.range(0, 1000).select(
        F.when(F.col("id") < 900, 1).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"))
    small = spark.createDataFrame(
        [(1, "hot"), (950, "cold")], "k BIGINT, name STRING")
    out = salted_join(big, small, "k")
    rows = out.collect()
    assert len(rows) == 901           # 900 hot + 1 cold
    plain = big.join(small, "k").collect()
    assert sorted((r.k, r.v, r.name) for r in rows) == \
        sorted((r.k, r.v, r.name) for r in plain)


def test_salted_join_spreads_hot_key(spark):
    from postgres_scanner_spark.operators.skew import salted_join
    big = spark.range(0, 1000).select(F.lit(1).alias("k"),
                                      F.col("id").alias("v"))
    small = spark.createDataFrame([(1, "x")], "k BIGINT, name STRING")
    out = salted_join(big, small, "k", salt=8)
    # the hot key must occupy >1 salt bucket
    n_buckets = (big.withColumn(
        "_salt", F.pmod(F.xxhash64(*big.columns), F.lit(8)))
        .select("_salt").distinct().count())
    assert n_buckets > 1
    assert out.count() == 1000


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Pre-bucketed tables co-locate join keys: the sort-merge join
    plan contains no shuffle Exchange on either side — at scale this
    is the difference between a local join and moving the fact table."""
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    (o.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
     .mode("overwrite").saveAsTable("b_orders"))
    (l.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
     .mode("overwrite").saveAsTable("b_lineitem"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_d5_plan_has_no_nested_loop_join(spark):
    """D5's all-pairs cosine must decompose into block-pair equi-joins;
    a `vec_id < vec_id` theta-join plans as BroadcastNestedLoopJoin,
    which serializes O(n²) work — the 100 TB killer VERDICT r2 flagged."""
    from postgres_scanner_spark.operators.dedup import d5_embedding_dedup
    df = d5_embedding_dedup(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_d4_hot_shingle_cap_applied(spark):
    """The inverted index must drop shingles with df above the corpus
    fraction cap before the self-join (hot posting lists make the
    s = s join quadratic in their length)."""
    from postgres_scanner_spark.operators import dedup
    docs = spark.createDataFrame(
        [(i, "common common " + ("alpha beta " if i % 2 else "gamma delta ")
          + f"unique{i} tail{i}") for i in range(10)],
        "doc_id INT, text STRING")
    shx = (dedup.with_shingles(docs, 2)
           .select("doc_id", F.explode("shingles").alias("s")).distinct())
    # "common common" appears in every doc — over the 0.5 cap
    hot_df = shx.filter(F.col("s") == "common common").count()
    assert hot_df == 10
    import re
    assert re.search(r"HAVING COUNT\(\*\) <=",
                     dedup._D4_SQL), "oracle must apply the same cap"
    import inspect
    src = inspect.getsource(dedup.d4_ngram_jaccard)
    assert "_D4_MAX_DF_FRAC" in src


def test_d2_candidate_semijoin_no_forced_broadcast():
    """dedup.py must not hard-hint broadcast on the candidate set —
    a pathological corpus makes it arbitrarily large; AQE decides."""
    import inspect
    from postgres_scanner_spark.operators import dedup
    src = inspect.getsource(dedup.d2_minhash_lsh_dedup)
    assert "F.broadcast(cand_ids)" not in src


def test_concurrent_queries(spark):
    """Concurrent query execution against the same session/tables
    (reference: attach_concurrent_queries.test, concurrency_test.cpp) —
    Spark's scheduler interleaves jobs from multiple threads."""
    from concurrent.futures import ThreadPoolExecutor
    from postgres_scanner_spark.functions import tpch
    sf = "/root/testdata/sf0.001"
    with ThreadPoolExecutor(max_workers=4) as ex:
        futs = [
            ex.submit(lambda: tpch.q1_pricing_summary(spark, sf).count()),
            ex.submit(lambda: tpch.q6_forecast_revenue(spark, sf).count()),
            ex.submit(lambda: tpch.q13_customer_distribution(spark, sf).count()),
            ex.submit(lambda: tpch.q21_suppliers_waiting(spark, sf).count()),
        ]
        results = [f.result(timeout=300) for f in futs]
    assert all(r > 0 for r in results)


def test_new_ops_no_quadratic_joins(spark):
    """d6/d7/t7 must plan without nested-loop or cartesian joins —
    the star-edge construction (d6) and shingle semi-join (d7) exist
    precisely to avoid all-pairs work at 100 TB. d7's single
    permitted BNLJ is the 1-row Bloom-bitmap broadcast; the shingle
    joins themselves must stay hash-based."""
    from postgres_scanner_spark.functions import text
    from postgres_scanner_spark.operators import dedup
    sf = "/root/testdata/sf0.001"
    _, _, edges = dedup._d6_graph(spark, sf)
    for df, nlj_cap in ((edges, 0),
                        (dedup.d7_contamination(spark, sf), 1),
                        (text.t7_repetition_stats(spark, sf), 0)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastNestedLoopJoin") <= nlj_cap
        assert "CartesianProduct" not in plan


def test_d6_converges_in_few_rounds(spark):
    """The star-edge graph bounds component diameter, so min-label
    propagation must converge well inside the iteration cap."""
    from postgres_scanner_spark.operators import dedup
    df = dedup.d6_dedup_clusters(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) > 0
    # plants guarantee: cluster 0 holds doc 0, its exact copy
    # (+100000) and its prefix mutant (+200000) — possibly more if the
    # tiny corpus has natural dups (the oracle agrees either way)
    c0 = {r.cluster_id: r for r in rows}.get(0)
    assert c0 is not None and c0.n_members >= 3
    assert c0.member_max == 200000


@pytest.mark.slow
def test_plan_lint_all_queries(spark):
    """Engine-wide plan lint: NO CartesianProduct anywhere, and
    BroadcastNestedLoopJoin only where a tiny side is broadcast BY
    DESIGN (scalar aggregates, brute-force query sets, centroid
    tables). Any new query that accidentally plans a quadratic join
    fails here before it ever reaches the driver."""
    import __spark_entry__ as entry
    sf = "/root/testdata/sf0.001"
    # intentional broadcast-crossJoins (small side bounded by design)
    nlj_ok = {
        "a1_cosine_topk",      # query set (5 rows) × corpus
        "a3_ivf_ann",          # corpus × 8 centroids, probes × lists
        "a4_knn_label",        # query set (50 rows) × corpus
        "a5_pq_ann",           # corpus × 8 subspace ids, × 16 centroids
        "a6_kmeans_lloyd",     # corpus × 4 centroids (model params)
        "a7_ann_recall",       # composes a1 (query-set × corpus)
        "a8_sq8_ann",          # 1-row min/max stats + query set broadcast
        "d4_ngram_jaccard",    # scalar n_docs bound into the DF cap
        "d7_contamination",    # 1-row Bloom bitmap broadcast over train
        "d12_dedup_eval",      # three scalar aggregates cross-joined
        "d14_semantic_dedup",  # corpus × 4 centroids (A6's assignment)
        "d27_scaled_semantic_dedup",  # corpus × 4 centroids, as d14
        "q11_important_stock",     # scalar total-value threshold
        "q22_global_sales_opportunity",  # scalar avg balance
        "t10_tfidf_keywords",      # scalar corpus size N → idf
        "t12_zipf_fit",            # two single-row aggregates joined
        "x4_source_mix",           # scalar corpus totals → quotas
        "x8_epoch_plan",           # scalar corpus average → repeat tiers
        "w15_gapfill_locf",        # 1-row hour-span aggregate × types
        "t17_perplexity_buckets",  # 1-row vocab/token-count stats
        "x12_corpus_compile",      # |sources|-row quota summary windows
        "ds16_above_avg_balance_nations",  # 1-row global-average scalar
        "ds17_substr_cohort_revenue",      # 1-row global-average scalar
        "a10_filtered_ann",        # query set (5 rows) × corpus, as A1
        "a11_mmr_diversified",     # query set (5 rows) × corpus, as A1
        "d17_lsh_param_sweep",     # 1-row n_truth scalar × 3 configs
        "d19_unicode_shingle_dedup",  # scalar n_docs → DF cap, as d4
        "t19_source_kl_divergence",   # 1-row corpus token total scalar
        "m12_pruned_rowgroup_scan",   # 1-row max-key scalar × rg rows
        "a12_ivfpq_ann",              # corpus × 8 centroids / 16 subcents
        "x15_length_bucketed_batches",  # 1-row global-max baseline scalar
        "x16_domain_reweight",          # 1-row mean-loss + normalizer scalars
        "x17_dsir_select",              # 1-row gram-total scalar (S_t, S_r)
        "q15_top_supplier",             # 1-row global-max revenue scalar
        "t20_kneser_ney_logprob",       # 1-row bigram-type total (N1+(*,*))
        "a13_norm_bound_mips",          # query set (5) + 32-seed broadcast
        "t21_unigram_lm_train",         # 1-row piece-score map broadcast
        "t22_unigram_lm_encode",        # 1-row trained-model map broadcast
        "m14_page_pruned_scan",         # 1-row max-key scalar, as m12
        "x20_source_overlap_matrix",    # 20-row per-source size grid
        "t25_pmi_collocations",         # 1-row token/bigram totals scalar
        "e25_streaming_hll_distinct",   # two 1-row aggs cross-joined
    }
    streaming = {"e3_streaming_hourly", "e6_stateful_anomaly",
                 "e7_streaming_dedup", "e8_stream_stream_join",
                 "e9_stream_ingest_store"}
    # Unpartitioned windows move ALL rows to one partition — a
    # scale-killer on corpus-sized input. These queries' global
    # windows are over inputs bounded BY CONSTRUCTION (an aggregate
    # or limit upstream caps the row count independent of SF); the
    # WindowExec "No Partition Defined" WARN is silenced in
    # get_spark() precisely because THIS assertion is the guard.
    window_ok = {
        "ds2_weekday_share",       # 7 weekday rows
        "ds5_nation_share",        # 25 nation rows
        "ds20_category_share_window",  # |brand×type| agg rows
        "m9_shard_repack_plan",    # ≤|buckets| bucket-total rows
        "t17_perplexity_buckets",  # quantile cutoffs over doc aggs
        "w4_moving_avg",           # ~84 month rows
        "w12_range_frame",         # ~2500 day rows
        "x5_sequence_pack",        # 256 bucket-total rows
        "x6_global_shuffle",       # 256 bucket-total rows
        "x11_quality_topk_sample", # post-limit top-k rank
        "x18_weighted_reservoir_sample",  # 64 rows post-limit
    }

    def unpartitioned_windows(plan: str) -> list[str]:
        # physical Window nodes print as
        #   Window [funcs], [partitionSpec], [orderSpec]   (3 groups)
        #   Window [funcs], [orderSpec]                    (2 groups)
        # funcs/specs contain parens but never nested "], [", so the
        # separator count distinguishes the two shapes
        out = []
        for line in plan.splitlines():
            s = line.strip().lstrip("+-*: ").strip()
            if s.startswith("Window ") and s.count("], [") == 1:
                out.append(s[:120])
        return out

    for name, fn in sorted(entry.queries().items()):
        if name in streaming:      # plans materialize at drain time
            continue
        plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        if name not in nlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, name
        if name not in window_ok:
            assert unpartitioned_windows(plan) == [], name


def test_d14_subset_of_exhaustive(spark):
    """SemDeDup prunes the pair space by clustering — it trades
    recall for boundedness, so every pair it reports must also be in
    D5's exhaustive all-pairs result at the same τ, and its tile
    join must stay an equi-join (the generic lint pins the plan)."""
    from postgres_scanner_spark.operators import dedup
    sf = "/root/testdata/sf0.001"
    sem = dedup.d14_semantic_dedup(spark, sf).collect()
    assert sem, "tiny corpus must still produce co-clustered pairs"
    exact = {(r.vec_a, r.vec_b)
             for r in dedup.d5_embedding_dedup(spark, sf).collect()}
    for r in sem:
        assert (r.kept_vec, r.dropped_vec) in exact, r
        assert r.kept_vec < r.dropped_vec


def test_partition_pruned_time_scan(spark, tmp_path):
    """Hive-partitioned time layout prunes at planning: a one-day
    filter over a date-partitioned events copy must push a partition
    filter and scan ~1/30th of the files — the layout a 100 TB event
    lake uses so W9-style tail queries cost O(day), not O(history)."""
    import re
    from postgres_scanner_spark import tables
    src = tables.load(spark, "/root/testdata/sf0.001", "events")
    out = str(tmp_path / "events_by_day")
    (src.withColumn("day", F.to_date("ts"))
        .write.partitionBy("day").mode("overwrite").parquet(out))
    df = spark.read.parquet(out).filter(F.col("day") == "2024-01-05")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "day" in m.group(1), plan[:500]
    # the pruned scan reads only the one day's rows
    import datetime
    expect = src.filter(F.to_date("ts") == datetime.date(2024, 1, 5)).count()
    assert df.count() == expect > 0


def test_d7_bloom_prefilter(spark):
    """D7's 100 TB refinement: a broadcast Bloom over the (small,
    fixed) eval shingle set filters the corpus shingles MAP-SIDE.
    Pins the two properties that make it sound and worth having:
    zero false negatives (result-preserving), and true-negative
    elimination well above 95% (the shuffled corpus side shrinks by
    ~the fp rate) — plus the filter's presence in d7's actual plan."""
    from pyspark.sql import functions as F
    from postgres_scanner_spark.operators.dedup import (
        bloom_build, bloom_might_contain, d7_contamination,
    )

    m = 1 << 17
    keys = spark.range(1000).selectExpr("concat('k', id) AS s")
    bloom = bloom_build(keys, "s", m)
    # every built key passes — false negatives would drop real hits
    hits = (keys.crossJoin(F.broadcast(bloom))
            .filter(bloom_might_contain("s", m)).count())
    assert hits == 1000
    # a disjoint 200k-key corpus is map-side eliminated ~= fp rate
    corpus = spark.range(200_000).selectExpr("concat('c', id) AS s")
    passed = (corpus.crossJoin(F.broadcast(bloom))
              .filter(bloom_might_contain("s", m)).count())
    assert passed < 200_000 * 0.05, passed
    # and d7's executed plan carries the membership filter (bit_get
    # only occurs in the Bloom test) on the train side
    plan = d7_contamination(spark, "/root/testdata/sf0.001") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "bit_get" in plan


def test_connection_limit_concurrent_scans(registered, pg, pg_server):
    """reference: attach_connection_pool.test intent — when concurrent
    scans want more source connections than pg_connection_limit, the
    engine QUEUES (each query plans at most `limit` scan tasks and
    Spark's scheduler drains them as slots free) rather than failing
    or oversubscribing. Uncapped, the scan plans 10 tasks; 4
    concurrent scans against a 2-connection limit must all return
    complete, correct results, and each query's plan must carry at
    most 2 source partitions."""
    import threading

    spark = registered
    pg.cursor().execute("CREATE TABLE IF NOT EXISTS sp_big AS "
                        "SELECT g::int8 AS id FROM generate_series(0, 4095) g")

    def scan(**settings):
        return (spark.read.format("postgres_scan")
                .option("dsn", pg_server)
                .option("table", "sp_big")
                .option("approx_pages", "1024")
                .option("pg_pages_per_task", "100")   # 10 tasks
                .options(**settings).load())

    assert scan().rdd.getNumPartitions() >= 10
    # the cap binds at plan time: <= 2 source partitions per query
    assert scan(pg_connection_limit="2").rdd.getNumPartitions() == 2

    results, errors = [None] * 4, []

    def worker(i):
        try:
            df = scan(pg_connection_limit="2").agg({"id": "sum"})
            results[i] = df.collect()[0][0]
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(i,))
               for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not errors, errors
    assert results == [4096 * 4095 // 2] * 4


def test_aqe_skew_join_split_fires(spark):
    """PROOF, not assumption, that Spark's AQE skew-join split
    rescues the documented Zipf-hot shuffle joins (t9/t15/t17 token
    joins list AQE skew-split as their mitigation): build a join
    with one mega-hot key, lower the skew thresholds to sandbox
    scale, and assert the FINAL adaptive plan marked the sort-merge
    join skew=true (the hot partition was split) while producing
    exact results. At production scale the same trigger fires at the
    default 256 MB threshold."""
    confs = {
        # force the shuffle-join path (skew split only applies there)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # sandbox-sized skew thresholds (prod default: 256 MB / 5x)
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        # keep AQE from first coalescing the skew away
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # Zipf-extreme: 95% of the fact side shares token 'the'
        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit("the"))
            .otherwise(F.concat(F.lit("tok_"), F.col("id")))
            .alias("tok"),
            F.col("id").alias("v"))
        dim = spark.range(0, 50_000).select(
            F.when(F.col("id") == 0, F.lit("the"))
            .otherwise(F.concat(F.lit("tok_"), F.col("id") * 20))
            .alias("tok"),
            (F.col("id") * 2).alias("w"))
        joined = fact.join(dim, "tok")
        agg = joined.agg(F.count("*").alias("n"),
                         F.sum(F.col("v") + F.col("w")).alias("s"))
        row = agg.collect()[0]
        # exact expectation: hot key 190k×1 + 9,999 cold matches
        # (fact's tok_0 has no dim partner: dim id=0 is the hot key)
        assert row.n == 190_000 + 9_999
        # the FINAL adaptive plan of the executed query carries the
        # skew flag on the sort-merge join node
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
