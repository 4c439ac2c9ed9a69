"""The correctness gate, locally: every queries() entry vs its
DuckDB oracle at sf0.001 (fast; the driver repeats this at sf0.01).
Mirrors SURVEY.md §5."""

import pytest

import __spark_entry__ as entry_mod
from oracle_harness import compare

QS = entry_mod.queries()
OS = entry_mod.oracle_sql()

# The verify-window tail (r13, VERDICT r12 ask #2): the full 2×207
# parametrization takes ~20 min of the ~40 min suite, and the
# external driver's window truncated the default run at ~96% with
# zero failures (VERIFY_r12). Queries here run only under `-m slow`
# (or `-m "slow or not slow"` for everything): the availableNow
# streaming drains (micro-batch machinery floor, 3-10 s each even at
# sf0.001) and the ops whose full-gate time is >= ~8 s or whose
# sf0.001 oracle test measured > 5.5 s. The 12 bench-headline
# queries and every money-converted query stay in the default run;
# the slow set still gates every round locally (full-suite runs in
# OPTIMIZATION_r13.md) and via tools/gate_check.py, which always
# runs all 207. Operators rewritten into NumPy kernels (d5, d14, d27,
# a6) are back in the default run: each is under 15 s at sf0.001.
SLOW_ORACLE = {
    "a11_mmr_diversified", "a12_ivfpq_ann", "a5_pq_ann",
    "a7_ann_recall", "a9_mih_hamming_ann",
    "d12_dedup_eval", "d13_dedup_apply",
    "d16_cdc_chunk_dedup", "d19_unicode_shingle_dedup",
    "d21_repeated_substring_excision", "d22_prefix_filter_join",
    "d23_benchmark_span_excision", "d24_cc_two_phase",
    "d25_chunk_cluster",
    "d3_simhash_dedup", "d4_ngram_jaccard",
    "d6_dedup_clusters", "d7_contamination", "d9_incremental_lsh",
    "e10_late_data_policy", "e11_streaming_sessions",
    "e12_stream_static_join", "e13_checkpoint_resume",
    "e14_streaming_upsert", "e15_stream_left_outer",
    "e16_connector_stream", "e17_streaming_dedup_ingest",
    "e18_streaming_quality_router", "e19_idempotent_replay",
    "e20_streaming_neardup_ingest", "e21_watermark_dedup",
    "e22_streaming_contamination_guard",
    "e23_stateful_quota_admission", "e24_streaming_cms_maintenance",
    "e25_streaming_hll_distinct", "e3_streaming_hourly",
    "e6_stateful_anomaly", "e7_streaming_dedup",
    "e8_stream_stream_join", "e9_stream_ingest_store",
    "m14_page_pruned_scan", "m15_dhash_neardup",
    "m16_dictionary_audit", "t14_bpe_train", "t15_bpe_encode",
    "t17_perplexity_buckets", "t22_unigram_lm_encode",
    "x12_corpus_compile", "x13_neardup_safe_split",
    "x17_dsir_select", "x20_source_overlap_matrix",
    "t20_kneser_ney_logprob", "t21_unigram_lm_train", "d17_lsh_param_sweep",
    "d18_doc_novelty", "d26_neardup_apply", "d11_verbatim_spans",
    "x1_sketch_aggregates", "w19_ema_daily_revenue", "w22_ltob_downsample",
    "q23_session_sql", "p15_bucketed_colocated_join", "a2_lsh_ann",
    "ds6_top_customers_per_region", "m12_pruned_rowgroup_scan",
    "t25_pmi_collocations", "a10_filtered_ann",
}


def _oracle_params(names):
    return [pytest.param(n, marks=pytest.mark.slow)
            if n in SLOW_ORACLE else n for n in sorted(names)]


def test_keys_align():
    assert set(OS) <= set(QS)


@pytest.mark.parametrize("name", _oracle_params(QS))
def test_query_against_oracle(name, spark, sf_dir):
    df = QS[name](spark, sf_dir)
    if name in OS:
        ok, problems = compare(name, df, OS[name], sf_dir, verbose=False)
        assert ok, problems
    else:
        assert df.count() >= 0  # rows-only contract


def test_entry_contract(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"


_DUCK_NORM = {"BIGINT": "i64", "INTEGER": "i32", "SMALLINT": "i16",
              "TINYINT": "i8", "HUGEINT": "i128", "DOUBLE": "f64",
              "FLOAT": "f32", "VARCHAR": "str", "BOOLEAN": "bool",
              "DATE": "date", "TIMESTAMP": "ts", "BLOB": "bin",
              "TIMESTAMP WITH TIME ZONE": "tstz", "UBIGINT": "u64",
              "VARCHAR[]": "list<str>"}
_SPARK_NORM = {"bigint": "i64", "int": "i32", "smallint": "i16",
               "tinyint": "i8", "double": "f64", "float": "f32",
               "string": "str", "boolean": "bool", "date": "date",
               "timestamp_ntz": "ts", "timestamp": "tstz", "binary": "bin",
               "array<string>": "list<str>"}


@pytest.mark.parametrize("name", _oracle_params(OS))
def test_oracle_types_align(name, spark, sf_dir):
    """The driver's value hash is type-sensitive: an uncast integer
    SUM (Spark BIGINT vs DuckDB HUGEINT) hash-fails even when every
    value matches (round-2 q12/p2/w6 bug class). Pin the normalized
    result schema of both engines for every oracle query."""
    import duckdb
    from oracle_harness import TABLES
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    rel = con.sql(OS[name])
    duck = {c: _DUCK_NORM.get(str(t).upper(), str(t).upper())
            for c, t in zip(rel.columns, rel.types)}
    con.close()
    df = QS[name](spark, sf_dir)
    spk = {c: _SPARK_NORM.get(t, t) for c, t in df.dtypes}
    assert spk == duck
