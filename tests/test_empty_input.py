"""Empty-input robustness: every op must DEGRADE on a zero-row corpus —
empty results, empty indexes, NULL rates — never crash. Empty partitions
and empty sources are routine at 100 TB (a new tenant, a filtered
day-slice, a cold-start corpus); this sweep drives the ops that
previously crashed on them (quantizer fits, PCA, pagerank, SQLite
staging, empty-write parquet read-backs, ANSI divide-by-zero) plus a
representative op per family.

Known cross-engine divergence pinned here rather than hidden: Spark's
rollup/cube emit ZERO rows on empty input while the SQL standard (and
DuckDB) emit the grand-total row — see agg_rollup's docstring.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

pytestmark = pytest.mark.mutant_sweep  # mutated-fixture sweep module (see README: three-command split)

from sqlite_to_clickhouse_spark.io import TABLES
from sqlite_to_clickhouse_spark.registry import all_queries

_Q = all_queries()

_OPS = [
    # previously crashed on empty input (the fixes under test)
    "scan_jdbc",
    "sink_parquet",
    "migrate_sqlite_roundtrip",
    "sink_partitioned_parquet",
    "join_dynamic_partition_pruning",
    "sim_pq_quantize",
    "sim_ivfpq_search",
    "sim_index_build",
    "sim_index_query",
    "embedding_pca_project",
    "pipeline_dataset_card",
    "graph_pagerank",
    # one representative per family
    "pricing_summary",
    "join_inner_hash",
    "window_rank",
    "dedup_fuzzy_minhash",
    "sim_topk_cosine",
    "text_tfidf",
    "events_sessionize",
    "graph_triangle_count",
    "sample_temperature",
    # seventh batch (empty-driven green when added; pinned here)
    "text_ngram_novelty",
    "set_intersect_all",
    "join_bucketed_colocated",
    "sink_partition_overwrite_dynamic",
    "filter_not_in_null_aware",
    # round-7 additions (freeze lifted)
    "fn_morton",
    # round-8 additions (freeze lifted)
    "dedup_index_build",
    "dedup_incremental",
    "dedup_index_compact",
    "stream_incremental_dedup",
    "dedup_cluster_stats",
    "dedup_threshold_sweep",
    "dedup_lsh_recall",
    "embedding_label_centroids",
    "text_hashing_vectorizer",
    "dedup_simhash_nn",
    "pipeline_data_quality",
    "events_active_users",
    "fn_geohash",
    "sample_exact_quota",
    # round-9 additions (freeze lifted)
    "dedup_incremental_deletes",
    "dedup_index_delete_compact",
    "sim_index_append",
    "sim_index_incremental",
    "sim_index_delete",
    "sim_index_delete_compact",
    "stream_incremental_dedup_deletes",
    # round-9 session-2 additions: ER family + sequence/overlap analytics
    "er_blocked_pairs",
    "er_clusters",
    "er_golden_record",
    "events_sequence_match",
    "text_source_overlap",
    "sample_mixture_weights",
    "dedup_url_canonical",
    "text_bigram_logprob",
    "maintenance_ttl_partition_drop",
    "stream_type_drift",
    # empty table -> empty manifests; both snapshots read back as empty
    "sink_time_travel",
    # no vectors -> no centroids, no pairs, every-row-keeps degrades to 0
    "dedup_embedding_apply",
    # empty manifests: vacuum of nothing is safe, reads stay empty
    "maintenance_snapshot_vacuum",
    # empty catalog AND empty batch: no candidates, no output rows
    "er_incremental_match",
    "er_golden_record_incremental",
    # empty table -> empty manifest -> typed empty result
    "maintenance_partition_compact",
    # no vectors -> no probes, all-zero hit rows
    "embedding_matryoshka_recall",
    # empty catalog: no external variants, no candidates
    "er_reordered_match",
    "fn_dict_hierarchy",
    "events_funnel_strict_order",
    "sample_token_quota",
    "query_growth_decomposition",
    "sink_shallow_clone",
    # empty dim -> zero-row CSV -> all-zero aggregate row
    "scan_csv_permissive",
    # round-10 additions: persisted ER index lifecycle (empty catalog ->
    # empty store relations, empty maps, zero-row compaction equality)
    # and the ANN drift monitor (no quantizer -> all-False degenerate row
    # triple, the documented rebuild-needed answer)
    "er_index_build",
    "er_incremental",
    "er_index_append",
    "er_index_delete",
    "er_index_delete_compact",
    "sim_index_retrain_check",
]


@pytest.fixture(scope="module")
def empty_sf_dir(sf_dir, tmp_path_factory):
    dst = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        tab = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        pq.write_table(tab.slice(0, 0), str(dst / f"{t}.parquet"))
    return str(dst)


# Ops with a legitimately larger fixed empty-corpus output, each with its
# exact expected row count — everything else keeps the tight generic bound
# (bound-as-result gates emit a handful of invariant rows; plain ops one
# all-NULL/zero aggregate row or nothing).
_EMPTY_ROWS_EXACT = {
    "pipeline_data_quality": 6,  # one all-zero profile row per column
}


@pytest.mark.parametrize("name", _OPS)
def test_op_degrades_on_empty_corpus(spark, empty_sf_dir, name):
    df = _Q[name].fn(spark, empty_sf_dir)
    rows = df.collect()
    assert df.columns  # schema survives
    if name in _EMPTY_ROWS_EXACT:
        assert len(rows) == _EMPTY_ROWS_EXACT[name]
    else:
        assert len(rows) <= 5


@pytest.mark.parametrize("api", ["ann_index_query", "ivfpq_topk"])
def test_ivfpq_query_degrades_on_empty_probe_frame(spark, sf_dir, api):
    """A zero-row probe frame against a NON-empty corpus returns the empty
    (probe_id, vec_id, cosine) frame — it used to raise numpy's AxisError
    from the probe-norm step."""
    from pyspark.sql import functions as F

    from sqlite_to_clickhouse_spark.io import table
    from sqlite_to_clickhouse_spark.operators import similarity as sim

    e = table(spark, sf_dir, "embeddings")
    probes = e.filter(F.lit(False)).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p_emb")
    )
    if api == "ann_index_query":
        path, _ = sim._ensure_index(spark, sf_dir)
        df = sim.ann_index_query(spark, e, path, probes, k=sim.TOP_K, nprobe=sim.NPROBE)
    else:
        df = sim.ivfpq_topk(e, probes, k=sim.TOP_K, nprobe=sim.NPROBE)
    assert df.columns == ["probe_id", "vec_id", "cosine"]
    assert df.collect() == []


_BLANK_OPS = [
    # divide-by-zero / banding hazards found by the blank-document sweep
    "dedup_fuzzy_minhash",
    "dedup_index_build",
    "dedup_incremental",
    "dedup_index_compact",
    "stream_incremental_dedup",
    "dedup_cluster_stats",
    "dedup_threshold_sweep",
    "dedup_lsh_recall",
    "dedup_connected_components",
    "dedup_corpus_apply",
    "dedup_keep_best",
    "text_char_entropy",
    "text_compression_ratio",
    # blank docs = all-zero simhash fingerprints: must be dropped pre-band
    "dedup_simhash_nn",
    # round-9: tombstoned lookup/compaction share the banding front half
    "dedup_incremental_deletes",
    "dedup_index_delete_compact",
    "stream_incremental_dedup_deletes",
    # round-9 session 2: blank docs contribute zero tokens to their
    # source's vocabulary identically in both engines
    "text_source_overlap",
    # blank docs = zero-token sources in the mixture denominator
    "sample_mixture_weights",
    # blank docs have no bigrams: must vanish identically on both sides
    "text_bigram_logprob",
]


@pytest.fixture(scope="module")
def blank_docs_sf_dir(sf_dir, tmp_path_factory):
    """Every 9th document's text becomes the EMPTY STRING (not NULL) —
    the blank-boilerplate case that creates zero token sets (0/0 Jaccard
    under ANSI mode) and, pre-fix, ONE quadratic LSH hot bucket of
    mutually-banded blank docs."""
    import shutil

    dst = tmp_path_factory.mktemp("sf_blank")
    for t in TABLES:
        if t != "documents":
            shutil.copy(os.path.join(sf_dir, f"{t}.parquet"), str(dst / f"{t}.parquet"))
    tab = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    texts = tab.column("text").to_pylist()
    out = ["" if (t is not None and i % 9 == 4) else t for i, t in enumerate(texts)]
    cols = {n: tab.column(n) for n in tab.schema.names}
    cols["text"] = pa.array(out, pa.string())
    cols["n_chars"] = pa.array(
        [None if t is None else len(t) for t in out], pa.int64()
    )
    pq.write_table(pa.table(cols), str(dst / "documents.parquet"))
    return str(dst)


@pytest.mark.parametrize("name", _BLANK_OPS)
def test_op_handles_blank_documents(spark, blank_docs_sf_dir, name):
    import duckdb

    q = _Q[name]
    df = q.fn(spark, blank_docs_sf_dir)
    if q.oracle is None:
        assert df.count() >= 0 and df.columns
        return
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{blank_docs_sf_dir}/{t}.parquet'"
        )
    try:
        from tests.utils import assert_df_matches_oracle

        assert_df_matches_oracle(df, con, q.oracle, name=name)
    finally:
        con.close()
