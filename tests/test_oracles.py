"""Oracle parity for every ``queries()`` entry whose Spark operator is a
``row_map`` crossing, for the queries that commit through
``SnapshotTable`` (compaction, merge, time travel, pruned, incremental
and evolved reads), and for the queries over the text, similarity,
dedup, sampling, web, analytics, join and graph operators: each runs
on a local session and must match its ``oracle_sql()`` in DuckDB
(``scripts/check_entry.check_query``, the same compare the full sweep
runs), at the small test scale."""

import pytest

import __spark_entry__ as entry_mod
from scripts.check_entry import check_query, duckdb_views

ROW_MAP_QUERIES = sorted(
    [k for k in entry_mod.queries()
     if k.startswith("mm_") and k != "mm_binary_meta"]
    + ["dedup_image_phash",
       "flagship_extract", "flagship_extract_pdf", "flagship_extract_pdf15",
       "text_charset_breakdown", "text_charset_cjk",
       "text_charset_utf16_nobom", "text_nfc_normalize", "text_zlib_ratio",
       "warc_extract", "wet_roundtrip", "web_cdx_index",
       "warc_stream_extract", "sink_wds_roundtrip"])

#: queries committing through SnapshotTable not already listed above
TABLE_QUERIES = ["table_time_travel", "table_pruned_read",
                 "table_read_changes", "table_merge_upsert",
                 "table_schema_evolution", "capstone_incremental_dedup",
                 "w_stream_sketch_counts"]

#: the other queries over an operator whose column names and tuning
#: values are constants now rather than parameters
CONSTANT_QUERIES = [
    "a_funnel_steps", "a_retention_cohorts", "agg_count_min",
    "agg_salted_host_stats", "capstone_crawl_schedule",
    "capstone_pretrain_corpus", "capstone_web_pipeline",
    "capstone_web_pipeline_v2", "dedup_cdc_chunks", "dedup_clusters",
    "dedup_embedding_cosine", "dedup_minhash_lsh", "dedup_minhash_lsh_capped",
    "dedup_ngram_jaccard", "dedup_paragraphs", "dedup_prefix_jaccard",
    "dedup_semantic", "dedup_simhash_query", "dedup_substring",
    "dedup_substring_trim", "graph_pagerank_hosts", "j_asof_backward",
    "join_bloom_prefilter", "pipeline_corpus_filter",
    "pipeline_pack_sequences", "s6_artifact_manifest", "sample_hash_split",
    "sample_mixture_domains", "sample_mixture_domains_v2", "sample_reservoir",
    "sample_reservoir_weighted", "sample_temperature", "sim_cosine_all",
    "sim_cosine_topk", "sim_ivf_recall", "sim_ivf_topk",
    "sim_ivf_topk_indexed", "sim_kmeans_assign", "sim_quantize_int8",
    "sim_quantized_topk", "text_bm25_topk", "text_bpe_encode",
    "text_bpe_pairs", "text_bpe_vocab", "text_code_detect", "text_coherence",
    "text_confusables", "text_contamination", "text_fingerprint",
    "text_hash_classifier", "text_lang_id", "text_pii_scrub", "text_quality",
    "text_quality_v2", "text_repetition", "text_sentences", "text_tfidf_topk",
    "text_token_chunks", "text_token_count", "w_stream_interval_join",
    "w_stream_window_counts", "web_anchor_agg", "web_crawl_delay",
    "web_frontier_schedule", "web_robots_allow", "web_robots_filter",
    "web_robots_sitemaps", "web_sitemap_urls", "web_table_extract"]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb_views(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ROW_MAP_QUERIES)
def test_row_map_query_matches_oracle(spark, duck, sf_dir, name):
    _rows, problem = check_query(spark, duck, name, sf_dir)
    assert problem is None, f"{name}: {problem}"


@pytest.mark.parametrize("name", TABLE_QUERIES)
def test_table_query_matches_oracle(spark, duck, sf_dir, name):
    _rows, problem = check_query(spark, duck, name, sf_dir)
    assert problem is None, f"{name}: {problem}"


@pytest.mark.parametrize("name", CONSTANT_QUERIES)
def test_constant_operator_query_matches_oracle(spark, duck, sf_dir, name):
    _rows, problem = check_query(spark, duck, name, sf_dir)
    assert problem is None, f"{name}: {problem}"
