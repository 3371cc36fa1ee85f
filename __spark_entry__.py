"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship pipeline on sf0.001 — derived pages ->
  attribute filter -> grid cell -> PIP lookup (broadcast kernel, no join)
  -> per-admin rollup.
- ``queries()``: one callable per implemented operator (SURVEY.md §2).
- ``oracle_sql()``: DuckDB-equivalent SQL per query.

Both read ``_TABLE``; the builders and oracles live in ``gate_queries/``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gate_queries import (  # noqa: E402
    crawl, graph, media, sketch, spatial, tables, text, tiles, vectors,
)
from gate_queries.common import _admin_index  # noqa: E402
from ot_spark import filters, pagesview  # noqa: E402
from ot_spark.enrich_fused import spatial_enrich  # noqa: E402

# One row per gate query: (name, builder, oracle).  An oracle is the SQL, a
# zero-argument function returning it (called only by oracle_sql()) or None
# (rows-only).  The driver attests the first 50 rows: the order is contract.
_TABLE = (
    ("windowed_counts", tables.q_windowed_counts, tables.WINDOWED_COUNTS_ORACLE_SQL),
    ("s2_tiles", tiles.q_s2_tiles, tiles.s2_tiles_oracle_sql),
    ("h3_tiles", tiles.q_h3_tiles, tiles.h3x_tiles_oracle_sql),
    ("knn_raster", tiles.q_knn_raster, tiles.knn_raster_oracle_sql),
    ("elevation", spatial.q_elevation, spatial.elevation_oracle_sql),
    ("elevation_projected", spatial.q_elevation_projected, spatial.elevation_projected_oracle_sql),
    ("interpolate", spatial.q_interpolate, spatial.INTERPOLATE_ORACLE_SQL),
    ("split_threshold", spatial.q_split_threshold, spatial.SPLIT_THRESHOLD_ORACLE_SQL),
    ("minhash", sketch.q_minhash, sketch.MINHASH_ORACLE_SQL),
    ("lsh_bands", sketch.q_lsh_bands, sketch.LSH_BANDS_ORACLE_SQL),
    ("minhash_dedup", sketch.q_minhash_dedup, sketch.MINHASH_DEDUP_ORACLE_SQL),
    ("minhash_dedup_cc", sketch.q_minhash_dedup_cc, sketch.MINHASH_DEDUP_CC_ORACLE_SQL),
    ("ivf_cells", vectors.q_ivf_cells, vectors.ivf_oracle_sql),
    ("image_features", media.q_image_features, media.IMAGE_FEATURES_ORACLE_SQL),
    ("ngram_jaccard", sketch.q_ngram_jaccard, sketch.jaccard_oracle_sql),
    ("quality", text.q_quality, text.quality_oracle_sql),
    ("langid", text.q_langid, text.langid_oracle_sql),
    ("topk_cosine", vectors.q_topk_cosine, vectors.TOPK_COSINE_ORACLE_SQL),
    ("simhash_pairs", sketch.q_simhash_pairs, sketch.simhash_oracle_sql),
    ("fingerprint", sketch.q_fingerprint, sketch.fingerprint_oracle_sql),
    ("repetition", text.q_repetition, text.repetition_oracle_sql),
    ("pii_scrub", text.q_pii_scrub, text.pii_scrub_oracle_sql),
    ("substring_dup", sketch.q_substring_dup, sketch.substring_dup_oracle_sql),
    ("lsh_ann", vectors.q_lsh_ann, vectors.lsh_ann_oracle_sql),
    ("embedding_pairs", vectors.q_embedding_pairs, vectors.embedding_pairs_oracle_sql),
    ("complex_filter", spatial.q_complex_filter, spatial.complex_filter_oracle_sql),
    ("tag_projection", spatial.q_tag_projection, spatial.tag_projection_oracle_sql),
    ("grid_cell", spatial.q_grid_cell, spatial.grid_cell_oracle_sql),
    ("salted_cells", spatial.q_salted_cells, spatial.salted_cells_oracle_sql),
    ("pip_admin", spatial.q_pip_admin, spatial.PIP_GEOMETRIC_SQL),
    ("pip_admin_loaded", spatial.q_pip_admin_loaded, spatial.PIP_GEOMETRIC_SQL),
    ("admin_stats", spatial.q_admin_stats, spatial.admin_stats_oracle_sql),
    ("element_counts", spatial.q_element_counts, spatial.element_counts_oracle_sql),
    ("elevation_stats", spatial.q_elevation_stats, spatial.elevation_stats_oracle_sql),
    ("semi_join", tables.q_semi_join, tables.SEMI_JOIN_ORACLE_SQL),
    ("semi_join_members", spatial.q_semi_join_members, spatial.SEMI_MEMBERS_ORACLE_SQL),
    ("split_ways", spatial.q_split_ways, spatial.split_ways_oracle_sql),
    ("filter_by_value", spatial.q_filter_by_value, spatial.filter_by_value_oracle_sql),
    ("filter_by_keys", spatial.q_filter_by_keys, spatial.filter_by_keys_oracle_sql),
    ("remove_metadata", spatial.q_remove_metadata, spatial.REMOVE_METADATA_ORACLE_SQL),
    ("lineage_resume", tables.q_lineage_resume, tables.lineage_resume_oracle_sql),
    ("snapshot_read", tables.q_snapshot_read, tables.snapshot_read_oracle_sql),
    ("splitting_sink", tables.q_splitting_sink, tables.SPLITTING_SINK_ORACLE_SQL),
    ("agg_lineitem", tables.q_agg_lineitem, tables.AGG_LINEITEM_ORACLE_SQL),
    ("minmax_ids", tables.q_minmax_ids, tables.MINMAX_IDS_ORACLE_SQL),
    ("dedup_exact", sketch.q_dedup_exact, sketch.DEDUP_EXACT_ORACLE_SQL),
    ("token_stats", text.q_token_stats, text.TOKEN_STATS_ORACLE_SQL),
    ("corpus_clean", text.q_corpus_clean, text.corpus_clean_oracle_sql),
    ("tfidf_terms", text.q_tfidf_terms, text.tfidf_oracle_sql),
    ("perplexity", text.q_perplexity, text.PERPLEXITY_ORACLE_SQL),
    ("perplexity_bigram", text.q_perplexity_bigram, text.PERPLEXITY_BIGRAM_ORACLE_SQL),
    ("pq_codes", vectors.q_pq_codes, partial(vectors.pq_oracle_sql, adc=False)),
    ("pq_adc", vectors.q_pq_adc, partial(vectors.pq_oracle_sql, adc=True)),
    ("ivfpq_topk", vectors.q_ivfpq_topk, vectors.ivfpq_oracle_sql),
    ("sample_mix", text.q_sample_mix, text.SAMPLE_MIX_ORACLE_SQL),
    ("pack_bins", text.q_pack_bins, text.PACK_BINS_ORACLE_SQL),
    ("decontaminate", text.q_decontaminate, text.decontaminate_oracle_sql),
    ("repetition_full", text.q_repetition_full, text.repetition_full_oracle_sql),
    ("audio_features", media.q_audio_features, media.AUDIO_FEATURES_ORACLE_SQL),
    ("video_features", media.q_video_features, media.VIDEO_FEATURES_ORACLE_SQL),
    ("ivfpq_prod", vectors.q_ivfpq_prod, None),
    ("url_dedup", crawl.q_url_dedup, crawl.URL_DEDUP_ORACLE_SQL),
    ("pagerank", graph.q_pagerank, graph.pagerank_oracle_sql),
    ("html_extract", crawl.q_html_extract, crawl.html_extract_oracle_sql),
    ("link_extract", crawl.q_link_extract, crawl.link_extract_oracle_sql),
    ("ccnet_buckets", text.q_ccnet_buckets, text.CCNET_BUCKETS_ORACLE_SQL),
    ("warc_parse", crawl.q_warc_parse, crawl.WARC_PARSE_ORACLE_SQL),
    ("warc_write", crawl.q_warc_write, crawl.WARC_WRITE_ORACLE_SQL),
    ("host_graph", crawl.q_host_graph, crawl.HOST_GRAPH_ORACLE_SQL),
    ("crawl_asof", crawl.q_crawl_asof, crawl.CRAWL_ASOF_ORACLE_SQL),
    ("crawl_delta", crawl.q_crawl_delta, crawl.CRAWL_DELTA_ORACLE_SQL),
    ("incremental_enrich", crawl.q_incremental_enrich, crawl.incremental_enrich_oracle_sql),
    ("crawl_frontier", graph.q_crawl_frontier, graph.crawl_frontier_oracle_sql),
    ("hll_urls", sketch.q_hll_urls, sketch.hll_urls_oracle_sql),
    ("anchor_stats", crawl.q_anchor_stats, crawl.ANCHOR_STATS_ORACLE_SQL),
    ("robots_filter", crawl.q_robots_filter, crawl.ROBOTS_FILTER_ORACLE_SQL),
    ("hits", graph.q_hits, graph.hits_oracle_sql),
    ("triangles", graph.q_triangles, graph.triangles_oracle_sql),
    ("label_prop", graph.q_label_prop, graph.label_prop_oracle_sql),
    ("kcore", graph.q_kcore, graph.kcore_oracle_sql),
    ("cocitation", graph.q_cocitation, graph.cocitation_oracle_sql),
    ("ppr", graph.q_ppr, graph.ppr_oracle_sql),
    ("bloom_build", sketch.q_bloom_build, sketch.bloom_build_oracle_sql),
    ("bloom_probe", sketch.q_bloom_probe, sketch.bloom_probe_oracle_sql),
    ("inverted_index", text.q_inverted_index, text.inverted_index_oracle_sql),
    ("delta_postings", text.q_delta_postings, text.delta_postings_oracle_sql),
    ("fetch_schedule", crawl.q_fetch_schedule, crawl.fetch_schedule_oracle_sql),
    ("zorder_layout", tiles.q_zorder_layout, tiles.zorder_oracle_sql),
    ("burst_hosts", crawl.q_burst_hosts, crawl.burst_hosts_oracle_sql),
    ("host_percentiles", sketch.q_host_percentiles, sketch.host_percentiles_oracle_sql),
    ("cms_build", sketch.q_cms_build, sketch.cms_build_oracle_sql),
    ("cms_estimate", sketch.q_cms_estimate, sketch.cms_estimate_oracle_sql),
    ("pmi_pairs", text.q_pmi_pairs, text.pmi_pairs_oracle_sql),
    ("domain_rollup", crawl.q_domain_rollup, crawl.domain_rollup_oracle_sql),
    ("topn_per_group", tables.q_topn_per_group, tables.TOPN_ORACLE_SQL),
    ("rollup_revenue", tables.q_rollup_revenue, tables.ROLLUP_ORACLE_SQL),
    ("sessionize", tables.q_sessionize, tables.SESSIONIZE_ORACLE_SQL),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: builder for name, builder, _ in _TABLE}


def oracle_sql() -> dict[str, str]:
    return {
        name: oracle() if callable(oracle) else oracle
        for name, _, oracle in _TABLE
        if oracle is not None
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: filter -> parse-equivalent coords -> tile -> PIP join ->
    per-admin rollup on sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    df = pagesview.pages_df(spark, sf_dir)
    df = filters.complex_filter(df)
    df = filters.remove_tags(df)
    out = spatial_enrich(df, _admin_index(), s2_level=None, h3_resolutions=())
    return (
        out.groupBy("admin_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pages"),
            F.countDistinct("grid_cell").cast("long").alias("n_cells"),
        )
        .orderBy("admin_key")
    )
