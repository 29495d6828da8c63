from evidence_datasource_parsers_spark.operators.joins import (  # noqa: F401
    broadcast_if_small,
    enrich_join_back,
    union_by_name,
)
from evidence_datasource_parsers_spark.operators.reshape import (  # noqa: F401
    melt,
    one_hot_to_array,
    parse_stringified_array,
)
from evidence_datasource_parsers_spark.operators.windows import (  # noqa: F401
    top_n_per_group,
)
from evidence_datasource_parsers_spark.operators.chunking import (  # noqa: F401
    chunk_documents,
)
from evidence_datasource_parsers_spark.operators.dedupe import (  # noqa: F401
    duplicate_clusters,
    exact_dedupe,
    incremental_exact_dedupe,
    incremental_lsh_dedupe,
    incremental_simhash_dedupe_indexed,
    lsh_candidate_pairs,
    lsh_fingerprints,
    simhash_fingerprints,
    soft_dedupe_weights,
)
from evidence_datasource_parsers_spark.operators.decontaminate import (  # noqa: F401
    decontaminate,
    find_contaminated,
)
from evidence_datasource_parsers_spark.operators.passage_dedup import (  # noqa: F401
    remove_repeated_passages,
    repeated_passages,
)
from evidence_datasource_parsers_spark.operators.profiling import (  # noqa: F401
    corpus_diff,
    corpus_profile,
    key_skew_report,
    token_distribution_profile,
)
from evidence_datasource_parsers_spark.operators.quantize import (  # noqa: F401
    dequantize_embeddings,
    quantize_embeddings,
    quantized_topk,
)
from evidence_datasource_parsers_spark.operators.sampling import (  # noqa: F401
    domain_mixture_sample,
    hash_sample,
    leakage_safe_split,
    mixture_fractions,
    quality_binned_sample,
    reservoir_per_key,
    split_assign,
    stratified_hash_sample,
    weighted_hash_sample,
    temporal_split,
)
from evidence_datasource_parsers_spark.operators.similarity import (  # noqa: F401
    ann_lsh_topk_dual,
    brute_force_topk,
    hyperplane_bucket_rows,
    incremental_embedding_dedupe,
)
from evidence_datasource_parsers_spark.operators.sharding import (  # noqa: F401
    assign_shards,
    write_shards,
)
from evidence_datasource_parsers_spark.operators.compaction import (  # noqa: F401
    compact_files,
    compaction_plan,
)
from evidence_datasource_parsers_spark.operators.quantize import (  # noqa: F401
    incremental_embedding_dedupe_quantized,
    quantize_vector_store,
)
from evidence_datasource_parsers_spark.operators.similarity import (  # noqa: F401
    hyperplane_probe_rows,
)
from evidence_datasource_parsers_spark.operators.ivf import (  # noqa: F401
    assign_cells,
    cell_occupancy,
    ivf_add_batch,
    ivf_topk,
    needs_refit,
)
from evidence_datasource_parsers_spark.operators.interval import (  # noqa: F401
    count_in_interval,
    interval_join,
    interval_overlap_join,
)
from evidence_datasource_parsers_spark.operators.semdedup import (  # noqa: F401
    semantic_dedupe,
    semantic_dupe_groups,
)
from evidence_datasource_parsers_spark.operators.sketches import (  # noqa: F401
    bloom_member,
    bloom_merge_stores,
    bloom_params,
    bloom_store,
    bottomk_merge_stores,
    bottomk_sample_store,
    compact_bottomk_store,
    sample_quantiles,
    cms_estimate,
    cms_merge_stores,
    cms_params,
    cms_store,
    compact_bloom_store,
    compact_cms_store,
    compact_histogram_store,
    compact_sketch_store,
    frequent_items,
    histogram_drift,
    histogram_store_percentiles,
    hll_estimates,
    hll_merge_stores,
    hll_store,
    incremental_distinct_count,
    sketch_store_estimates,
)
from evidence_datasource_parsers_spark.operators.zorder import (  # noqa: F401
    morton_key,
    zorder_by,
)
from evidence_datasource_parsers_spark.operators.mmr import (  # noqa: F401
    mmr_select,
    mmr_select_ids,
)
from evidence_datasource_parsers_spark.operators.pagerank import (  # noqa: F401
    domain_authority,
    pagerank,
)
from evidence_datasource_parsers_spark.operators.packing import (  # noqa: F401
    materialize_packs,
)
from evidence_datasource_parsers_spark.operators.df_store import (  # noqa: F401
    bm25_against_store,
    compact_df_store,
    df_store_delta,
    df_store_stats,
)
from evidence_datasource_parsers_spark.operators.fuzzy_join import (  # noqa: F401
    canon_segment_rows,
    canonicalize_labels,
    compact_canon_store,
    edit_distance_join,
    edit_distance_self_join,
    incremental_canonicalize_indexed,
)
from evidence_datasource_parsers_spark.operators.layout_audit import (  # noqa: F401
    layout_advice,
    layout_metrics,
    layout_recommendations,
    layout_report,
    row_group_stats,
    string_stat_columns,
)
