"""Query registry facade: QUERIES / ORACLES over per-family modules.

The registry was a single 21.5k-line module through round 6; it is now
split per family under ``etl_pyspark_spark/queries/`` (r06 verdict #5),
imported here in the ORIGINAL definition order so module-level
registration and cross-family helper shadowing behave identically.
Every public (and historically reachable private) name is re-exported
so ``from etl_pyspark_spark.registry import X`` keeps working for every X
the old module defined."""

from __future__ import annotations

from etl_pyspark_spark.queries.core import *  # noqa: F401,F403

# cross-family shared helpers load right after core (r07 verdict #4):
# every family module imports them from queries._shared, so facade
# order below is data-independent — no deferred-import stubs remain
from etl_pyspark_spark.queries import _shared  # noqa: F401
from etl_pyspark_spark.queries.flagship import *  # noqa: F401,F403
from etl_pyspark_spark.queries.aggregations import *  # noqa: F401,F403
from etl_pyspark_spark.queries.joins import *  # noqa: F401,F403
from etl_pyspark_spark.queries.sort_set_window import *  # noqa: F401,F403
from etl_pyspark_spark.queries.scalar_funcs import *  # noqa: F401,F403
from etl_pyspark_spark.queries.text_analysis import *  # noqa: F401,F403
from etl_pyspark_spark.queries.dedup_queries import *  # noqa: F401,F403
from etl_pyspark_spark.queries.streaming_multimodal import *  # noqa: F401,F403
from etl_pyspark_spark.queries.sql_layer import *  # noqa: F401,F403
from etl_pyspark_spark.queries.io_lake import *  # noqa: F401,F403
from etl_pyspark_spark.queries.temporal_tpch import *  # noqa: F401,F403
from etl_pyspark_spark.queries.corpus_pipeline import *  # noqa: F401,F403
from etl_pyspark_spark.queries.widening_r3 import *  # noqa: F401,F403
from etl_pyspark_spark.queries.training_growth import *  # noqa: F401,F403
from etl_pyspark_spark.queries.semdedup_tokenizer import *  # noqa: F401,F403
from etl_pyspark_spark.queries.eval_stats import *  # noqa: F401,F403
from etl_pyspark_spark.queries.graph_temporal import *  # noqa: F401,F403
from etl_pyspark_spark.queries.timeseries_entity import *  # noqa: F401,F403
from etl_pyspark_spark.queries.records_quality import *  # noqa: F401,F403
from etl_pyspark_spark.queries.round6_extensions import *  # noqa: F401,F403

# underscore names star-import skips, re-exported for
# backwards compatibility (tests import several)
from etl_pyspark_spark.queries.core import (  # noqa: F401
    _dec_sum_sql,
)
from etl_pyspark_spark.queries.text_analysis import (  # noqa: F401
    _WS_TOKENS_SQL,
    _STOP_HITS_SQL,
    _sql_str_list,
    _NGRAMS_SQL,
    _ngram_sql,
)
from etl_pyspark_spark.queries.dedup_queries import (  # noqa: F401
    _dedup_shared_build_oracle,
    _minhash_oracle,
    _ngram_oracle,
    _components_oracle,
    _simhash_oracle,
    _simhash_pairs_oracle,
    _sql_cos,
    _norms_oracle,
    _cosine_topk_oracle,
    _assign_centroid_oracle,
    _ann_pairs_oracle,
)
from etl_pyspark_spark.queries.sql_layer import (  # noqa: F401
    _register_views,
)
from etl_pyspark_spark.queries.io_lake import (  # noqa: F401
    _SCRATCH,
    _ORACLE_SF,
    _ensure_orders_by_year,
)
from etl_pyspark_spark.queries.temporal_tpch import (  # noqa: F401
    _STRATA_THRESH,
    _pagerank_oracle,
)
from etl_pyspark_spark.queries.corpus_pipeline import (  # noqa: F401
    _quantized_rerank_oracle,
    _sql_quality_inline,
    _sql_lang_inline,
    _corpus_prep_oracle,
    _canonical_oracle,
    _media_prep_oracle,
    _stream_corpus_prep_oracle,
    _docgen_oracle,
)
from etl_pyspark_spark.queries.widening_r3 import (  # noqa: F401
    _GROUPING_SETS_SQL,
    _EVENT_TYPES,
    _STRATUM_RATE_SQL,
    _LATERAL_SQL,
    _GROUP_BY_ALL_SQL,
    _PAGINATION_SQL,
)
from etl_pyspark_spark.queries.training_growth import (  # noqa: F401
    _incremental_minhash_oracle,
    _ensure_orders_mixed_spec,
)
from etl_pyspark_spark.queries.semdedup_tokenizer import (  # noqa: F401
    _semantic_dedup_oracle,
    _substring_dup_remove_oracle,
    _vocab_build_oracle,
    _segment_oracle,
    _bigram_lm_oracle,
    _copurchase_pagerank_oracle,
    _EQUIDEPTH_BINS,
    _equidepth_oracle,
)
from etl_pyspark_spark.queries.eval_stats import (  # noqa: F401
    _AUC_POS,
    _token_class_oracle,
    _LANGID_CASE_CTE,
    _CM_DEPTH,
    _CM_WIDTH,
    _countmin_oracle,
    _calibration_oracle,
    _containment_oracle,
    _COLLOC_MIN_DF,
    _COLLOC_MIN_PAIR,
    _collocation_oracle,
    _inverted_index_oracle,
    _SKEW_DIAG_PARTS,
    _event_seq_oracle,
    _cluster_histogram_oracle,
    _RRF_K,
    _minhash_estimate_oracle,
    _ensure_skipping_lineitem,
    _SKIP_LO,
    _SKIP_HI,
    _ensure_deflate_sizes,
    _CHUNK_W,
    _CHUNK_S,
    _TOKEN_BUDGET,
    _source_overlap_oracle,
)
from etl_pyspark_spark.queries.graph_temporal import (  # noqa: F401
    _KCORE_K,
    _KCORE_ROUNDS,
    _copurchase_edges_sql,
    _copurchase_edges,
    _copurchase_edge_count,
    _kcore_oracle,
    _EWMA_WINDOW,
    _SNAPSHOT_TS,
    _APPORTION_BUDGET,
    _entity_resolution_oracle,
    _dedup_impact_oracle,
    _WM_DELAY_US,
    _KANON_K,
    _DECAY_WEEKS,
    _release_card_oracle,
)
from etl_pyspark_spark.queries.timeseries_entity import (  # noqa: F401
    _HRW_SHARDS,
    _negative_sampling_oracle,
    _autocorr_oracle,
    _jackknife_oracle,
    _ISO_BINS,
    _BENFORD_P,
    _BFS_HOPS,
    _bfs_oracle,
    _pr_curve_oracle,
    _golden_record_oracle,
)
from etl_pyspark_spark.queries.records_quality import (  # noqa: F401
    _LINKPRED_MID_CAP,
    _qini_oracle,
    _split_leakage_oracle,
    _IPF_ROUNDS,
    _ipf_oracle,
    _xcorr_oracle,
)
from etl_pyspark_spark.queries.round6_extensions import (  # noqa: F401
    _matryoshka_oracle,
    _mmr_oracle,
    _threshold_sweep_oracle,
    _hard_negative_oracle,
    _Q3,
    _label_centroid_sql,
    _centroid_sep_oracle,
    _label_outlier_oracle,
)

# round-7 additions (new family modules append here, after the
# original 21 so earlier-module helper shadowing is unaffected)
from etl_pyspark_spark.queries.round7_extensions import *  # noqa: E402,F401,F403
from etl_pyspark_spark.queries.round8_extensions import *  # noqa: E402,F401,F403
from etl_pyspark_spark.queries.round9_extensions import *  # noqa: E402,F401,F403
from etl_pyspark_spark.queries.round10_extensions import *  # noqa: E402,F401,F403
from etl_pyspark_spark.queries.round11_extensions import *  # noqa: E402,F401,F403
