"""PySpark-native analytics engine.

A from-scratch, Spark-first engine providing the query and data-processing
capabilities surveyed in SURVEY.md (the reference repo,
alehakad/FootballDataEngeneering @ /root/reference, contains no code —
README.md:1-2 + LICENSE only — so the capability contract is SURVEY.md §2's
operator inventory: relational batch analytics over a star schema, an events
stream, and LLM-data-pipeline operators, all designed for 100 TB scale).

Importing this package populates the query/oracle registry (see
``engine.registry``); ``__spark_entry__.py`` is a thin shim over it.
"""

import os as _os

# Disable numpy's MADV_HUGEPAGE BEFORE any operator module imports numpy
# (numpy reads this env var once, at import). Importing any engine module,
# engine.session included, runs this file first, so the driver's numpy
# and every Python worker forked from the JVM that get_spark() launches
# see it (full forensics in engine/session.py).
_os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")

from engine import registry as registry  # noqa: F401,E402

# Importing the operator modules registers their queries/oracles.
from engine import aggregates as aggregates  # noqa: F401,E402
from engine import curation as curation  # noqa: F401,E402
from engine import functions as functions  # noqa: F401,E402
from engine import graph as graph  # noqa: F401,E402
from engine import llm_ops as llm_ops  # noqa: F401,E402
from engine import multimodal as multimodal  # noqa: F401,E402
from engine import pipeline_ops as pipeline_ops  # noqa: F401,E402
from engine import relational as relational  # noqa: F401,E402
from engine import scale_ops as scale_ops  # noqa: F401,E402
from engine import sql_surface as sql_surface  # noqa: F401,E402
from engine import streaming as streaming  # noqa: F401,E402
from engine import timeseries as timeseries  # noqa: F401,E402
from engine import tpch as tpch  # noqa: F401,E402
from engine import udx as udx  # noqa: F401,E402
from engine import windows as windows  # noqa: F401,E402

# The driver checks queries in registration order and reports the first
# 50: this literal is that window, in order. Rotating it is an edit here.
_WINDOW = [
    "llm_ngram_novelty",
    "llm_ngram_lsh",
    "llm_lsh_neardup",
    "llm_dedup_clusters",
    "llm_dedup_survivors",
    "llm_dedup_recall",
    "llm_decontaminate_lsh",
    "llm_jaccard_neardup",
    "llm_ngram_jaccard",
    "llm_simhash_recall",
    "llm_embedding_neardup",
    "emb_banded_recall",
    "fn_hash",
    "win_ranking",
    "win_lag_lead",
    "win_topk_per_group",
    "win_first_last",
    "llm_winsorize_clip",
    "events_rfm",
    "agg_melt_nulls",
    "join_calendar_dim",
    "join_bucketed_colocated",
    "join_dpp_prune",
    "events_window_funnel",
    "ts_asof_nearest",
    "win_ratio_to_report",
    "stream_foreach_batch_merge",
    "agg_grouping_sets_df",
    "q8_market_share",
    "q6_forecast_revenue",
    "q15_top_supplier",
    "q17_small_quantity",
    "win_range_interval",
    "sql_exists_subquery",
    "agg_histogram",
    "join_bloom_prefilter",
    "win_gap_islands",
    "q10_returned_items",
    "stream_sliding",
    "stream_session",
    "stream_watermark_design",
    "stream_user_state",
    "stream_tumbling",
    "udf_pandas_grouped_agg",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q7_nation_volume",
    "q14_promo_revenue",
    "q19_disjunctive_pred",
    "q22_dormant_customers",
]
registry.promote(_WINDOW)

QUERIES = registry.QUERIES
ORACLES = registry.ORACLES
