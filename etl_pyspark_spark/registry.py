"""Query registry facade: QUERIES / ORACLES over per-family modules.

The registry was a single 21.5k-line module through round 6; it is now
split per family under ``etl_pyspark_spark/queries/`` (r06 verdict #5),
imported here in the ORIGINAL definition order so module-level
registration and cross-family helper shadowing behave identically.
Public names of every family module are re-exported, plus
``ensure_layouts`` (``sources.layouts``) for the bench warm-up;
underscore helpers are imported from the module that defines them."""

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

# round-7 additions (new family modules append here, after the
# original 21 so earlier-module helper shadowing is unaffected)
from etl_pyspark_spark.queries.round7_extensions import *  # noqa: E402,F401,F403
from etl_pyspark_spark.queries.round8_extensions import *  # noqa: E402,F401,F403
from etl_pyspark_spark.queries.round9_extensions import *  # noqa: E402,F401,F403
from etl_pyspark_spark.queries.round10_extensions import *  # noqa: E402,F401,F403
from etl_pyspark_spark.queries.round11_extensions import *  # noqa: E402,F401,F403

from etl_pyspark_spark.sources.layouts import ensure_layouts  # noqa: E402,F401
