"""PySpark-native analytics engine with the query surface of
``Subhobroto-cyber/benchmark-pandas-vs-polars-vs-datatable-vs-tablesaw``.

The reference is a cross-engine DataFrame benchmark suite (pandas /
Polars / datatable / Tablesaw); this package re-expresses its entire
operator inventory (see SURVEY.md §2) Spark-first — DataFrame API +
built-in functions, Catalyst doing the optimizing — and extends it
with the large-scale training-data-pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing, streaming)
required for the 100 TB posture.

Layout:
    session     SparkSession factory with pinned, scale-aware config
    catalog     loaders for the driver's star-schema parquet fixtures
    registry    name -> (spark_fn, oracle_sql) map consumed by
                __spark_entry__.py and bench.py
    sources/    CSV scan/sink, synthetic generators, results sink
    functions/  scalar + vector column-expression builders
    operators/  the operator inventory (core, joins, dedup,
                similarity, text, timeseries, multimodal)
    plans/      explain/plan-inspection helpers
    streaming/  Structured Streaming formulations over `events`
    harness/    timing, memory probes, results plot (H1-H7)
"""

from .session import get_spark
from .catalog import TABLES, load_table, register_views

__all__ = ["get_spark", "TABLES", "load_table", "register_views"]
