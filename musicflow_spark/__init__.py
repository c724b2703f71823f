"""musicflow_spark — a PySpark-native analytics engine.

Re-implements the query and data-processing capabilities of the
reference pipeline (MishchenkoYuriy/MusicFlow: Airflow + BigQuery +
dbt + a Python fuzzy matcher) as an idiomatic Spark engine:

- ``plans/``      the dbt model layer (staging / intermediate / marts)
                  as pure DataFrame -> DataFrame functions.
- ``matching/``   the Spotify-search fuzzy matcher, set-oriented:
                  native expression chains + candidate DataFrames +
                  window-rank cascades instead of row-at-a-time loops,
                  and the parquet match cache both passes look up.
- ``operators/``  large-scale training-data operators (dedup families,
                  similarity search, text analysis, multimodal columns).
- ``sources/``    connectors: parquet warehouse, paginated-REST adapter.
- ``functions/``  scalar expression library: fix_title chain, time formatting,
                  ISO-8601 durations.
- ``checks/``     declarative data-quality check runner (the dbt-test
                  semantics: unique / not_null / accepted_values /
                  relationships / expression / equal_rowcount...).
- ``streaming/``  Structured Streaming over the events table
                  (beyond-reference extension).

Everything is DataFrame-first: Catalyst owns optimization (predicate
pushdown, column pruning, broadcast selection, AQE); Python never
touches rows in the hot path except via Arrow-batched Pandas UDFs.
"""

__version__ = "0.1.0"
