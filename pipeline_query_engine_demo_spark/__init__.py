"""pipeline_query_engine_demo_spark — a PySpark-native analytics engine.

A brand-new engine with the query/data-processing capabilities of the
reference push-based pipelined query engine (lokax/pipeline-query-engine-demo,
surveyed in /root/repo/SURVEY.md), re-expressed Spark-first:

- the logical plan is declared with the DataFrame / Spark SQL API;
- Catalyst + Tungsten supply optimization, vectorization, pipelining,
  shuffle, spill, and codegen (reference: hand-built pipelines in
  ``src/executor/mod.rs:84-207``);
- capabilities the reference lacks but a 100 TB LLM-data pipeline needs
  (dedup, similarity search, text analysis, multimodal columns, streaming)
  are built as library-level compositions of DataFrame ops, with Pandas
  UDFs only where built-ins cannot express the semantics.

Layout:
    session      SparkSession factory with scale-oriented defaults
    pyworker     Python-worker daemon entry that loads the installed pyspark
    sources      parquet catalog / readers for the fixture tables (write
                 paths live in plans.sinks: parquet/csv/json/orc, bucketed)
    plans        the oracle-checked query corpus (name -> builder + SQL)
    operators    composed operators: as-of join, dedup family, similarity
    functions    expression library: text stats, vector math, multimodal
    streaming    Structured Streaming pipelines over the events table
"""

__all__ = ["get_spark"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # Lazy: importing the package must not import pyspark, because the
    # Python-worker daemon (``python -m pipeline_query_engine_demo_spark.pyworker``)
    # imports it before ``pyworker`` puts the installed pyspark first.
    if name == "get_spark":
        from pipeline_query_engine_demo_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
