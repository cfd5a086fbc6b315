from gensor_spark.sources.jsonl import jsonl_corruption_stats, read_jsonl
from gensor_spark.sources.synth import synth_docs, DOCS_SCHEMA
from gensor_spark.sources.tables import load_table

__all__ = ["synth_docs", "DOCS_SCHEMA", "load_table",
           "read_jsonl", "jsonl_corruption_stats"]
