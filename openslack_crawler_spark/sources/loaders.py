"""Source-format loaders: the engine's tables can arrive as parquet
(default), JSON-lines, CSV, or ORC — mirroring the reference's many
ingest surfaces (Redis lists, Kafka topics, flat files; SURVEY.md
§2.1). All loaders enforce the frozen schema (no inference in prod
paths) and normalize through the same URL kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schemas import SEEDS_SCHEMA


def load_seeds(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """Read a seed list in parquet/json/csv/orc with the SEEDS schema.
    fmt=None → infer from the path suffix."""
    fmt = fmt or _infer(path)
    reader = spark.read
    if fmt == "parquet":
        return reader.parquet(path)
    if fmt == "json":
        return reader.schema(SEEDS_SCHEMA).json(path)
    if fmt == "csv":
        return reader.schema(SEEDS_SCHEMA).option("header", "true").csv(path)
    if fmt == "orc":
        return reader.orc(path)
    raise ValueError(f"unsupported seed format: {fmt}")


def _infer(path: str) -> str:
    for ext in ("parquet", "json", "csv", "orc"):
        if path.rstrip("/").endswith(ext) or f".{ext}" in path:
            return ext
    return "parquet"


def export_documents_jsonl(documents: DataFrame, path: str) -> None:
    """S14: one JSON object per line (jsonp.py:6-16)."""
    documents.write.mode("overwrite").json(path)
