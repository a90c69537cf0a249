"""Streaming source for the documents table (file-source stream).

The ingestion-time twin of the batch corpus loaders: production points
this at a crawl landing zone (or Kafka with a parquet/Avro payload);
the fixture form streams `documents.parquet` itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from engine.streaming.events import _table_stream


def read_document_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet as a file-source stream; schema from the file
    footer via a batch read so the reader tolerates any fixture
    vintage. Documents carry no timestamp column, so unlike the events
    stream there is no ``ts`` to normalize."""
    return _table_stream(spark, sf_dir, "documents")
