"""Structured Streaming wrapper around the annotation pipeline.

The reference is batch-only (SURVEY §2.10); its closest analogue is the
resumable char-budget consumer (cat.py:1403-1421).  For continuous
ingestion at scale the same Arrow-batch kernel composes with
``readStream → annotate → writeStream`` unchanged — mapInArrow is
supported in streaming plans, checkpointing handles exactly-once sink
commits, and the broadcast model is shared across micro-batches.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from medcat_spark.pipeline import ANNOTATION_SCHEMA, _annotate_batches


def annotate_stream(stream_docs: DataFrame, bc) -> DataFrame:
    """docs readStream (doc_id + text|spans) → annotation row stream."""
    has_spans = "spans" in stream_docs.columns
    src = stream_docs.select("doc_id", "spans" if has_spans else "text")
    return src.mapInArrow(_annotate_batches(bc, has_spans), ANNOTATION_SCHEMA)


def run_stream_to_parquet(spark: SparkSession, source_dir: str,
                          schema: str, bc, out_dir: str,
                          checkpoint_dir: str,
                          available_now: bool = True):
    """File-source streaming job: watch ``source_dir`` for doc parquet,
    write annotation parquet with exactly-once checkpointing."""
    src = (spark.readStream.schema(schema).format("parquet")
           .load(source_dir))
    ann = annotate_stream(src, bc)
    w = (ann.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir))
    if available_now:
        q = w.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return w.start()
