"""Folder-orchestrator plan (SURVEY §3.3: batch_auto_translate.py).

The reference fans out one subprocess per CSV through a 3-thread pool
with a 2-hour timeout and regex-scrapes job ids from stdout
(``batch_auto_translate.py:108-229``). In Spark the fan-out disappears:
one job reads ``dir/*.csv`` with ``input_file_name()`` lineage, every
downstream operator shards by source file, and the per-file summary
(X-7's success/failed/timeout taxonomy) is a ``groupBy(source_file)``.

Concurrency is Spark's scheduler; the reference's worker cap maps to
executor/task slots, not hand-rolled thread pools.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.packing import materialize_requests
from ..sources import read_descriptions_dir
from ..translate import translate_requests
from .pipeline import _pack, _parse_responses, _rejoin_and_flag, _shard_todo


def folder_pipeline(
    spark: SparkSession,
    input_dir: str,
    translate_fn=translate_requests,
) -> DataFrame:
    """Run the full translation pipeline over every CSV in a folder in
    ONE Spark job; returns row-level results with file lineage.

    The flagship's own parts, sharded by file stem (F-16): batches never
    span files (v1 contract: {stem}-batch-NNNN,
    old_functionalities/jsonl_convertor.py:76-79), and the R-26/R-27
    shift check runs per file batch like the reference's per-file run.

    ``translate_fn`` is the X-5 seam: production/mock is
    ``translate_requests``; fault-path testing injects
    ``translate.translate_requests_with_faults`` (X-7 taxonomy) —
    batches that time out / error / lose their download produce no
    content, so their rows surface as ``is_failed`` sentinel rows
    exactly like the reference's failed-subprocess files."""
    docs = read_descriptions_dir(spark, input_dir).withColumn(
        "source_stem",
        F.regexp_extract(F.col("source_file"), r"([^/]+?)(?:\.[^./]+)?$", 1),
    )
    assigned = _pack(_shard_todo(docs, F.col("source_stem")), limit=4000)
    parsed = _parse_responses(translate_fn(materialize_requests(assigned)))
    expected = assigned.select(
        "batch_id", "description_id", "english_sentence", "source_stem", "seq"
    )
    return _rejoin_and_flag(expected, parsed)


def per_file_summary(rows: DataFrame) -> DataFrame:
    """X-7's per-file result taxonomy over :func:`folder_pipeline` rows
    (reference prints this per subprocess,
    ``batch_auto_translate.py:231-280``)."""
    total = F.count("*")
    failed = F.count(F.when(F.col("is_failed"), 1))
    return rows.groupBy("source_stem").agg(
        total.alias("total_rows"),
        (total - failed).alias("successful"),
        failed.alias("failed"),
        F.round((total - failed) * 100.0 / total, 2).alias("success_rate_pct"),
        F.countDistinct("batch_id").alias("n_batches"),
    )


def folder_summary(
    spark: SparkSession,
    input_dir: str,
    translate_fn=translate_requests,
) -> DataFrame:
    """:func:`per_file_summary` of a folder run. ``translate_fn`` passes
    through to the pipeline (fault injection included)."""
    return per_file_summary(
        folder_pipeline(spark, input_dir, translate_fn=translate_fn)
    )
