"""Registry queries for the custom Python data sources (sources/).

The reference's ingest/serve boundary is HTTP request loops (reference
api/app.py:119-160, 165-233); this engine's equivalent connector seam is
the Spark-4 Python DataSource API. Both queries run the REAL connector
machinery end to end — DSv2 write commit protocol, filter pushdown,
streaming offsets — and emit exactly-checkable facts (the lifecycle-audit
pattern: heavy work runs distributed, only audited facts are collected).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_db_spark.io import load_table
from vector_db_spark.queries import register
from vector_db_spark.sources import ensure_registered


@register(
    "pyds_jsonl_roundtrip",
    extra=True,
    oracle="""
SELECT count(*)::BIGINT AS n_docs,
       CAST(SUM(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE) AS sum_chars,
       count(DISTINCT source)::BIGINT AS n_sources,
       TRUE AS commit_clean
FROM documents WHERE lang = 'en' AND n_chars > 200
""",
)
def pyds_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → vdb_jsonl shards (two-phase-commit writer) → read back
    through the custom source with BOTH predicates pushed into it
    (applied via arrow compute before rows reach Spark) → aggregate
    facts, value-exact against DuckDB over the original table. Also
    audits the commit protocol: no .tmp litter survives the write."""
    ensure_registered(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="pyds-jsonl-")
    try:
        path = os.path.join(root, "shards")
        docs.repartition(8).write.format("vdb_jsonl").option("path", path).mode(
            "overwrite"
        ).save()
        commit_clean = not [f for f in os.listdir(path) if f.endswith(".tmp")]
        back = (
            spark.read.format("vdb_jsonl")
            .schema(docs.schema)
            .option("path", path)
            .load()
            .filter((F.col("lang") == "en") & (F.col("n_chars") > 200))
        )
        row = back.agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(18,4)")).cast("double").alias("sum_chars"),
            F.countDistinct("source").alias("n_sources"),
        ).collect()[0]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [(row.n_docs, row.sum_chars, row.n_sources, bool(commit_clean))],
        "n_docs long, sum_chars double, n_sources long, commit_clean boolean",
    )


@register(
    "pyds_stream_replay",
    extra=True,
    oracle="""
SELECT event_type,
       count(*)::BIGINT AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
""",
)
def pyds_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table as a real Structured Streaming source
    (vdb_replay: row-index offsets off the Parquet footer, one task per
    row slice) and aggregate it — value-parity with batch SQL proves the
    stream delivered exactly the table, no loss, no duplication."""
    from vector_db_spark.streaming.ingest import run_to_memory

    ensure_registered(spark)
    sdf = (
        spark.readStream.format("vdb_replay")
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .option("rows_per_partition", "16384")
        .load()
    )
    agg = sdf.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
    )
    return run_to_memory(agg, output_mode="complete")
