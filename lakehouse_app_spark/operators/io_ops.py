"""Sink round-trip as a declared (rows-only) query.

SURVEY.md §2.2 'Scans/sources/sinks': parquet sink with read-back
verification. Writes the pricing-summary result partitioned by its
group key, reads it back, and returns the read-back rows — exercising
the full write path (partitioned layout, schema round-trip) that the
100 TB pipeline uses for every materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lakehouse_app_spark.registry import QUERIES, query
from lakehouse_app_spark.runtime_cache import scratch_commit_dir
from lakehouse_app_spark.sources.sinks import read_table, write_table


import lakehouse_app_spark.operators.aggregates  # noqa: F401  (registers q_agg_pricing's oracle)
from lakehouse_app_spark.registry import ORACLES as _ORACLES


# Oracle upgrade (round-6 verdict item 5): the roundtrip is an
# identity on VALUES — write q_agg_pricing's result to partitioned
# parquet, read it back — so the exact oracle is q_agg_pricing's own
# (the explicit aggregates import above makes the decoration-time
# lookup order-independent). A hash-match now proves the sink/read
# path loses nothing: partition-encoding a column and restoring its
# position/type is value-preserving, which the old rows-only check
# could not see.
@query("q_sink_roundtrip", oracle=_ORACLES["q_agg_pricing"])
def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deferred-cleanup scratch: the returned read-back is lazy, so the
    # dir lives until the next release_caches() after a newer call
    out = scratch_commit_dir("sink_roundtrip_")
    result = QUERIES["q_agg_pricing"](spark, sf_dir)
    write_table(result, out, partition_by=["l_returnflag"])
    back = read_table(spark, out)
    # partition columns come back last and as read types; reorder to
    # the original column order for a stable schema
    return back.select(*result.columns)


@query(
    "q_json_ingest",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(length(text)) AS BIGINT) AS text_chars
    FROM documents GROUP BY source
    """,
)
def q_json_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON ingestion as a declared, driver-checked key (REF-R18:
    `lakehouse_app_helpers.py:28-31` turns REST JSON into a table;
    here the corpus round-trips through JSONL and is read back with
    an EXPLICIT schema — schema-on-read, the production JSON path,
    never inference). The oracle aggregates the ORIGINAL parquet
    view, so the hash-match proves the JSON write+parse cycle is
    lossless for every row — integer aggregates only, so the check
    is exact by construction rather than format-dependent. At scale
    this is the landing-zone pattern: JSONL arrives, an explicit
    schema reads it, and the first aggregate validates the feed
    against its upstream."""
    from pyspark.sql import functions as F

    from lakehouse_app_spark.sources.tables import load_tables

    t = load_tables(spark, sf_dir)
    out = scratch_commit_dir("json_ingest_")
    cols = ["doc_id", "source", "lang", "text"]
    # no coalesce(1): multiple JSONL part files verify identically
    # (explicit schema + order-insensitive aggregates) and the write
    # and read-back stay parallel (review r6)
    t.documents.select(*cols).write.mode("overwrite").json(out)
    schema = "doc_id long, source string, lang string, text string"
    back = spark.read.schema(schema).json(out)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
        F.sum(F.length("text")).alias("text_chars"),
    )


@query(
    "q_csv_ingest",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY lang
    """,
)
def q_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingestion, the third landing-zone format beside parquet
    and JSONL (round 9): the corpus round-trips through quoted CSV
    (quoteAll + header — the dialect a spreadsheet export or legacy
    feed actually produces) and is read back with an EXPLICIT schema,
    never inference. The oracle aggregates the ORIGINAL parquet view
    INCLUDING a token count recomputed from the read-back text, so
    the hash-match proves quoting/escaping preserved every text byte
    through the CSV cycle — a delimiter-handling bug would change
    token or char sums before it changed row counts. Parallel write
    and read (no coalesce): multi-part CSV verifies identically."""
    from pyspark.sql import functions as F

    from lakehouse_app_spark.sources.tables import load_tables

    t = load_tables(spark, sf_dir)
    out = scratch_commit_dir("csv_ingest_")
    cols = ["doc_id", "lang", "text", "n_chars"]
    (
        t.documents.select(*cols)
        .write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .csv(out)
    )
    schema = "doc_id long, lang string, text string, n_chars long"
    # multiLine: a quoted field may legally contain embedded newlines
    # (quoteAll wrote them verbatim); without it the reader splits such
    # a record into spurious rows and the round-trip silently breaks on
    # corpora beyond newline-free test data. The correctness comes at
    # a stated parallelism price (advice r10): multiLine makes each
    # CSV file an UNSPLITTABLE stream (no line-boundary splits inside
    # a file), so read parallelism degrades to one task per file —
    # inherent to quoted-newline CSV anywhere, and why the landing
    # zone should arrive as MANY files; at 100 TB the file count, not
    # maxPartitionBytes, is the scan's parallelism knob here.
    back = (
        spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .csv(out)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(F.split(F.col("text"), " ")).cast("long")).alias(
            "n_tokens"
        ),
    )
