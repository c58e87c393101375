"""Parquet table catalog for the driver-generated testdata.

Plays the role of the reference's index/catalog handle resolution
(`app/vector_search.py:24-27` resolves a remote index; we resolve
local Parquet into DataFrames + temp views). At 100 TB these reads
are identical code over a cluster filesystem — Catalyst pushes
filters/projections into the Parquet scan, so queries built on these
handles prune automatically.

Load-bearing detail (SURVEY.md §A.1): ``events.ts`` is parquet
timestamp[ns], which Spark 4 cannot read natively. We read it with
``spark.sql.legacy.parquet.nanosAsLong`` (arrives as long ns) and
normalize to ``timestamp_ntz`` at µs precision — exactly what DuckDB
gets when it auto-truncates ns→µs, so oracle comparisons line up.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_app_spark.session import ensure_runtime_confs

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# cache: (sparkSessionId, sf_dir) -> SimpleNamespace of DataFrames
_CACHE: dict[tuple[int, str], SimpleNamespace] = {}


def normalize_event_ts(raw: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to timestamp_ntz at µs precision.

    The driver has shipped this column as parquet timestamp[ns]
    (readable only via ``nanosAsLong`` → arrives as long ns) and as
    plain timestamp[us] (arrives as timestamp/timestamp_ntz), so the
    loader adapts to the type it actually sees instead of assuming
    one generation of the fixture.
    """
    dtype = dict(raw.dtypes)["ts"]
    if dtype == "bigint":
        # long ns → µs (integer division: ns > 2^53, float is lossy)
        return raw.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)")
        )
    return raw.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


# session identity -> the sf_dir whose tables currently back the
# session's temp views. A cache hit must re-register when the views
# point at a DIFFERENT scale factor, or every spark.sql-path builder
# silently reads the wrong dataset (review r6, confirmed live: the
# driver mixes sf0.001 smoke and sf0.01 correctness in one session).
_VIEWS_FOR: dict[object, str] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> SimpleNamespace:
    """Load all testdata tables as DataFrames; register temp views.

    Returns a namespace with one attribute per table. Cached per
    (session, sf_dir) so repeated query builders share scan nodes;
    the temp views always track the MOST RECENTLY requested sf_dir.
    """
    from lakehouse_app_spark.runtime_cache import session_key

    skey = session_key(spark)
    key = (skey, sf_dir)
    hit = _CACHE.get(key)
    if hit is not None:
        if _VIEWS_FOR.get(skey) != sf_dir:
            for name in TABLE_NAMES:
                getattr(hit, name).createOrReplaceTempView(name)
            _VIEWS_FOR[skey] = sf_dir
        return hit
    ensure_runtime_confs(spark)
    tables = {}
    for name in TABLE_NAMES:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            df = normalize_event_ts(df)
        tables[name] = df
        df.createOrReplaceTempView(name)
    _VIEWS_FOR[skey] = sf_dir
    ns = SimpleNamespace(**tables)
    _CACHE[key] = ns
    return ns
