"""Typed sources.

Replaces the reference's inferred CSV scans (S1, ``src/spark/preprocessing.py:32``)
with explicit-schema readers: no double scan for inference, correct timestamp
parsing (SURVEY §1.4), and column pruning + predicate pushdown reach the
parquet reader because types are right from the start.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..schemas import CLICKSTREAM_RAW, EVENT_TIME_FORMAT, FIXTURE_TABLES

# The driver fixtures store timestamps as parquet TIMESTAMP(NANOS) (written
# by pandas/pyarrow with ns precision), which Spark's reader rejects.  All
# fixture values are µs-aligned (verified: epoch_ns % 1000 == 0 across
# tables), so reading nanos as long and integer-dividing to µs is lossless
# and bit-identical to what DuckDB sees.
_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver fixture table from ``{sf_dir}/{name}.parquet``.

    Parquet carries its own schema; the only adjustment is the nanosecond
    timestamp conversion above (``ts div 1000`` stays in whole-stage
    codegen; the cast is a cheap projection, no shuffle).
    """
    if name not in FIXTURE_TABLES:
        raise KeyError(f"unknown fixture table {name!r}; have {sorted(FIXTURE_TABLES)}")
    if name in _TS_COLUMNS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _TS_COLUMNS.get(name, ()):
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


# U2 — data auto-detection priority list (reference
# src/streaming/config.py:24-53: a fixed candidate list probed in order,
# sample-first so dev runs never accidentally grab the full dataset).
# Ours probes scale-factor dirs smallest-first; $SPARK_GRAFT_SF_DIR wins.
DATA_DIR_CANDIDATES: tuple[str, ...] = (
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
)


def available_tables(sf_dir: str) -> set[str]:
    """Fixture tables present in a directory (as ``{name}.parquet``)."""
    return {
        t for t in FIXTURE_TABLES if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))
    }


def detect_data_dir(
    candidates: tuple[str, ...] | None = None,
    required: tuple[str, ...] = ("events",),
) -> str:
    """Return the first candidate directory containing every ``required``
    table.  ``$SPARK_GRAFT_SF_DIR`` (the bench/driver contract env var)
    short-circuits the probe when set.  Raises FileNotFoundError with the
    probed list when nothing matches — the reference's behavior of falling
    through its priority list to an error."""
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        return env
    probed = candidates or DATA_DIR_CANDIDATES
    for d in probed:
        if set(required) <= available_tables(d):
            return d
    raise FileNotFoundError(
        f"no data directory with tables {sorted(required)} among {list(probed)}"
    )


class Catalog:
    """Lazy handle to one scale-factor directory of fixture tables.

    ``Catalog(spark, sf_dir).lineitem`` → DataFrame.  Each access builds a
    fresh scan (cheap; Catalyst caches file listings per query), so callers
    can't accidentally share cached plans across tests.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        return read_table(self.spark, self.sf_dir, name)

    def table(self, name: str) -> DataFrame:
        return read_table(self.spark, self.sf_dir, name)


def read_clickstream_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read the reference-shaped clickstream CSV with an explicit schema and
    a *parsed* event_time.

    The reference (``preprocessing.py:32``) infers the schema, leaving
    ``event_time`` a string because of the trailing ``' UTC'`` token; every
    downstream comparison then happens lexicographically and
    ``cast('long')`` nulls out (SURVEY §1.4).  Here we parse it properly so
    ordering and duration semantics are exact.  An unparseable
    ``event_time`` reads as null, as the reference's Spark 3 did, instead
    of failing the job under ANSI mode.
    """
    raw = spark.read.schema(CLICKSTREAM_RAW).option("header", True).csv(path)
    return raw.withColumn(
        "event_time", F.try_to_timestamp("event_time", F.lit(EVENT_TIME_FORMAT))
    ).fillna({"category_code": "unknown", "brand": "unknown"})
