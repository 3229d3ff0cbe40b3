"""Readers: parquet fixture tables, CSV with inference, JSON lines.

Scale notes (100 TB):
- ``spark.read.parquet`` keeps the vectorized columnar reader, filter
  pushdown to row groups / page index, and partition pruning in play —
  every downstream operator declares filters as Column exprs so they
  reach the scan.
- A parquet table's schema is inferred once per (file version,
  inference confs) and passed back to later reads of the same table:
  inference is a Spark job that reads a footer, paid on every call
  otherwise, which dominates short queries.
- Schema inference (CSV/JSON) samples the data and is a driver-side
  convenience for ingestion utilities; production loads at scale pass
  an explicit schema (supported by both helpers) so malformed rows
  land in ``_corrupt_record`` instead of poisoning inference.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingest_utils_spark.session import ensure_runtime_confs

#: The fixture star schema + events stream table + LLM corpus tables
#: (TESTDATA.md, FIXTURES.md).
TABLES = (
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
)

# events.ts arrives as raw int64 nanoseconds (see session._RUNTIME_CONFS);
# convert to TIMESTAMP_NTZ at microsecond precision, anchored at the
# epoch with timestampadd so the conversion is independent of the
# session time zone.  `div` truncates toward zero, NOT floor — that is
# deliberate: DuckDB's ns-parquet read does the same (probed round 7:
# -1500 ns reads back as -1 µs in DuckDB, the trunc value; floor would
# give -2), so pre-epoch sub-µs timestamps match the oracle
# bit-for-bit only with truncation.
_NS_TO_TS_NTZ = (
    "timestampadd(MICROSECOND, {col} div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
)


#: Session confs that change the schema Spark infers from a parquet
#: footer; part of the schema-cache key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

#: (table_fingerprint, inference conf values) -> the StructType Spark
#: inferred for that file version under those confs.  Two concurrent
#: misses on one key both infer and store the same schema, so no lock.
_SCHEMAS: dict[tuple[str, tuple[str, ...]], T.StructType] = {}


def table_fingerprint(sf_dir: str, table: str) -> str:
    """Content fingerprint of one fixture table's file inventory —
    sha256 over the absolute root plus every file's (relpath, size,
    mtime_ns), handling both single-file tables (testdata dirs) and
    part-file directories (tools/make_scale_data.py trees).

    This is the staleness key for :func:`load_table`'s schema cache and
    for every derived-fixture cache (bucketed tables in plans/scans.py,
    the PQ codebook / MinHash band-index caches in plans/llm.py): a
    REGENERATED source at the same path changes mtimes, so
    equal-cardinality rewrites — which a row-count check cannot see
    (ADVICE r11) — change the digest and force a rebuild.
    Metadata-only: no file contents are read and no Spark job runs."""
    root = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    h = hashlib.sha256(root.encode())
    if os.path.isdir(root):
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames.sort()
            for fn in sorted(filenames):
                st = os.stat(os.path.join(dirpath, fn))
                rel = os.path.relpath(os.path.join(dirpath, fn), root)
                h.update(f"{rel}|{st.st_size}|{st.st_mtime_ns}".encode())
    elif os.path.exists(root):
        st = os.stat(root)
        h.update(f"{st.st_size}|{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet``.

    The single entry point all query plans use, so schema quirks are
    normalized in exactly one place.  The schema is inferred once per
    (file version, inference confs): the first read lets Spark infer it
    (a one-task footer job), later reads of the same
    :func:`table_fingerprint` under the same :data:`_INFERENCE_CONFS`
    values pass it in and launch no job.
    """
    ensure_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = (
        table_fingerprint(sf_dir, name),
        tuple(spark.conf.get(k) for k in _INFERENCE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        schema = _SCHEMAS[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events" and isinstance(schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.expr(_NS_TO_TS_NTZ.format(col="ts")))
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV reader with header + schema inference (or explicit schema)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """JSON-lines reader (one JSON object per line)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
