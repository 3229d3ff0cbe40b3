"""The benchmark's workloads.  Each one stages seeded inputs, offers a
fixed list of ops (one pass), and checks op results outside the timed
window.

A workload's ``PASS_S`` is the typical length of one warm pass; the
runner derives the number of timed passes from it.

An op is one closed-loop client request: ``run(seq)`` does the work and
returns ``(result, build_s)``, where ``build_s`` is the time the
registry function took to hand back its DataFrame (``None`` when the op
does not go through the registry).  ``check(op, result)`` returns
``None`` when the result is correct and a one-line reason otherwise.

Every input derives from the sf0.1 fixture tables; the seed picks the
slices, the injected dirt and the op order.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_T2

#: The sf0.1 fixture tables, beside the sf0.01 set the tier-1 tests read.
SF_DIR = os.path.join(os.path.dirname(SF_T2), "sf0.1")


@dataclass
class Op:
    name: str
    run: Callable[[int], tuple[object, float | None]]
    rows_in: int = 0
    bytes_in: int = 0


def _table_rows(name: str) -> int:
    return pq.ParquetFile(f"{SF_DIR}/{name}.parquet").metadata.num_rows


def _duck_views():
    import duckdb

    from data_ingest_utils_spark.sources.readers import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _registry_op(spark, queries, key: str):
    def run(seq: int):
        t0 = time.perf_counter()
        df = queries[key](spark, SF_DIR)
        built = time.perf_counter() - t0
        return (df.collect(), df.schema), built

    return run


def _to_pandas(rows, schema) -> pd.DataFrame:
    """Collected rows as the frame ``toPandas`` gives, without a Spark job."""
    from pyspark.sql import types as T

    df = pd.DataFrame.from_records([tuple(r) for r in rows], columns=schema.names)
    for i, f in enumerate(schema.fields):
        col, t = df.iloc[:, i], f.dataType
        if isinstance(t, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            df.isetitem(i, pd.to_datetime(col))
        elif isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            df.isetitem(i, col.astype("int64" if col.notna().all() else "float64"))
        elif isinstance(t, (T.FloatType, T.DoubleType, T.DecimalType)):
            df.isetitem(i, col.astype("float64"))
    return df


class OracleChecker:
    """DuckDB-oracle parity for registry keys (``tests/parity``).  Each
    key's oracle runs once; every result of the key is compared to it."""

    def __init__(self):
        from data_ingest_utils_spark.plans import ORACLES

        self.oracles = ORACLES
        self.duck = None
        self.want: dict[str, pd.DataFrame] = {}

    def check(self, key: str, result) -> str | None:
        from tests.parity import assert_parity

        if key not in self.want:
            if self.duck is None:
                self.duck = _duck_views()
            self.want[key] = self.duck.execute(self.oracles[key]).fetchdf()
        try:
            assert_parity(_to_pandas(*result), self.want[key], key)
        except AssertionError as e:
            return str(e).splitlines()[0]
        return None


# ------------------------------------------------------------ analytics_mix


class AnalyticsMix:
    """The 12 ``bench.py`` headline registry keys, each collected to the
    driver.  Input rows per key are the fixture rows of the tables it
    loads, recorded during the warm pass."""

    PASS_S = 7.0  # typical warm pass on a 4-core host (5 to 9.5 s seen)

    def __init__(self, spark, run_dir: str, rng: random.Random):
        from bench import HEADLINE

        from data_ingest_utils_spark.plans import QUERIES

        self.ops = [Op(k, _registry_op(spark, QUERIES, k)) for k in HEADLINE]
        self.oracle = OracleChecker()

    def stage(self) -> None:
        pass

    def check(self, op: Op, result) -> str | None:
        return self.oracle.check(op.name, result)


# ------------------------------------------------------------ ingest_stream

#: Sources of the raw drops: rows per drop, upsert key, the numeric
#: column whose sum is checked, and the partition column of the sink.
INGEST_SOURCES = {
    "orders": dict(rows=30_000, keys=["o_orderkey"], measure="o_totalprice",
                   part="o_orderstatus"),
    "lineitem": dict(rows=60_000, keys=["l_orderkey", "l_linenumber"],
                     measure="l_extendedprice", part="l_returnflag"),
    "customer": dict(rows=15_000, keys=["c_custkey"], measure="c_acctbal",
                     part="c_mktsegment"),
}
NULL_TOKENS = ["", "NULL", "null", "N/A", "NA", "None", "-"]
BAD_NUMBERS = ["12.3.4", "abc", "1,234.5", "#REF!"]
PAD_FRAC, NULL_FRAC, BAD_FRAC, DUP_FRAC = 0.10, 0.03, 0.02, 0.05


def _raw_name(col: str) -> str:
    """Landing-zone header spelling; ``normalize_columns`` maps it back."""
    return f" {col.upper()} "


def _parse_double(s: str | None) -> float | None:
    if s is None:
        return None
    try:
        return float(s.strip())
    except ValueError:
        return None


@dataclass
class Drop:
    name: str
    table: str
    fmt: str
    path: str
    raw_cols: list[str]
    spec: list[dict]
    expect: dict
    rows: int


def _make_drop(table: str, fmt: str, out_dir: str, rng: np.random.Generator) -> Drop:
    cfg = INGEST_SOURCES[table]
    # unique source keys: the only repeated keys are the injected ones,
    # which are strictly later, so the latest row per key is unambiguous
    src = pq.read_table(f"{SF_DIR}/{table}.parquet").to_pandas().drop_duplicates(cfg["keys"])
    src = src.iloc[np.sort(rng.choice(len(src), cfg["rows"], replace=False))]
    types = {c: str(t) for c, t in src.dtypes.items()}
    raw = src.astype(str).reset_index(drop=True)
    for c, t in types.items():
        if t.startswith("datetime"):
            raw[c] = src[c].dt.strftime("%Y-%m-%d %H:%M:%S").to_numpy()
    n = len(raw)
    base = pd.Timestamp("2024-01-01")
    updated = base + pd.to_timedelta(rng.integers(0, 86_400, n), unit="s")
    raw["updated_at"] = updated.strftime("%Y-%m-%d %H:%M:%S")

    # duplicate keys arriving later, carrying a changed measure
    dup = raw.iloc[rng.choice(n, int(n * DUP_FRAC), replace=False)].copy()
    later = pd.to_datetime(dup["updated_at"]) + pd.to_timedelta(
        86_400 + rng.integers(1, 3_600, len(dup)), unit="s"
    )
    dup["updated_at"] = later.dt.strftime("%Y-%m-%d %H:%M:%S").to_numpy()
    m = cfg["measure"]
    dup[m] = (dup[m].astype(float) * rng.uniform(0.5, 1.5, len(dup))).round(2).astype(str)
    raw = pd.concat([raw, dup], ignore_index=True)
    raw = raw.iloc[rng.permutation(len(raw))].reset_index(drop=True)

    # dirt: padding everywhere, null tokens and junk numbers off the key
    n = len(raw)
    clean = set(cfg["keys"]) | {cfg["part"], "updated_at"}
    for c in raw.columns:
        pad = rng.random(n) < PAD_FRAC
        raw.loc[pad, c] = "  " + raw.loc[pad, c] + " "
        if c in clean:
            continue
        nulls = rng.random(n) < NULL_FRAC
        raw.loc[nulls, c] = rng.choice(NULL_TOKENS, int(nulls.sum()))
        if types.get(c, "").startswith(("float", "int")):
            bad = (rng.random(n) < BAD_FRAC) & ~nulls
            raw.loc[bad, c] = rng.choice(BAD_NUMBERS, int(bad.sum()))

    # expected result, computed here from the raw strings
    keys = raw[cfg["keys"]].apply(lambda s: s.str.strip().astype("int64"))
    ts = pd.to_datetime(raw["updated_at"].str.strip())
    order = pd.concat([keys, ts.rename("_ts")], axis=1).sort_values("_ts", ascending=False)
    latest = order.drop_duplicates(cfg["keys"]).index
    vals = [v for v in (_parse_double(s) for s in raw.loc[latest, m]) if v is not None]
    expect = {"rows": len(latest), "measure_n": len(vals), "measure_sum": float(sum(vals))}

    raw.columns = [_raw_name(c) for c in raw.columns]
    name = f"{table}_{fmt}"
    path = os.path.join(out_dir, name)
    os.makedirs(path)
    if fmt == "csv":
        raw.to_csv(os.path.join(path, "part-0.csv"), index=False)
    else:
        raw.to_json(os.path.join(path, "part-0.jsonl"), orient="records", lines=True)

    casts = {c: "timestamp" for c, t in types.items() if t.startswith("datetime")}
    casts.update({c: "double" for c, t in types.items() if t.startswith("float")})
    casts.update({c: "bigint" for c, t in types.items() if t.startswith("int")})
    casts["updated_at"] = "timestamp"
    spec = [
        {"op": "normalize_columns"},
        {"op": "cast_columns", "casts": casts},
        {"op": "standardize_nulls"},
        {"op": "with_audit", "deterministic": True, "load_id": name},
        {"op": "latest_per_key", "keys": cfg["keys"], "ts_col": "updated_at"},
    ]
    return Drop(name, table, fmt, path, list(raw.columns), spec, expect, len(raw))


#: One pass of batch loads: each source table in one landing format.
LOADS = (("orders", "csv"), ("lineitem", "jsonl"), ("customer", "csv"))
#: Stream drains and the files (micro-batches) of each one's drop.  The
#: watermarked drain needs three, so its late rows land two batches
#: after the watermark passed them and are dropped.  The stateful
#: counter pays about 2.5 s per micro-batch, so it drains one file.
DRAIN_FILES = {"watermarked": 3, "counter": 1}
STREAM_ROWS, LATE_FRAC = 6_000, 0.05
STREAM_SCHEMA = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                           ("user_id", pa.int64()), ("event_type", pa.string()),
                           ("value", pa.float64())])


class IngestStream:
    """The write and streaming paths.  A load op reads one raw drop with
    an explicit schema, runs the ingestion pipeline and writes a
    partitioned parquet table into a fresh directory.  A drain op runs
    one availableNow drain over a seeded multi-file event drop (one file
    per micro-batch; a share of first-file rows arrives in the last
    file), and ``evt_stream_stream_join`` drains the registry's
    stream-stream join."""

    PASS_S = 10.0  # typical warm pass on a 4-core host (7.5 to 12 s seen)

    def __init__(self, spark, run_dir: str, rng: random.Random):
        self.spark, self.run_dir = spark, run_dir
        self.np_rng = np.random.default_rng(rng.getrandbits(64))
        self.drops: dict[str, Drop] = {}
        self.dirs: dict[str, str] = {}
        self.frames: dict[str, pd.DataFrame] = {}
        self.first: dict[str, list] = {}  # first result of each drain kind
        self.ops: list[Op] = []
        self.oracle = OracleChecker()

    def stage(self) -> None:
        from data_ingest_utils_spark.plans import QUERIES

        drop_dir = os.path.join(self.run_dir, "drops")
        for table, fmt in LOADS:
            d = _make_drop(table, fmt, drop_dir, self.np_rng)
            self.drops[d.name] = d
            size = sum(os.path.getsize(os.path.join(d.path, f)) for f in os.listdir(d.path))
            self.ops.append(Op(f"load:{d.name}", self._loader(d), d.rows, size))
        ev = pq.read_table(f"{SF_DIR}/events.parquet").to_pandas()
        ev = ev.drop(columns=["props"]).sort_values(["ts", "event_id"]).reset_index(drop=True)
        for kind, n_files in DRAIN_FILES.items():
            start = int(self.np_rng.integers(0, len(ev) - STREAM_ROWS))
            part = ev.iloc[start : start + STREAM_ROWS].copy()
            part["_file"] = np.arange(STREAM_ROWS) * n_files // STREAM_ROWS
            first = np.flatnonzero(part["_file"].to_numpy() == 0)
            late = self.np_rng.choice(first, int(STREAM_ROWS * LATE_FRAC), replace=False)
            part.iloc[late, part.columns.get_loc("_file")] = n_files - 1
            path = os.path.join(self.run_dir, "streams", kind)
            os.makedirs(path)
            now = time.time() - 1000
            for i in range(n_files):
                rows = part[part["_file"] == i].drop(columns="_file")
                rows = rows.iloc[self.np_rng.permutation(len(rows))]
                f = os.path.join(path, f"batch_{i:03d}.parquet")
                pq.write_table(
                    pa.Table.from_pandas(rows, preserve_index=False).cast(STREAM_SCHEMA), f
                )
                os.utime(f, (now + 10 * i, now + 10 * i))  # file-source order
            self.dirs[kind], self.frames[kind] = path, part
            self.ops.append(Op(f"drain:{kind}", self._drainer(kind), STREAM_ROWS))
        key = "evt_stream_stream_join"
        self.ops.append(Op(key, _registry_op(self.spark, QUERIES, key), _table_rows("events")))

    def _loader(self, d: Drop):
        from pyspark.sql import types as T

        # module attributes are looked up per call, so layer timers
        # installed after staging still see these calls
        from data_ingest_utils_spark import pipeline
        from data_ingest_utils_spark.sources import readers, writers

        schema = T.StructType([T.StructField(c, T.StringType()) for c in d.raw_cols])
        part = INGEST_SOURCES[d.table]["part"]

        def run(seq: int):
            if d.fmt == "csv":
                df = readers.read_csv(self.spark, d.path, schema=schema)
            else:
                df = readers.read_jsonl(self.spark, d.path, schema=schema)
            target = os.path.join(self.run_dir, "target", f"{seq:05d}_{d.name}")
            writers.write_partitioned(pipeline.apply_pipeline(df, d.spec), target, [part])
            return target, None

        return run

    def outputs(self, op: Op, target) -> tuple[int, int, int] | None:
        """Data files, bytes and rows a load op wrote (``None`` for drains)."""
        if not op.name.startswith("load:"):
            return None
        files = [os.path.join(d, f) for d, _, fs in os.walk(target) for f in fs
                 if f.endswith(".parquet")]
        return (len(files), sum(map(os.path.getsize, files)),
                sum(pq.ParquetFile(f).metadata.num_rows for f in files))

    def check(self, op: Op, result) -> str | None:
        if op.name.startswith("load:"):
            return self._check_load(op, result)
        if op.name.startswith("drain:"):
            return self._check_drain(op, result)
        return self.oracle.check(op.name, result)

    def _check_load(self, op: Op, target: str) -> str | None:
        import duckdb

        d = self.drops[op.name.split(":", 1)[1]]
        cfg = INGEST_SOURCES[d.table]
        keys, m = ", ".join(cfg["keys"]), cfg["measure"]
        n, n_keys, n_m, s, bad_audit = duckdb.sql(
            f"SELECT count(*), count(DISTINCT ({keys})), count({m}), sum({m}),"
            f" count(*) - count(_audit_row_hash)"
            f" FROM read_parquet('{target}/**/*.parquet', hive_partitioning = true)"
        ).fetchone()
        e = d.expect
        if (n, n_keys, n_m) != (e["rows"], e["rows"], e["measure_n"]) or bad_audit:
            return (f"{op.name}: rows/keys/values {n}/{n_keys}/{n_m}, "
                    f"expected {e['rows']}/{e['rows']}/{e['measure_n']}")
        if abs((s or 0.0) - e["measure_sum"]) > 1e-6 * max(1.0, abs(e["measure_sum"])):
            return f"{op.name}: sum({m}) {s} != expected {e['measure_sum']}"
        return None

    def _transform(self, kind: str, df):
        from data_ingest_utils_spark.streaming import stateful, transforms

        if kind == "watermarked":
            return transforms.watermarked_tumbling(df), "append"
        return stateful.running_counter(df), "update"

    def _drainer(self, kind: str):
        from data_ingest_utils_spark.streaming import runner

        def run(seq: int):
            sink = f"perfbench_{kind}_{seq}"
            q, mode = self._transform(kind, runner.read_parquet_stream(self.spark, self.dirs[kind]))
            progress = runner.run_available_now(q, sink, output_mode=mode)
            try:
                rows = self.spark.table(sink).collect()
            finally:
                self.spark.catalog.dropTempView(sink)
            return (rows, progress), None

        return run

    def _check_drain(self, op: Op, result) -> str | None:
        kind = op.name.split(":", 1)[1]
        rows, progress = result
        canon = sorted(map(repr, rows))
        if kind in self.first:
            return None if canon == self.first[kind] else f"{op.name}: result differs between drains"
        self.first[kind] = canon
        if kind == "counter":
            part = self.frames[kind].sort_values(["_file", "ts", "event_id"])
            want = dict(zip(part["event_id"], part.groupby("user_id").cumcount() + 1))
            got = {r.event_id: r.n_so_far for r in rows}
            return None if got == want else f"{op.name}: running counts differ from the batch twin"
        batch = self.spark.read.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).parquet(self.dirs[kind])
        twin, _ = self._transform(kind, batch)
        want = {(r.bucket_start, r.event_type): r for r in twin.collect()}
        # Append mode drops rows behind the watermark and may emit a late
        # window twice; every emitted count is bounded by the batch twin.
        got: dict = {}
        for r in rows:
            got[r.bucket_start, r.event_type] = got.get((r.bucket_start, r.event_type), 0) + r.n
        dropped = sum(
            so.get("numRowsDroppedByWatermark", 0)
            for p in progress
            for so in p.get("stateOperators", [])
        )
        if any(k not in want or n > want[k].n for k, n in got.items()):
            return f"{op.name}: emitted windows not bounded by the batch twin"
        if dropped <= 0 or sum(got.values()) + dropped > sum(r.n for r in want.values()):
            return f"{op.name}: {dropped} rows dropped by the watermark do not reconcile"
        return None


#: Keep in step with ``run.WORKLOAD_NAMES`` and BENCHMARK.json.
WORKLOADS = {
    "analytics_mix": AnalyticsMix,
    "ingest_stream": IngestStream,
}
