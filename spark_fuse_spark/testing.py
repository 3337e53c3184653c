"""Differential-oracle harness: Spark result vs DuckDB SQL result.

Mirrors the driver's correctness gate (row-count + schema + order-
insensitive value comparison with columns sorted by name) so every
catalog query can be verified locally before the driver ever runs.
"""

from __future__ import annotations

import datetime as _dt
import math
import threading
import time
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .tables import TABLE_NAMES


def duckdb_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _canon(v):
    """Canonicalize a cell for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse last-ulp noise; catalog queries pre-round to ≤6 decimals
        return round(v, 9)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="seconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, bool):
        return bool(v)
    import decimal

    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    return v


@dataclass
class ParityResult:
    name: str
    ok: bool
    spark_rows: int = 0
    oracle_rows: int = 0
    detail: str = ""
    mismatches: list = field(default_factory=list)
    seconds: float = 0.0


def compare_frames(name: str, spark_df: DataFrame, con, oracle: str,
                   max_mismatches: int = 5) -> ParityResult:
    spark_rows = spark_df.collect()
    oracle_rel = con.sql(oracle)
    oracle_cols = [c.lower() for c in oracle_rel.columns]
    oracle_rows = oracle_rel.fetchall()

    spark_cols = [c.lower() for c in spark_df.columns]
    if sorted(spark_cols) != sorted(oracle_cols):
        return ParityResult(
            name, False, len(spark_rows), len(oracle_rows),
            f"column mismatch: spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}",
        )
    if len(spark_rows) != len(oracle_rows):
        return ParityResult(
            name, False, len(spark_rows), len(oracle_rows),
            f"row count mismatch: spark={len(spark_rows)} oracle={len(oracle_rows)}",
        )

    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    o_order = sorted(range(len(oracle_cols)), key=lambda i: oracle_cols[i])

    def sort_key(row):
        # total order over mixed None/typed cells (None sorts first)
        return tuple((v is None, type(v).__name__, str(v)) for v in row)

    s_set = sorted(
        (tuple(_canon(row[i]) for i in order) for row in spark_rows), key=sort_key
    )
    o_set = sorted(
        (tuple(_canon(row[i]) for i in o_order) for row in oracle_rows), key=sort_key
    )
    if s_set == o_set:
        return ParityResult(name, True, len(spark_rows), len(oracle_rows))
    mism = [(s, o) for s, o in zip(s_set, o_set) if s != o][:max_mismatches]
    return ParityResult(
        name, False, len(spark_rows), len(oracle_rows),
        f"value mismatch on {sum(1 for s, o in zip(s_set, o_set) if s != o)} rows "
        f"(cols sorted: {sorted(spark_cols)})",
        mism,
    )


def run_parity(spark: SparkSession, sf_dir: str, names: "list[str] | None" = None,
               threads: int = 1):
    """Run every oracle-bearing catalog query (or those in ``names``)
    against its DuckDB oracle; yield one :class:`ParityResult` per query
    as each finishes, with its wall seconds (build, collect and oracle).

    ``threads`` queries run at once.  A query's wall time is mostly fixed
    per-job planning and scheduling overhead that leaves the cores idle,
    so overlapping queries shortens the sweep.  Spark job submission is
    thread-safe; DuckDB connections are not, so each thread opens its
    own.  The few queries that register temp views all run at the same
    ``sf_dir``, so concurrent re-registration writes identical
    definitions.  With ``threads > 1`` results arrive in completion
    order and each query's seconds include contention."""
    from .catalog import load_all

    registry = load_all()
    todo = sorted(
        n for n, spec in registry.items()
        if spec.oracle is not None and (not names or n in names)
    )
    local = threading.local()

    def check(qname: str) -> ParityResult:
        if not hasattr(local, "con"):
            local.con = duckdb_connection(sf_dir)
        spec = registry[qname]
        t0 = time.perf_counter()
        try:
            res = compare_frames(qname, spec.spark(spark, sf_dir), local.con, spec.oracle)
        except Exception as exc:  # surface, don't abort the sweep
            res = ParityResult(qname, False, detail=f"EXCEPTION: {exc}")
        res.seconds = time.perf_counter() - t0
        return res

    with ThreadPoolExecutor(max_workers=threads) as pool:
        for fut in as_completed([pool.submit(check, n) for n in todo]):
            yield fut.result()
