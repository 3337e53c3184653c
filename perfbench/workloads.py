"""The benchmark's workloads: a fixed list of ops per pass, and the output
checks run after the timed window.

An op is a ``build`` step (DataFrame construction, or the whole call for
a write) and an ``action`` step (the final action).  Each op names the
generated rows it consumes, for ``rows_per_s``.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import duckdb

KEYS = ["o_orderkey"]
ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]


@dataclass
class Op:
    name: str
    build: Callable[[Any], Any]
    action: Callable[[Any], Any]
    rows_in: int
    catalog: bool = False  # a registry query (its steps are the catalog layer)


def _collect(df):
    return df.columns, df.collect()


def _spark(spark):
    return spark


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="seconds")
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def same_rows(spark_rows, spark_cols, duck_rel) -> bool:
    """Order-insensitive value comparison of Spark rows with a DuckDB
    relation, columns matched by name."""
    cols = [c.lower() for c in spark_cols]
    duck_cols = [c.lower() for c in duck_rel.columns]
    if sorted(cols) != sorted(duck_cols):
        return False
    s_idx = sorted(range(len(cols)), key=lambda i: cols[i])
    d_idx = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    key = lambda row: tuple((v is None, type(v).__name__, str(v)) for v in row)  # noqa: E731
    s = sorted((tuple(_canon(r[i]) for i in s_idx) for r in spark_rows), key=key)
    d = sorted((tuple(_canon(r[i]) for i in d_idx) for r in duck_rel.fetchall()), key=key)
    return s == d


class Workload:
    name = ""

    def __init__(self, data_dir: str, manifest: dict, work_dir: str) -> None:
        self.data_dir = data_dir
        self.manifest = manifest
        self.work_dir = work_dir
        self.ops: "list[Op]" = []

    def rows(self, table: str) -> int:
        return self.manifest["tables"][table]["rows"]

    def table_path(self, table: str) -> str:
        return os.path.join(self.data_dir, f"{table}.parquet")

    def duck(self):
        con = duckdb.connect()
        for table in self.manifest["tables"]:
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{self.table_path(table)}')")
        return con

    def start_pass(self, index: int) -> None:
        """Untimed preparation before pass ``index``."""

    def check(self, spark, results: "list[dict[str, Any]]") -> "list[str]":
        """Names of ops whose output is wrong, one entry per wrong result
        (``results`` holds one dict of op outputs per pass)."""
        raise NotImplementedError


class DedupGraph(Workload):
    """Curation and iterative-graph path: dedup clusters (ngram Jaccard pairs
    plus connected components) and Arrow pandas-UDF embeddings."""

    name = "dedup_graph"
    QUERIES = ("d_dedup_clusters", "a_hash_embeddings")

    def __init__(self, data_dir, manifest, work_dir):
        super().__init__(data_dir, manifest, work_dir)
        from spark_fuse_spark.catalog import load_all

        self.registry = load_all()
        for q in self.QUERIES:
            spec = self.registry[q]
            self.ops.append(Op(q, lambda spark, spec=spec: spec.spark(spark, self.data_dir), _collect,
                               self.rows("documents"), True))

    def expected_embeddings(self):
        """``a_hash_embeddings`` recomputed in this process with
        ``hash_embed_one``: per language, row count and mean first
        component of the float32 vector."""
        import numpy as np
        import pyarrow.parquet as pq

        from spark_fuse_spark.ai.embeddings import hash_embed_one

        docs = pq.read_table(self.table_path("documents"), columns=["text", "lang"]).to_pydict()
        acc: dict[str, list[float]] = {}
        for text, lang in zip(docs["text"], docs["lang"]):
            acc.setdefault(lang, []).append(float(np.float32(hash_embed_one(text)[0])))
        return {lang: (len(v), sum(v) / len(v)) for lang, v in acc.items()}

    def check(self, spark, results):
        wrong = []
        con = self.duck()
        expected = {}
        for q in self.QUERIES:
            if self.registry[q].oracle:  # run each oracle once, not once per pass
                con.sql(f"CREATE TABLE expected_{q} AS {self.registry[q].oracle}")
                expected[q] = con.table(f"expected_{q}")
        emb = self.expected_embeddings()
        for out in results:
            for q, result in out.items():
                columns, rows = result
                if q == "a_hash_embeddings":
                    got = {r["lang"]: (r["n_docs"], r["avg_dim0"]) for r in rows}
                    ok = got.keys() == emb.keys() and all(
                        got[k][0] == emb[k][0] and abs(got[k][1] - emb[k][1]) <= 2e-6 for k in emb
                    )
                else:
                    ok = same_rows(rows, columns, expected[q])
                if not ok:
                    wrong.append(q)
        con.close()
        return wrong


class CdcMerge(Workload):
    """The write path: merge-on-read upserts and erasures with a live read
    after each batch, one compaction, SCD2 history on a parquet target, and
    one compacted rewrite."""

    name = "cdc_merge"

    def __init__(self, data_dir, manifest, work_dir):
        super().__init__(data_dir, manifest, work_dir)
        from spark_fuse_spark import cdc, tables
        from spark_fuse_spark.operators import layout

        self.cdc, self.tables, self.layout = cdc, tables, layout
        self.batches = manifest["batches"]
        self.pass_dir = ""
        n_orders = self.rows("orders")
        # write ops do all their work in the action step
        self.ops.append(Op("mor_write", _spark, self._mor_write, n_orders))
        for b in range(self.batches):
            self.ops += [
                Op(f"b{b}.upsert", _spark, self._upsert(b), self.rows(f"upsert_{b}")),
                Op(f"b{b}.delete", _spark, self._delete(b), self.rows(f"delete_{b}")),
                Op(f"b{b}.read", self._live_agg, _collect, 0),
            ]
        self.ops.append(Op("mor_compact", _spark, self._compact, 0))
        self.ops.append(Op("scd2.load", _spark, self._scd2("orders"), n_orders))
        for b in range(self.batches):
            self.ops.append(Op(f"scd2.b{b}", _spark, self._scd2(f"upsert_{b}"), self.rows(f"upsert_{b}")))
        self.ops.append(Op("write_compacted", _spark, self._write_compacted, 0))

    # paths of the current pass's targets
    @property
    def mor(self):
        return os.path.join(self.pass_dir, "mor")

    @property
    def scd(self):
        return os.path.join(self.pass_dir, "scd2")

    @property
    def compacted(self):
        return os.path.join(self.pass_dir, "compacted")

    def start_pass(self, index):
        shutil.rmtree(self.work_dir, ignore_errors=True)
        self.pass_dir = os.path.join(self.work_dir, f"pass-{index}")
        os.makedirs(self.pass_dir)

    def _read(self, spark, table):
        if table == "orders":
            return self.tables.load_table(spark, self.data_dir, "orders")
        return spark.read.parquet(self.table_path(table))

    def _mor_write(self, spark):
        return self.cdc.mor_write(self._read(spark, "orders"), self.mor)

    def _upsert(self, b):
        return lambda spark: self.cdc.mor_upsert(self._read(spark, f"upsert_{b}"), self.mor, KEYS)

    def _delete(self, b):
        return lambda spark: self.cdc.mor_delete(self._read(spark, f"delete_{b}"), self.mor, KEYS)

    def _live_agg(self, spark):
        from pyspark.sql import functions as F

        return (
            self.cdc.mor_read(spark, self.mor, KEYS)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
                F.sum("o_orderkey").alias("keys"),
            )
        )

    def _compact(self, spark):
        return self.cdc.mor_compact(spark, self.mor, KEYS)

    def _scd2(self, table):
        def run(spark):
            return self.cdc.apply_change_tracking(
                spark, self._read(spark, table), self.scd, KEYS, mode="track_history",
                store=self.cdc.ParquetStore(),
            )

        return run

    def _write_compacted(self, spark):
        live = self.cdc.mor_read(spark, self.mor, KEYS)
        return self.layout.write_compacted(live, self.compacted, target_file_bytes=256 * 1024)

    def _replay(self):
        """DuckDB replay of the batch sequence: the expected live-view
        aggregate after each batch, the final live rows, and the SCD2
        current rows (upserts only; erasures do not reach SCD2)."""
        con = self.duck()
        con.sql("CREATE TABLE live AS SELECT * FROM orders")
        con.sql("CREATE TABLE cur AS SELECT * FROM orders")
        agg = """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
                        CAST(SUM(o_orderkey) AS BIGINT) AS keys
                 FROM live GROUP BY 1"""
        after = []
        for b in range(self.batches):
            for t in ("live", "cur"):
                con.sql(f"DELETE FROM {t} WHERE o_orderkey IN (SELECT o_orderkey FROM upsert_{b})")
                con.sql(f"INSERT INTO {t} SELECT * FROM upsert_{b}")
            con.sql(f"DELETE FROM live WHERE o_orderkey IN (SELECT o_orderkey FROM delete_{b})")
            after.append(con.sql(agg).fetchall())
        return con, after

    @staticmethod
    def _same_orders(con, df, table: str) -> bool:
        """Whether a Spark DataFrame holds exactly the rows (as a multiset)
        of a DuckDB table in the orders schema."""
        con.register("got", df.select(*ORDERS_COLS).toArrow())
        cols = ", ".join(c if c != "o_orderdate" else "epoch_us(o_orderdate)" for c in ORDERS_COLS)
        a, b = f"SELECT {cols} FROM got", f"SELECT {cols} FROM {table}"
        diff = con.sql(f"SELECT COUNT(*) FROM (({a} EXCEPT ALL {b}) UNION ALL ({b} EXCEPT ALL {a}))")
        return diff.fetchone()[0] == 0

    def check(self, spark, results):
        con, after = self._replay()
        wrong = []
        for out in results:  # an op missing from ``out`` failed and is counted already
            for b in range(self.batches):
                got = out.get(f"b{b}.read")
                if got is not None and sorted(tuple(r) for r in got[1]) != sorted(after[b]):
                    wrong.append(f"b{b}.read")
            if out.get("mor_compact", 2 * self.batches) != 2 * self.batches:
                wrong.append("mor_compact")
        if len(results[-1]) == len(self.ops):
            # the last pass's targets are still on disk
            if not self._same_orders(con, self.cdc.mor_read(spark, self.mor, KEYS), "live"):
                wrong.append("mor_compact")
            if not self._same_orders(con, spark.read.parquet(self.scd).where("is_current"), "cur"):
                wrong.append(f"scd2.b{self.batches - 1}")
            if not self._same_orders(con, spark.read.parquet(self.compacted), "live"):
                wrong.append("write_compacted")
        con.close()
        return wrong


WORKLOADS = {w.name: w for w in (DedupGraph, CdcMerge)}
