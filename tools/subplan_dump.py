"""Un-truncated subplan evidence for checkpointed iterative operators.

The registered queries checkpoint every round, so their final
`.explain` reads checkpoint RDDs and shows nothing of the per-round
plan (the round-9 verdict's "checkpoint-truncated plan dumps are
non-evidence" defect).  This tool captures the DataFrame handed to
each checkpoint call — i.e. the full pre-truncation round plan — by
wrapping ``DataFrame.localCheckpoint`` with a spy, runs each iterative
operator for two rounds, and writes ``explain("formatted")`` of the
LAST captured round (whose inputs are already checkpointed, so the dump
is exactly one round's plan) to ``--plan-dir/<name>_round_<suffix>.txt``.

Usage: python tools/subplan_dump.py --plan-dir plans/r10 --suffix after
Run it once on the old tree (``--suffix before``) and once on the new.
Engineering instrument only — no bench/oracle surface.
"""
from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from spark_fuse_spark.session import create_session  # noqa: E402


def _explain(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plan-dir", default="plans/r10")
    ap.add_argument("--suffix", default="after")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()
    os.makedirs(args.plan_dir, exist_ok=True)

    spark = create_session(
        app_name="subplan-dump", master="local[8]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Spark 4 instantiates the classic subclass, whose own localCheckpoint
    # would shadow a patch on the abstract pyspark.sql.DataFrame
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _CDF
    except ImportError:  # pragma: no cover - older pyspark
        _CDF = DataFrame

    captured: list[DataFrame] = []
    real_ckpt = _CDF.localCheckpoint

    def spy(self: DataFrame, *args, **kwargs) -> DataFrame:
        captured.append(self)
        return real_ckpt(self, *args, **kwargs)

    _CDF.localCheckpoint = spy  # type: ignore[method-assign]
    try:
        from spark_fuse_spark.operators import graph as G

        o = spark.read.parquet(f"{args.sf}/orders.parquet").select("o_orderkey", "o_custkey")
        li = spark.read.parquet(f"{args.sf}/lineitem.parquet").select("l_orderkey", "l_suppkey")
        edges = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .select(F.col("o_custkey").alias("src"), (F.col("l_suppkey") + 1_000_000).alias("dst"))
            .distinct()
            .localCheckpoint()
        )
        captured.clear()

        dumps: dict[str, DataFrame] = {}

        G.pagerank(edges, iterations=2).count()
        dumps["pagerank"] = captured[-1]
        captured.clear()

        G.pagerank_exact(edges, iterations=2).count()
        dumps["pagerank_exact"] = captured[-1]
        captured.clear()

        h, a = G.hits(edges, iterations=1)
        h.count()
        dumps["hits_half_round"] = captured[-1]
        captured.clear()

        pairs = spark.range(400).select(
            (F.col("id") % 97).alias("id_a"), (F.col("id") % 89 + 1).alias("id_b")
        )
        G.connected_components(pairs, max_iterations=2)
        dumps["cc_round"] = captured[-1]
        captured.clear()
    finally:
        _CDF.localCheckpoint = real_ckpt  # type: ignore[method-assign]

    for name, df in dumps.items():
        plan = _explain(df)
        n_ex = len(re.findall(r"\bExchange\b", plan))
        path = os.path.join(args.plan_dir, f"{name}_round_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{name}: exchanges={n_ex} -> {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
