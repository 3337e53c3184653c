"""Command-line interface (reference parity:
``/root/reference/src/spark_fuse/tools/cli.py:49-113`` — list data
sources, read-and-show through a connector).  Built on argparse (this
container ships no typer/rich) and extended with catalog commands:

* ``datasources`` — list the registered Python Data Source formats;
* ``read --format rest|sparql|qdrant --config '<json>' [--show N]``;
* ``queries`` — list the analytic query catalog;
* ``run --query NAME [--sf DIR]`` — execute a catalog query and show it;
* ``parity [NAMES...] [--threads N]`` — differential-oracle sweep vs
  DuckDB, one PASS/FAIL line with wall seconds per query;
* ``profile NAMES... [--passes N]`` — per pass, one JSON line with a
  query's build and collect seconds and its Spark job and stage counts;
* ``tokenize train|apply`` — BPE merge-table training / application;
* ``table history|show|rollback|vacuum`` — versioned-table maintenance.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

__all__ = ["main", "build_parser"]

_DATA_SOURCES = {
    "rest": "paginated JSON REST API reader + offset-paginated stream reader (fuse-rest)",
    "sparql": "SPARQL endpoint reader (fuse-sparql)",
    "qdrant": "Qdrant vector-store reader/writer + streaming sink (fuse-qdrant)",
    "files": "file-manifest lister, one partition per subtree (fuse-files)",
}


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="spark-fuse-spark", description="PySpark analytics engine CLI"
    )
    sub = parser.add_subparsers(dest="command", required=True)

    sub.add_parser("datasources", help="list available data source formats")

    read = sub.add_parser("read", help="read through a connector and show rows")
    read.add_argument("--format", required=True, choices=sorted(_DATA_SOURCES))
    read.add_argument("--config", required=True, help="connector config JSON (string or @file)")
    read.add_argument("--show", type=int, default=10)

    sub.add_parser("queries", help="list the analytic query catalog")

    run = sub.add_parser("run", help="run a catalog query")
    run.add_argument("--query", required=True)
    run.add_argument("--sf", default=None, help="scale-factor directory (default $SPARK_GRAFT_SF_DIR)")
    run.add_argument("--show", type=int, default=20)
    run.add_argument("--explain", action="store_true", help="print the formatted physical plan")
    run.add_argument(
        "--check",
        action="store_true",
        help="also run the query's DuckDB oracle and report the differential-parity verdict",
    )
    run.add_argument(
        "--metrics",
        action="store_true",
        help="after the run, print executed-plan metrics (rows scanned, shuffle records/bytes)",
    )

    parity = sub.add_parser(
        "parity", help="differential-oracle sweep: run catalog queries vs DuckDB"
    )
    parity.add_argument("names", nargs="*", help="queries to check (default: every oracle-paired query)")
    parity.add_argument("--sf", default=None, help="scale-factor directory (default $SPARK_GRAFT_SF_DIR)")
    parity.add_argument("--threads", type=int, default=1, help="queries in flight at once")

    profile = sub.add_parser(
        "profile", help="time build and collect of catalog queries; count their jobs and stages"
    )
    profile.add_argument("names", nargs="+", help="queries to profile")
    profile.add_argument("--sf", default=None, help="scale-factor directory (default $SPARK_GRAFT_SF_DIR)")
    profile.add_argument("--passes", type=int, default=1, help="runs per query, one JSON line each")

    tok = sub.add_parser(
        "tokenize", help="train or apply a BPE merge table (functions/bpe)"
    )
    tok.add_argument("action", choices=["train", "apply"])
    tok.add_argument("--sf", default=None, help="scale-factor directory (default $SPARK_GRAFT_SF_DIR)")
    tok.add_argument("--table", default="documents", help="source table name")
    tok.add_argument("--text-col", default="text")
    tok.add_argument("--n-merges", type=int, default=24, help="train: merge rounds")
    tok.add_argument(
        "--merge-table",
        default=None,
        help="apply: merge table JSON [[l, r], ...] (string or @file); "
        "trains --n-merges rounds first when omitted",
    )
    tok.add_argument(
        "--key-col",
        default=None,
        help="apply: unique-per-row key column for the token-count re-join "
        "(default: first column; uniqueness is validated — a non-unique key "
        "would fan the join out and silently duplicate rows)",
    )
    tok.add_argument("--show", type=int, default=10)

    table = sub.add_parser(
        "table", help="inspect/maintain a versioned parquet table (cdc.versioned)"
    )
    table.add_argument("action", choices=["history", "show", "rollback", "vacuum"])
    table.add_argument("--path", required=True, help="table directory")
    table.add_argument("--version", type=int, default=None, help="version for show/rollback")
    table.add_argument("--keep", type=int, default=2, help="versions to retain on vacuum")
    table.add_argument("--show", type=int, default=20)
    return parser


def _config_blob(value: str) -> str:
    if value.startswith("@"):
        with open(value[1:], encoding="utf-8") as fh:
            value = fh.read()
    json.loads(value)  # validate early, fail with a parse error not a Spark error
    return value


def _cmd_datasources() -> int:
    width = max(len(n) for n in _DATA_SOURCES)
    for name, desc in sorted(_DATA_SOURCES.items()):
        print(f"{name:<{width}}  {desc}")
    return 0


def _cmd_read(args: argparse.Namespace) -> int:
    from spark_fuse_spark.session import create_session
    from spark_fuse_spark.sources import qdrant, rest, sparql

    modules = {"rest": rest, "sparql": sparql, "qdrant": qdrant}
    mod = modules[args.format]
    spark = create_session(app_name=f"cli-read-{args.format}")
    mod.register(spark)
    df = (
        spark.read.format(mod.FORMAT_NAME)
        .option(mod.CONFIG_OPTION, _config_blob(args.config))
        .load()
    )
    df.show(args.show, truncate=False)
    return 0


def _cmd_queries() -> int:
    from spark_fuse_spark.catalog import load_all

    registry = load_all()
    width = max(len(n) for n in registry)
    for name, spec in sorted(registry.items()):
        oracle = "oracle" if spec.oracle else "rows-only"
        doc = " ".join((spec.doc or "").split())[:80]
        print(f"{name:<{width}}  [{oracle}]  {doc}")
    return 0


def _cmd_run(args: argparse.Namespace) -> int:
    from spark_fuse_spark.catalog import load_all
    from spark_fuse_spark.session import create_session
    from spark_fuse_spark.tables import default_sf_dir

    registry = load_all()
    if args.query not in registry:
        print(f"unknown query {args.query!r}; `queries` lists the catalog", file=sys.stderr)
        return 2
    spark = create_session(app_name=f"cli-run-{args.query}")
    sf_dir = args.sf or default_sf_dir()
    spec = registry[args.query]
    df = spec.spark(spark, sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.show, truncate=False)
    if args.metrics:
        from spark_fuse_spark.plans import executed_metrics, shuffle_summary

        # metrics attach to THIS DataFrame's queryExecution, and show()
        # runs a separate limited plan — drive the full query once.
        # Counting the executed plan's own RDD keeps the metrics attached
        # (df.count() would execute a different plan) WITHOUT collecting
        # the result to the driver: the count is a JVM-side RDD action.
        n_rows = df._jdf.queryExecution().executedPlan().execute().count()
        print(f"rows: {n_rows}")
        print(json.dumps(shuffle_summary(df)))
        for n in executed_metrics(df):
            interesting = {k: v for k, v in n["metrics"].items() if v}
            if interesting:
                print(f"{'  ' * n['depth']}{n['node']}: {interesting}")
    if args.check:
        if spec.oracle is None:
            print(f"{args.query}: rows-only query (no SQL oracle registered)")
            return 0
        from spark_fuse_spark.testing import compare_frames, duckdb_connection

        res = compare_frames(args.query, df, duckdb_connection(sf_dir), spec.oracle)
        verdict = "PARITY OK" if res.ok else f"PARITY MISMATCH: {res.detail}"
        print(f"{args.query}: {verdict} (spark={res.spark_rows} oracle={res.oracle_rows} rows)")
        return 0 if res.ok else 1
    return 0


def _cmd_parity(args: argparse.Namespace) -> int:
    from spark_fuse_spark.session import create_session
    from spark_fuse_spark.tables import default_sf_dir
    from spark_fuse_spark.testing import run_parity

    spark = create_session(app_name="cli-parity")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    results = []
    for r in run_parity(spark, args.sf or default_sf_dir(), args.names or None, args.threads):
        print(f"{'PASS' if r.ok else 'FAIL'} {r.name} {r.seconds:.2f}s"
              + ("" if r.ok else f"  {r.detail}"), flush=True)
        results.append(r)
    failures = sorted(r.name for r in results if not r.ok)
    print(f"{len(results) - len(failures)}/{len(results)} pass "
          f"in {time.perf_counter() - t0:.0f}s; failures: {failures}")
    return 0 if not failures else 1


def _cmd_profile(args: argparse.Namespace) -> int:
    from spark_fuse_spark.catalog import load_all
    from spark_fuse_spark.plans import count_jobs
    from spark_fuse_spark.session import create_session
    from spark_fuse_spark.tables import default_sf_dir

    registry = load_all()
    unknown = [n for n in args.names if n not in registry]
    if unknown:
        print(f"unknown queries {unknown}; `queries` lists the catalog", file=sys.stderr)
        return 2
    spark = create_session(app_name="cli-profile")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = args.sf or default_sf_dir()

    def build_and_collect(spec) -> "tuple[float, float]":
        t0 = time.perf_counter()
        df = spec.spark(spark, sf_dir)
        t1 = time.perf_counter()
        df.collect()
        return t1 - t0, time.perf_counter() - t1

    for name in args.names:
        for p in range(args.passes):
            (build_s, action_s), jobs, stages = count_jobs(
                spark, f"profile:{name}:{p}:{time.time_ns()}",
                lambda: build_and_collect(registry[name]),
            )
            print(json.dumps({
                "name": name, "pass": p, "build_s": round(build_s, 3),
                "action_s": round(action_s, 3), "jobs": jobs, "stages": stages,
            }), flush=True)
    return 0


def _cmd_tokenize(args: argparse.Namespace) -> int:
    from spark_fuse_spark.functions.bpe import (
        train_bpe,
        with_bpe_token_count,
        with_bpe_tokens,
        word_frequency,
    )
    from pyspark.sql import functions as F

    from spark_fuse_spark.session import create_session
    from spark_fuse_spark.tables import default_sf_dir, load_table

    spark = create_session(app_name=f"cli-tokenize-{args.action}")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = args.sf or default_sf_dir()
    df = load_table(spark, sf_dir, args.table)

    if args.action == "train":
        merges = train_bpe(word_frequency(df, args.text_col), args.n_merges)
        # one JSON line: [[left, right, pair_freq], ...] — pipe to @file
        # and feed back through `tokenize apply --merge-table @file`
        print(json.dumps([[l, r, f] for l, r, f in merges]))
        return 0

    if args.merge_table:
        rows = json.loads(_config_blob(args.merge_table))
        merges = [(r[0], r[1]) for r in rows]
    else:
        merges = [
            (l, r) for l, r, _ in train_bpe(word_frequency(df, args.text_col), args.n_merges)
        ]
    key = args.key_col or df.columns[0]
    if key not in df.columns:
        print(f"--key-col {key!r} not in table columns {df.columns}", file=sys.stderr)
        return 2
    # with_bpe_token_count re-joins on the key, so a non-unique key fans
    # the join out and silently duplicates rows — validate up front
    uniq = df.agg(
        F.count(key).alias("n"), F.count_distinct(key).alias("d")
    ).first()
    if uniq["n"] != uniq["d"]:
        print(
            f"key column {key!r} is not unique per row "
            f"({uniq['n']} rows, {uniq['d']} distinct) — pass --key-col "
            "with a unique key for this table",
            file=sys.stderr,
        )
        return 2
    out = with_bpe_token_count(
        with_bpe_tokens(df, args.text_col, merges, out_col="bpe_tokens"),
        key,
        args.text_col,
        merges,
        out_col="n_bpe_tokens",
    ).select(key, "n_bpe_tokens", "bpe_tokens")
    out.show(args.show, truncate=80)
    return 0


def _cmd_table(args: argparse.Namespace) -> int:
    from spark_fuse_spark.cdc import VersionedParquetStore

    store = VersionedParquetStore()
    if args.action == "history":
        for m in store.history(args.path):
            print(json.dumps(m))
        return 0
    if args.action == "rollback":
        if args.version is None:
            print("rollback requires --version", file=sys.stderr)
            return 2
        new_v = store.rollback(args.path, args.version)
        print(f"committed v{new_v} (content of v{args.version})")
        return 0
    if args.action == "vacuum":
        deleted = store.vacuum(args.path, keep_last=args.keep)
        print(f"deleted {len(deleted)} segment(s): {deleted}")
        return 0
    # show
    from spark_fuse_spark.session import create_session

    spark = create_session(app_name="cli-table-show")
    df = (
        store.read_version(spark, args.path, args.version)
        if args.version is not None
        else store.read(spark, args.path)
    )
    df.show(args.show, truncate=False)
    return 0


def main(argv: "list[str] | None" = None) -> int:
    args = build_parser().parse_args(argv)
    if args.command == "datasources":
        return _cmd_datasources()
    if args.command == "read":
        return _cmd_read(args)
    if args.command == "queries":
        return _cmd_queries()
    if args.command == "run":
        return _cmd_run(args)
    if args.command == "parity":
        return _cmd_parity(args)
    if args.command == "profile":
        return _cmd_profile(args)
    if args.command == "tokenize":
        return _cmd_tokenize(args)
    if args.command == "table":
        return _cmd_table(args)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
