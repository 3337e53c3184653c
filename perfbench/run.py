#!/usr/bin/env python3
"""Benchmark: one workload, one seed, repeated passes on local[N].

    python3 perfbench/run.py --workload dedup_graph --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from the seed (see ``gen.py``), sets the
Spark session up once in a fresh JVM, runs one untimed warm pass, then
runs passes over the workload's op list until ``--seconds`` have passed
(at least ``MIN_PASSES``) and checks every output against DuckDB or a
recomputation in this process.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs span
wrappers around the library's layers, reads Spark's job and stage records
per job group, and prints the per-layer metrics.  Traced runs mix traced
and untraced passes in the order ABBA (which of the two comes first
alternates with the seed), so tracing overhead is measured in the same
host window and a drift within the run cancels.  The last stdout line is
one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the details (samples, quartiles, host record, input sizes).

Everything the run writes goes under ``.bench_build/perfbench`` in the
checkout.  Exits with code 2, printing no result, when the checkout has
no ``spark_fuse_spark`` package to measure.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict

from spans import Hook

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_CORES = 4
# timed passes per run, at least: pass_s is their median.  A traced run
# needs two traced and two untraced passes.
MIN_PASSES = {0: 3, 1: 4}


def quartiles(values: "list[float]") -> "list[float]":
    if len(values) < 2:
        return [values[0]] * 3
    return statistics.quantiles(values, n=4, method="inclusive")


def median(values):
    return statistics.median(values) if values else 0.0


class FileAccounting(Hook):
    """Parquet files and bytes that appeared under the workload's work
    directory during an outermost cdc/layout write call."""

    def __init__(self, root: str, counts) -> None:
        self.root = root
        self.counts = counts  # pass index -> per-pass counters

    def _files(self) -> "dict[str, int]":
        out = {}
        for dirpath, _, names in os.walk(self.root):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(dirpath, n)
                    out[p] = os.path.getsize(p)
        return out

    def before(self, tracer, args):
        return None if tracer.inside({"cdc", "layout"}) else self._files()

    def after(self, tracer, state, args, result):
        if state is None:
            return
        new = {p: n for p, n in self._files().items() if p not in state}
        c = self.counts[tracer.op.split(":")[0]]
        c["files_written"] += len(new)
        c["bytes_written"] += sum(new.values())


class SegmentCount(Hook):
    """Data segments plus delete sidecars a live read (the ``mor_read`` of
    a ``b<n>.read`` op) unions, counted on disk when it is planned."""

    def __init__(self, counts) -> None:
        self.counts = counts

    def before(self, tracer, args):
        if tracer.inside({"cdc", "layout"}) or not tracer.op.endswith(".read"):
            return
        data = os.path.join(args[1], "data")
        segs = [d for d in os.listdir(data) if d.startswith("seg-")]
        dels = os.path.join(data, "_deletes")
        sidecars = [d for d in os.listdir(dels) if d.startswith("d-")] if os.path.isdir(dels) else []
        c = self.counts[tracer.op.split(":")[0]]
        c["reads"] += 1
        c["segments_read"] += len(segs) + len(sidecars)


class KeepResult(Hook):
    """Keeps the last DataFrame a call returned, for an audit after the
    timed window."""

    def __init__(self) -> None:
        self.last = None

    def after(self, tracer, state, args, result):
        self.last = result


def run_pass(spark, wl, index: int, tracer, traced: bool):
    """One pass over the workload's ops.  Returns per-op (build_s,
    action_s), outputs and failures.  Each op step runs under its own job
    group when the tracer has a SparkContext."""
    wl.start_pass(index)
    tracer.enabled = traced
    times, outputs, failures = {}, {}, []
    for op in wl.ops:
        tracer.op = f"{index}:{op.name}"
        layer = "catalog" if op.catalog else "op"
        t0 = t1 = time.perf_counter()
        try:
            built = tracer.step(f"{index}:{op.name}:build", f"{layer}.build", layer, op.build, spark)
            t1 = time.perf_counter()
            outputs[op.name] = tracer.step(f"{index}:{op.name}:action", f"{layer}.action", layer,
                                           op.action, built)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failures.append(op.name)
        times[op.name] = (t1 - t0, time.perf_counter() - t1)
    tracer.enabled = False
    tracer.op = None
    return {"index": index, "traced": traced, "times": times, "outputs": outputs, "failures": failures,
            "pass_s": sum(b + a for b, a in times.values())}


def traced_pass(index: int, seed: int) -> bool:
    """Whether timed pass ``index`` (1-based) of a traced run is traced:
    ABBA per four passes, starting with a traced pass on even seeds."""
    return ((index - 1) % 4 in (0, 3)) == (seed % 2 == 0)


def stop_spark(spark) -> None:
    """Stop the session, the gateway JVM and every process under it, and
    wait until each has ended."""
    from pyspark import SparkContext

    from collect import descendants

    kids = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def session_configs(work: str, tmp: str) -> "dict[str, str]":
    return {
        # one JVM holds the Spark driver and executors: pin its heap so memory
        # repeats; no perf-data file, which the JVM would put in /tmp
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep every job and stage of the run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "spark_fuse_spark")):
        print(f"no spark_fuse_spark package under {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the package from the checkout; every temp file
    # of this process, the JVM and its workers stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit starts first would write its
    # perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    sys.path[:0] = [HERE, ROOT]

    import gen
    from collect import RssSampler, calibrate_host, cpu_ticks
    from spans import Tracer

    if args.workload not in gen.SIZES:
        print(f"unknown workload {args.workload!r}; expected one of {sorted(gen.SIZES)}", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    data_dir = os.path.join(work, "data", f"{args.workload}-{args.seed}")
    manifest = gen.generate(args.workload, args.seed, data_dir)
    gen_s = time.perf_counter() - t0

    tracer = Tracer()
    counts: "dict[str, dict[str, float]]" = defaultdict(lambda: defaultdict(float))
    pairs = KeepResult()
    targets = os.path.join(work, "targets", args.workload)
    if args.trace:
        tracer.install()  # before the catalog is imported
        writer = FileAccounting(targets, counts)
        for name in ("cdc.mor_write", "cdc.mor_append", "cdc.mor_delete", "cdc.mor_upsert",
                     "cdc.mor_compact", "cdc.apply_change_tracking", "layout.write_compacted"):
            tracer.hooks[name] = writer
        tracer.hooks["cdc.mor_read"] = SegmentCount(counts)
        tracer.hooks["dedup.ngram_jaccard_pairs"] = pairs

    from spark_fuse_spark.session import create_session
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](data_dir, manifest, targets)
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    configs = session_configs(work, tmp)
    spark = None
    try:
        # -- set-up: JVM launch and session, then Python-worker spin-up ------
        s0 = time.perf_counter()
        spark = create_session("perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
                               extra_configs=configs)
        spark.sparkContext.setLogLevel("ERROR")
        create_s = time.perf_counter() - s0
        # one Arrow exchange starts a Python worker per core
        spark.range(8, numPartitions=cores).mapInPandas(lambda it: it, "id long").collect()
        setup_s = time.perf_counter() - s0
        if args.trace:
            tracer.sc = spark.sparkContext

        # -- warm pass: codegen and caches, untimed ------------------------
        w0 = time.perf_counter()
        passes = [run_pass(spark, wl, 0, tracer, False)]
        warm_s = time.perf_counter() - w0
        # collect the warm pass's garbage (torn-down broadcasts, shuffle
        # files awaiting GC-driven cleanup) before timing starts
        spark.sparkContext._jvm.System.gc()
        gc.collect()
        time.sleep(0.5)

        # -- timed window: passes until --seconds have passed ---------------
        calib_s = calibrate_host()
        steal0, total0 = cpu_ticks()
        sampler = None if args.trace else RssSampler()
        if sampler:
            sampler.start()
        window0 = time.perf_counter()
        while len(passes) <= MIN_PASSES[args.trace] or time.perf_counter() - window0 < args.seconds:
            index = len(passes)
            passes.append(run_pass(spark, wl, index, tracer, bool(args.trace) and traced_pass(index, args.seed)))
        window_s = time.perf_counter() - window0
        peak_rss = sampler.stop() if sampler else 0
        steal1, total1 = cpu_ticks()
        steal_frac = (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0
        timed = passes[1:]

        # -- checks, outside the window ---------------------------------------
        c0 = time.perf_counter()
        wrong = wl.check(spark, [r["outputs"] for r in passes])
        check_s = time.perf_counter() - c0
        attempted = len(wl.ops) * len(passes)
        failed = sum(len(r["failures"]) for r in passes) + len(wrong)

        pass_samples = [r["pass_s"] for r in timed]
        rows_per_pass = sum(op.rows_in for op in wl.ops)
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "passes": len(timed), "window_s": window_s,
            "pass_s_quartiles": quartiles(pass_samples), "pass_s_samples": pass_samples,
            "create_s": create_s, "gen_s": gen_s, "warm_s": warm_s, "check_s": check_s,
            "input": manifest["tables"], "rows_per_pass": rows_per_pass,
            "host": {"cores": cores, "calib_s": calib_s, "steal_frac": steal_frac},
            "op_median_s": {op.name: median([sum(r["times"][op.name]) for r in timed]) for op in wl.ops},
            "failed_ops": sorted({f for r in passes for f in r["failures"]}),
            "wrong_outputs": wrong,
        }
        if args.trace:
            metrics, extra = layer_metrics(spark, wl, tracer, timed, counts, pairs)
            detail.update(extra)
            metrics.update({
                "session.create_s": (create_s, "s"), "session.warm_s": (warm_s, "s"),
                "host.cores": (cores, "count"), "host.calib_s": (calib_s, "s"),
                "host.steal_frac": (steal_frac, "ratio"),
            })
            tracer.dump(os.path.join(work, "traces", f"{args.workload}-{args.seed}.json"))
        else:
            detail["peak_rss_mb_by_command"] = {k: v / 2**20 for k, v in sampler.peak_by_command.items()}
            pass_s = median(pass_samples)
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (pass_s, "s"),
                "rows_per_s": (rows_per_pass / pass_s, "rows/s"),
                "peak_rss_mb": (peak_rss / 2**20, "MB"),
            }
    finally:
        if spark is not None:
            stop_spark(spark)

    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def layer_metrics(spark, wl, tracer, timed, counts, pairs):
    """Per-layer metrics from the spans and Spark's records of a traced run."""
    from collect import SparkCollector

    col = SparkCollector(spark.sparkContext)
    traced = [r for r in timed if r["traced"]]
    spans_by_pass = defaultdict(list)
    for s in tracer.spans:
        spans_by_pass[int(s.op.split(":")[0])].append(s)

    def groups(index: int, op: "str | None" = None, phase: "str | None" = None) -> "list[str]":
        """Job groups of a pass (optionally one op and phase): the op steps'
        groups plus the groups of every span inside them."""
        out = [f"{index}:{o.name}:{ph}" for o in wl.ops if op in (None, o.name)
               for ph in (("build", "action") if phase is None else (phase,))]
        for s in spans_by_pass.get(index, []):
            if op in (None, s.op.split(":", 1)[1]) and phase in (None, _phase_of(s, tracer)):
                out.append(s.group)
        return out

    # spark layer, summed per pass; its counts must repeat exactly
    per_pass = [col.totals(groups(r["index"])) for r in timed]
    unrepeated = []
    for o in wl.ops:
        seen = set()
        for r in timed:
            t = col.totals(groups(r["index"], o.name))
            seen.add((t["jobs"], t["stages"], t["shuffle_write_records"]))
        if len(seen) > 1:
            unrepeated.append(o.name)
    cores = spark.sparkContext.defaultParallelism
    m: dict[str, tuple[float, str]] = {}
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("shuffle_write_bytes", "bytes"), ("shuffle_write_records", "count"),
                      ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes"),
                      ("input_bytes", "bytes"), ("output_bytes", "bytes"),
                      ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s")):
        m[f"spark.{key}"] = (median([p[key] for p in per_pass]), unit)
    m["spark.busy_frac"] = (median([p["executor_run_s"] / (r["pass_s"] * cores)
                                    for p, r in zip(per_pass, timed)]), "ratio")
    m["spark.unrepeated_ops"] = (len(unrepeated), "count")

    # catalog layer: op steps of registry queries, every pass
    cat = [o.name for o in wl.ops if o.catalog]
    m["catalog.build_s"] = (median([sum(r["times"][o][0] for o in cat) for r in timed]), "s")
    m["catalog.action_s"] = (median([sum(r["times"][o][1] for o in cat) for r in timed]), "s")
    m["catalog.build_jobs"] = (median([sum(len(col.jobs(g)) for o in cat for g in groups(r["index"], o, "build"))
                                       for r in timed]), "count")

    # span-derived layers, per traced pass
    submitted = sum(t["bytes"] for t in wl.manifest["tables"].values())
    per = defaultdict(list)
    for r in traced:
        spans = spans_by_pass[r["index"]]
        selfs = tracer.self_times(spans)
        for layer in ("catalog", "op", "tables", "graph", "dedup", "ai", "cdc", "layout"):
            per[f"{layer}.self_s"].append(selfs.get(layer, 0.0))
        incl, jobs = defaultdict(float), defaultdict(int)
        for s in spans:
            if not _nested_in_same(s, tracer):
                incl[s.name] += s.end - s.start
                jobs[s.name] += sum(len(col.jobs(x.group)) for x in tracer.subtree(s))
        for fn in ("connected_components", "dedup_clusters"):
            per[f"graph.{fn}_s"].append(incl[f"graph.{fn}"])
            per[f"graph.{fn}_jobs"].append(jobs[f"graph.{fn}"])
        per["dedup.ngram_jaccard_pairs_s"].append(incl["dedup.ngram_jaccard_pairs"])
        per["tables.load_s"].append(incl["tables.load_table"])
        per["tables.load_jobs"].append(jobs["tables.load_table"])
        for fn in ("mor_write", "mor_upsert", "mor_delete", "mor_read", "mor_compact"):
            per[f"cdc.{fn}_s"].append(incl[f"cdc.{fn}"])
        per["cdc.scd2_batch_s"].append(incl["cdc.apply_change_tracking"])
        per["layout.write_compacted_s"].append(incl["layout.write_compacted"])
        ai_ops = [o for o in wl.ops if any(s.layer == "ai" and s.op.endswith(f":{o.name}") for s in spans)]
        embed_s = sum(sum(r["times"][o.name]) for o in ai_ops)
        per["ai.embed_s"].append(embed_s)
        per["ai.rows_per_s"].append(sum(o.rows_in for o in ai_ops) / embed_s if embed_s else 0.0)
        c = counts[str(r["index"])]
        per["cdc.segments_read"].append(c["segments_read"] / c["reads"] if c["reads"] else 0.0)
        per["cdc.files_written"].append(c["files_written"])
        per["cdc.bytes_written"].append(c["bytes_written"])
        per["cdc.write_amp"].append(c["bytes_written"] / submitted)
    units = {"ai.rows_per_s": "rows/s", "cdc.bytes_written": "bytes", "cdc.write_amp": "ratio",
             "cdc.files_written": "count", "cdc.segments_read": "count"}
    for k, v in per.items():
        m[k] = (median(v), units.get(k, "count" if k.endswith("_jobs") else "s"))

    reads = [sum(r["times"][o.name]) for r in timed for o in wl.ops if o.name.endswith(".read")]
    m["cdc.read_after_write_s"] = (median(reads), "s")
    m["layout.files_out"] = (timed[-1]["outputs"].get("write_compacted", 0), "count")

    # dedup: pairs out of the last traced pass's ngram_jaccard_pairs call
    # (counted after the window, in a job group of its own) per shuffle
    # record written by the jobs that call fired
    pairs_out = records = 0
    if pairs.last is not None:
        spark.sparkContext.setJobGroup("audit:pairs", "audit:pairs")
        pairs_out = pairs.last.count()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        last = spans_by_pass[traced[-1]["index"]]
        calls = [s for s in last if s.name == "dedup.ngram_jaccard_pairs" and not _nested_in_same(s, tracer)]
        records = col.totals([x.group for s in calls for x in tracer.subtree(s)])["shuffle_write_records"]
    m["dedup.pairs_out"] = (pairs_out, "count")
    m["dedup.pair_yield"] = (pairs_out / records if records else 0.0, "ratio")

    plain = [r["pass_s"] for r in timed if not r["traced"]]
    traced_s, plain_s = median([r["pass_s"] for r in traced]), median(plain)
    m["trace.pass_s"] = (traced_s, "s")
    m["trace.untraced_pass_s"] = (plain_s, "s")
    m["trace.overhead_s"] = (traced_s - plain_s, "s")
    extra = {
        "trace_samples": {"traced": len(traced), "untraced": len(plain)},
        "unrepeated_ops": unrepeated,
        "spark_counts_per_pass": [{k: p[k] for k in ("jobs", "stages", "shuffle_write_records")} for p in per_pass],
    }
    return m, extra


def _phase_of(span, tracer) -> str:
    """``build`` or ``action``: the op step a span ran under."""
    s = span
    while s.parent is not None:
        s = tracer.spans[s.parent]
    return s.name.rsplit(".", 1)[1]


def _nested_in_same(span, tracer) -> bool:
    """Whether a span runs inside another call of the same function (so
    inclusive times count each outermost call once)."""
    p = span.parent
    while p is not None:
        if tracer.spans[p].name == span.name:
            return True
        p = tracer.spans[p].parent
    return False


if __name__ == "__main__":
    sys.exit(main())
