"""CLI + progress-module tests."""

from __future__ import annotations

import json

import pytest

from spark_fuse_spark.cli import build_parser, main
from spark_fuse_spark.progress import (
    ConsoleEventSink,
    LogEventRecord,
    ProgressTracker,
    TableEventSink,
)


def test_cli_datasources(capsys):
    assert main(["datasources"]) == 0
    out = capsys.readouterr().out
    assert "rest" in out and "sparql" in out and "qdrant" in out


def test_cli_queries_lists_catalog(capsys):
    assert main(["queries"]) == 0
    out = capsys.readouterr().out
    assert "q01_pricing_summary" in out and "a_map_column_closed_set" in out
    assert "[oracle]" in out and "[rows-only]" in out


def test_cli_read_requires_valid_json():
    with pytest.raises(json.JSONDecodeError):
        main(["read", "--format", "rest", "--config", "not json"])


def test_cli_unknown_query_exit_code(capsys):
    parser = build_parser()
    args = parser.parse_args(["run", "--query", "nope"])
    assert args.query == "nope"
    assert main(["run", "--query", "nope"]) == 2


def test_cli_run_metrics_drives_plan_without_driver_collect(spark, capsys):
    """--metrics counts via the executed plan's own JVM RDD (metrics stay
    attached to this queryExecution) — never a full driver collect()."""
    rc = main(
        ["run", "--query", "q01_pricing_summary", "--sf", "/root/testdata/sf0.001",
         "--show", "1", "--metrics"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "rows: 6" in out  # q01's (returnflag, linestatus) groups at sf0.001
    assert "shuffle_records" in out and "rows_scanned" in out


def test_cli_tokenize_train_and_apply(spark, capsys, tmp_path):
    # train on the tiny sf dir, round-trip the merge table through @file,
    # and apply it — exercises both actions end-to-end
    sf = "/root/testdata/sf0.001"
    assert main(["tokenize", "train", "--sf", sf, "--n-merges", "4"]) == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    merges = json.loads(line)
    assert len(merges) == 4 and all(len(m) == 3 for m in merges)
    path = tmp_path / "merges.json"
    path.write_text(json.dumps(merges))
    assert (
        main(
            ["tokenize", "apply", "--sf", sf, "--merge-table", f"@{path}", "--show", "3"]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "n_bpe_tokens" in out and "bpe_tokens" in out


def test_record_validation():
    with pytest.raises(ValueError):
        LogEventRecord(event="").validate()
    with pytest.raises(ValueError):
        LogEventRecord(event="x", status="bogus").validate()
    assert LogEventRecord(event="x").validate().status == "info"


def test_console_sink_and_tracker(capsys):
    with ProgressTracker(ConsoleEventSink(stream=None)) as tracker:
        tracker.log("load", status="start", rows=10)
    err = capsys.readouterr().err
    payload = json.loads(err.strip().splitlines()[-1])
    assert payload["event"] == "load" and payload["metrics"] == {"rows": 10}


def test_table_sink_flush(spark, tmp_path):
    target = str(tmp_path / "events_log")
    sink = TableEventSink(spark, target, flush_every=2)
    tracker = ProgressTracker(sink)
    tracker.log("a")
    tracker.log("b")  # triggers flush
    tracker.log("c")
    tracker.close()  # flushes the remainder
    rows = spark.read.parquet(target).collect()
    assert sorted(r["event"] for r in rows) == ["a", "b", "c"]


def test_progress_bar_sink_plain_stream():
    import io

    from spark_fuse_spark.progress import ProgressBarSink

    buf = io.StringIO()
    sink = ProgressBarSink(total=2, stream=buf)
    tracker = ProgressTracker(sink)
    tracker.log("extract", status="start")
    tracker.log("heartbeat", status="info")  # refresh, no advance
    tracker.log("extract", status="success")
    out = buf.getvalue()
    assert "1/2" in out and "2/2" in out
    assert "SUCCESS: extract" in out
    assert "total " in out  # elapsed postfix
    assert out.endswith("\n")  # completion finishes the line


def test_progress_bar_sink_rejects_bad_total():
    from spark_fuse_spark.progress import ProgressBarSink

    with pytest.raises(ValueError):
        ProgressBarSink(total=0)


def test_html_card_sink_renders_and_tracks_steps():
    from spark_fuse_spark.progress import HtmlCardSink

    cards: list[str] = []
    sink = HtmlCardSink(display=cards.append, track_steps=3)
    tracker = ProgressTracker(sink)
    tracker.log("ingest", status="start", detail="batch 1", rows=42)
    tracker.log("ingest", status="error")
    assert len(cards) == 2
    assert "ingest" in cards[0] and "batch 1" in cards[0]
    assert "Step:</strong> 1 / 3" in cards[0]
    assert "rows:</strong> 42" in cards[0]
    assert "#c62828" in cards[1]  # error accent


def test_html_card_sink_falls_back_to_print(capsys):
    from spark_fuse_spark.progress import HtmlCardSink

    HtmlCardSink().write(LogEventRecord(event="done", status="success"))
    out = capsys.readouterr().out
    assert "done" in out and "success" in out


def test_observe_rows_collects_metrics_without_extra_job(spark):
    from pyspark.sql import functions as F

    from spark_fuse_spark.progress import observe_rows

    base = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    df, obs = observe_rows(base, "obs1", F.sum("v").alias("sum_v"))
    assert df.count() == 100  # the action that materializes the observation
    got = obs.get
    assert got["n_rows"] == 100
    assert got["sum_v"] == sum(i * 2 for i in range(100))


def test_cli_run_check_reports_parity(capsys):
    assert main(
        ["run", "--query", "q_count_distinct", "--sf", "/root/testdata/sf0.001",
         "--show", "1", "--check"]
    ) == 0
    out = capsys.readouterr().out
    assert "PARITY OK" in out


def test_cli_run_check_rows_only_is_clean(capsys):
    assert main(
        ["run", "--query", "a_hash_embeddings", "--sf", "/root/testdata/sf0.001",
         "--show", "1", "--check"]
    ) == 0
    out = capsys.readouterr().out
    assert "rows-only" in out


def test_cli_parity_subcommand(capsys, monkeypatch):
    assert main(
        ["parity", "q_count_distinct", "--sf", "/root/testdata/sf0.001"]
    ) == 0
    out = capsys.readouterr().out
    assert "PASS q_count_distinct" in out and "1/1 pass" in out
    assert main(
        ["parity", "q_count_distinct", "q01_pricing_summary", "--sf",
         "/root/testdata/sf0.001", "--threads", "2"]
    ) == 0
    out = capsys.readouterr().out
    assert "PASS q01_pricing_summary" in out and "2/2 pass" in out
    import dataclasses

    from spark_fuse_spark.catalog import REGISTRY

    monkeypatch.setitem(
        REGISTRY, "q_count_distinct",
        dataclasses.replace(REGISTRY["q_count_distinct"], oracle="SELECT 1 AS wrong"),
    )
    assert main(["parity", "q_count_distinct", "--sf", "/root/testdata/sf0.001"]) == 1
    out = capsys.readouterr().out
    assert "FAIL q_count_distinct" in out and "0/1 pass" in out
