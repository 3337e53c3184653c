"""Seeded input generator for the benchmark workloads.

Every table is derived from the workload seed alone, in the shape of the
repository's TPC-H-ish star schema (same columns, types and value
domains as the ``sf*`` tiers described in ``TESTDATA.md``).  Nothing is
read from outside the checkout, so the same seed gives the same parquet
on any host.  Output lands in one directory per (workload, seed) and is
reused when it is already complete.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated data changes, so stale cached tiers are not reused.
GEN_VERSION = 4

# The 30-word vocabulary of the repository's documents table.
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
STATUSES = ("O", "F", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000

# Input sizes per workload.  Both workloads are bound by per-job overhead
# (about 0.1 s per Spark job on a 4-core host), not by data volume, so a
# larger input only lengthens a pass.  dedup_graph's corpus sits between
# the sf0.01 and sf0.1 tiers; cdc_merge's base table and batches keep one
# pass (load, one change batch, compaction, SCD2) near six seconds, so a
# run holds several timed passes.
SIZES = {
    "dedup_graph": {"documents": 1200, "dup_groups": 80},
    "cdc_merge": {"orders": 5000, "batches": 1, "upserts": 250, "inserts": 50, "deletes": 50},
}


def _choice(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def orders_table(rng: np.random.Generator, n: int, key_offset: int = 0) -> pa.Table:
    n_cust = max(10, n // 10)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(key_offset, key_offset + n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
            "o_orderstatus": _choice(rng, STATUSES, n),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
            "o_orderdate": pa.array(
                EPOCH_1995 + rng.integers(0, 2405, n) * np.timedelta64(DAY_US, "us")
            ),
            "o_orderpriority": _choice(rng, PRIORITIES, n),
        }
    )


def documents_table(rng: np.random.Generator, n_docs: int, n_groups: int) -> "tuple[pa.Table, list[int]]":
    """Random texts over the 30-word vocabulary plus planted near-duplicate
    groups.  Each group is one base document of at least 40 words and
    1..4 copies with one or two word substitutions, so every copy shares
    at least 3-shingle Jaccard 0.6 with its base while unrelated documents
    share almost no shingle.  Returns the table and the planted group
    sizes (base included)."""
    sizes = [2 + (g % 4) for g in range(n_groups)]
    n_copies = sum(sizes) - n_groups
    n_free = n_docs - n_copies
    lengths = rng.integers(10, 101, n_free)
    bases = rng.choice(np.flatnonzero(lengths >= 40), size=n_groups, replace=False)
    words = [list(rng.choice(VOCAB, size=int(n))) for n in lengths]
    texts = [" ".join(w) for w in words]
    for base, size in zip(bases, sizes):
        for _ in range(size - 1):
            copy = list(words[base])
            for pos in rng.choice(len(copy), size=int(rng.integers(1, 3)), replace=False):
                copy[pos] = VOCAB[(VOCAB.index(copy[pos]) + 1 + int(rng.integers(0, 29))) % 30]
            texts.append(" ".join(copy))
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": _choice(rng, LANGS, n_docs, p=LANG_P),
            "source": _choice(rng, [f"src{i}" for i in range(20)], n_docs),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    return table, sizes


def cdc_batches(rng: np.random.Generator, base: pa.Table, spec: dict) -> "list[tuple[pa.Table, pa.Table]]":
    """Per batch: an upsert table (corrections to existing keys plus fresh
    inserts, in the orders schema) and a keys-only erasure table drawn
    from base keys the same batch does not correct."""
    n_base = base.num_rows
    out = []
    next_key = n_base
    for _ in range(spec["batches"]):
        picked = rng.choice(n_base, size=spec["upserts"] + spec["deletes"], replace=False)
        fix, gone = picked[: spec["upserts"]], picked[spec["upserts"] :]
        corrected = base.take(pa.array(fix))
        corrected = corrected.set_column(2, "o_orderstatus", _choice(rng, STATUSES, len(fix)))
        corrected = corrected.set_column(
            3, "o_totalprice", pa.array(np.round(rng.uniform(1000.0, 500000.0, len(fix)), 2))
        )
        fresh = orders_table(rng, spec["inserts"], key_offset=next_key)
        next_key += spec["inserts"]
        upsert = pa.concat_tables([corrected, fresh])
        delete = pa.table({"o_orderkey": pa.array(np.sort(gone), pa.int64())})
        out.append((upsert, delete))
    return out


def _write(table: pa.Table, path: str) -> dict:
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's tables for ``seed`` under ``out_dir`` (reused if
    already complete) and return its manifest: rows and bytes per table,
    plus the planted structure the checks rely on."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if manifest.get("gen_version") == GEN_VERSION:
            return manifest
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}; expected one of {sorted(SIZES)}")
    staged = out_dir + ".staged"
    shutil.rmtree(staged, ignore_errors=True)
    os.makedirs(staged)
    spec = SIZES[workload]
    rng = np.random.default_rng([seed, GEN_VERSION, sorted(SIZES).index(workload)])
    tables: dict[str, dict] = {}
    manifest: dict = {"gen_version": GEN_VERSION, "workload": workload, "seed": seed}
    if workload == "dedup_graph":
        docs, groups = documents_table(rng, spec["documents"], spec["dup_groups"])
        tables["documents"] = _write(docs, os.path.join(staged, "documents.parquet"))
        manifest["dup_group_sizes"] = groups
    else:
        orders = orders_table(rng, spec["orders"])
        tables["orders"] = _write(orders, os.path.join(staged, "orders.parquet"))
        for i, (upsert, delete) in enumerate(cdc_batches(rng, orders, spec)):
            tables[f"upsert_{i}"] = _write(upsert, os.path.join(staged, f"upsert_{i}.parquet"))
            tables[f"delete_{i}"] = _write(delete, os.path.join(staged, f"delete_{i}.parquet"))
        manifest["batches"] = spec["batches"]
    manifest["tables"] = tables
    with open(os.path.join(staged, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(staged, out_dir)
    return manifest

