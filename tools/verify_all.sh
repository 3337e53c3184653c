#!/usr/bin/env bash
# One-command reproduction of the round's verification:
#   1. full unit/property/plan/e2e suite
#   2. full differential-oracle sweep at the driver's SF (sf0.01)
#   3. one bench pass at sf0.1 (compare ratios against BASELINE.md)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== pytest =="
python -m pytest tests/ -q

echo "== oracle parity sweep (sf0.01) =="
python -m spark_fuse_spark.cli parity --sf /root/testdata/sf0.01 --threads 4

echo "== bench (sf0.1) =="
python bench.py
