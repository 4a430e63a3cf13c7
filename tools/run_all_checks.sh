#!/bin/sh
# One-button verification: the full correctness + bench gate.
set -e
cd "$(dirname "$0")/.."
echo "== pytest =="
python -m pytest tests/ -x -q
echo "== perfbench self-tests =="
python -m pytest perfbench/tests -q
echo "== Spark-vs-DuckDB oracle gate (full registry) =="
CHECK_JSON_OUT="${CHECK_JSON_OUT:-CORRECTNESS_local.json}" python tools/check_queries.py /root/testdata/sf0.01
echo "== headline bench =="
python bench.py
echo "== packaging =="
python tools/package.py
echo "ALL CHECKS PASSED"
