#!/usr/bin/env bash
# Full verification stack, in the order that catches problems cheapest
# first. Each stage's expectations are documented in
# .claude/skills/verify/SKILL.md and README.md.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_SMALL=${SF_SMALL:-/root/testdata/sf0.001}
SF_GRADE=${SF_GRADE:-/root/testdata/sf0.01}

echo "== 1/9 unit + e2e tests (default tier, then the slow tier) =="
python -m pytest tests/ -x -q
python -m pytest tests/ -x -q -m slow

echo "== 2/9 hourly end to end (prod rows, re-run hashes, stream sink vs DuckDB) =="
python3 perfbench/run.py --workload hourly --smoke --trace 0

echo "== 3/9 pandas-path gate (toPandas vs DuckDB .df, per-cell str) @ ${SF_GRADE} =="
python tools/pandas_sim.py "${SF_GRADE}"

echo "== 4/9 strict tuple-path gate @ ${SF_GRADE} =="
python tools/check_oracle.py "${SF_GRADE}"

echo "== 5/9 forced-distributed gate (every local-solve cap zeroed) @ ${SF_GRADE} =="
python tools/check_oracle_forced.py "${SF_GRADE}"

echo "== 6/9 forced-distributed gate with reliable cuts (spark.checkpoint.dir set) @ ${SF_GRADE} =="
CKPT_DIR=$(mktemp -d)
PYSPARK_SUBMIT_ARGS="--conf spark.checkpoint.dir=${CKPT_DIR} pyspark-shell" \
    python tools/check_oracle_forced.py "${SF_GRADE}"
rm -rf "${CKPT_DIR}"

echo "== 7/9 hostile session matrix (pandas comparator) =="
python tools/driver_sim.py --sf "${SF_GRADE}"

echo "== 8/9 determinism (two parallelism configs) =="
python tools/determinism_audit.py "${SF_GRADE}"

echo "== 9/9 plan smells + shuffle audit =="
python tools/explain_all.py "${SF_SMALL}"
python tools/shuffle_audit.py "${SF_SMALL}"

echo "ALL GATES GREEN"
