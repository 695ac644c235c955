#!/bin/bash
# Cross-check perfbench/ref/suite_reference.tsv against the DuckDB oracle.
#
# 1. `python3 perfbench/run.py --write-reference` evaluates every read-only
#    suite query over the generated tables and keeps the tables in
#    <build dir>/suite-reference-data.
# 2. graft.Verify dumps every query result over those same tables, and
#    tools/check_oracle.py replays each query's oracle SQL in DuckDB and
#    compares row counts and value hashes.
#
# Step 1 rewrites the reference from the current program, so
# `git diff perfbench/ref` shows whether the committed reference still
# holds. A clean oracle compare shows that the program computed every
# oracle-graded query correctly on the benchmark's tables, so the
# fingerprints it wrote are the right ones. Known disagreements on these
# tables: q_ab_test (NULL where DuckDB gives NaN for a zero-variance
# variant) and q_dedup_embed (banded LSH misses pairs the exact oracle
# finds). Run from the root of a repository checkout whose classes are
# built (sbt compile):
#
#   perfbench/check_reference.sh [out dir]
set -euo pipefail
build=${CARGO_TARGET_DIR:-.bench_build}
data=$build/suite-reference-data
out=${1:-$build/verify-out}
python3 perfbench/run.py --write-reference
GRAFT_CLASSES=${GRAFT_CLASSES:-target/scala-2.13/classes} tools/jrun.sh graft.Verify "$data" "$out"
python3 tools/check_oracle.py "$data" "$out"
