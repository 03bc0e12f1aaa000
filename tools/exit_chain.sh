#!/bin/bash
# Round-exit verification chain — STRICTLY SERIALIZED (run nothing else,
# not even "quick" test re-runs, while this is active: a concurrent
# Spark session both skews step-7 timings and can flip AQE stage-reuse
# decisions, which round 11 proved shows up in plan-fingerprint diffs).
#
# Usage: nohup bash tools/exit_chain.sh > /tmp/exit_chain.log 2>&1 &
# Filters keep FAIL verdict lines visible (round-11 lesson: `tail -6`
# swallowed the only FAIL line and cost a debugging round-trip).
set -o pipefail
cd "$(dirname "$0")/.."
export PYTHONPATH="$PWD"
# One width for every step, the same as the tier-1 test command: the
# shuffle-partition count follows it and changes AQE join choices, so a
# manifest checked at another width can disagree with tests and bench.
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
# A fresh temp base for the chain: every process's scratch root
# (session.scratch_path) lands here, so a leaked one is visible below.
export TMPDIR="$(mktemp -d)"
log() { echo "=== $(date -u +%H:%M:%S) $1"; }

# Preserve the prior round's committed bench sidecar for the tripwire
# BEFORE bench.py overwrites the tree copy. Guard: a hot-tier record
# must never be the baseline.
# (r11 advisor: the guard must be FATAL — without the || the heredoc's
# nonzero exit was ignored and step 8 silently compared against an
# invalid baseline.)
# It lives under the chain's own TMPDIR, so concurrent chains never
# overwrite each other's baseline.
prior="$TMPDIR/bench_detail_prior.json"
git show HEAD:BENCH_DETAIL.json > "$prior" \
  || { echo "FATAL: HEAD has no BENCH_DETAIL.json"; exit 1; }
python - "$prior" <<'PY' || { echo "FATAL: baseline not a full-tier FIFO record — find one"; exit 1; }
import json, sys
d = json.load(open(sys.argv[1]))
assert d.get('tier') == 'full', f"baseline tier={d.get('tier')} — find a full-tier commit"
# Records from bench.py's former concurrent knob ran even the serialized
# pass under FAIR (mixed protocol). Records without the key (before r12,
# and since the knob was removed) are all FIFO.
assert d.get('scheduler', 'FIFO') == 'FIFO', f"baseline scheduler={d.get('scheduler')}"
PY

log "STEP 0: driver class-data archive"
# The first get_spark on an install builds the archive (about 40 s, once);
# do it here so neither the first test nor step 7's bench pays for it.
python - <<'PY'
from pipeline_query_engine_demo_spark.session import get_spark
spark = get_spark("exit-chain")
args = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
flags = [a.split("=", 1)[1] for a in args if a.startswith("-XX:SharedArchiveFile=")]
print("class archive:", flags[0] if flags else "none (plain launch)")
spark.stop()
PY

log "STEP 1: pytest"
python -m pytest tests/ -q 2>&1 | grep -E "^FAILED|^ERROR|passed|failed" | tail -5

log "STEP 2: full sweep sf0.01 (+plan rules, manifest check/write)"
python tools/check_correctness.py /root/testdata/sf0.01 \
  --manifest-check MANIFEST.json --manifest-write MANIFEST.json 2>&1 \
  | grep -E "^FAIL|ok, |DRIFT|missing|not in manifest|wrote"

log "STEP 3: full sweep sf0.1 (+plan rules, manifest check/write)"
python tools/check_correctness.py /root/testdata/sf0.1 \
  --manifest-check MANIFEST.json --manifest-write MANIFEST.json 2>&1 \
  | grep -E "^FAIL|ok, |DRIFT|missing|not in manifest|wrote"

log "STEP 4: oracle-mirror audit"
python tools/audit_oracles.py 2>&1 | tail -3

log "STEP 5: decimal-cast audit"
python tools/audit_decimal_casts.py 2>&1 | tail -2

log "STEP 6: row-loop audit"
python tools/audit_row_loops.py 2>&1 | tail -2

log "STEP 7: full-tier bench (box must be otherwise idle)"
python bench.py 2>&1 | tail -2

log "STEP 8: tripwire vs prior sidecar"
python tools/bench_compare.py BENCH_DETAIL.json "$prior" 2>&1 | tail -8

log "STEP 9: vanilla driver-contract smoke"
python - <<'PY'
import os
from pyspark.sql import SparkSession
spark = SparkSession.builder.master(f"local[{os.environ['SPARK_GRAFT_CPUS']}]").config('spark.ui.enabled','false').getOrCreate()
import __spark_entry__ as e
print('entry rows:', e.entry(spark).count(), '| queries:', len(e.queries()), '| oracles:', len(e.oracle_sql()))
spark.stop()
PY

log "STEP 10: scratch leak check"
leaked="$(find "$TMPDIR" -maxdepth 1 -name 'spark_graft_*')"
if [ -n "$leaked" ]; then
  echo "FAIL: scratch roots left behind in $TMPDIR:"; echo "$leaked"; exit 1
fi
rm -rf "$TMPDIR"

log "CHAIN DONE"
