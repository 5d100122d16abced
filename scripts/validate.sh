#!/bin/bash
# One-shot validation: unit+property tests, full oracle selfcheck at two
# scale factors, bench, and plan-audit regeneration.
set -e
# a failing selfcheck must fail the script even though its output is
# piped through tail
set -o pipefail
cd "$(dirname "$0")/.."
# size the session to this host, as ROADMAP's tier-1 verify line does;
# unset, get_spark falls back to local[32]
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
echo "== pytest (ROADMAP's tier-1 line) =="
start=$(date +%s)
status=0
python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider || status=$?
echo "tier-1 wall time: $(( $(date +%s) - start )) s"
[ "$status" -eq 0 ] || exit "$status"
echo "== oracle selfcheck sf0.01 =="
python scripts/selfcheck.py /root/testdata/sf0.01 2>/dev/null | tail -1
echo "== oracle selfcheck sf0.001 =="
python scripts/selfcheck.py /root/testdata/sf0.001 2>/dev/null | tail -1
echo "== bench sf0.1 =="
python bench.py 2>/dev/null
echo "== plan audit =="
python scripts/explain_audit.py 2>/dev/null
