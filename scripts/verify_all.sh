#!/usr/bin/env bash
# Full verification battery: unit/e2e tests, oracle gate at three scales,
# benchmark. Runs the tests with the same environment as the tier-1 gate.
set -euo pipefail
cd "$(dirname "$0")/.."

export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"

echo "== pytest =="
python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

sf_dirs="$(python -c 'from tests.conftest import SF_SMALL, SF_MEDIUM, SF_BENCH; print(SF_SMALL, SF_MEDIUM, SF_BENCH)')"
for sf_dir in $sf_dirs; do
    echo "== oracle gate ($sf_dir) =="
    python scripts/driver_sim.py "$sf_dir"
done

echo "== bench (sf0.1) =="
python bench.py
