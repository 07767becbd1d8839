#!/bin/sh
# Full verification: unit tests, both-scale oracle differentials, bench.
set -e
cd "$(dirname "$0")/.."
echo "== pytest =="
SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
    timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
echo "== perfbench pytest =="
python3 -m pytest perfbench/tests -q
echo "== oracle sf0.01 (driver gate) =="
python tools/check_oracle.py /root/testdata/sf0.01
echo "== oracle sf0.1 (scale) =="
python tools/check_oracle.py /root/testdata/sf0.1
echo "== bench =="
python bench.py
