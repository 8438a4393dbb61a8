#!/usr/bin/env bash
# Correctness gate at the north-rule launch surface: the full pytest suite
# executed via spark-submit --py-files at two cluster sizes (BASELINE.json:
# "gated by `python -m pytest -x -q` ... launched via spark-submit
# --py-files at two cluster sizes (N and 4N executors)").
#
# The suite's session fixture honors SPARK_GRAFT_TEST_MASTER, so the same
# tests run against local[N] and local[4N] task slots, sized from nproc
# (N = max(1, nproc/4), so 4N = nproc whenever nproc is a multiple of 4). The crawl benchmark's own tests (crawlbench/tests:
# the tracer's wrapped-name contract with plans/crawler.py) run afterwards.
set -euo pipefail
cd "$(dirname "$0")/.."

ZIP=/tmp/secretscraper_spark_tests.zip
rm -f "$ZIP"
zip -qr "$ZIP" secretscraper_spark tests

cat > /tmp/_run_pytest.py <<'EOF'
import sys
import pytest
sys.exit(pytest.main(["tests", "-x", "-q"]))
EOF

N=$(( $(nproc) / 4 > 1 ? $(nproc) / 4 : 1 ))
for MASTER in "local[$N]" "local[$(( 4 * N ))]"; do
  echo "=== pytest under spark-submit --master $MASTER ==="
  SPARK_GRAFT_TEST_MASTER="$MASTER" SPARK_GRAFT_TEST_SHUFFLE=8 \
  spark-submit --master "$MASTER" --driver-memory 8g \
    --py-files "$ZIP" /tmp/_run_pytest.py
done
echo "both cluster sizes: PASS"

echo "=== crawl benchmark tests ==="
python3 -m pytest crawlbench/tests -q
