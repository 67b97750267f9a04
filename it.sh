#!/bin/bash
# One-shot integration run — the analogue of the reference's `it.sh`
# (reference/it.sh:1-14 boots docker-compose + `sbt +it:test`; this repo's
# integration surface is a SparkSession in-process, so the one-shot is the
# three driver-facing checks run back-to-back in a clean shell):
#
#   1.  full pytest suite
#   1b. the benchmark harness's own tests (perfbench/tests)
#   2.  Spark-vs-DuckDB oracle parity over every registered query
#   2b. gate config-matrix: stock 200 shuffle partitions (the driver's
#       session — the config that exposed the r10 global_rank escape)
#   2c. gate config-matrix: AQE off (no exchange-reuse masking)
#   2d. FULL-registry stock-config sweep (VERDICT r11 #4: a stock-config
#       escape outside the 50-query gate would otherwise ship)
#   3.  the headline bench (one JSON line)
#
# Usage:  ./it.sh [sf_dir]       (default /root/testdata/sf0.01)
# Exit:   nonzero if ANY stage fails; per-stage logs land in ./it-logs/.
set -u
SF_DIR="${1:-/root/testdata/sf0.01}"
HERE="$(cd "$(dirname "$0")" && pwd)"
LOGS="$HERE/it-logs"
mkdir -p "$LOGS"
fail=0

echo "== [1/3] pytest =="
if python -m pytest "$HERE/tests" -q >"$LOGS/pytest.log" 2>&1; then
  tail -1 "$LOGS/pytest.log"
else
  fail=1; echo "PYTEST FAILED:"; tail -20 "$LOGS/pytest.log"
fi

echo "== [1b] perfbench tests =="
if python -m pytest "$HERE/perfbench/tests" -q >"$LOGS/perfbench.log" 2>&1; then
  tail -1 "$LOGS/perfbench.log"
else
  fail=1; echo "PERFBENCH TESTS FAILED:"; tail -20 "$LOGS/perfbench.log"
fi

echo "== [2/3] oracle parity ($SF_DIR) =="
if python "$HERE/tools/oracle_check.py" "$SF_DIR" >"$LOGS/oracle.log" 2>"$LOGS/oracle.err"; then
  grep "ok; failed" "$LOGS/oracle.log" | tail -1
else
  fail=1; echo "ORACLE CHECK FAILED:"; grep -E "^FAIL|ok; failed" "$LOGS/oracle.log" | tail -20
fi

echo "== [2b] gate config-matrix: stock 200 partitions ($SF_DIR) =="
if python "$HERE/tools/oracle_check.py" --gate --stock "$SF_DIR" >"$LOGS/oracle_stock.log" 2>"$LOGS/oracle_stock.err"; then
  grep "ok; failed" "$LOGS/oracle_stock.log" | tail -1
else
  fail=1; echo "STOCK-CONFIG GATE FAILED:"; grep -E "^FAIL|ok; failed" "$LOGS/oracle_stock.log" | tail -20
fi

echo "== [2c] gate config-matrix: AQE off ($SF_DIR) =="
if python "$HERE/tools/oracle_check.py" --gate --no-aqe "$SF_DIR" >"$LOGS/oracle_noaqe.log" 2>"$LOGS/oracle_noaqe.err"; then
  grep "ok; failed" "$LOGS/oracle_noaqe.log" | tail -1
else
  fail=1; echo "NO-AQE GATE FAILED:"; grep -E "^FAIL|ok; failed" "$LOGS/oracle_noaqe.log" | tail -20
fi

echo "== [2d] FULL-registry stock config ($SF_DIR) =="
if python "$HERE/tools/oracle_check.py" --stock "$SF_DIR" >"$LOGS/oracle_stock_full.log" 2>"$LOGS/oracle_stock_full.err"; then
  grep "ok; failed" "$LOGS/oracle_stock_full.log" | tail -1
else
  fail=1; echo "FULL STOCK-CONFIG SWEEP FAILED:"; grep -E "^FAIL|ok; failed" "$LOGS/oracle_stock_full.log" | tail -20
fi

echo "== [3/3] bench ($SF_DIR) =="
if SPARK_GRAFT_SF_DIR="$SF_DIR" python "$HERE/bench.py" >"$LOGS/bench.log" 2>"$LOGS/bench.err"; then
  tail -1 "$LOGS/bench.log"
else
  fail=1; echo "BENCH FAILED:"; tail -20 "$LOGS/bench.err"
fi

exit $fail
