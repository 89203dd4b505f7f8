#!/usr/bin/env bash
# Gate runner: compile -> test -> verify(sf0.01) -> DuckDB compare ->
# benchmark (the `ordered` and `curation` workloads, full results checked
# against DuckDB).
set -euo pipefail
cd "$(dirname "$0")/.."

SF_VERIFY=${SF_VERIFY:-/root/testdata/sf0.01}
OUT=${OUT:-/tmp/graft_ci_verify}

echo "== compile + test =="
sbt -batch compile test

echo "== verify @ $SF_VERIFY =="
rm -rf "$OUT"
sbt -batch "runMain graft.Verify $SF_VERIFY $OUT"

echo "== DuckDB compare =="
python3 tools/compare_oracle.py "$SF_VERIFY" "$OUT"

# `ordered` runs the global ordered tier; `curation` is the only workload
# that checks the native text kernels (normalize, tokens, bands) against
# DuckDB. `ordered` must also run in at most 14 stages a pass: the global
# ops gather their bucket partials in the final aggregate's stage, and an
# exchange that comes back into the tier shows as a 15th or 16th stage.
for w in ordered curation; do
  echo "== benchmark: $w workload =="
  last=$(python3 perfbench/run.py --workload "$w" --seed 42 --seconds 6 --trace 0 | tail -n 1)
  echo "$last"
  python3 -c 'import json, sys
r = json.loads(sys.argv[1])
ok = r["correct"] is True and r["failed"] == 0
if sys.argv[2] == "ordered":
    ok = ok and r["metrics"]["stages"]["value"] <= 14
sys.exit(0 if ok else 1)' "$last" "$w"
done

echo "== all gates green =="
