#!/bin/bash
# q142 gate-flake reproduction harness (VERDICT r10 #1c): run the FULL
# catalog through Verify + the DuckDB gate N times in driver-shaped
# sessions (fresh SparkSession, 4-thread Verify pool, default CPUs).
# Odd iterations sweep the graft_* warehouse tables first so the
# at-rest winnow index takes the FIRST-BUILD path (the suspected
# channel); even iterations keep them, covering the cross-session
# registration path. Each iteration records the q142 verdict AND the
# q142_diag.json index checksum so any flake is self-explaining.
set -u
N=${1:-6}
SF=${2:-/root/testdata/sf0.01}
LOG=${3:-/tmp/q142_repro.log}
cd "$(dirname "$0")/.."
echo "=== q142 repro: $N iterations over $SF ===" | tee -a "$LOG"
for i in $(seq 1 "$N"); do
  out="/tmp/q142_repro_$i"
  rm -rf "$out"
  if [ $((i % 2)) -eq 1 ]; then
    # sweep ONLY this fixture's generation (tables keyed by the SF
    # dir's sanitized tag): a concurrent process may hold other
    # fixtures' tables registered
    tag=$(basename "$SF" | tr -c 'a-z0-9' '_' | sed 's/_$//')
    rm -rf spark-warehouse/graft_*_"${tag}"_*
    mode=first-build
  else
    mode=registered
  fi
  sbt -batch "runMain graft.Verify $SF $out" >/dev/null 2>&1
  python3 tools/check.py "$SF" "$out" >"$out.check" 2>/dev/null
  res=$(grep q142_containment "$out.check")
  tot=$(tail -1 "$out.check")
  diag=$(cat "$out/q142_diag.json" 2>/dev/null)
  echo "[iter $i/$N mode=$mode] $res | $tot | diag=$diag" | tee -a "$LOG"
  rm -rf "$out"
done
