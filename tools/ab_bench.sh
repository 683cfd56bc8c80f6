#!/usr/bin/env bash
# Same-host A/B adjudication for bench watch items.
#
# The bench host is shared, and foreign load inflates timings, so:
#   1. no other JVMs may be running (they inflate numbers ~15%),
#   2. load1 must be < 2 at start (the suite's own work pushing load1
#      to ~5 mid-run is fine; STARTING loaded is not),
#   3. never adjudicate on one isolated draw — run the subset, read the
#      ratios against bench_ref.tsv, repeat if in doubt.
# This script enforces (1) and (2) and prints (3)'s ratios from the
# ref_warm field graft.Bench writes per row of bench_subset.json.
#
# Usage: tools/ab_bench.sh <query-substring> [more...]
#        SF_DIR=/root/testdata/sf0.1 tools/ab_bench.sh t18
#
# Subset runs never clobber bench_full.json (Bench only writes it for
# full-suite runs), so this is always safe to run between captures.
set -euo pipefail
cd "$(dirname "$0")/.."

if [ $# -lt 1 ]; then
  echo "usage: tools/ab_bench.sh <query-substring> [more...]" >&2
  exit 2
fi

SF_DIR="${SF_DIR:-/root/testdata/sf0.1}"
load1_ceiling=2.0

njvm=$(pgrep -c -f '[j]ava' || true)
if [ "${njvm:-0}" -gt 0 ]; then
  echo "REFUSING: $njvm java process(es) running — kill them first" >&2
  echo "  (pkill -f sbt-launch; wait for load to settle)" >&2
  exit 1
fi

load1=$(cut -d' ' -f1 /proc/loadavg)
if awk -v l="$load1" -v c="$load1_ceiling" 'BEGIN{exit !(l>c)}'; then
  echo "REFUSING: load1=$load1 > $load1_ceiling with zero JVMs — foreign load; retry later" >&2
  exit 1
fi

echo "host quiet (load1=$load1, 0 JVMs); benching: $* on $SF_DIR"
rm -f bench_subset.json
SPARK_GRAFT_SF_DIR="$SF_DIR" sbt -batch "runMain graft.Bench $*" 2>&1 | grep '^{"metric"' | tail -1

python3 - <<'EOF'
import json
qs = json.load(open('bench_subset.json'))['queries']
print(f"{'query':34} {'warm':>8} {'ref':>8} {'ratio':>7}")
for name, q in sorted(qs.items()):
    warm, rw = q['warm'], q.get('ref_warm')
    if not q['ok']:
        print(f"{name:34} {'-':>8} {'-':>8} {'-':>7}  FAILED")
    elif rw is not None:
        r = warm / rw if rw else float('nan')
        verdict = 'OK' if r <= 1.5 else ('WATCH' if r <= 2.0 else 'FLAG')
        print(f"{name:34} {warm:8.3f} {rw:8.3f} {r:6.2f}x  {verdict}")
    else:
        print(f"{name:34} {warm:8.3f} {'-':>8} {'-':>7}  (no reference row)")
EOF
