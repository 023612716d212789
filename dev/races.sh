#!/usr/bin/env bash
# Run the five multi-process race harnesses one at a time (never in
# parallel: each spawns several Spark JVMs of its own) and print one
# pass/fail line per harness, followed by a failed harness's FAIL lines.
# Every harness runs, whatever the ones before it did; the script exits
# non-zero if any harness failed (each exits 2 on a failed check). Run
# after any commit-path change:
#   dev/races.sh
# Each harness gets a fresh directory under ${TMPDIR:-/tmp}; the logs of
# a failed harness stay there for inspection.
set -uo pipefail
cd "$(dirname "$0")/.."
failed=0
for h in CommitRace DvRace VacuumRace RestoreRace StreamMaintRace; do
  out="$(mktemp -d "${TMPDIR:-/tmp}/graft-${h}.XXXXXX")"
  start=$(date +%s)
  sbt -batch "Test/runMain graft.tools.$h $out/run" > "$out/sbt.log" 2>&1
  rc=$?
  secs=$(( $(date +%s) - start ))
  if [ "$rc" -ne 0 ]; then
    echo "FAIL $h (exit $rc, ${secs}s) — logs in $out"
    grep -E '^(\[[a-z]+\] )?[[:space:]]*FAIL' "$out/sbt.log" | sed 's/^/  /'
    failed=1
  else
    echo "PASS $h (${secs}s)"
    rm -rf "$out"
  fi
done
exit "$failed"
