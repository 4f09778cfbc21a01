#!/usr/bin/env bash
# Three-SF oracle parity: run graft.Verify + the DuckDB oracle compare at
# every driver scale factor and record the result as a committed artifact
# (PARITY_LATEST.md). The per-round CORRECTNESS_r{N}.json only covers
# sf0.01; this proves the same pass/fail table at sf0.001 and sf0.1 as a
# run artifact rather than a claim. One graft.tools.Smoke run at sf0.001
# adds its query, plan-shape and scope-leak lines; a Smoke failure fails
# the result. Usage: tools/parity.sh [round-label]
#
# Interruption-safe: the report is assembled at a temp path and moved
# into place atomically only after the final Result line is stamped. A
# run killed mid-way (wall clock, kill -9) leaves the previous
# PARITY_LATEST.md untouched — a truncated run can never masquerade as
# a completed one.
set -euo pipefail
cd "$(dirname "$0")/.."
label="${1:-$(date -u +%Y-%m-%dT%H:%MZ)}"
report=PARITY_LATEST.md
# temp report lives in the REPO dir: same filesystem as the final
# artifact, so the closing mv is a true atomic rename (a /tmp temp on
# a tmpfs would degrade mv to copy+unlink - interruptible mid-copy);
# world-readable so the committed artifact doesn't inherit mktemp 0600
tmp_report=$(mktemp ".parity_report.XXXXXX")
chmod 644 "$tmp_report"
trap 'rm -f "$tmp_report"' EXIT
head_sha=$(git rev-parse --short HEAD)
dirty=$(git status --porcelain | wc -l | tr -d ' ')
{
  echo "# Three-SF oracle parity — $label"
  echo
  echo "Generated by tools/parity.sh: graft.Verify + tools/compare_oracle.py"
  echo "per scale factor (row count + sorted-schema + value-hash match per query)."
  echo
  echo "HEAD: $head_sha (uncommitted files at generation: $dirty)"
  echo
} > "$tmp_report"
overall=0
for sf in sf0.001 sf0.01 sf0.1; do
  out="/tmp/parity_${sf}"
  rm -rf "$out"
  echo "== $sf =="
  sbt -batch "runMain graft.Verify /root/testdata/$sf $out" > "/tmp/parity_${sf}.log" 2>&1 \
    || { echo "Verify FAILED at $sf (see /tmp/parity_${sf}.log)"; overall=1; }
  # compare_oracle.py exits nonzero when any query fails; under
  # pipefail that would kill the whole script mid-loop and (before the
  # atomic mv) truncate the report - keep the pipeline alive, but
  # RECORD the compare's own exit status: a compare that CRASHED
  # (missing oracle_sql.json, import error) leaves no FAIL lines, and
  # swallowing it would let the report stamp "parity holds" over a
  # compare that never ran
  cmp_status_file="/tmp/parity_${sf}.status"
  summary=$( { python3 tools/compare_oracle.py "/root/testdata/$sf" "$out"; \
               echo "$?" > "$cmp_status_file"; } \
             | tee "/tmp/parity_${sf}.cmp" | tail -1)
  cmp_status=$(cat "$cmp_status_file" 2>/dev/null || echo 1)
  fails=$(grep -c '^FAIL' "/tmp/parity_${sf}.cmp" || true)
  if [ "$cmp_status" != "0" ] && [ "$fails" = "0" ]; then
    # nonzero exit with no FAIL lines = the compare itself crashed
    overall=1
    { echo "- **$sf**: COMPARE CRASHED (exit $cmp_status, no FAIL lines)"
      echo; echo '```'; tail -5 "/tmp/parity_${sf}.cmp"; echo '```'
    } >> "$tmp_report"
    echo "   COMPARE CRASHED at $sf (exit $cmp_status)"
    continue
  fi
  echo "- **$sf**: $summary" >> "$tmp_report"
  if [ "$fails" != "0" ]; then
    overall=1
    { echo; echo '```'; grep '^FAIL' "/tmp/parity_${sf}.cmp"; echo '```'; } >> "$tmp_report"
  fi
  echo "   $summary"
done
echo "== smoke sf0.001 =="
smoke_status=0
sbt -batch "runMain graft.tools.Smoke /root/testdata/sf0.001" > /tmp/parity_smoke.log 2>&1 \
  || smoke_status=$?
[ "$smoke_status" = "0" ] || overall=1
# sbt prefixes the program's stdout with "[info] "
smoke_lines=$(grep -oE '(QUERIES_OK=[0-9]+ FAILED=[0-9]+|PLAN_VIOLATIONS=[0-9]+|SCOPE_LEFT=[0-9]+)$' \
  /tmp/parity_smoke.log | paste -sd ' ' - || true)
echo "- **smoke sf0.001** (exit $smoke_status): ${smoke_lines:-no result lines}" >> "$tmp_report"
echo "   exit $smoke_status: $smoke_lines"
echo >> "$tmp_report"
# registry-size invariant (judge convention): the artifact names how many
# registry queries were dumped and how many carried a DuckDB oracle.
# Guarded: a missing dump dir must degrade to "?" (like the oracle count),
# not abort under set -e and leave a truncated report.
if [ -d /tmp/parity_sf0.001 ]; then
  n_dirs=$(find /tmp/parity_sf0.001 -mindepth 1 -maxdepth 1 -type d | wc -l | tr -d ' ')
else
  n_dirs="?"
fi
n_oracles=$(python3 -c "import json; print(len(json.load(open('/tmp/parity_sf0.001/oracle_sql.json'))))" 2>/dev/null || echo "?")
echo "Registry queries dumped: $n_dirs; with DuckDB oracle: $n_oracles." >> "$tmp_report"
echo >> "$tmp_report"
if [ "$overall" = "0" ]; then
  echo "**Result: parity holds at all three scale factors.**" >> "$tmp_report"
else
  echo "**Result: FAILURES — see above.**" >> "$tmp_report"
fi
mv "$tmp_report" "$report"
trap - EXIT
exit $overall
