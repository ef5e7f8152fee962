#!/usr/bin/env bash
# warn_gate.sh — suite-log grep gate for WindowExec's
# "No Partition Defined" warning (a partition-less window moves all
# rows to one task — fine for the audited bounded aggregates, a
# scaling hazard if a corpus-cardinality window sneaks in).
#
# Usage:
#   sbt -batch test > /tmp/suite.log 2>&1
#   tools/warn_gate.sh /tmp/suite.log
#
# Every audited source of this warning is a bounded-aggregate window
# (scalar totals, host/TLD aggregates, <=k-row candidate panels, the
# <=2*candidates fusion join, and fuseRanked's rank windows over the
# <=candidates-row legs — audited r12 when the store-served hybrid
# specs pushed the count from 772 to 860; r13 measured 892 after the
# round's new serving specs and pinned 905, then 910/920 after the
# s8 panel fold). r13's fold made the gate FLAKY: the folded panel's
# concurrent union branches RACED the shared cached kw/vec legs,
# re-executing their bounded fusion windows a nondeterministic
# number of times (builder 910, judge 934 on the same tree). r14
# DE-RACED it — every eval leg localCheckpoints BEFORE the union,
# so no shared lazy leg is left to race — and re-measured over
# three consecutive full-suite runs on the final tree: 935, 937,
# 937. The residual +-2 is NOT the race (that swung +-24): under
# full-suite memory pressure a handful of cached bounded legs evict
# and lazily recompute, re-running their <=k-row windows — an
# environmental wobble with no plan-shape consequence. Pin =
# max-observed 937 + 5 slack; a return of the old race class still
# fails the gate. The COUNT may not grow past the pin: raising it
# requires auditing the new window and saying so in SURVEY.md's
# session log.
set -u
LOG=${1:?usage: warn_gate.sh <suite-log> [pin]}
PIN=${2:-942}
N=$(grep -c "No Partition Defined" "$LOG" || true)
echo "No-Partition-Defined warnings: $N (pin $PIN)"
if [ "$N" -gt "$PIN" ]; then
  echo "FAIL: warning count grew past the pin — audit the new window"
  # Attribute the count: ScalaTest prints "[info] - <test>" when a test
  # ends, so the warnings logged since the previous such line belong
  # to it (suites run one at a time; "[info] <Suite>:" names the suite).
  echo "per-test counts (nonzero, largest first):"
  awk '
    /^\[info\] [A-Za-z0-9_.]+:$/ { suite = $2; sub(/:$/, "", suite) }
    /No Partition Defined/ { n++ }
    /^\[info\] - / {
      if (n > 0) { t = $0; sub(/^\[info\] - /, "", t)
                   printf "%6d  %s: %s\n", n, suite, t }
      n = 0
    }
    END { if (n > 0) printf "%6d  (after the last test)\n", n }
  ' "$LOG" | sort -rn
  exit 1
fi
echo "OK"
