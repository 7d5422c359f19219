#!/usr/bin/env bash
# Pre-snapshot gate: the round's final commit must pass this script
# AFTER its tree is in place (run it, then commit; quote the marker in
# the commit body). Exists because round 6 shipped a snapshot commit
# that did not compile — the driver gate died at compileIncremental and
# the whole round went unverified.
#
# Usage: tools/preflight.sh [--full]
#   default: sbt compile + Test/compile, then the benchmark harness
#            (perfbench/) compile   (~2 min, catches r6-class breaks)
#   --full:  also runs the whole ScalaTest suite (~20 min) and prints
#            its elapsed seconds in the marker line
set -uo pipefail
cd "$(dirname "$0")/.."

# the offline settings of the ROADMAP's tier-1 command, so the gate runs
# on a machine without network access: resolve only from the local
# caches, through the repositories override when one is installed
export COURSIER_MODE=offline
if [[ -z "${SBT_OPTS:-}" ]]; then
  SBT_OPTS="-Dsbt.offline=true -Xmx4g"
  if [[ -f "$HOME/.sbt/repositories" ]]; then
    SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories $SBT_OPTS"
  fi
  export SBT_OPTS
fi

FULL=0
TASKS="compile; Test/compile; perfbench compile"
SUITE=""
if [[ "${1:-}" == "--full" ]]; then
  FULL=1
  TASKS="$TASKS; test"
fi

# --full times the suite on its own (a second sbt call after the
# compile), so the marker's seconds compare across changes
sbt_run() { sbt --batch -Dsbt.log.noformat=true "$1" >>/tmp/preflight.log 2>&1; }
: >/tmp/preflight.log
# perfbench/ is its own sbt build compiled against engine entry points
# (Runner, ApiSimulator, SparkEntry, GraftExtensions, RangeJoinRewrite):
# a change that breaks them fails here, not in a benchmark run
if sbt_run "compile; Test/compile" && (cd perfbench && sbt_run compile) && {
    (( ! FULL )) ||
      { t0=$SECONDS; sbt_run test && SUITE=", suite $((SECONDS - t0)) s"; }
  }; then
  MARKER="PREFLIGHT OK ($TASKS$SUITE) @ git $(git rev-parse --short HEAD 2>/dev/null || echo none) + $(git status --porcelain | wc -l) dirty files"
  echo "$MARKER" | tee .preflight_ok
  exit 0
else
  echo "PREFLIGHT FAILED — tail of /tmp/preflight.log:" >&2
  tail -20 /tmp/preflight.log >&2
  rm -f .preflight_ok
  exit 1
fi
