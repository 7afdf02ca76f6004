#!/usr/bin/env bash
# The per-commit ritual (COVERAGE.md, r11 lesson — twice violated, r11 and
# r17, both times by a "just one more shape" query commit whose plan failed
# the audit at HEAD): a commit that adds or touches ANY query registered in
# SparkEntry.queries must ship with a full green test suite, not a targeted
# testOnly of one spec. Run this before committing; it fails loudly on the
# first red.
#
# It runs the Tier-1 verify command of ROADMAP.md verbatim (offline resolver,
# the test JVM sized from this host's cores and memory, `testOnly *`), so the
# ritual and the gate cannot drift apart.
#
# Usage: scripts/precommit.sh
set -euo pipefail
cd "$(dirname "$0")/.."
echo "[precommit] Tier-1 suite (the r11/r17 lesson: plan audits cover every"
echo "[precommit] registered query — a targeted testOnly cannot)"
# what the suite leaves on tmpfs: each /dev/shm/graft-* root's entries and
# size (du -s, KB), printed before and after the run
shm_census() {
  for d in /dev/shm/graft-*; do
    [ -e "$d" ] && echo "[precommit] $1: $d $(ls -A "$d" | wc -l) entries, $(du -s "$d" | cut -f1) KB"
  done
  return 0
}
# one cache discipline: per-session memos and catalogs live in
# graft.SessionScoped, the only place that may sweep stopped sessions
if grep -rn "isStopped\|WeakHashMap" src/main | grep -v "^src/main/scala/graft/SessionScoped.scala:"; then
  echo "[precommit] per-session state kept outside graft.SessionScoped (above)" >&2
  exit 1
fi
export COURSIER_MODE=offline SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true Test/compile
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)" SPARK_LOCAL_DIRS=/tmp/spark-local
shm_census before
status=0
timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true "testOnly *" || status=$?
shm_census after
exit "$status"
