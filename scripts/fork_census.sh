#!/usr/bin/env bash
# Count the chmod/readlink/rm processes the engine JVM starts while Verify
# runs one query. Without libhadoop, Hadoop's local file system forks
# `chmod` per created file or directory and `readlink` per FileContext
# rename, and Spark forks `rm -rf` to delete directories; each costs a few
# ms of JVM time. Logging wrappers for the three commands go first on the
# JVM's PATH; each run is attributed to the checkpoint root when its
# arguments name a checkpoint path (one containing "ckpt" — graft-ckpt,
# insert-ckpt, .../ckpt — or Spark's "temporary-<uuid>" checkpoint of a
# memory sink without a location) and to "outside" otherwise.
#
# Compile first (sbt -batch compile); this runs scripts/run_main.sh.
# Usage: scripts/fork_census.sh <query> [sfDir]   (sfDir default:
# perfbench/data/sf0.001)
set -euo pipefail
cd "$(dirname "$0")/.."
QUERY="$1"
SF_DIR="${2:-perfbench/data/sf0.001}"
WORK="$(mktemp -d)"
trap 'rm -rf "$WORK"' EXIT
mkdir "$WORK/bin"
LOG="$WORK/forks.log"
: > "$LOG"
for cmd in chmod readlink rm; do
  real="$(command -v "$cmd")"
  cat > "$WORK/bin/$cmd" <<EOF
#!/bin/sh
printf '%s\t%s\n' "$cmd" "\$*" >> "$LOG"
exec "$real" "\$@"
EOF
  chmod +x "$WORK/bin/$cmd"
done
PATH="$WORK/bin:$PATH" SPARK_GRAFT_ONLY="$QUERY" \
  scripts/run_main.sh graft.Verify "$SF_DIR" "$WORK/out" 2>"$WORK/jvm.err" \
  || { tail -20 "$WORK/jvm.err" >&2; exit 1; }
if grep "\[verify\] .* failed:" "$WORK/jvm.err" >&2; then exit 1; fi
echo "fork census: $QUERY on $SF_DIR"
awk -F '\t' '
  { n[$1, ($2 ~ /ckpt|\/temporary-/) ? "in" : "out"]++ }
  END {
    printf "%-9s %18s %8s\n", "command", "in checkpoint root", "outside"
    split("chmod readlink rm", cmds, " ")
    for (i = 1; i <= 3; i++)
      printf "%-9s %18d %8d\n", cmds[i], n[cmds[i], "in"], n[cmds[i], "out"]
  }' "$LOG"
