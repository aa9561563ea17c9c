#!/usr/bin/env bash
# Count what a command's JVMs leave behind in java.io.tmpdir.
#
#   tools/tmp_census.sh [-k] -- <command> [args...]
#
# Runs the command with -Djava.io.tmpdir=<a fresh private dir> appended
# to JAVA_TOOL_OPTIONS, so every JVM the command starts (sbt, plain
# java, perfbench's harness) stages its temp dirs and files there.
# When the command exits, prints how many entries are left, grouped by
# name prefix: UUIDs as <uuid>, and the random digit suffix of a Java
# temp name (`<key>_<digits>` for a graft.runtime.Staging dir) dropped;
# a prefix that ends in digits loses them unless `_` separates them from
# the random part (`g83<digits>` prints as `g`).
# The private dir is deleted afterwards unless -k keeps it. Processes
# that ignore JAVA_TOOL_OPTIONS (python, the shell) are not counted.
# Exits with the command's status.
set -euo pipefail

keep=0
while [[ $# -gt 0 ]]; do
  case "$1" in
    -k) keep=1; shift ;;
    --) shift; break ;;
    *) echo "usage: $0 [-k] -- <command> [args...]" >&2; exit 2 ;;
  esac
done
[[ $# -gt 0 ]] || { echo "usage: $0 [-k] -- <command> [args...]" >&2; exit 2; }

tmp="$(mktemp -d "${TMPDIR:-/tmp}/tmp_census.XXXXXX")"
if [[ $keep -eq 0 ]]; then trap 'rm -rf "$tmp"' EXIT; fi

status=0
JAVA_TOOL_OPTIONS="${JAVA_TOOL_OPTIONS:+$JAVA_TOOL_OPTIONS }-Djava.io.tmpdir=$tmp" \
  "$@" || status=$?

echo "== tmp census: $(ls -A "$tmp" | wc -l) entries left in java.io.tmpdir ($*)" >&2
[[ $keep -eq 0 ]] || echo "-- kept in $tmp" >&2
echo "-- by name prefix" >&2
ls -A "$tmp" | sed -E \
  -e 's/[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}/<uuid>/g' \
  -e 's/_?[0-9]{15,}$//' | sort | uniq -c | sort -rn >&2
exit "$status"
