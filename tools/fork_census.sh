#!/usr/bin/env bash
# Count the helper processes a command's process tree starts.
#
#   tools/fork_census.sh [-n TOP] -- <command> [args...]
#
# Puts logging shims for chmod, readlink, rm, ls and stat first on PATH
# (in a fresh temp dir), runs the command, and prints how many times
# each was started, by command and by path pattern (the last argument's
# final two path components, digit runs as N and UUIDs as <uuid>). Each
# shim logs one line, then execs the real binary it shadows, so the
# command behaves as before, only slower per helper. Only processes
# that resolve these names through the command's PATH are counted
# (Hadoop's Shell and Spark's JavaUtils do); the rest of the machine is
# untouched. Exits with the command's status.
set -euo pipefail

top=25
while [[ $# -gt 0 ]]; do
  case "$1" in
    -n) top="$2"; shift 2 ;;
    --) shift; break ;;
    *) echo "usage: $0 [-n TOP] -- <command> [args...]" >&2; exit 2 ;;
  esac
done
[[ $# -gt 0 ]] || { echo "usage: $0 [-n TOP] -- <command> [args...]" >&2; exit 2; }

shims="$(mktemp -d "${TMPDIR:-/tmp}/fork_census.XXXXXX")"
trap 'rm -rf "$shims"' EXIT
log="$shims/calls.log"
: > "$log"
for name in chmod readlink rm ls stat; do
  real="$(command -v "$name")" || continue
  cat > "$shims/$name" <<EOF
#!/bin/sh
printf '%s\t%s\n' "$name" "\$*" >> "$log"
exec "$real" "\$@"
EOF
  chmod +x "$shims/$name"
done

status=0
PATH="$shims:$PATH" "$@" || status=$?

echo "== fork census: $(wc -l < "$log") helper processes ($*)" >&2
echo "-- by command" >&2
cut -f1 "$log" | sort | uniq -c | sort -rn >&2
echo "-- by command and path pattern (top $top)" >&2
awk -F'\t' '{
  n = split($2, a, " "); p = (n ? a[n] : "")
  m = split(p, c, "/"); if (m >= 2) p = c[m-1] "/" c[m]
  gsub(/[0-9a-f]+-[0-9a-f]+-[0-9a-f]+-[0-9a-f]+-[0-9a-f]+/, "<uuid>", p)
  gsub(/[0-9]+/, "N", p)
  print $1 "  " p
}' "$log" | sort | uniq -c | sort -rn | head -n "$top" >&2
exit "$status"
