#!/usr/bin/env bash
# Count the helper processes a command starts, by name and by path.
#
#   tools/count_spawns.sh [--cmds "chmod readlink stat ls"] [--log FILE] -- <command> [args...]
#
# Puts a logging wrapper for each named command (default: chmod, readlink,
# stat, ls, the ones Hadoop's local filesystem runs without its native
# library) first on PATH in a temp dir, runs <command> under that PATH, and
# then prints how many times each wrapped command ran: per command and
# parent process, and per command and path pattern (digit runs read N,
# UUIDs read UUID, so one row covers every batch or part file). Each spawn
# is one log line: epoch seconds, parent's process name, command, arguments;
# --log keeps that log in FILE.
#
# Only lookups through PATH are seen: a spawn by absolute path (/bin/chmod)
# is not counted. The command's own exit status is returned.
#
# Example, the spawns of one benchmark run:
#   tools/count_spawns.sh -- python3 perfbench/run.py --workload cdc_trickle --seed 7101 --seconds 12 --trace 0
set -euo pipefail

usage() {
  echo "usage: $0 [--cmds \"chmod readlink stat ls\"] [--log FILE] -- <command> [args...]" >&2
  exit 2
}

cmds="chmod readlink stat ls"
log=""
while [ $# -gt 0 ]; do
  case "$1" in
    --cmds) [ $# -ge 2 ] || usage; cmds="$2"; shift 2 ;;
    --log) [ $# -ge 2 ] || usage; log="$2"; shift 2 ;;
    --) shift; break ;;
    *) usage ;;
  esac
done
[ $# -gt 0 ] || usage

dir="$(mktemp -d "${TMPDIR:-/tmp}/count-spawns.XXXXXX")"
trap 'rm -rf "$dir"' EXIT
[ -n "$log" ] || log="$dir/spawns.log"
log="$(cd "$(dirname "$log")" && pwd)/$(basename "$log")"
: > "$log"
mkdir "$dir/bin"
for c in $cmds; do
  real="$(command -v "$c")" || { echo "count_spawns: $c is not on PATH" >&2; exit 2; }
  # $EPOCHREALTIME and the /proc read are bash built-ins: the wrapper
  # itself starts nothing but the real command.
  cat > "$dir/bin/$c" <<EOF
#!$BASH
read -r parent < /proc/\$PPID/comm || parent=?
printf '%s\t%s\t%s\t%s\n' "\$EPOCHREALTIME" "\$parent" "$c" "\$*" >> "$log"
exec "$real" "\$@"
EOF
  chmod +x "$dir/bin/$c"
done

status=0
PATH="$dir/bin:$PATH" "$@" || status=$?

total=$(wc -l < "$log")
echo "== $total spawns of: $cmds"
echo "== per command and parent"
cut -f2,3 "$log" | awk -F'\t' '{print $2 "\t" $1}' | sort | uniq -c | sort -rn
echo "== per command and path pattern"
cut -f3,4 "$log" \
  | sed -E 's/[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}/UUID/g; s/[0-9]+/N/g' \
  | sort | uniq -c | sort -rn
exit "$status"
