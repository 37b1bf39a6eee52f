#!/usr/bin/env bash
# Check every DuckDB oracle of a graft.Verify run against its Spark result.
#
# Usage: tools/check_all_oracles.sh OUT SF
#   OUT  the output dir of `graft.Verify SF OUT` (holds oracle_sql.json)
#   SF   the testdata dir the results were computed from
#
# Runs tools/check_oracle.py once per key of OUT/oracle_sql.json and
# prints one line per query ("<name> MATCH", or "<name> FAIL: <the
# checker's last line>"), then a total. Exits 1 if any query does not
# match or OUT holds no oracle, 2 on a usage error.
set -u
if [ $# -ne 2 ]; then
  echo "usage: $0 OUT SF" >&2
  exit 2
fi
out=$1
sf=$2
here=$(cd "$(dirname "$0")" && pwd)
names=$(python3 -c 'import json, sys
print("\n".join(sorted(json.load(open(sys.argv[1])))))' "$out/oracle_sql.json") || exit 2

total=0
failed=0
for q in $names; do
  total=$((total + 1))
  res=$(python3 "$here/check_oracle.py" "$out" "$sf" "$q" 2>&1)
  rc=$?
  last=$(printf '%s\n' "$res" | tail -n 1)
  if [ "$rc" -eq 0 ] && [ "$last" = MATCH ]; then
    echo "$q MATCH"
  else
    echo "$q FAIL: $last"
    failed=$((failed + 1))
  fi
done
echo "$((total - failed))/$total MATCH"
[ "$total" -gt 0 ] && [ "$failed" -eq 0 ]
