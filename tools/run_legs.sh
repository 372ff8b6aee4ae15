#!/usr/bin/env bash
# Run measurement or correctness legs over scale-factor directories,
# sequentially (one JVM at a time, so legs never share the machine).
#
# Usage: tools/run_legs.sh <bench|verify> <queries|all> <runs> <sf-dir>...
#   bench   graft.Bench per sf dir with SPARK_GRAFT_BENCH_RUNS=<runs>;
#           the JSON sidecar is $LOG_DIR/bench_<sf>.json and the per-query
#           line is appended, tagged [<sf>], to $LOG_DIR/legs.log.
#   verify  graft.Verify per sf dir into $LOG_DIR/vout_<sf>, then
#           tools/oracle_check.py against DuckDB ($LOG_DIR/oracle_<sf>.log);
#           <runs> is ignored.
# <queries> is a comma-separated list of registered names, or `all`.
# LOG_DIR defaults to /tmp/graft_legs. SPARK_DRIVER_MEM, SPARK_GRAFT_CPUS
# and oracle_check.py's ORACLE_* settings pass through the environment.
# Example (a decade chunk): SPARK_DRIVER_MEM=48g tools/run_legs.sh bench \
#   d31_pair_index_advance,e08_neardup_lsh 2 benchdata/sf1 benchdata/sf10
set -euo pipefail
if [ $# -lt 4 ]; then sed -n 2,16p "$0"; exit 2; fi
mode=$1 queries=$2 runs=$3
shift 3
mkdir -p "${LOG_DIR:=/tmp/graft_legs}"
log=$(cd "$LOG_DIR" && pwd)
sfs=()
for sf in "$@"; do sfs+=("$(cd "$sf" && pwd)"); done
cd "$(dirname "$0")/.."
only=()
for sf in "${sfs[@]}"; do
  name=$(basename "$sf")
  case $mode in
    bench)
      [ "$queries" = all ] || only=(SPARK_GRAFT_BENCH_ONLY="$queries")
      env "${only[@]}" SPARK_GRAFT_SF_DIR="$sf" SPARK_GRAFT_BENCH_RUNS="$runs" \
        SPARK_GRAFT_BENCH_OUT="$log/bench_$name.json" \
        sbt -batch "runMain graft.Bench" > "$log/bench_$name.log" 2>&1
      grep '"queries"' "$log/bench_$name.log" | sed "s/^/[$name] /" | tee -a "$log/legs.log" ;;
    verify)
      [ "$queries" = all ] || only=(SPARK_GRAFT_VERIFY_ONLY="$queries")
      env "${only[@]}" sbt -batch "runMain graft.Verify $sf $log/vout_$name" \
        > "$log/verify_$name.log" 2>&1
      grep -E "\[verify\] .* failed" "$log/verify_$name.log" || true
      python3 tools/oracle_check.py "$sf" "$log/vout_$name" 2>&1 \
        | tee "$log/oracle_$name.log" | tail -3 ;;
    *) echo "unknown mode: $mode (bench or verify)" >&2; exit 2 ;;
  esac
done
