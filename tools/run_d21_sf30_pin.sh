#!/bin/bash
# Round-11 VERDICT item 4: pin d21 (cluster curation, LM-cost mirror) at
# sf30 = 1.5M docs. Verify materializes the shared micro-nat cost table
# from the sf30 corpus; the oracle re-validates it against DuckDB's own
# ln before use (d21Sql chk CTE).
#
# The DuckDB side MUST be the staged pin (pin_d21_sf30.py): the
# monolithic oracle_check mirror holds the whole CTE chain in one plan
# and ENOSPCs at this sandbox's scratch ceiling at sf30 (re-confirmed
# round 15: duckdb_temp_storage hit "No space left on device" with
# ~76 GB free at start).
set -euo pipefail
cd "$(dirname "$0")/.."
out=/tmp/vout_sf30_d21
SPARK_DRIVER_MEM=64g \
SPARK_GRAFT_CPUS=32 \
SPARK_GRAFT_VERIFY_ONLY=d21_cluster_curation \
  sbt -batch "runMain graft.Verify $PWD/benchdata/sf30 $out" 2>&1 \
  | grep -E "\[verify\]|success" | tail -2
python3 tools/pin_d21_sf30.py benchdata/sf30 "$out" /tmp/d21_pin_work
echo D21_SF30_PIN_COMPLETE
