#!/bin/bash
# Cross-JVM persisted-index pin (round-13, VERDICT item 6).
# JVM 1 materializes a standing index with explicit names; JVM 2
# consumes AND advances it through the catalog alone. Pins:
#   (a) reader's consumption == writer's consumption
#   (b) reader's cross-JVM advance == reader's from-scratch full build
set -euo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
rm -rf spark-warehouse metastore_db
sbt -batch "runMain graft.tools.CrossJvmPin write $SF" 2>/dev/null \
  | grep -o 'XJVM.*' | sort > /tmp/xjvm_write.txt
sbt -batch "runMain graft.tools.CrossJvmPin read $SF" 2>/dev/null \
  | grep -o 'XJVM.*' | sort > /tmp/xjvm_read.txt
grep '^XJVM corpus80' /tmp/xjvm_read.txt > /tmp/xjvm_read_c80.txt
echo "--- writer vs reader consumption"
diff /tmp/xjvm_write.txt /tmp/xjvm_read_c80.txt
sed -n 's/^XJVM advanced //p' /tmp/xjvm_read.txt > /tmp/xjvm_adv.txt
sed -n 's/^XJVM fullscratch //p' /tmp/xjvm_read.txt > /tmp/xjvm_scratch.txt
echo "--- cross-JVM advance vs from-scratch"
diff /tmp/xjvm_adv.txt /tmp/xjvm_scratch.txt
cat /tmp/xjvm_write.txt /tmp/xjvm_adv.txt
echo "CROSSJVM PIN OK"
rm -rf spark-warehouse metastore_db
