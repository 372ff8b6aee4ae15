#!/bin/bash
# Round-18 non-ASCII multimodal pin driver: generate the multi-byte
# fixture, dump the engine's m01-m06 over it, compare against the
# committed oracle SQL byte-for-byte -> CORRECTNESS_nonascii_r18.json
set -euo pipefail
cd "$(dirname "$0")/.."
FIX=/tmp/graft_nonascii_fixture
OUT=/tmp/graft_nonascii_vout
rm -rf "$FIX" "$OUT"
python3 tools/pin_multimodal_nonascii.py gen "$FIX"
SPARK_GRAFT_VERIFY_ONLY="m01_media_meta,m02_byte_histogram,m03_resize_meta,m04_frame_sample,m05_wav_meta,m06_avi_meta" \
  sbt -batch "runMain graft.Verify $FIX $OUT" 2>&1 | tail -2
python3 tools/pin_multimodal_nonascii.py check "$FIX" "$OUT" \
  CORRECTNESS_nonascii_r18.json
