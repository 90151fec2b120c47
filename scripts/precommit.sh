#!/usr/bin/env bash
# Compile gate: run before every commit (and before the end-of-round
# snapshot). A commit that does not compile zeroes the whole round's
# correctness battery — see VERDICT round 3.
set -euo pipefail
cd "$(dirname "$0")/.."
# Parquet reads go through graft.sources.DriverParquet.read, which reads
# the schema on the driver; Spark's own parquet reader starts a job for
# it on every open (README, "Reading parquet").
reads=$( { grep -rnF 'read.parquet(' src/main/scala || true
           grep -rnF '.format("parquet")' src/main/scala | grep -vF '.write' || true; } )
if [ -n "$reads" ]; then
  echo "$reads"
  echo "precommit: parquet read outside DriverParquet.read" >&2
  exit 1
fi
sbt -batch compile Test/compile
