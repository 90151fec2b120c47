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
# JobCosts (graft.obs) is the one SparkListener in the main sources;
# a second hand-rolled listener drifts from it (README, "Diagnostics").
listeners=$(grep -rnE 'addSparkListener|(extends|new) +([[:alnum:]_]+\.)*SparkListener\b' \
              src/main/scala | grep -v '^src/main/scala/graft/obs/JobCosts.scala:' || true)
if [ -n "$listeners" ]; then
  echo "$listeners"
  echo "precommit: SparkListener outside graft.obs.JobCosts" >&2
  exit 1
fi
# The engine starts no operating-system process: Hadoop's local file
# system would start a chmod/readlink per file without libhadoop, which
# graft.sources.LocalFiles answers in-process (README, "Local files").
spawns=$(grep -rnE 'ProcessBuilder|Runtime\.getRuntime\.exec|scala\.sys\.process|Shell\.execCommand' \
           src/main/scala || true)
if [ -n "$spawns" ]; then
  echo "$spawns"
  echo "precommit: process spawn in the main sources" >&2
  exit 1
fi
sbt -batch compile Test/compile
