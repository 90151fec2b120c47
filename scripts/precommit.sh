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
# Numbered markers commit through Versioned.publishMarker (README, "One
# commit-marker protocol"); only the lease layer and the partition swap
# call the atomic rename themselves.
renames=$(grep -rnF 'Lease.atomicRename(' src/main/scala \
            | grep -vE '^src/main/scala/graft/operators/(AtomicSwap|PartitionSwap)\.scala:' || true)
if [ -n "$renames" ]; then
  echo "$renames"
  echo "precommit: hand-written commit point outside Versioned.publishMarker" >&2
  exit 1
fi
# Every fork goes through graft.pipelines.Par, whose join-before-rethrow
# rule keeps a lease release or a publish from running while a fork
# still writes (README, "Concurrent store halves"); the lease heartbeat
# in AtomicSwap.scala is the one other thread the engine starts.
threads=$(grep -rnE 'Executors\.|new Thread\(|ForkJoinPool|\.par\b' src/main/scala \
            | grep -vE '^src/main/scala/graft/pipelines/Par\.scala:' \
            | grep -vE '^src/main/scala/graft/operators/AtomicSwap\.scala:[0-9]+:.*(newSingleThreadScheduledExecutor|lease-hb-)' \
            || true)
if [ -n "$threads" ]; then
  echo "$threads"
  echo "precommit: thread or pool outside graft.pipelines.Par" >&2
  exit 1
fi
sbt -batch compile Test/compile
