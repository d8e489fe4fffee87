#!/bin/bash
# Spot-bench runner: plain-JVM graft.Bench with build.sbt's add-opens set.
# Usage: tools/run_bench.sh <sfdir> <xmx> [only-csv]
# Parallelism, session time zone and every other env knob's default:
# graft.Session (SPARK_GRAFT_CPUS defaults to the JVM's processor count).
#
# Full-registry runs write their complete per-query map + pass arrays to
# tmp/bench_full_last.json (gitignored). The committed anchor
# BENCH_FULL.json is only written when SPARK_GRAFT_ANCHOR=1 is exported
# (round 17: the unconditional write dirtied four rounds' trees and got
# one contended run committed) — export it ONLY for a deliberate idle
# re-anchor run, then run tools/anchor_guard.py before committing.
#
# -Dspark.buffer.pageSize=4m: on hosts where large single allocations are
# slow (measured on kernel 6.18.5-fc-v20: G1 humongous allocations from
# Tungsten's heap-scaled page size made identical passes swing 5s -> 25s
# at -Xmx32g while -Xmx8g stayed flat), capping the Tungsten page at the
# small-heap default restores flat pass times at any heap size without
# changing plans or semantics. See BASELINE.md "Host re-qualification".
set -u
ADDOPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
if ps -C java -o pid= | grep -q .; then
  echo "refusing: another java process is running" >&2; exit 2
fi
only="${3:-}"
# -Dspark.file.transferTo=false -Dspark.local.dir=/dev/shm/spark-scratch:
# round-19 host qualification (same pair as build.sbt javaOptions — see
# the comment there and BASELINE.md "Shuffle-write mmap pathology"): this
# kernel's slow mmap/munmap made every BypassMergeSortShuffleWriter merge
# a map0/unmap0 storm. Streamed copies + tmpfs shuffle dirs measured
# 297.8 -> 257.1 s on the full registry with no per-query regression.
env SPARK_GRAFT_SF_DIR="$1" ${only:+SPARK_GRAFT_ONLY="$only"} \
  java $ADDOPENS -Dspark.buffer.pageSize=4m \
  -Dspark.file.transferTo=false -Dspark.local.dir=/dev/shm/spark-scratch \
  -cp target/scala-2.13/classes:/opt/spark/jars/'*' -Xmx"$2" graft.Bench
