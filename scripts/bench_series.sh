#!/bin/bash
# Run graft.Bench N times back-to-back (bare JVM, exactly as the
# driver invokes it) and append each JSON line to the given output
# file. Usage: bench_series.sh <n_runs> <out.jsonl> [sf_dir]
# (sf_dir defaults to /root/testdata/sf0.1; pass target/testdata-sf1
# for the 10x scale point)
set -u
N="${1:?n_runs}"
OUT="${2:?out file}"
SF_DIR="${3:-/root/testdata/sf0.1}"
cd "$(dirname "$0")/.."
# heap cap: SPARK_DRIVER_MEM, else half the host's RAM clamped to 2-8 GB
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for i in $(seq 1 "$N"); do
  echo "=== run $i/$N $(date +%H:%M:%S) ===" >&2
  SPARK_GRAFT_SF_DIR="$SF_DIR" \
  java $ADD_OPENS -Xmx"$MEM" \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench \
    >/dev/null 2>&1
  # Bench's stdout now ends with the COMPACT headline line (driver
  # tail contract); the full per-query map the series aggregation
  # needs lives in target/bench.json — collect that per run
  cat target/bench.json >> "$OUT"
done
echo "done: $(wc -l < "$OUT") runs in $OUT" >&2
