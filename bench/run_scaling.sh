#!/usr/bin/env bash
# Two-cluster-size scaling protocol (BASELINE.md): the identical job via
# spark-submit --py-files at N=8 and 4N=32 cores, same input.
#
# Fairness note: local[8] on a 32-core host would still spread its JVM task
# threads AND its 8 Python UDF workers across all 32 physical CPUs, which
# understates the 4N configuration (that one competes with its own Python
# workers for cores). We therefore pin each run to exactly its core budget
# with taskset — the honest stand-in for an N-core vs 4N-core cluster.
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${1:-1}"
RUNS="${2:-4}"

rm -f /tmp/lumbermill_spark.zip
zip -qr /tmp/lumbermill_spark.zip lumbermill_spark

run_one() {
  local cores="$1"
  taskset -c "0-$((cores - 1))" spark-submit \
    --master "local[${cores}]" \
    --driver-memory "${LUMBERMILL_DRIVER_MEM:-16g}" \
    --conf "spark.sql.shuffle.partitions=${cores}" \
    --conf spark.sql.adaptive.enabled=true \
    --conf spark.sql.files.maxPartitionBytes=8m \
    --conf spark.shuffle.sort.bypassMergeThreshold=1 \
    --conf spark.sql.execution.arrow.pyspark.enabled=true \
    --conf spark.sql.session.timeZone=UTC \
    --conf spark.sql.ansi.enabled=false \
    --conf spark.ui.enabled=false \
    --conf spark.ui.showConsoleProgress=false \
    --py-files /tmp/lumbermill_spark.zip \
    bench/scaling_job.py "$SF" "$RUNS" 2>/dev/null | tail -1
}

for cores in ${LUMBERMILL_CORES:-2 8 32}; do
  echo "== local[${cores}] =="
  run_one "$cores"
done
